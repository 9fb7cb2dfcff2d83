package graft

import graft.catalog.FeatureStore
import graft.sources.Lake
import java.nio.file.Files

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): FeatureStore =
    new FeatureStore(spark,
      warehouseDir = Files.createTempDirectory("graft_lake").toString)

  test("create / upsert / delete with precombine last-writer-wins") {
    val fs = freshStore()
    val v1 = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("id", "v", "pc")
    val fg = fs.createFeatureGroup("t1", v1, primaryKey = Seq("id"),
      precombineKey = Some("pc"))

    // upsert: id=1 updated, id=3 inserted
    val m2 = fs.insert(fg, Seq((1L, "a2", 20L), (3L, "c", 5L)).toDF("id", "v", "pc"))
    assert(m2.rowsInserted === 1 && m2.rowsUpdated === 1 && m2.rowsDeleted === 0)

    val snap = fs.read(graft.ir.Query.selectAll(fg))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(snap.toSeq === Seq((1L, "a2"), (2L, "b"), (3L, "c")))

    // delete id=2
    val m3 = fs.delete(fg, Seq(Tuple1(2L)).toDF("id"))
    assert(m3.rowsDeleted === 1)
    assert(fs.read(graft.ir.Query.selectAll(fg)).count() === 2)
  }

  test("precombine resolves same-commit duplicates") {
    val fs = freshStore()
    val dup = Seq((1L, "low", 1L), (1L, "high", 9L)).toDF("id", "v", "pc")
    val fg = fs.createFeatureGroup("t2", dup, primaryKey = Seq("id"),
      precombineKey = Some("pc"))
    val rows = fs.read(graft.ir.Query.selectAll(fg)).collect()
    assert(rows.length === 1 && rows.head.getAs[String]("v") === "high")
  }

  test("time travel: as_of and incremental read_changes") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("t3",
      Seq((1L, "v1")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val t1 = Lake.listCommits(spark, root).head
    fs.insert(fg, Seq((1L, "v2"), (2L, "w1")).toDF("id", "v"))
    val t2 = Lake.listCommits(spark, root).last

    // as-of first commit sees only v1
    val asOf1 = Lake.snapshot(spark, root, fg, Some(t1))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(asOf1.toSeq === Seq((1L, "v1")))

    // incremental (t1, t2] sees the changed rows at their new state
    val inc = Lake.readChanges(spark, root, fg, t1, t2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(inc.toSeq === Seq((1L, "v2"), (2L, "w1")))

    // commit metadata log
    val cd = Lake.commitDetails(spark, root).orderBy("commitTime").collect()
    assert(cd.length === 2)
  }

  test("partition keys shape the layout and prune at read time") {
    val fs = freshStore()
    val df = Seq((1L, "BUILDING", 1.0), (2L, "AUTO", 2.0), (3L, "BUILDING", 3.0))
      .toDF("id", "seg", "x")
    val fg = fs.createFeatureGroup("t5", df, primaryKey = Seq("id"),
      partitionKey = Seq("seg"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    // physical layout: seg=... directories under each commit's directory
    val commitDir = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.startsWith("_tx=")).head.listFiles()
      .filter(_.getName.startsWith("_commit_time=")).head
    assert(commitDir.listFiles().exists(_.getName.startsWith("seg=")))
    // declared schema (names, order, types) survives the partition round trip
    val snap = graft.sources.Lake.snapshot(spark, root, fg, None)
    assert(snap.columns.toSeq === Seq("id", "seg", "x"))
    assert(snap.schema("seg").dataType ===
      org.apache.spark.sql.types.StringType)
    // a filter on the partition key prunes partitions in the plan
    val planned = snap.filter($"seg" === "AUTO")
    val expl = planned.queryExecution.executedPlan.toString
    assert(snap.filter($"seg" === "AUTO").count() === 1)
  }

  test("schema evolution: appended column with default, old rows readable") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tev",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val fg2 = fg.copy(features = fg.features :+ graft.model.Feature(
      "score", org.apache.spark.sql.types.DoubleType,
      defaultValue = Some(0.5)))
    // batch WITHOUT the appended column: write-path alignment fills default
    Lake.upsert(spark, root, fg2, Seq((3L, "c")).toDF("id", "v"))
    // batch WITH the column
    Lake.upsert(spark, root, fg2,
      Seq((4L, "d", 9.0)).toDF("id", "v", "score"))
    val snap = Lake.snapshot(spark, root, fg2, None).orderBy("id")
    // the appended column must not be dropped (mergeSchema read)
    assert(snap.columns.toSeq === Seq("id", "v", "score"))
    val rows = snap.collect()
    assert(rows.length === 4)
    // rows predating the column read back its declared DEFAULT (the
    // merged-schema scan surfaces them as null; the aligned read fills) —
    // the appendFeatures contract (feature_group.py:853)
    assert(rows(0).getDouble(2) === 0.5 && rows(1).getDouble(2) === 0.5)
    assert(rows(2).getDouble(2) === 0.5) // default filled at write time
    assert(rows(3).getDouble(2) === 9.0)
  }

  test("commit retention bounds the timeline; pre-horizon reads fail fast") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tret",
      Seq((1L, "v1")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    fs.insert(fg, Seq((1L, "v2")).toDF("id", "v"))
    fs.insert(fg, Seq((2L, "w1")).toDF("id", "v"))
    fs.insert(fg, Seq((1L, "v3")).toDF("id", "v"))
    val before = Lake.listCommits(spark, root)
    assert(before.length === 4)

    val retained = Lake.cleanCommits(spark, root, fg, keepLast = 2)
    // oldest two commits squashed into a base at before(1)
    assert(retained === before.drop(1))
    assert(Lake.commitHorizon(spark, root) === Some(before(1)))

    // latest state unchanged by retention
    val snap = Lake.snapshot(spark, root, fg, None).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(snap.toSeq === Seq((1L, "v3"), (2L, "w1")))

    // as-of AT the horizon resolves from the squashed base
    val atH = Lake.snapshot(spark, root, fg, Some(before(1)))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(atH.toSeq === Seq((1L, "v2")))

    // time travel BEFORE the horizon errors clearly
    val e = intercept[IllegalArgumentException] {
      Lake.snapshot(spark, root, fg, Some(before.head)).collect()
    }
    assert(e.getMessage.contains("horizon"))
    intercept[IllegalArgumentException] {
      Lake.readChanges(spark, root, fg, before.head, before.last).collect()
    }

    // nothing further to clean → unchanged
    assert(Lake.cleanCommits(spark, root, fg, 5) === retained)
  }

  // -- fault injection: the on-disk state each crash point leaves ---------

  /** A group with four acknowledged commits (one a delete) and the model
    * state after each, keyed by commit time.
    */
  private def history(name: String) = {
    val fs = freshStore()
    val fg = fs.createFeatureGroup(name,
      Seq((1L, "v1"), (2L, "w1")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val t1 = Lake.listCommits(spark, root).head
    val t2 = fs.insert(fg, Seq((1L, "v2"), (3L, "x1")).toDF("id", "v")).commitTime
    val t3 = fs.delete(fg, Seq(Tuple1(2L)).toDF("id")).commitTime
    val t4 = fs.insert(fg, Seq((1L, "v3")).toDF("id", "v")).commitTime
    val models = Seq(
      t1 -> Map(1L -> "v1", 2L -> "w1"),
      t2 -> Map(1L -> "v2", 2L -> "w1", 3L -> "x1"),
      t3 -> Map(1L -> "v2", 3L -> "x1"),
      t4 -> Map(1L -> "v3", 3L -> "x1"))
    (fs, fg, root, models)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Every acknowledged commit at or after `from` reads back as of its
    * time, and no scan touches a directory named `ghost`.
    */
  private def readsBack(root: String, fg: graft.model.FeatureGroup,
                        models: Seq[(Long, Map[Long, String])], from: Long,
                        ghost: String): Unit = {
    val latest = Lake.snapshot(spark, root, fg, None)
    assert(rows(latest) === models.last._2)
    assert(!latest.inputFiles.exists(_.contains(ghost)))
    models.filter(_._1 >= from).foreach { case (t, m) =>
      assert(rows(Lake.snapshot(spark, root, fg, Some(t))) === m, s"as of $t")
    }
  }

  /** Re-running retention and compaction completes on the crashed state. */
  private def maintenanceRuns(root: String, fg: graft.model.FeatureGroup,
                              models: Seq[(Long, Map[Long, String])],
                              ghost: String): Unit = {
    val retained = Lake.cleanCommits(spark, root, fg, keepLast = 2)
    assert(retained === models.map(_._1).takeRight(3))
    readsBack(root, fg, models, retained.head, ghost)
    Lake.compact(spark, root, fg)
    assert(Lake.listCommits(spark, root) === Seq(models.last._1))
    readsBack(root, fg, models, models.last._1, ghost)
  }

  test("fault: staged but unpublished commits are never read") {
    import org.apache.spark.sql.functions.lit
    val (fs, fg, root, models) = history("tstaged")
    // a writer that crashed after staging its data above the head, and a
    // cleanCommits that crashed after staging its squashed base
    Seq(s"_tx=ghost-upsert/_commit_time=${models.last._1 + 1}",
        s"_tx=ghost-base/_commit_time=${models(1)._1}").foreach { d =>
      Seq((1L, "ghost"), (9L, "ghost")).toDF("id", "v")
        .withColumn("_deleted", lit(false))
        .write.parquet(s"$root/data/$d")
    }
    assert(Lake.listCommits(spark, root) === models.map(_._1))
    readsBack(root, fg, models, models.head._1, "ghost")
    assert(Lake.readChanges(spark, root, fg, models(2)._1, Long.MaxValue)
      .collect().map(_.getString(1)).toSeq === Seq("v3"))
    assert(Lake.commitDetails(spark, root).count() === 4)
    // the next commit lands above the orphan's time without reading it
    val t5 = fs.insert(fg, Seq((4L, "y1")).toDF("id", "v")).commitTime
    val all = models :+ (t5 -> (models.last._2 + (4L -> "y1")))
    readsBack(root, fg, all, all.head._1, "ghost")
    maintenanceRuns(root, fg, all, "ghost")
  }

  test("fault: squashed directories left after the publish are not read") {
    val (_, fg, root, models) = history("tsquashed")
    val data = new java.io.File(s"$root/data")
    val saved = java.nio.file.Files.createTempDirectory("graft_squashed").toFile
    data.listFiles().foreach(d => copyTree(d, new java.io.File(saved, d.getName)))
    val retained = Lake.cleanCommits(spark, root, fg, keepLast = 2)
    assert(retained === models.map(_._1).drop(1))
    // the crash: the entry is published, the squashed directories remain
    val squashed = saved.listFiles().filterNot(d => new java.io.File(data, d.getName).exists)
    assert(squashed.length === 2)
    squashed.foreach(d => copyTree(d, new java.io.File(data, d.getName)))
    assert(Lake.listCommits(spark, root) === retained)
    assert(Lake.commitHorizon(spark, root) === Some(models(1)._1))
    squashed.foreach(d => readsBack(root, fg, models, retained.head, d.getName))
    intercept[IllegalArgumentException] {
      Lake.snapshot(spark, root, fg, Some(models.head._1))
    }
    maintenanceRuns(root, fg, models, squashed.head.getName)
  }

  test("fault: a stray .tmp in the log neither blocks nor shows") {
    val (fs, fg, root, models) = history("tstray")
    // a publish that crashed after staging the entry for the next version
    val stray = f"$root/_delta_log/.${models.size}%020d.json.deadbeef.tmp"
    java.nio.file.Files.write(java.nio.file.Paths.get(stray),
      """{"add":{"path":"data/_tx=ghost/_commit_time=1","si""".getBytes("UTF-8"))
    readsBack(root, fg, models, models.head._1, "ghost")
    val t5 = fs.insert(fg, Seq((4L, "y1")).toDF("id", "v")).commitTime
    assert(new java.io.File(f"$root/_delta_log/${models.size}%020d.json").exists)
    val all = models :+ (t5 -> (models.last._2 + (4L -> "y1")))
    readsBack(root, fg, all, all.head._1, "ghost")
    maintenanceRuns(root, fg, all, "ghost")
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => copyTree(c, new java.io.File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  test("compaction preserves the snapshot") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("t4",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), primaryKey = Seq("id"))
    fs.insert(fg, Seq((1L, "a2")).toDF("id", "v"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val before = fs.read(graft.ir.Query.selectAll(fg))
      .orderBy("id").collect().toSeq
    Lake.compact(spark, root, fg)
    val after = fs.read(graft.ir.Query.selectAll(fg))
      .orderBy("id").collect().toSeq
    assert(before === after)
    assert(Lake.listCommits(spark, root).size === 1)
  }

  // -- keyed reads ---------------------------------------------------------

  private def bag(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def hasSemiJoin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _ => false
    }

  /** The keyed snapshot has the full snapshot's schema and exactly the
    * rows of the full snapshot semi-joined to the keys.
    */
  private def keyedMatches(root: String, fg: graft.model.FeatureGroup,
                           asOf: Option[Long],
                           keys: org.apache.spark.sql.DataFrame,
                           clue: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val got = Lake.snapshot(spark, root, fg, asOf, Some(keys))
    val full = Lake.snapshot(spark, root, fg, asOf)
    val want = full.join(keys, keys.columns.toSeq, "left_semi")
      .select(full.columns.map(col).toIndexedSeq: _*)
    assert(got.schema === full.schema, clue)
    assert(bag(got) === bag(want), clue)
    got
  }

  test("keyed snapshot equals the pruned full snapshot") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tkey",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val t2 = fs.insert(fg, Seq((1L, "a2"), (2L, "b2")).toDF("id", "v")).commitTime
    fs.insert(fg, Seq((1L, "a3"), (4L, "d")).toDF("id", "v"))
    fs.delete(fg, Seq(Tuple1(2L)).toDF("id"))
    val cases: Seq[(String, Option[Long], org.apache.spark.sql.DataFrame)] = Seq(
      ("several versions per key", None, Seq(1L, 3L, 99L).toDF("id")),
      ("a deleted key", None, Seq(2L, 4L).toDF("id")),
      ("as of before the last upsert", Some(t2), Seq(1L, 2L, 4L).toDF("id")),
      ("a null key", None, Seq(Some(1L), None).toDF("id")),
      ("int keys against a bigint key", None, Seq(1, 4, 7).toDF("id")),
      ("a double key of 1.5", None, Seq(1.5, 3.0).toDF("id")),
      ("a non-local key frame", None, spark.range(0, 3).toDF("id")))
    for ((clue, asOf, keys) <- cases) keyedMatches(root, fg, asOf, keys, clue)

    val ints = Lake.snapshot(spark, root, fg, None, Some(Seq(1, 4).toDF("id")))
    assert(!hasSemiJoin(ints), "int keys widen to bigint: the predicate form")
    assert(rows(ints) === Map(1L -> "a3", 4L -> "d"))
    val doubles = Lake.snapshot(spark, root, fg, None, Some(Seq(1.5, 3.0).toDF("id")))
    assert(hasSemiJoin(doubles), "a double does not widen to bigint: the join form")
    assert(rows(doubles) === Map(3L -> "c"), "1.5 must not find key 1")
    assert(hasSemiJoin(Lake.snapshot(spark, root, fg, None,
      Some(spark.range(0, 3).toDF("id")))))
  }

  test("keyed snapshot: record key of primary key plus event time") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tkeyet",
      Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c")).toDF("id", "ts", "v"),
      primaryKey = Seq("id"), eventTime = Some("ts"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    fs.insert(fg, Seq((1L, 10L, "a2"), (2L, 30L, "d")).toDF("id", "ts", "v"))
    keyedMatches(root, fg, None, Seq(1L, 5L).toDF("id"), "primary key only")
    keyedMatches(root, fg, None, Seq((1L, 10L), (2L, 20L)).toDF("id", "ts"),
      "primary key and event time")
    keyedMatches(root, fg, None, Seq((1L, 20L)).toDF("id", "ts").repartition(2),
      "non-local primary key and event time")
    intercept[IllegalArgumentException] {
      Lake.snapshot(spark, root, fg, None, Some(Seq("a").toDF("v")))
    }
  }

  test("keyed snapshot: an appended column takes its declared default") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tkeyev",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val fg2 = fg.copy(features = fg.features :+ graft.model.Feature(
      "score", org.apache.spark.sql.types.DoubleType, defaultValue = Some(0.5)))
    Lake.upsert(spark, root, fg2, Seq((3L, "c", 9.0)).toDF("id", "v", "score"))
    val got = keyedMatches(root, fg2, None, Seq(1L, 3L).toDF("id"), "evolved")
    assert(got.orderBy("id").collect().map(_.getDouble(2)).toSeq === Seq(0.5, 9.0))
  }

  test("a two-column key prunes exactly: delete and upsert stats touch only their pairs") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tpair",
      Seq(("a", "b", 1), ("c", "d", 2), ("a", "d", 3), ("c", "b", 4))
        .toDF("k1", "k2", "v"), primaryKey = Seq("k1", "k2"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    val del = fs.delete(fg, Seq(("a", "b"), ("c", "d")).toDF("k1", "k2"))
    assert(del.rowsDeleted === 2)
    val left = Lake.snapshot(spark, root, fg, None).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(left === Set(("a", "d"), ("c", "b")))
    // (a, b) and (c, d) are gone: an upsert of them counts as inserts
    val up = fs.insert(fg, Seq(("a", "b", 5), ("c", "d", 6), ("a", "d", 7))
      .toDF("k1", "k2", "v"))
    assert(up.rowsInserted === 2 && up.rowsUpdated === 1)
    keyedMatches(root, fg, None, Seq(("a", "b"), ("c", "b")).toDF("k1", "k2"),
      "two-column keys")
  }

  test("keyed snapshot: int keys against a string key match as the join does") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tkeystr",
      Seq(("007", "a"), ("7", "b"), ("8", "c")).toDF("id", "v"),
      primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    fs.insert(fg, Seq(("007", "a2")).toDF("id", "v"))
    // the join compares the string column as the key's type, so "007"
    // matches 7; a key cast to a string ('7') would miss it
    val got = keyedMatches(root, fg, None, Seq(7).toDF("id"), "int keys on strings")
    assert(got.collect().map(_.getString(0)).toSet === Set("007", "7"))
  }

  test("key batches over the broadcast threshold are not broadcast") {
    import org.apache.spark.sql.functions.broadcast
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tkeysmj",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      primaryKey = Seq("id"))
    val root = fg.source.asInstanceOf[graft.model.LakeSource].root
    fs.insert(fg, Seq((1L, "a2")).toDF("id", "v"))
    def plan(keys: org.apache.spark.sql.DataFrame) =
      Lake.snapshot(spark, root, fg, None, Some(keys)).queryExecution.sparkPlan.toString
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "100")
    try {
      // an upsert's or delete's key batch: Spark sizes the join, as it
      // did before the keyed read
      for (keys <- Seq(spark.range(0, 1000).toDF("id"),
                       (0L until 1000L).toDF("id"))) {
        val p = plan(keys)
        assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
      }
      // a lookup hints its keys: broadcast whatever their size estimate
      val hinted = plan(broadcast(spark.range(0, 1000).toDF("id")))
      assert(hinted.contains("BroadcastHashJoin"), hinted)
      assert(fs.delete(fg, spark.range(1, 3).toDF("id")).rowsDeleted === 2)
      assert(rows(Lake.snapshot(spark, root, fg, None)) === Map(3L -> "c"))
    } finally spark.conf.set(conf, prev)
  }

  /** [[keyedMatches]] through both resolvers: one driver-local key column
    * takes the driver's (a driver-local result), the same keys as a
    * non-local frame take the window's (a semi-join below it).
    */
  private def bothResolvers(root: String, fg: graft.model.FeatureGroup,
                            asOf: Option[Long],
                            keys: org.apache.spark.sql.DataFrame,
                            clue: String): Unit = {
    val driver = keyedMatches(root, fg, asOf, keys, s"$clue / driver")
    assert(driver.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation], clue)
    val window = keyedMatches(root, fg, asOf, keys.repartition(1), s"$clue / window")
    assert(hasSemiJoin(window), clue)
  }

  private def rootOf(fg: graft.model.FeatureGroup): String =
    fg.source.asInstanceOf[graft.model.LakeSource].root

  test("keyed snapshot: the driver and window resolvers agree") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tboth",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      primaryKey = Seq("id"))
    val root = rootOf(fg)
    val t2 = fs.insert(fg, Seq((1L, "a2"), (2L, "b2")).toDF("id", "v")).commitTime
    fs.insert(fg, Seq((1L, "a3"), (4L, "d")).toDF("id", "v"))
    fs.delete(fg, Seq(Tuple1(2L)).toDF("id"))
    bothResolvers(root, fg, None, Seq(2L, 4L).toDF("id"), "a tombstoned key")
    bothResolvers(root, fg, Some(t2), Seq(1L, 2L, 4L).toDF("id"),
      "as of before the last upsert")
    bothResolvers(root, fg, None, Seq(Some(1L), None).toDF("id"), "a null key")

    val fg2 = fg.copy(features = fg.features :+ graft.model.Feature(
      "score", org.apache.spark.sql.types.DoubleType, defaultValue = Some(0.5)))
    Lake.upsert(spark, root, fg2, Seq((3L, "c", 9.0)).toDF("id", "v", "score"))
    bothResolvers(root, fg2, None, Seq(1L, 3L).toDF("id"),
      "an appended column with a default")

    // key 1 moves to another partition
    val parted = fs.createFeatureGroup("tbothp",
      Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "seg", "v"),
      primaryKey = Seq("id"), partitionKey = Seq("seg"))
    fs.insert(parted, Seq((1L, "y", "a2"), (3L, "z", "c")).toDF("id", "seg", "v"))
    bothResolvers(rootOf(parted), parted, None, Seq(1L, 3L, 5L).toDF("id"),
      "a partitioned group")

    val timed = fs.createFeatureGroup("tbothet",
      Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c")).toDF("id", "ts", "v"),
      primaryKey = Seq("id"), eventTime = Some("ts"))
    fs.insert(timed, Seq((1L, 10L, "a2"), (2L, 30L, "d")).toDF("id", "ts", "v"))
    bothResolvers(rootOf(timed), timed, None, Seq(1L, 2L).toDF("id"),
      "an event-time group")
  }

  test("rows of one record key that tie on commit and precombine resolve to one row") {
    // five keys, each written twice in one commit with equal precombine
    val batch = (1L to 5L).flatMap(k => Seq((k, s"x$k", 1L), (k, s"y$k", 1L)))
    val winners = for (order <- Seq(batch, batch.reverse); files <- Seq(1, 3)) yield {
      val clue = s"${order.head} first, $files files"
      val fg = freshStore().createFeatureGroup("ttie",
        order.toDF("id", "v", "pc").repartition(files), primaryKey = Seq("id"),
        precombineKey = Some("pc"))
      val root = rootOf(fg)
      // the tie is settled as the batch is written: one row per key
      assert(spark.read.parquet(s"$root/data").count() === 5, clue)
      val full = rows(Lake.snapshot(spark, root, fg, None))
      val in = Lake.snapshot(spark, root, fg, None, Some((1L to 5L).toDF("id")))
      val join = Lake.snapshot(spark, root, fg, None, Some(spark.range(1, 6).toDF("id")))
      assert(!hasSemiJoin(in) && hasSemiJoin(join), clue)
      assert(rows(in) === full, clue)
      assert(rows(join) === full, clue)
      full
    }
    assert(winners.distinct.size === 1, winners)
  }

  test("a group with a map feature upserts, reads whole and keyed, and settles tied rows") {
    import org.apache.spark.sql.types.MapType
    def maps(df: org.apache.spark.sql.DataFrame): Map[Long, Map[String, Double]] =
      df.collect().map(r => r.getLong(0) ->
        Option(r.getMap[String, Double](1)).map(_.toMap).orNull).toMap
    val load = Seq((1L, Map("a" -> 1.0)), (2L, Map("a" -> 2.0, "b" -> 0.5)),
      (3L, Map.empty[String, Double]))
    // key 1 twice, tied (the key is its own precombine), with differing maps
    val batch = Seq((1L, Map("a" -> 9.0)), (1L, Map("b" -> 8.0, "a" -> 7.0)),
      (2L, Map("b" -> 0.25, "a" -> 2.0)), (4L, null))
    val winners = for (order <- Seq(batch, batch.reverse); files <- Seq(0, 1, 3)) yield {
      val clue = s"${order.head} first, ${if (files == 0) "local" else s"$files files"}"
      val fs = freshStore()
      val fg = fs.createFeatureGroup("tmap", load.toDF("id", "m"), primaryKey = Seq("id"))
      assert(fg.schema("m").dataType.isInstanceOf[MapType], clue)
      val root = rootOf(fg)
      val up = order.toDF("id", "m")
      val meta = fs.insert(fg, if (files == 0) up else up.repartition(files))
      assert(meta.rowsInserted === 1 && meta.rowsUpdated === 2, clue)
      val full = maps(Lake.snapshot(spark, root, fg, None))
      assert(full - 1L === Map(2L -> Map("a" -> 2.0, "b" -> 0.25),
        3L -> Map.empty[String, Double], 4L -> null), clue)
      val in = Lake.snapshot(spark, root, fg, None, Some(Seq(1L, 2L, 4L).toDF("id")))
      val join = Lake.snapshot(spark, root, fg, None, Some(spark.range(1, 5).toDF("id")))
      assert(!hasSemiJoin(in) && hasSemiJoin(join), clue)
      assert(maps(in) === full - 3L, clue)
      assert(maps(join) === full, clue)
      Lake.compact(spark, root, fg)
      assert(maps(Lake.snapshot(spark, root, fg, None)) === full, clue)
      full(1L)
    }
    assert(winners.distinct.size === 1, winners)
    // a map's hash does not depend on the order of its entries
    val hashed = Seq(Map("a" -> 1.0, "b" -> 2.0), Map("b" -> 2.0, "a" -> 1.0),
      Map("a" -> 1.0)).toDF("m")
    val h = hashed.select(graft.ops.Dedup.contentHash(hashed, Seq("m"))).as[Long].collect()
    assert(h(0) === h(1) && h(0) != h(2), h.toSeq)
  }

  test("a lake of more live commits than the parallel listing threshold lists each once") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tlist", Seq((0L, "v0")).toDF("id", "v"),
      primaryKey = Seq("id"))
    val root = rootOf(fg)
    (1L until 40L).foreach(i => Lake.upsert(spark, root, fg,
      Seq((i, s"v$i")).toDF("id", "v"), computeStats = false))
    assert(Lake.listCommits(spark, root).size === 40)
    assert(spark.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold").toInt < 40)
    // a read lists only the commits no read has listed yet: after the
    // first, building the snapshot starts no listing job
    Lake.snapshot(spark, root, fg, None)
    val (snap, jobs, _) = counted(Lake.snapshot(spark, root, fg, None))
    assert(jobs === 0)
    assert(snap.schema.map(f => f.name -> f.dataType) ===
      fg.schema.map(f => f.name -> f.dataType))
    assert(rows(snap) === (0L until 40L).map(i => i -> s"v$i").toMap)
  }

  // -- commit skipping by key filter -----------------------------------------

  /** Parquet files per live commit, by commit time. */
  private def commitFiles(root: String): Map[Long, Int] = {
    def parquet(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(parquet).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    new java.io.File(s"$root/data").listFiles().filter(_.getName.startsWith("_tx="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("_commit_time=")))
      .map(d => d.getName.stripPrefix("_commit_time=").toLong -> parquet(d)).toMap
  }

  /** Whether the log entry that published commit version `v` carries key
    * filters.
    */
  private def hasKeyFilters(root: String, v: Long): Boolean =
    new String(Files.readAllBytes(java.nio.file.Paths.get(root, "_delta_log",
      f"$v%020d.json")), "UTF-8").contains("keyFilters")

  /** A keyed read of one bigint `id`: its rows, the Spark jobs it ran and
    * the files its scan opened (`numFiles`; 0 without a scan).
    */
  private def keyedScan(root: String, fg: graft.model.FeatureGroup, key: Long,
                        asOf: Option[Long] = None): (Map[Long, String], Int, Long) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val (df, jobs, executions) = observed(
      Lake.snapshot(spark, root, fg, asOf, Some(Seq(key).toDF("id"))))
    val opened = executions.collect { case ("keyedRead", qe) =>
      (qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
    }.sum
    (rows(df), jobs, opened)
  }

  test("a keyed read opens only the commits whose key filter may hold its key") {
    val fs = freshStore()
    // a bulk load that is not driver-local: its base commit has no filter
    val fg = fs.createFeatureGroup("tskip",
      spark.range(0, 200).selectExpr("id", "concat('b', id) AS v").repartition(3),
      primaryKey = Seq("id"))
    val root = rootOf(fg)
    val ups = (1 to 4).map(i => fs.insert(fg,
      (1000L * i until 1000L * i + 20).map(k => (k, s"u$k")).toDF("id", "v")).commitTime)
    assert(!hasKeyFilters(root, 0) && (1 to 4).forall(hasKeyFilters(root, _)))
    val files = commitFiles(root)
    val base = files(Lake.listCommits(spark, root).head)
    assert(base > 0 && ups.forall(files(_) > 0), files)

    // a key only the base holds: the upserts' filters exclude every upsert
    val (onlyBase, jobs, opened) = keyedScan(root, fg, 7L)
    assert(onlyBase === Map(7L -> "b7"))
    assert(jobs === 1 && opened === base, files)
    // a key of one upsert: the base and that upsert
    val (one, _, openedOne) = keyedScan(root, fg, 2005L)
    assert(one === Map(2005L -> "u2005"))
    assert(openedOne === base + files(ups(1)), files)
    // as of the first upsert, the later ones are not in the window
    assert(keyedScan(root, fg, 3005L, Some(ups(0)))._1 === Map.empty)
    for ((clue, asOf, keys) <- Seq(
        ("keys of the base and upserts", None, Seq(7L, 1001L, 4019L, 5000L).toDF("id")),
        ("as of an upsert", Some(ups(1)), Seq(7L, 2005L, 3005L).toDF("id")),
        ("int keys", None, Seq(7, 1001).toDF("id"))))
      keyedMatches(root, fg, asOf, keys, clue)
  }

  test("a keyed read of keys no commit holds runs no Spark job, past a checkpoint too") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tnojob", Seq((0L, "a"), (1L, "b")).toDF("id", "v"),
      primaryKey = Seq("id"))
    val root = rootOf(fg)
    (1 to 3).foreach(i => fs.insert(fg, Seq((10L * i, s"w$i")).toDF("id", "v")))
    val (none, jobs, _) = counted(rows(
      Lake.snapshot(spark, root, fg, None, Some(Seq(999L, 998L).toDF("id")))))
    assert(none === Map.empty && jobs === 0)

    // no read before the checkpoint: the filters of the commits it holds
    // come back from the checkpoint's add.stats
    val cp = freshStore()
    val g = cp.createFeatureGroup("tnojobcp", Seq((0L, "a"), (1L, "b")).toDF("id", "v"),
      primaryKey = Seq("id"))
    val r = rootOf(g)
    (1 to 11).foreach(i => cp.insert(g, Seq((10L * i, s"w$i")).toDF("id", "v")))
    assert(graft.sources.DeltaLite.checkpointVersions(r) === Seq(10L))
    assert(Lake.listCommits(spark, r).size === 12)
    val (absent, cpJobs, opened) = keyedScan(r, g, 999L)
    assert(absent === Map.empty && cpJobs === 0 && opened === 0)
    val (found, _, openedFound) = keyedScan(r, g, 30L)
    assert(found === Map(30L -> "w3"))
    assert(openedFound === commitFiles(r)(Lake.listCommits(spark, r)(3)))
  }

  test("a commit of a batch that is not driver-local is always read") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tnonlocal",
      Seq((1L, "a"), (2L, "b"), (7L, "c")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = rootOf(fg)
    val far = fs.insert(fg, Seq((50L, "x"), (51L, "y")).toDF("id", "v").repartition(2))
    fs.insert(fg, Seq((60L, "z")).toDF("id", "v"))
    assert(hasKeyFilters(root, 0) && !hasKeyFilters(root, 1) && hasKeyFilters(root, 2))
    val files = commitFiles(root)
    val (got, _, opened) = keyedScan(root, fg, 7L)
    assert(got === Map(7L -> "c"))
    assert(opened === files(Lake.listCommits(spark, root).head) + files(far.commitTime),
      files)
  }

  test("a tombstone commit is read for the keys it deletes") {
    val fs = freshStore()
    val fg = fs.createFeatureGroup("ttomb",
      (1L to 5L).map(k => (k, s"v$k")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = rootOf(fg)
    val del = fs.delete(fg, Seq(Tuple1(3L)).toDF("id"))
    assert(del.rowsDeleted === 1 && !hasKeyFilters(root, 1))
    fs.insert(fg, Seq((8L, "w8")).toDF("id", "v"))
    val files = commitFiles(root)
    val (got, _, opened) = keyedScan(root, fg, 3L)
    assert(got === Map.empty)
    assert(opened === files(Lake.listCommits(spark, root).head) + files(del.commitTime),
      files)
    keyedMatches(root, fg, None, Seq(3L, 4L, 8L).toDF("id"), "deleted and live keys")
    // as of before the delete, the key reads back
    assert(keyedScan(root, fg, 3L, Some(del.commitTime - 1))._1 === Map(3L -> "v3"))
  }

  test("a collated string key takes the join form and carries no key filter") {
    import org.apache.spark.sql.functions.{col, collate}
    val lcase = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("id", collate(col("id"), "UTF8_LCASE"))
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tcoll",
      lcase(Seq(("a", "1"), ("B", "2"), ("c", "3")).toDF("id", "v")),
      primaryKey = Seq("id"))
    val root = rootOf(fg)
    fs.insert(fg, lcase(Seq(("C", "4")).toDF("id", "v")))
    assert(!hasKeyFilters(root, 0) && !hasKeyFilters(root, 1))
    for (keys <- Seq(Seq("b", "C"), Seq("A"), Seq("x"))) {
      val k = lcase(keys.toDF("id"))
      val got = keyedMatches(root, fg, None, k, keys.mkString(","))
      assert(hasSemiJoin(got), keys)
    }
    val found = Lake.snapshot(spark, root, fg, None, Some(lcase(Seq("b", "C").toDF("id"))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(found === Map("B" -> "2", "C" -> "4"))
  }

  test("a keyed read of a new bigint key compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val fs = freshStore()
    val fg = fs.createFeatureGroup("tcodegen",
      (1L to 50L).map(k => (k, s"v$k")).toDF("id", "v"), primaryKey = Seq("id"))
    val root = rootOf(fg)
    fs.insert(fg, (40L to 60L).map(k => (k, s"w$k")).toDF("id", "v"))
    assert(keyedScan(root, fg, 41L)._1 === Map(41L -> "w41"))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(keyedScan(root, fg, 42L)._1 === Map(42L -> "w42"))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiled)
  }
}
