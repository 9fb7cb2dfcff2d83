package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.DeltaLite
import org.apache.spark.sql.functions._

/** Protocol-level Delta tables: on-disk layout asserted against the
  * published PROTOCOL.md shapes (commit naming, action fields, schema
  * as schemaString), then snapshot / time-travel / overwrite /
  * incremental-read semantics.
  */
class DeltaLiteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = tempDir("graft_delta").toString + "/tbl"

  test("log layout matches the published protocol shapes") {
    val t = tmp()
    DeltaLite.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1), t)
    val log = new java.io.File(s"$t/_delta_log")
    // ignore Hadoop LocalFileSystem's .crc sidecars
    val commits = log.listFiles().map(_.getName)
      .filter(_.endsWith(".json")).sorted
    assert(commits.head == "00000000000000000000.json",
      s"zero-padded %020d naming required, got ${commits.head}")
    val lines = scala.io.Source.fromFile(
      s"$t/_delta_log/${commits.head}").getLines().toList
    val m = new ObjectMapper()
    val byKey = lines.map(m.readTree).groupBy(_.fieldNames().next())
    assert(byKey.keySet == Set("protocol", "metaData", "add"))
    val p = byKey("protocol").head.get("protocol")
    assert(p.get("minReaderVersion").asInt == 1 &&
      p.get("minWriterVersion").asInt == 2)
    val md = byKey("metaData").head.get("metaData")
    assert(md.get("format").get("provider").asText == "parquet")
    // schemaString is Spark's own schema JSON — parse it back
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(md.get("schemaString").asText)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == Seq("id", "v"))
    val add = byKey("add").head.get("add")
    assert(add.get("path").asText.endsWith(".parquet") &&
      !add.get("path").asText.startsWith("/"),
      "add.path must be table-root-relative")
    assert(add.get("dataChange").asBoolean && add.get("size").asLong > 0)
    assert(add.has("partitionValues"))
  }

  test("snapshot, time travel, overwrite, and empty-table semantics") {
    val t = tmp()
    DeltaLite.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    DeltaLite.append(Seq((3L, "c")).toDF("id", "v"), t)
    def ids(asOf: Option[Long]) =
      DeltaLite.snapshot(spark, t, asOf).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq
    assert(ids(Some(0L)) == Seq(1L, 2L))
    assert(ids(Some(1L)) == Seq(1L, 2L, 3L))
    DeltaLite.overwrite(Seq((9L, "z")).toDF("id", "v"), t)
    assert(ids(None) == Seq(9L))
    assert(ids(Some(1L)) == Seq(1L, 2L, 3L),
      "time travel must still see the pre-overwrite snapshot")
    // overwrite with an empty frame → empty snapshot with the schema
    DeltaLite.overwrite(Seq.empty[(Long, String)].toDF("id", "v"), t)
    val empty = DeltaLite.snapshot(spark, t)
    assert(empty.count() == 0 &&
      empty.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("readChanges returns rows added in (from, to] only") {
    val t = tmp()
    DeltaLite.create(Seq((1L, "a")).toDF("id", "v"), t)
    DeltaLite.append(Seq((2L, "b")).toDF("id", "v"), t)
    DeltaLite.append(Seq((3L, "c")).toDF("id", "v"), t)
    val ch = DeltaLite.readChanges(spark, t, 0L, 2L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ch == Seq(2L, 3L))
    assert(DeltaLite.readChanges(spark, t, 2L, 2L).count() == 0)
  }

  test("a 30-commit table reads THROUGH the checkpoint: pre-checkpoint " +
    "logs deliberately corrupted") {
    val t = tmp()
    DeltaLite.create(Seq((1L, "r0")).toDF("id", "v").coalesce(1), t)
    (1 to 29).foreach { i =>
      DeltaLite.append(Seq((i + 1L, s"r$i")).toDF("id", "v").coalesce(1), t)
    }
    // commits v0..v29 → auto-checkpoints at v10 and v20, pointer at 20
    assert(DeltaLite.checkpointVersions(t) == Seq(10L, 20L))
    assert(DeltaLite.lastCheckpoint(t).contains(20L))
    // corrupt every commit file the checkpoint supersedes — if any read
    // below touches them, jackson throws; a clean pass PROVES replay is
    // checkpoint + tail only
    (0L to 20L).foreach { v =>
      val p = new java.io.File(f"$t/_delta_log/$v%020d.json")
      java.nio.file.Files.write(p.toPath,
        "NOT JSON -- corrupted by DeltaLiteSpec".getBytes("UTF-8"))
    }
    def ids(asOf: Option[Long]) =
      DeltaLite.snapshot(spark, t, asOf).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq
    assert(ids(None) == (1L to 30L), "latest = checkpoint(20) + tail 21..29")
    assert(ids(Some(25L)) == (1L to 26L), "time travel above the pointer")
    // and the corruption is real: replay that NEEDS a dead commit fails
    intercept[Exception] { ids(Some(5L)) }
  }

  test("time travel BEHIND the pointer falls back to an older checkpoint") {
    val t = tmp()
    DeltaLite.create(Seq((1L, "r0")).toDF("id", "v").coalesce(1), t)
    (1 to 24).foreach { i =>
      DeltaLite.append(Seq((i + 1L, s"r$i")).toDF("id", "v").coalesce(1), t)
    }
    assert(DeltaLite.lastCheckpoint(t).contains(20L))
    // corrupt v0..v10: asOf=15 must seed from checkpoint 10 (directory
    // listing, since the pointer at 20 is ahead) + JSON tail 11..15
    (0L to 10L).foreach { v =>
      val p = new java.io.File(f"$t/_delta_log/$v%020d.json")
      java.nio.file.Files.write(p.toPath, "CORRUPT".getBytes("UTF-8"))
    }
    val ids = DeltaLite.snapshot(spark, t, Some(15L)).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 16L))
  }

  test("a checkpoint cut to 0 bytes with no pointer is never a seed: " +
    "a fresh reader reads v10 and the next append lands") {
    val t = tmp()
    DeltaLite.create(Seq((0L, "r0")).toDF("id", "v").coalesce(1), t)
    (1 to 10).foreach { i =>
      DeltaLite.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    }
    // the state a writer leaves when it dies inside an in-place
    // checkpoint write: a truncated checkpoint and no pointer yet
    val log = new java.io.File(s"$t/_delta_log")
    java.nio.file.Files.write(
      new java.io.File(log, f"${10L}%020d.checkpoint.parquet").toPath,
      Array.emptyByteArray)
    log.listFiles().filter(_.getName.contains("_last_checkpoint"))
      .foreach(_.delete())
    def ids(asOf: Option[Long]) =
      DeltaLite.snapshot(spark, t, asOf).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq
    assert(ids(None) == (0L to 10L))
    assert(ids(Some(10L)) == (0L to 10L))
    assert(DeltaLite.append(Seq((11L, "r11")).toDF("id", "v"), t) == 11L)
    assert(ids(None) == (0L to 11L))
  }

  test("a checkpoint that fails after its entry is published does not " +
    "fail the commit: v10 reads, and the next append lands at v11") {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${FailingFs.Scheme}.impl", classOf[FailingFs].getName)
    def upTo9(t: String): Unit = {
      DeltaLite.create(Seq((0L, "r0")).toDF("id", "v").coalesce(1), t)
      (1 to 9).foreach { i =>
        DeltaLite.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
      }
    }
    val row10 = Seq((10L, "r10")).toDF("id", "v").coalesce(1)
    // a twin table sizes the cut: it must pass v10's data files and entry
    // and stop inside its checkpoint
    val twin = tmp()
    upTo9(twin)
    DeltaLite.append(row10, twin)
    def files(dir: java.io.File): Seq[java.io.File] =
      dir.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val cp = new java.io.File(twin, f"_delta_log/${10L}%020d.checkpoint.parquet")
    val others = files(new java.io.File(twin))
      .filterNot(f => f == cp || f.getName.endsWith(".crc")).map(_.length)
    assert(others.max < cp.length - 1, s"${others.max} vs ${cp.length}")

    val local = tmp()
    val t = s"${FailingFs.Scheme}://$local"
    upTo9(t)
    FailingFs.failAfter.set(cp.length - 1)
    val v = try DeltaLite.append(row10, t) finally FailingFs.failAfter.set(-1L)
    assert(v === 10L)
    assert(DeltaLite.checkpointVersions(t).isEmpty)
    def ids = DeltaLite.snapshot(spark, t).select("id").as[Long].collect()
      .sorted.toSeq
    assert(ids === (0L to 10L))
    assert(DeltaLite.append(Seq((11L, "r11")).toDF("id", "v"), t) === 11L)
    assert(ids === (0L to 11L))
    val names = new java.io.File(s"$local/_delta_log").listFiles().map(_.getName)
    assert(!names.exists(_.contains(".tmp")), names.mkString(","))
  }

  test("a checkpoint and its pointer are published staged: nothing the " +
    "log lists is ever partial, and no staged file is left") {
    val t = tmp()
    DeltaLite.create(Seq((0L, "r0")).toDF("id", "v").coalesce(1), t)
    (1 to 10).foreach { i =>
      DeltaLite.append(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t)
    }
    // a second cut of the same version replaces the first whole
    DeltaLite.writeCheckpoint(t, 10L)
    val names = new java.io.File(s"$t/_delta_log").listFiles().map(_.getName)
    assert(!names.exists(_.endsWith(".tmp")), names.mkString(","))
    assert(DeltaLite.checkpointVersions(t) == Seq(10L))
    assert(DeltaLite.lastCheckpoint(t).contains(10L))
    assert(DeltaLite.snapshot(spark, t).count() == 11L)
  }

  test("checkpoint parquet carries the protocol's action-struct layout " +
    "and _last_checkpoint the {version,size} pair") {
    val t = tmp()
    DeltaLite.create(Seq((1L, "a")).toDF("id", "v").coalesce(1), t)
    (1 to 10).foreach { i =>
      DeltaLite.append(Seq((i + 1L, "x")).toDF("id", "v").coalesce(1), t)
    }
    val cp = spark.read.parquet(f"$t/_delta_log/${10L}%020d.checkpoint.parquet")
    assert(cp.columns.sorted.toSeq == Seq("add", "metaData", "protocol"))
    val rows = cp.collect()
    // exactly one action struct non-null per row
    assert(rows.forall(r => Seq("protocol", "metaData", "add")
      .count(c => !r.isNullAt(r.fieldIndex(c))) == 1))
    assert(rows.count(r => !r.isNullAt(r.fieldIndex("protocol"))) == 1)
    assert(rows.count(r => !r.isNullAt(r.fieldIndex("metaData"))) == 1)
    // 11 live files at v10 (create + 10 appends, one file each)
    assert(rows.count(r => !r.isNullAt(r.fieldIndex("add"))) == 11)
    // delta-spark convention: checkpoint add entries restate state, so
    // they carry dataChange=false (commit-log adds stay true)
    assert(rows.filter(r => !r.isNullAt(r.fieldIndex("add")))
      .forall(r => !r.getAs[org.apache.spark.sql.Row]("add")
        .getAs[Boolean]("dataChange")))
    val md = rows.find(r => !r.isNullAt(r.fieldIndex("metaData"))).get
      .getAs[org.apache.spark.sql.Row]("metaData")
    assert(org.apache.spark.sql.types.DataType
      .fromJson(md.getAs[String]("schemaString"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("id", "v"))
    val m = new ObjectMapper()
    val lc = m.readTree(scala.io.Source
      .fromFile(s"$t/_delta_log/_last_checkpoint").mkString)
    assert(lc.get("version").asLong == 10L && lc.get("size").asLong == 13L)
  }

  test("snapshot plans keep parquet pushdown through the file-list read") {
    val t = tmp()
    DeltaLite.create(spark.range(1000).select(col("id"),
      (col("id") % 7).as("k")), t)
    val snap = DeltaLite.snapshot(spark, t).filter(col("k") === 3)
    val plan = snap.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("k"),
      s"filter must reach the parquet scan:\n$plan")
  }

  // ------------------------------------------------------------------
  // Optimistic concurrency (r11): put-if-absent commits, loser rebases.
  // ------------------------------------------------------------------

  test("put-if-absent: two writers publish the same version, exactly " +
    "one wins; the loser's append rebases to the next version") {
    val t = tmp()
    DeltaLite.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    // both writers observed head v0 and target v1
    val winner = DeltaLite.tryPublish(t, 1L, Seq("""{"commitInfo":{}}"""))
    val loser = DeltaLite.tryPublish(t, 1L, Seq("""{"commitInfo":{}}"""))
    assert(winner && !loser, "exactly one writer may own a version file")
    // a concurrent create is the same race on v0 — always lost here
    assert(!DeltaLite.tryPublish(t, 0L, Seq("""{"commitInfo":{}}""")))
    // the losing APPEND path rebases: lands at v2, data intact
    val v = DeltaLite.append(Seq((3L, "c")).toDF("id", "v"), t)
    assert(v == 2L)
    assert(DeltaLite.snapshot(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // no staged .tmp files leak from the publish path
    val leftovers = new java.io.File(s"$t/_delta_log").listFiles()
      .map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"leaked stages: ${leftovers.mkString(",")}")
  }

  test("concurrent appenders: every commit lands at a distinct " +
    "contiguous version and no rows are lost") {
    val t = tmp()
    DeltaLite.create(Seq((0L, "seed")).toDF("id", "v"), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (1 to 12).map { i =>
      scala.concurrent.Future(
        DeltaLite.append(Seq((i.toLong, s"w$i")).toDF("id", "v"), t))
    }
    val committed = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    assert(committed.toSet.size == 12, "every append owns its own version")
    assert(DeltaLite.versions(t) == (0L to 12L),
      s"contiguous log, got ${DeltaLite.versions(t)}")
    assert(DeltaLite.snapshot(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == (0L to 12L),
      "no append may be lost to the race")
  }

  test("overwrite rebases its remove set against interleaved appends: " +
    "overwrite rows always survive, earlier appends are removed") {
    val t = tmp()
    DeltaLite.create(Seq((1L, "a")).toDF("id", "v"), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val appender = scala.concurrent.Future {
      (10 to 15).map(i =>
        i -> DeltaLite.append(Seq((i.toLong, s"a$i")).toDF("id", "v"), t))
    }
    val overwriter = scala.concurrent.Future {
      DeltaLite.overwrite(Seq((100L, "ow")).toDF("id", "v"), t)
    }
    val appends = scala.concurrent.Await.result(appender,
      scala.concurrent.duration.Duration("120s"))
    val owV = scala.concurrent.Await.result(overwriter,
      scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    val finalIds = DeltaLite.snapshot(spark, t)
      .collect().map(_.getLong(0)).toSet
    // full-table overwrite semantics: exactly the overwrite payload
    // plus appends that committed AFTER the overwrite version
    val expected = Set(100L) ++
      appends.filter(_._2 > owV).map(_._1.toLong)
    assert(finalIds == expected,
      s"overwrite at v$owV, appends ${appends}: got $finalIds")
  }

  test("two writer PROCESSES race on one table: every commit owns a " +
    "distinct contiguous version, no rows lost (cross-process " +
    "put-if-absent atomicity)") {
    // the thread-pool contention spec above could be satisfied by a
    // JVM-level lock; this one cannot — two forked JVMs share only the
    // filesystem, so surviving the race proves the createLink publish
    // is atomic at the OS level, the protocol's actual claim
    val t = tmp()
    DeltaLite.create(Seq((0L, "seed")).toDF("id", "v"), t)
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val nPerWriter = 4
    val procs = Seq("1", "2").map { w =>
      val cmd = Seq(javaBin, "-Xmx2g", "-cp", cp,
        "graft.tools.DeltaLiteCheck", "append", t, w, nPerWriter.toString)
      w -> new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    }
    // drain each child's merged output on its own thread: a blocked
    // 64 KB pipe would otherwise stall one child while we wait on the
    // other, serializing the race this spec exists to create
    val drains = procs.map { case (w, p) =>
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val th = new Thread(() => {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var l = br.readLine()
        while (l != null) { buf.add(l); l = br.readLine() }
      })
      th.setDaemon(true); th.start()
      (w, p, buf, th)
    }
    val outs = drains.map { case (w, p, buf, th) =>
      val rc = p.waitFor()
      th.join(10000)
      val lines = {
        import scala.jdk.CollectionConverters._
        buf.asScala.toList
      }
      assert(rc == 0, s"writer $w failed:\n" +
        lines.takeRight(25).mkString("\n"))
      val marker = lines.find(_.startsWith("GRAFT_DL_APPEND"))
        .getOrElse(fail(s"no marker from writer $w"))
      w -> marker.split("versions=")(1).split(",").map(_.toLong).toSeq
    }
    val allVersions = outs.flatMap(_._2)
    assert(allVersions.size == 2 * nPerWriter &&
      allVersions.toSet.size == 2 * nPerWriter,
      s"every commit must own its own version: $outs")
    assert(DeltaLite.versions(t) == (0L to (2L * nPerWriter)),
      s"contiguous log, got ${DeltaLite.versions(t)}")
    val ids = DeltaLite.snapshot(spark, t)
      .collect().map(_.getLong(0)).toSet
    val expected = Set(0L) ++
      (1 to nPerWriter).flatMap(i => Seq(1000L + i, 2000L + i))
    assert(ids == expected, s"no append may be lost: got $ids")
  }

  test("reader PROCESS racing a writer PROCESS only ever sees a " +
    "committed version: every concurrent snapshot is a contiguous " +
    "commit prefix, never a torn half-commit") {
    // r12 verdict #8 (depth over breadth): the writer-vs-writer fork
    // spec proves commit atomicity; this one proves READ isolation
    // across processes — data files land before the commit link
    // publishes, so a snapshot resolved mid-commit must equal the
    // previous version exactly
    val t = tmp()
    DeltaLite.create(Seq((0L, "seed")).toDF("id", "v"), t)
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmds = Seq(
      "writer" -> Seq(javaBin, "-Xmx2g", "-cp", cp,
        "graft.tools.DeltaLiteCheck", "append", t, "1", "6"),
      "reader" -> Seq(javaBin, "-Xmx2g", "-cp", cp,
        "graft.tools.DeltaLiteCheck", "read", t, "10"))
    val drains = cmds.map { case (role, cmd) =>
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val th = new Thread(() => {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var l = br.readLine()
        while (l != null) { buf.add(l); l = br.readLine() }
      })
      th.setDaemon(true); th.start()
      (role, p, buf, th)
    }
    val out = drains.map { case (role, p, buf, th) =>
      val rc = p.waitFor()
      th.join(10000)
      val lines = {
        import scala.jdk.CollectionConverters._
        buf.asScala.toList
      }
      assert(rc == 0, s"$role failed:\n${lines.takeRight(25).mkString("\n")}")
      role -> lines
    }.toMap
    val readMarker = out("reader").find(_.startsWith("GRAFT_DL_READ"))
      .getOrElse(fail("no marker from reader"))
    val reads = readMarker.split("reads=")(1).split(",").toSeq
    assert(reads.size == 10 && reads.forall(_.endsWith(":true")),
      s"every concurrent read must be a committed prefix: $reads")
    // the writer finished all 6 appends; a final read sees them all
    assert(DeltaLite.snapshot(spark, t).count() == 7L)
  }
}
