package graft

import graft.catalog.TestTables
import graft.ir._
import graft.model.{DataFrameSource, Feature, FeatureGroup}
import graft.ops.{Transformations, Validation}
import graft.serving.FeatureVectorServer
import graft.view.{FeatureView, TrainingDataset}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._

class ViewServingSpec extends SparkSpec {
  import spark.implicits._

  private def fg(t: String) = TestTables.fg(spark, sfDir, t)

  /** A feature group over an in-memory frame. */
  private def dfGroup(name: String, df: DataFrame, pk: Seq[String]) =
    FeatureGroup(name, features = df.schema.fields.toSeq.map(f =>
      Feature(f.name, f.dataType, primary = pk.contains(f.name))),
      primaryKey = pk, source = DataFrameSource(df))

  /** Same column names, order and types, and the same multiset of rows. */
  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    def shape(d: DataFrame) = d.schema.fields.toSeq.map(f => (f.name, f.dataType))
    def bag(d: DataFrame) = d.collect().toSeq.groupBy(identity)
      .map { case (r, rs) => r -> rs.size }
    assert(shape(got) === shape(want), clue)
    assert(bag(got) === bag(want), clue)
  }

  private def customerNation(name: String) = FeatureView(name, 1,
    Query.select(fg("customer"), Seq("c_custkey", "c_name"))
      .join(Query.select(fg("nation"), Seq("n_name")),
        leftOn = Seq("c_nationkey"), rightOn = Seq("n_nationkey"),
        prefix = Some("nat_")))

  test("training dataset: split → fit on train only → apply everywhere") {
    val view = FeatureView("v", 1,
      Query.select(fg("lineitem"), Seq("l_orderkey", "l_quantity")),
      transformations = Seq(Transformations.Transformation(
        "mm", Transformations.ModelDependent, Seq("l_quantity"),
        drop = Seq("l_quantity"),
        fn = (cols, st) => Seq(Transformations
          .minMaxScaler(cols.head, st("l_quantity")).as("q_mm")))))
    val frame = view.batchQuery(spark)
    val res = TrainingDataset.build(spark, view, frame,
      randomWeights = Map("train" -> 0.8, "test" -> 0.2))
    assert(res.splits.keySet === Set("train", "test"))
    // train split scaled to exactly [0,1]; test may exceed (stats from train)
    val r = res.splits("train").agg(min("q_mm"), max("q_mm")).collect().head
    assert(r.getDouble(0) === 0.0 && r.getDouble(1) === 1.0)
    assert(!res.splits("train").columns.contains("l_quantity"))
  }

  test("training dataset file writers round-trip: parquet, csv, tsv, orc, json") {
    val df = spark.read.parquet(s"$sfDir/nation.parquet")
    val res = TrainingDataset.Result(Map("train" -> df), Map())
    Seq("parquet", "csv", "tsv", "orc", "json").foreach { f =>
      val dir = Files.createTempDirectory(s"graft_td_$f").toString + "/out"
      TrainingDataset.write(res, dir, format = f, coalesce = true)
      val back = TrainingDataset.read(spark, dir, format = f)
      assert(back.count() === df.count(), s"format $f")
      assert(back.columns.sorted.toSeq === df.columns.sorted.toSeq, s"format $f")
    }
  }

  test("csv/tsv writers pin the reference default option set (byte-stable files)") {
    // engine/spark.py:1111-1147 write_options: csv = header + ',' delim,
    // tsv = header + tab; quoting/escape at Spark csv defaults (quote only
    // when the value contains the delimiter)
    val base = spark.read.parquet(s"$sfDir/nation.parquet")
      .select($"n_nationkey".cast("int"), $"n_name")
      .orderBy("n_nationkey").limit(3)
      .union(Seq((99, "x,y"), (100, "q\"z")).toDF("n_nationkey", "n_name"))
    val rows = base.collect().map(r => (r.getInt(0), r.getString(1)))
    for (f <- Seq("csv", "tsv")) {
      val dir = Files.createTempDirectory(s"graft_opts_$f").toString + "/out"
      TrainingDataset.write(
        TrainingDataset.Result(Map("train" -> base), Map()),
        dir, format = f, coalesce = true)
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).head
      val lines = java.nio.file.Files.readAllLines(part.toPath)
      val d = if (f == "tsv") "\t" else ","
      def cell(s: String) =
        // Spark csv default quoting: quote iff the value contains the
        // delimiter or quote char; embedded quotes escaped by doubling
        if (s.contains(d) || s.contains("\""))
          "\"" + s.replace("\"", "\\\"") + "\""
        else s
      val expected = s"n_nationkey${d}n_name" +:
        rows.map { case (k, v) => s"$k$d${cell(v)}" }.toSeq
      assert(lines.asScala.toSeq === expected, s"format $f")
      // and the pinned read defaults round-trip the same rows + types
      val back = TrainingDataset.read(spark, dir, format = f)
        .orderBy("n_nationkey").collect()
        .map(r => (r.getInt(0), r.getString(1)))
      assert(back.toSeq === rows.toSeq, s"format $f")
    }
  }

  test("pit training frame enriches spine with latest right rows") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val clicks = ev.filter($"event_type" === "click")
      .select("event_id", "user_id", "ts")
    val eventsFg = fg("events")
    val viewsQ = Query.selectAll(eventsFg)
      .where(graft.ir.FilterLeaf(FeatureRef("event_type"),
        FilterCondition.Eq, "view"))
    val view = FeatureView("pit", 1,
      Query(eventsFg.copy(primaryKey = Seq("user_id")),
        joins = Seq(JoinSpec(viewsQ, leftOn = Seq("user_id"),
          rightOn = Seq("user_id"), prefix = Some("v_")))))
    val out = view.pitTrainingFrame(spark, clicks)
    assert(out.count() === clicks.count()) // exactly one row per spine row
    assert(out.columns.contains("v_value"))
    // every matched view time ≤ click time
    val bad = out.filter($"v_ts".isNotNull && $"v_ts" > $"ts").count()
    assert(bad === 0)
  }

  test("validation: one-pass suite with failing and passing rules") {
    val df = Seq((1L, 10.0, "A"), (2L, -5.0, "B"), (2L, 3.0, "C"))
      .toDF("id", "x", "s")
    val report = Validation.validate(df, Seq(
      Validation.notNull("id"),
      Validation.between("x", 0.0, 100.0),
      Validation.unique("id"),
      Validation.inSet("s", Seq("A", "B", "C"))))
    val byName = report.results.map(r => r.name -> r).toMap
    assert(!report.success)
    assert(byName("not_null(id)").success)
    assert(byName("between(x,0.0,100.0)").unexpectedCount === 1)
    assert(byName("unique(id)").unexpectedCount === 2) // both dup rows
    assert(byName("in_set(s)").success)
    intercept[IllegalStateException] {
      Validation.validateOrThrow(df, Seq(Validation.between("x", 0.0, 100.0)))
    }
  }

  test("streaming materialization lands batches in the lake exactly once") {
    import graft.streaming.Streaming
    val tmp = Files.createTempDirectory("graft_stream").toString
    val src = s"$tmp/src"; new java.io.File(src).mkdirs()
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = s"$tmp/wh")

    val batch1 = Seq((1L, 100L, "a"), (2L, 100L, "b")).toDF("id", "et", "v")
    batch1.write.parquet(s"$src/b1")
    val fgrp = fs.createFeatureGroup("stream_fg",
      batch1.limit(0), primaryKey = Seq("id"), eventTime = Some("et"))

    val stream = Streaming.readStream(spark, "parquet",
      Some(s"$src/*"), schema = Some(batch1.schema))
    val q = Streaming.materialize(stream, fgrp, s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
    q.processAllAvailable()
    assert(fs.read(Query.selectAll(fgrp)).count() === 2)

    // second file: update id=2 (same event time — record key is pk+et,
    // hudi semantics), add id=3 — upsert semantics on re-trigger
    Seq((2L, 100L, "b2"), (3L, 100L, "c")).toDF("id", "et", "v")
      .write.parquet(s"$src/b2")
    q.processAllAvailable()
    q.stop()
    val out = fs.read(Query.selectAll(fgrp)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(out.toSeq === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("batch query substitutes a schema-checked spine for the left side") {
    // the spine replaces the left (label) relation, so the left side's
    // projection must be spine columns; joined features come from the FGs
    val view = FeatureView("bv", 1,
      Query.select(fg("orders"), Seq("o_orderkey", "o_custkey", "o_orderdate"))
        .join(Query.select(fg("customer"), Seq("c_mktsegment")),
          leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey")))
    val spine = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderdate").limit(10)
    val out = view.batchQuery(spark, spine = Some(spine))
    assert(out.count() === 10)
    // schema check rejects a spine missing the key columns
    intercept[IllegalArgumentException] {
      view.batchQuery(spark,
        spine = Some(spine.drop("o_orderkey")))
    }
  }

  test("in-stream dedup drops duplicate keys within the watermark") {
    import graft.streaming.Streaming
    val tmp = Files.createTempDirectory("graft_dedup").toString
    val src = s"$tmp/src"; new java.io.File(src).mkdirs()
    val data = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a-dup"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "b"))
      .toDF("id", "ts", "v")
    data.write.parquet(s"$src/b1")
    val stream = Streaming.readStream(spark, "parquet", Some(s"$src/*"),
      schema = Some(data.schema))
    val deduped = Streaming.withDedup(stream, "ts", "10 minutes", Seq("id"))
    val name = "dedup_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    assert(spark.table(name).count() === 2) // one row per (id, ts)
  }

  test("streaming dedup drops rows already fingerprinted in the corpus") {
    import graft.streaming.Streaming
    val tmp = Files.createTempDirectory("graft_histdedup").toString
    val src = s"$tmp/src"; new java.io.File(src).mkdirs()
    val incoming = Seq((10L, "brand new words entirely"),
      (11L, "Hello   World"), (12L, "another fresh document"))
      .toDF("doc_id", "text")
    incoming.write.parquet(s"$src/b1")
    // history holds the fingerprint of "hello world"; the stream's row 11
    // normalizes to the same fingerprint and must be dropped
    val history = Seq(Tuple1("hello world"), Tuple1("old text")).toDF("t")
      .select(graft.ops.TextAnalysis.fingerprint(col("t")))
    val stream = Streaming.readStream(spark, "parquet", Some(s"$src/*"),
      schema = Some(incoming.schema))
    val cleaned = Streaming.dedupAgainstHistory(stream,
      graft.ops.TextAnalysis.fingerprint(col("text")), history)
    val name = "histdedup_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = cleaned.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name).select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(10L, 12L))
  }

  test("sessionization: custom state closes sessions by gap and watermark") {
    import graft.streaming.Streaming
    val tmp = Files.createTempDirectory("graft_sess").toString
    val src = s"$tmp/src"; new java.io.File(src).mkdirs()
    def minutes(m: Long) = new java.sql.Timestamp(m * 60000L)
    // batch 1: key a has two bursts separated by > gap; key b one burst
    Seq(("a", minutes(1), 1.0), ("a", minutes(2), 2.0),
        ("a", minutes(30), 3.0), ("b", minutes(5), 5.0))
      .toDF("k", "et", "v").coalesce(1).write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    val stream = Streaming.readStream(spark, "parquet", Some(s"$src/*"),
        schema = Some(schema),
        options = Map("maxFilesPerTrigger" -> "1"))
    val sessions = Streaming.sessionize(stream, "k", "et", "v",
      gapMillis = 10 * 60000L, watermark = "0 seconds")
    def drain(): Unit = {
      // file sink + checkpoint: the SAME logical query resumes across
      // restarts, carrying its open-session state store forward
      val q = sessions.writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    // intra-batch gap closed a's first session (1-2 min burst); the
    // watermark (max et = 30 min) already passed b's last+gap, so b's
    // session closed via event-time timeout in the same run
    val afterB1 = spark.read.parquet(s"$tmp/out")
      .as[graft.streaming.Session].collect().sortBy(_.key)
    assert(afterB1.toSeq === Seq(
      graft.streaming.Session("a", 60000L, 120000L, 2, 3.0),
      graft.streaming.Session("b", 300000L, 300000L, 1, 5.0)))

    // batch 2 advances the watermark far past last+gap → the trailing
    // sessions time out and close; a new session for b opens and closes
    Seq(("b", minutes(90), 7.0), ("b", minutes(91), 9.0),
        ("c", minutes(120), 1.0))
      .toDF("k", "et", "v").coalesce(1).write.parquet(s"$src/b2")
    drain()
    val all = spark.read.parquet(s"$tmp/out")
      .as[graft.streaming.Session].collect()
      .sortBy(s => (s.key, s.sessionStart))
    // watermark reached 120 min: a's trailing 30-min burst and b's
    // 90-91 min burst closed via event-time timeout; c (at exactly the
    // watermark) stays open in state
    assert(all.contains(graft.streaming.Session("a", 1800000L, 1800000L, 1, 3.0)))
    assert(all.contains(graft.streaming.Session("b", 5400000L, 5460000L, 2, 16.0)))
    assert(!all.exists(_.key == "c"))
  }

  test("sessionization under the RocksDB state store matches the default provider") {
    import graft.streaming.Streaming
    val tmp = Files.createTempDirectory("graft_rocks").toString
    val src = s"$tmp/src"; new java.io.File(src).mkdirs()
    def minutes(m: Long) = new java.sql.Timestamp(m * 60000L)
    Seq(("a", minutes(1), 1.0), ("a", minutes(2), 2.0),
        ("a", minutes(30), 3.0), ("b", minutes(5), 5.0), ("b", minutes(6), 7.0))
      .toDF("k", "et", "v").coalesce(1).write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    def run(tag: String): Seq[graft.streaming.Session] = {
      val stream = Streaming.readStream(spark, "parquet", Some(s"$src/*"),
        schema = Some(schema))
      val sessions = Streaming.sessionizeNative(stream, "k", "et", "v",
        gapMillis = 10 * 60000L, watermark = "0 seconds")
      val q = sessions.writeStream.format("parquet")
        .option("path", s"$tmp/out_$tag").outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt_$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
      spark.read.parquet(s"$tmp/out_$tag")
        .as[graft.streaming.Session].collect().sortBy(s => (s.key, s.sessionStart)).toSeq
    }
    val default = run("default")
    Streaming.useRocksDbStateStore(spark)
    try {
      // the provider must actually be RocksDB for this run, not a no-op
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
      val rocks = run("rocks")
      assert(rocks === default, "state-store provider must not change results")
    } finally Streaming.useDefaultStateStore(spark)
  }

  test("sessionization: native session_window path matches the custom-state path") {
    import graft.streaming.Streaming
    val tmp = Files.createTempDirectory("graft_sessn").toString
    val src = s"$tmp/src"; new java.io.File(src).mkdirs()
    def minutes(m: Long) = new java.sql.Timestamp(m * 60000L)
    Seq(("a", minutes(1), 1.0), ("a", minutes(2), 2.0),
        ("a", minutes(30), 3.0), ("b", minutes(5), 5.0))
      .toDF("k", "et", "v").coalesce(1).write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    val stream = Streaming.readStream(spark, "parquet", Some(s"$src/*"),
        schema = Some(schema),
        options = Map("maxFilesPerTrigger" -> "1"))
    val sessions = Streaming.sessionizeNative(stream, "k", "et", "v",
      gapMillis = 10 * 60000L, watermark = "0 seconds")
    def drain(): Unit = {
      val q = sessions.writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    drain()
    // identical emissions to the custom-state path on batch 1
    val afterB1 = spark.read.parquet(s"$tmp/out")
      .as[graft.streaming.Session].collect().sortBy(_.key)
    assert(afterB1.toSeq === Seq(
      graft.streaming.Session("a", 60000L, 120000L, 2, 3.0),
      graft.streaming.Session("b", 300000L, 300000L, 1, 5.0)))

    Seq(("b", minutes(90), 7.0), ("b", minutes(91), 9.0),
        ("c", minutes(120), 1.0))
      .toDF("k", "et", "v").coalesce(1).write.parquet(s"$src/b2")
    drain()
    val all = spark.read.parquet(s"$tmp/out")
      .as[graft.streaming.Session].collect()
      .sortBy(s => (s.key, s.sessionStart))
    assert(all.contains(graft.streaming.Session("a", 1800000L, 1800000L, 1, 3.0)))
    assert(all.contains(graft.streaming.Session("b", 5400000L, 5460000L, 2, 16.0)))
    assert(!all.exists(_.key == "c"))
  }

  test("serving: on-demand transformation consumes request parameters") {
    import graft.ops.Transformations._
    val onDemand = Transformation("od", OnDemand,
      inputs = Seq("c_acctbal", "request_rate"), drop = Seq("request_rate"),
      fn = (cols, _) => Seq((cols(0) * cols(1)).as("scaled_balance")))
    val view = graft.view.FeatureView("odv", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_acctbal")),
      transformations = Seq(onDemand))
    val server = new graft.serving.FeatureVectorServer(spark, view)
    val keys = spark.range(3).selectExpr("id AS c_custkey")
    val out = server.getFeatureVectors(keys,
      requestParameters = Map("request_rate" -> 2.0))
    assert(out.columns.contains("scaled_balance") &&
      !out.columns.contains("request_rate"))
    val row = out.filter($"c_custkey" === 0).collect().head
    assert(row.getAs[Double]("scaled_balance") ===
      row.getAs[Double]("c_acctbal") * 2.0)
  }

  test("pit training frame folds multiple event-time branches") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val clicks = ev.filter($"event_type" === "click")
      .select("event_id", "user_id", "ts")
    val eventsFg = fg("events").copy(primaryKey = Seq("user_id"))
    def branch(t: String, p: String) = JoinSpec(
      Query.selectAll(eventsFg).where(graft.ir.FilterLeaf(
        FeatureRef("event_type"), FilterCondition.Eq, t)),
      leftOn = Seq("user_id"), rightOn = Seq("user_id"), prefix = Some(p))
    val view = graft.view.FeatureView("pit2", 1,
      Query(eventsFg, joins = Seq(branch("view", "v_"), branch("error", "e_"))))
    val out = view.pitTrainingFrame(spark, clicks)
    assert(out.count() === clicks.count())
    assert(out.columns.contains("v_value") && out.columns.contains("e_value"))
    assert(out.filter($"v_ts".isNotNull && $"v_ts" > $"ts").count() === 0)
    assert(out.filter($"e_ts".isNotNull && $"e_ts" > $"ts").count() === 0)
  }

  test("serving: cached snapshots give identical repeated lookups") {
    val view = graft.view.FeatureView("cachev", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_name")))
    val server = new graft.serving.FeatureVectorServer(spark, view)
    val keys = spark.range(5).selectExpr("id AS c_custkey")
    val first = server.getFeatureVectors(keys).collect().toSet
    val second = server.getFeatureVectors(keys).collect().toSet
    assert(first === second && first.size === 5)
    server.close()
  }

  test("serving: lookups broadcast the key side, never shuffle the snapshot") {
    val view = graft.view.FeatureView("planv", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_name"))
        .join(Query.select(fg("nation"), Seq("n_name")),
          leftOn = Seq("c_nationkey"), rightOn = Seq("n_nationkey"),
          prefix = Some("nat_")))
    for (cache <- Seq(true, false)) {
      val server = new graft.serving.FeatureVectorServer(spark, view,
        cacheSnapshots = cache)
      val keys = spark.range(5).selectExpr("id AS c_custkey")
      val out = server.getFeatureVectors(keys)
      assert(out.count() === 5, s"cache=$cache")
      // an outer join cannot broadcast its preserved side — the fixed
      // shape (semi-prune + broadcast the hit set) must plan every join
      // as a broadcast hash join with no snapshot shuffle
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"cache=$cache\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"cache=$cache\n$plan")
      server.close()
    }
  }

  test("serving: default path semi-prunes BELOW the latest-per-key window; materializeOnline is the named opt-in") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val eventsFg = fg("events").copy(primaryKey = Seq("user_id"))
    val view = graft.view.FeatureView("prunev", 1,
      Query.select(eventsFg, Seq("user_id", "value")))
    val keys = spark.range(5).selectExpr("id AS user_id")

    // default (uncached): the key semi-join must sit INSIDE the window's
    // subtree — a 10-key lookup never windows the full table
    val server = new graft.serving.FeatureVectorServer(spark, view)
    val out = server.getFeatureVectors(keys)
    val windows = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    assert(windows.forall(w =>
      w.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty),
      out.queryExecution.optimizedPlan.toString)
    assert(out.count() === 5)

    // materializeOnline: full-window cost paid once, by explicit request;
    // results identical to the pruned path
    val mat = new graft.serving.FeatureVectorServer(spark, view)
      .materializeOnline()
    val cachedOut = mat.getFeatureVectors(keys)
    val cachedWindows =
      cachedOut.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    // the cached plan reads the materialized relation — no window with an
    // embedded key join remains in the lookup plan
    assert(cachedWindows.forall(w =>
      w.collect { case j: Join if j.joinType == LeftSemi => j }.isEmpty))
    assert(cachedOut.collect().toSet === out.collect().toSet)
    mat.close()
  }

  test("serving: single-vector lookup merges groups and applies prefix") {
    val view = graft.view.FeatureView("cv", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_name"))
        .join(Query.select(fg("nation"), Seq("n_name")),
          leftOn = Seq("c_nationkey"), rightOn = Seq("n_nationkey"),
          prefix = Some("nat_")))
    val server = new graft.serving.FeatureVectorServer(spark, view)
    val row = server.getFeatureVector(Map("c_custkey" -> 7)).collect()
    assert(row.length === 1)
    assert(row.head.getAs[String]("nat_n_name") != null)
  }

  test("serving: serving keys mark the left PK required, joined keys derived") {
    val view = graft.view.FeatureView("sk", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_name"))
        .join(Query.select(fg("nation"), Seq("n_name")),
          leftOn = Seq("c_nationkey"), rightOn = Seq("n_nationkey"),
          prefix = Some("nat_")))
    val keys = new graft.serving.FeatureVectorServer(spark, view).servingKeys
    val required = keys.filter(_.required)
    assert(required.map(_.featureName) === Seq("c_custkey"))
    assert(required.head.featureGroup === "customer")
    val derived = keys.filterNot(_.required)
    assert(derived.map(k =>
      (k.featureName, k.featureGroup, k.prefix, k.joinIndex, k.joinOn)) ===
      Seq(("n_nationkey", "nation", "nat_", 1, Seq("c_nationkey"))))
  }

  test("serving: the online index answers exactly what the default path answers") {
    val single = FeatureView("eq1", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_name", "c_acctbal")))
    // a prefixed PK join, then a fan-out join on a right key that is not
    // the right group's primary key (one output row per matching order)
    val multi = FeatureView("eq2", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_name", "c_acctbal"))
        .join(Query.select(fg("nation"), Seq("n_name")),
          leftOn = Seq("c_nationkey"), rightOn = Seq("n_nationkey"),
          prefix = Some("nat_"))
        .join(Query.select(fg("orders"), Seq("o_orderkey", "o_totalprice")),
          leftOn = Seq("c_custkey"), rightOn = Seq("o_custkey"),
          prefix = Some("ord_")))
    val onDemand = FeatureView("eq3", 1, single.query,
      transformations = Seq(Transformations.Transformation("od",
        Transformations.OnDemand, inputs = Seq("c_acctbal", "rate"),
        drop = Seq("rate"),
        fn = (cols, _) => Seq((cols(0) * cols(1)).as("scaled")))))
    // lake groups: a left group with an update and a delete (key 2) over
    // its load, and a right group with an update
    val store = new graft.catalog.FeatureStore(spark,
      warehouseDir = Files.createTempDirectory("graft_lake_eq").toString)
    val customers = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val lakeCustomer = store.createFeatureGroup("eq_customer", customers,
      primaryKey = Seq("c_custkey"))
    store.insert(lakeCustomer, customers.filter($"c_custkey".isin(1L, 7L, 8L))
      .withColumn("c_name", concat($"c_name", lit("-v2"))))
    store.delete(lakeCustomer, Seq(Tuple1(2L)).toDF("c_custkey"))
    val nations = spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_nationkey", "n_name")
    val lakeNation = store.createFeatureGroup("eq_nation", nations,
      primaryKey = Seq("n_nationkey"))
    store.insert(lakeNation, nations.limit(5).withColumn("n_name", lower($"n_name")))
    val lake = FeatureView("eq4", 1,
      Query.select(lakeCustomer, Seq("c_custkey", "c_name", "c_acctbal"))
        .join(Query.select(lakeNation, Seq("n_name")),
          leftOn = Seq("c_nationkey"), rightOn = Seq("n_nationkey"),
          prefix = Some("nat_")))
    // (name, keys, whether they widen losslessly to the bigint key)
    val keySets: Seq[(String, DataFrame, Boolean)] = Seq(
      ("hits and misses", Seq(1L, 2L, 7L, 0L, 999999L).toDF("c_custkey"), true),
      ("null key", Seq(Some(3L), None).toDF("c_custkey"), true),
      ("duplicate keys", Seq(5L, 5L, 6L).toDF("c_custkey"), true),
      ("extra columns, one shadowing a feature",
        Seq(("r1", 4L, "shadow"), ("r2", 8L, "x"), ("r3", 0L, "y"))
          .toDF("req_id", "c_custkey", "c_name"), true),
      ("int keys probe a bigint key", Seq(1, 2, 999).toDF("c_custkey"), true),
      // bigint keys compare as double here: 1.5 must not find key 1
      ("double keys", Seq(1.0, 1.5, 2.0).toDF("c_custkey"), false))
    val rate = Map[String, Any]("rate" -> 2.0)
    for ((view, paramSets) <- Seq(single -> Seq(Map.empty[String, Any], rate),
                                  multi -> Seq(rate), onDemand -> Seq(rate),
                                  lake -> Seq(rate))) {
      val default = new FeatureVectorServer(spark, view)
      val online = new FeatureVectorServer(spark, view).materializeOnline()
      val lazyOnline = new FeatureVectorServer(spark, view, cacheSnapshots = true)
      for ((name, local, widens) <- keySets; params <- paramSets;
           (keys, isLocal) <- Seq(local -> true, local.repartition(2) -> false)) {
        val clue = s"${view.name} / $name / $params / local keys=$isLocal"
        val want = default.getFeatureVectors(keys, params)
        val got = online.getFeatureVectors(keys, params)
        assertSame(got, want, clue)
        // keys that widen to the key type are assembled on the driver,
        // others by the default path's joins; without the online state,
        // only driver-local keys are
        assert(got.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] ===
          widens, clue)
        assert(want.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] ===
          (widens && isLocal), clue)
        if ((view eq multi) || (view eq lake))
          assertSame(lazyOnline.getFeatureVectors(keys, params), want, clue)
      }
      if (!(view eq onDemand))
        for (k <- Seq[Any](7, 7L, 999999L, null, 1.5)) {
          val want = default.getFeatureVector(Map("c_custkey" -> k))
          assertSame(online.getFeatureVector(Map("c_custkey" -> k)), want,
            s"${view.name} / key $k")
          // a double is compared as a double: 1.5 must not find key 1
          if (k == 1.5) assert(want.collect().map(_.getAs[String]("c_name")).toSeq ===
            Seq(null), s"${view.name} / key $k")
        }
      online.close(); lazyOnline.close()
    }
  }

  test("serving: materialized lookups on driver-local keys start no Spark job") {
    val view = customerNation("zj")
    val server = new FeatureVectorServer(spark, view).materializeOnline()
    val (one, oneJobs, _) =
      counted(server.getFeatureVector(Map("c_custkey" -> 7)).collect())
    assert(oneJobs === 0)
    assert(one.length === 1 && one.head.getAs[String]("nat_n_name") != null)
    val keys = (1L to 100L).map(Tuple1(_)).toDF("c_custkey")
    val (batch, batchJobs, _) = counted(server.getFeatureVectors(keys).collect())
    assert(batchJobs === 0)
    assert(batch.length === 100)
    // the listener does see the jobs of a lookup that runs them
    val (_, defaultJobs, _) = counted(new FeatureVectorServer(spark, view)
      .getFeatureVector(Map("c_custkey" -> 7)).collect())
    assert(defaultJobs > 0)
    server.close()
  }

  test("serving: concurrent lookups on both online modes; the lazy build runs once per lookup") {
    val view = customerNation("conc")
    val all = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey").as[Long].collect().sorted
    val expected = new FeatureVectorServer(spark, view)
      .getFeatureVectors(all.toSeq.toDF("c_custkey")).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r).toMap
    val keySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_custkey",
        org.apache.spark.sql.types.LongType)))
    def hammer(server: FeatureVectorServer): Seq[String] = {
      val errors = new ConcurrentLinkedQueue[String]
      val start = new CountDownLatch(1)
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          val rng = new scala.util.Random(t)
          start.await()
          try (0 until 30).foreach { i =>
            val keys =
              if (i % 5 == 4) Seq.fill(10)(all(rng.nextInt(all.length)))
              else Seq(all(rng.nextInt(all.length)))
            val got =
              if (keys.size == 1) server.getFeatureVector(Map("c_custkey" -> keys.head)).collect()
              else server.getFeatureVectors(spark.createDataFrame(
                keys.map(Row(_)).asJava, keySchema)).collect()
            if (got.map(_.getAs[Long]("c_custkey")).sorted.toSeq != keys.sorted)
              errors.add(s"keys $keys answered ${got.toSeq}")
            got.foreach { r =>
              if (r != expected(r.getAs[Long]("c_custkey")))
                errors.add(s"$r != ${expected(r.getAs[Long]("c_custkey"))}")
            }
          } catch { case e: Throwable => errors.add(e.toString) }
        })
      }
      threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
      errors.asScala.toSeq
    }
    val materialized = new FeatureVectorServer(spark, view).materializeOnline()
    assert(hammer(materialized).isEmpty)
    materialized.close()
    val lazyServer = new FeatureVectorServer(spark, view, cacheSnapshots = true)
    val (errors, _, executions) = counted(hammer(lazyServer))
    assert(errors.isEmpty, errors.take(3))
    // two lookups (customer, then nation), each built once by one thread
    assert(executions.getOrElse("buildIndex", 0) === 2, executions)
    lazyServer.close()
  }

  test("serving: an over-size group fails materializeOnline with Spark's error and leaves no index") {
    val small = dfGroup("mr_small",
      (1L to 10L).map(k => (k, k * 3)).toDF("k", "bid"), Seq("k"))
    val big = dfGroup("mr_big", spark.range(0, 60000)
      .selectExpr("id AS bid", "sha2(CAST(id AS STRING), 256) AS payload"),
      Seq("bid"))
    val view = FeatureView("mr", 1, Query.selectAll(small)
      .join(Query.select(big, Seq("payload")), leftOn = Seq("bid"),
        rightOn = Seq("bid")))
    val server = new FeatureVectorServer(spark, view)
    // the small left group's index builds first; the big one is refused
    val err = org.apache.spark.GraftTestConf.withConf(spark.sparkContext,
      "spark.driver.maxResultSize", "1m")(intercept[Exception](server.materializeOnline()))
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(messages.contains("spark.driver.maxResultSize"), messages)
    // no partial online state: lookups still take the default path
    val (got, jobs, _) = counted(server.getFeatureVector(Map("k" -> 2L)).collect())
    assert(jobs > 0)
    assert(got.length === 1 && got.head.getAs[Long]("bid") === 6L &&
      got.head.getAs[String]("payload") != null)
    // within the limit the same server materializes and serves from the index
    server.materializeOnline()
    val (again, onlineJobs, _) = counted(server.getFeatureVector(Map("k" -> 2L)).collect())
    assert(onlineJobs === 0 && again.toSeq === got.toSeq)
    server.close()
  }

  test("serving: getFeatureVector casts key values to the group's key types") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-02 03:04:05")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 03:04:06")
    val byTime = dfGroup("ts_pk", Seq((t0, "a"), (t1, "b")).toDF("ts", "v"), Seq("ts"))
    val byFloat = dfGroup("f_pk", Seq((1.5f, "x"), (2.5f, "y")).toDF("f", "v"), Seq("f"))
    val byDate = dfGroup("d_pk", Seq((java.sql.Date.valueOf("2024-01-02"), "d"))
      .toDF("d", "v"), Seq("d"))
    for (online <- Seq(false, true)) {
      def server(g: FeatureGroup) = {
        val s = new FeatureVectorServer(spark, FeatureView(g.name, 1, Query.selectAll(g)))
        if (online) s.materializeOnline() else s
      }
      def v(rows: Array[Row]) = rows.toSeq.map(_.getAs[String]("v"))
      assert(v(server(byTime).getFeatureVector(Map("ts" -> t1)).collect()) === Seq("b"))
      assert(v(server(byFloat).getFeatureVector(Map("f" -> 2.5f)).collect()) === Seq("y"))
      // a Short widens to the float key
      assert(v(server(byFloat).getFeatureVector(Map("f" -> 3.toShort)).collect()) ===
        Seq(null))
      // a timestamp does not narrow to a date key: it compares as a
      // timestamp, so only midnight finds the day
      assert(v(server(byDate).getFeatureVector(Map("d" -> t0)).collect()) === Seq(null))
      assert(v(server(byDate).getFeatureVector(
        Map("d" -> java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))).collect()) === Seq("d"))
    }
  }

  test("serving: driver-local keys that do not widen start no keyed read before the default joins") {
    val store = new graft.catalog.FeatureStore(spark,
      warehouseDir = Files.createTempDirectory("graft_lake_widen").toString)
    val g = store.createFeatureGroup("widen",
      Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "rk", "v"), primaryKey = Seq("id"))
    val r = store.createFeatureGroup("widen_r",
      Seq((10L, "x"), (20L, "y")).toDF("rid", "w"), primaryKey = Seq("rid"))
    val single = new FeatureVectorServer(spark, FeatureView("widen", 1, Query.selectAll(g)))
    // a double does not widen to the bigint key: the lookup is the default
    // joins' lazy plan, and building it reads nothing
    for ((k, want) <- Seq(1.5 -> null, 1.0 -> "a")) {
      val (vector, jobs, _) = counted(single.getFeatureVector(Map("id" -> k)))
      assert(jobs === 0, s"key $k")
      assert(vector.collect().map(_.getAs[String]("v")).toSeq === Seq(want), s"key $k")
    }
    // the left key widens, but the join's double left key does not widen
    // to its bigint right key
    val joined = new FeatureVectorServer(spark, FeatureView("widen2", 1,
      Query.selectAll(g).join(Query.select(r, Seq("w")), leftOn = Seq("rk"),
        rightOn = Seq("rid"))))
    val (vector, jobs, executions) = counted(joined.getFeatureVector(Map("id" -> 2L)))
    // only the default joins' own read runs: the left group's keyed read,
    // once; no index is built
    assert(jobs === 1 && executions.get("buildIndex").isEmpty &&
      executions.get("keyedRead").contains(1), executions)
    assert(vector.collect().map(_.getAs[String]("w")).toSeq === Seq("y"))
  }

  test("serving: a lake group's default lookup prunes below the lake's window, inside the Parquet scan") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val store = new graft.catalog.FeatureStore(spark,
      warehouseDir = Files.createTempDirectory("graft_lake_serving").toString)
    val g = store.createFeatureGroup("lakeserve",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), primaryKey = Seq("id"))
    store.insert(g, Seq((3L, "c2"), (4L, "d")).toDF("id", "v"))
    val server = new FeatureVectorServer(spark, FeatureView("lakeserve", 1, Query.selectAll(g)))
    def windows(d: DataFrame) = {
      val ws = d.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(ws.nonEmpty, d.queryExecution.optimizedPlan.toString)
      ws
    }

    // driver-local key: the keyed read is one Spark job, a Parquet scan
    // with the key pushed into it and no shuffle; the versions resolve on
    // the driver, so collecting the vector runs no job
    val (one, lookupJobs, executions) = observed(server.getFeatureVector(Map("id" -> 3L)))
    assert(lookupJobs === 1, executions.map(_._1))
    val keyed = executions.collect { case ("keyedRead", qe) =>
      qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    }
    assert(keyed.size === 1, executions.map(_._1))
    val scans = keyed.head.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(s =>
      s.metadata("PushedFilters").contains("In(id, [3])")), keyed.head.toString)
    assert(keyed.head.collect { case e: Exchange => e }.isEmpty, keyed.head.toString)
    val (rows, collectJobs, _) = counted(one.collect())
    assert(collectJobs === 0)
    assert(rows.map(_.getAs[String]("v")).toSeq === Seq("c2"))

    // other key frames: a left-semi join inside the window's subtree
    val range = server.getFeatureVectors(spark.range(2, 6).toDF("id"))
    assert(range.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap ===
      Map(2L -> "b", 3L -> "c2", 4L -> "d", 5L -> null))
    assert(windows(range).forall(_.exists {
      case j: Join => j.joinType == LeftSemi
      case _ => false
    }), range.queryExecution.optimizedPlan.toString)
  }
}
