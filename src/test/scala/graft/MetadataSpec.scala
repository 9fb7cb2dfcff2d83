package graft

import graft.ops.{Monitoring, Validation}

/** Persisted metadata engines: expectation suites (validated on insert)
  * and monitoring configs (scheduled window comparisons).
  */
class MetadataSpec extends SparkSpec {
  import spark.implicits._

  test("expectation suite persists, gates inserts, honors policy") {
    val wh = tempDir("graft_suites").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val fg = fs.createFeatureGroup("gated",
      Seq((1L, 50.0), (2L, 70.0)).toDF("id", "x"), primaryKey = Seq("id"))

    fs.saveExpectationSuite(fg, Validation.SuiteDef("basic", Seq(
      Validation.NotNullSpec("id"),
      Validation.BetweenSpec("x", 0.0, 100.0))))

    // suite survives a store restart
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val back = fs2.getExpectationSuite(fg)
    assert(back.map(_.name) === Some("basic"))
    assert(back.get.specs.size === 2)
    assert(back.get.policy === Validation.Policy.Strict)

    // STRICT: failing batch rejected, no commit written
    val commitsBefore = graft.sources.Lake.listCommits(spark,
      fg.source.asInstanceOf[graft.model.LakeSource].root).size
    val e = intercept[IllegalStateException] {
      fs2.insert(fg, Seq((3L, 500.0)).toDF("id", "x"))
    }
    assert(e.getMessage.contains("between(x"))
    assert(graft.sources.Lake.listCommits(spark,
      fg.source.asInstanceOf[graft.model.LakeSource].root).size
      === commitsBefore)
    // passing batch lands
    fs2.insert(fg, Seq((3L, 30.0)).toDF("id", "x"))
    assert(fs2.read(graft.ir.Query.selectAll(fg)).count() === 3)

    // ALWAYS: failing batch validated but admitted
    fs2.saveExpectationSuite(fg, Validation.SuiteDef("basic", Seq(
      Validation.BetweenSpec("x", 0.0, 100.0)),
      policy = Validation.Policy.Always))
    fs2.insert(fg, Seq((4L, 500.0)).toDF("id", "x"))
    assert(fs2.read(graft.ir.Query.selectAll(fg)).count() === 4)

    fs2.deleteExpectationSuite(fg)
    assert(fs2.getExpectationSuite(fg).isEmpty)
  }

  test("feature view persists its full query IR and rebinds transformations") {
    import graft.ir._
    import graft.ops.Transformations
    val wh = tempDir("graft_views").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    def fg(t: String) = graft.catalog.TestTables.fg(spark, sfDir, t)

    val mm = Transformations.Transformation("bal_mm",
      Transformations.ModelDependent, Seq("c_acctbal"),
      drop = Seq("c_acctbal"),
      fn = (cols, st) => Seq(Transformations
        .minMaxScaler(cols.head, st("c_acctbal")).as("bal_mm")))
    val view = graft.view.FeatureView("persistview", 2,
      Query.select(fg("customer"), Seq("c_custkey", "c_acctbal"))
        .join(Query.select(fg("nation"), Seq("n_name")),
          leftOn = Seq("c_nationkey"), rightOn = Seq("n_nationkey"),
          joinType = JoinType.Inner, prefix = Some("nat_"))
        .where(FilterLeaf(FeatureRef("c_acctbal"), FilterCondition.Gt, 1000.0)
          && FilterLeaf(FeatureRef("c_mktsegment"), FilterCondition.In,
            Seq("BUILDING", "AUTOMOBILE"))),
      labels = Seq("bal_mm"),
      transformations = Seq(mm))
    fs.saveFeatureView(view)

    // a fresh store over the same warehouse reloads the view; lambdas
    // rebind from the registry by name
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val back = fs2.getFeatureView("persistview", 2,
      transformationRegistry = Map("bal_mm" -> mm))
    assert(back.name === "persistview" && back.version === 2)
    assert(back.labels === Seq("bal_mm"))
    assert(back.transformations.map(_.name) === Seq("bal_mm"))
    assert(back.query.joins.head.prefix === Some("nat_"))

    // semantic equality: the reloaded IR plans to the same rows
    val a = view.batchQuery(spark).orderBy("c_custkey").collect().toSeq
    val b = back.batchQuery(spark).orderBy("c_custkey").collect().toSeq
    assert(a === b && a.nonEmpty)

    // missing registry entry fails with a clear message
    val e = intercept[IllegalArgumentException] {
      fs2.getFeatureView("persistview", 2)
    }
    assert(e.getMessage.contains("bal_mm"))

    // spine-backed queries refuse to persist
    val spineFg = graft.model.FeatureGroup.spine("sp",
      Seq((1L, 2.0)).toDF("id", "x"), primaryKey = Seq("id"))
    intercept[IllegalArgumentException] {
      fs2.saveFeatureView(graft.view.FeatureView("bad", 1,
        Query.selectAll(spineFg)))
    }

    fs2.deleteFeatureView("persistview", 2)
    intercept[NoSuchElementException] {
      fs2.getFeatureView("persistview", 2,
        transformationRegistry = Map("bal_mm" -> mm))
    }
  }

  test("training statistics persist and serve with the training distribution") {
    import graft.ir.Query
    import graft.ops.Transformations
    val wh = tempDir("graft_stats").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    def fg(t: String) = graft.catalog.TestTables.fg(spark, sfDir, t)

    val mm = Transformations.Transformation("bal_mm",
      Transformations.ModelDependent, Seq("c_acctbal"),
      drop = Seq("c_acctbal"),
      fn = (cols, st) => Seq(Transformations
        .minMaxScaler(cols.head, st("c_acctbal")).as("bal_mm")))
    val view = graft.view.FeatureView("servestats", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_acctbal")),
      transformations = Seq(mm))

    // training run fits stats once on the train split
    val res = graft.view.TrainingDataset.build(spark, view,
      view.batchQuery(spark),
      randomWeights = Map("train" -> 0.8, "test" -> 0.2))
    val fitted = res.transformationStatistics
    assert(fitted.contains("c_acctbal"))
    fs.saveTrainingStatistics("servestats", 1, fitted)

    // a NEW store (fresh session analog) reloads and serves with them
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val loaded = fs2.getTrainingStatistics("servestats").get
    assert(loaded("c_acctbal").min === fitted("c_acctbal").min)
    assert(loaded("c_acctbal").max === fitted("c_acctbal").max)

    val server = new graft.serving.FeatureVectorServer(spark, view, loaded)
    val keys = spark.range(3, 6).selectExpr("id AS c_custkey")
    val out = server.getFeatureVectors(keys).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("bal_mm"))).toMap
    // served value = (raw - trainMin) / (trainMax - trainMin), exactly
    val raw = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter($"c_custkey".between(3, 5))
      .select($"c_custkey", $"c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s = loaded("c_acctbal")
    raw.foreach { case (k, v) =>
      assert(out(k) === (v - s.min) / (s.max - s.min), s"key $k")
    }
  }

  test("distinct sketches merge to the window union; estimate tracks exact") {
    import graft.ops.Monitoring
    // 3 windows x overlapping user sets; union across windows must count
    // each user once, and per-window estimates must be near-exact at this
    // cardinality
    val rows = (0 until 300).map { i =>
      (i.toLong * 10L, s"user_${i % 100}") // windows of 1000 units -> 3 windows
    }
    val df = rows.toDF("t", "uid")
    val sk = Monitoring.distinctSketches(df, "t", "uid", 1000L)
    assert(sk.count() === 3)
    val all = Monitoring.estimateDistinct(sk, 0L, 2L)
    val first = Monitoring.estimateDistinct(sk, 0L, 0L)
    // exact: 100 distinct users overall; first window holds users 0..99 too
    assert(math.abs(all - 100L) <= 3, s"union estimate $all")
    assert(math.abs(first - 100L) <= 3, s"single-window estimate $first")
    // a quiet range reports zero distinct, not a crash on the null union
    assert(Monitoring.estimateDistinct(sk, 50L, 60L) === 0L)
  }

  test("monitoring engine: config CRUD, due-schedule, one-pass run, results") {
    import Monitoring._
    val wh = tempDir("graft_mon").toString
    val eng = new MonitoringEngine(spark, wh)
    val hour = 3600L * 1000

    val cfg = MonitoringConfig(
      name = "value_drift",
      featureGroup = "events", version = 1,
      feature = "value", eventTimeCol = "ts",
      detection = WindowSpec(sizeMillis = Some(24 * hour)),
      reference = Some(WindowSpec(sizeMillis = Some(24 * hour),
        offsetMillis = 24 * hour)),
      comparison = ComparisonSpec("mean", threshold = 0.05, relative = true),
      schedule = ScheduleSpec(everyMillis = 24 * hour))
    eng.saveConfig(cfg)

    // round-trips through JSON
    val back = eng.getConfig("value_drift").get
    assert(back === cfg)
    assert(eng.listConfigs() === Seq(cfg))

    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    // a "now" inside the synthetic data's range so both windows have rows
    val now = graft.functions.TimeFunctions.toEpochMillis("2024-01-20")

    // due before any run; runDue executes + appends a result
    assert(eng.due(now).map(_.name) === Seq("value_drift"))
    val fired = eng.runDue(now, _ => ev)
    assert(fired.size === 1)
    val r = fired.head
    assert(!r.detectionValue.isNaN && !r.referenceValue.isNaN)
    assert(r.shiftDetected ===
      (math.abs(r.difference) >= 0.05))

    // deterministic: the same run via Monitoring.run gives the same values
    val again = Monitoring.run(spark, ev, cfg, now)
    assert(again.detectionValue === r.detectionValue)
    assert(again.referenceValue === r.referenceValue)

    // not due again until a full period elapsed; due at now + period
    assert(eng.due(now + hour).isEmpty)
    assert(eng.due(now + 25 * hour).map(_.name) === Seq("value_drift"))

    // result log persisted and queryable
    assert(eng.results().filter($"configName" === "value_drift").count() === 1)

    // disabled configs never fire
    eng.saveConfig(cfg.copy(enabled = false))
    assert(eng.due(now + 25 * hour).isEmpty)

    eng.deleteConfig("value_drift")
    assert(eng.listConfigs().isEmpty)
  }

  test("external feature groups are first-class and survive restarts") {
    import graft.model._
    import graft.sources.Connectors
    val wh = tempDir("graft_ext").toString
    val csvDir = s"$wh/nation_csv"
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.option("header", "true").csv(csvDir)

    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val ext = fs.createExternalFeatureGroup("nation_ext",
      Connectors.Generic("csv",
        Map("header" -> "true", "inferSchema" -> "true")),
      primaryKey = Seq("n_nationkey"), path = Some(csvDir))
    assert(ext.featureNames === Seq("n_nationkey", "n_name", "n_regionkey"))

    // a NEW session over the same warehouse resolves and plans the group
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val reloaded = fs2.getFeatureGroup("nation_ext")
    assert(reloaded.source.isInstanceOf[ConnectorSource])
    val out = fs2.read(
      graft.ir.Query.select(reloaded, Seq("n_nationkey", "n_name")))
    assert(out.count() === 25)
    // and raw SQL over the restarted catalog sees it as a view
    assert(fs2.sql("SELECT count(*) AS n FROM nation_ext_1")
      .collect().head.getLong(0) === 25)

    // pushdown contract round-trips: a JDBC group with a `query` option
    // (declared schema — endpoint need not be reachable to register)
    fs.register(FeatureGroup("orders_ext", version = 1,
      features = Seq(Feature("o_orderkey", org.apache.spark.sql.types.LongType,
        primary = true)),
      primaryKey = Seq("o_orderkey"),
      source = Connectors.source(Connectors.Jdbc(
        "jdbc:mysql://db:3306/sales", "u", "p",
        query = Some("SELECT o_orderkey FROM orders WHERE o_total > 100")))))
    val jdbcBack = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
      .getFeatureGroup("orders_ext")
    val src = jdbcBack.source.asInstanceOf[ConnectorSource]
    assert(src.format === "jdbc")
    assert(src.options("query") ===
      "SELECT o_orderkey FROM orders WHERE o_total > 100")

    // a group whose source is gone must not block SQL over healthy groups,
    // but the failure must surface as the root cause when targeted
    fs2.register(FeatureGroup("gone", version = 1,
      source = ParquetSource(s"$wh/missing.parquet")))
    assert(fs2.sql("SELECT count(*) AS n FROM nation_ext_1")
      .collect().head.getLong(0) === 25)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      fs2.sql("SELECT * FROM gone_1")
    }
    assert(e.getMessage.contains("gone_1") &&
      e.getMessage.contains("failed to materialize"))
  }

  test("tags/keywords persist and search; provenance derives from query IR") {
    val wh = tempDir("graft_tags").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val cust = fs.createFeatureGroup("cust",
      Seq((1L, "a"), (2L, "b")).toDF("id", "seg"), primaryKey = Seq("id"))
    val txn = fs.createFeatureGroup("txn",
      Seq((1L, 10.0)).toDF("id", "amount"), primaryKey = Seq("id"))

    fs.addTag(cust, "owner", "risk-team")
    fs.addTag(cust, "pii", "true")
    fs.addKeywords(cust, Seq("customer", "segmentation"))
    fs.addTag(txn, "owner", "payments")

    // persists across restart
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    assert(fs2.getTags(cust) ===
      Map("owner" -> "risk-team", "pii" -> "true"))
    assert(fs2.getKeywords(cust) === Seq("customer", "segmentation"))
    assert(fs2.findGroupsByTag("owner").map(_.name).sorted ===
      Seq("cust", "txn"))
    assert(fs2.findGroupsByTag("owner", Some("payments")).map(_.name) ===
      Seq("txn"))
    assert(fs2.findGroupsByKeyword("segmentation").map(_.name) === Seq("cust"))
    fs2.deleteTag(cust, "pii")
    assert(fs2.getTags(cust) === Map("owner" -> "risk-team"))

    // provenance: view IR → upstream links with per-group features
    val view = graft.view.FeatureView("custview", 1,
      graft.ir.Query.select(cust, Seq("id", "seg"))
        .join(graft.ir.Query.select(txn, Seq("amount")), on = Seq("id")))
    val links = fs2.provenance(view)
    assert(links.map(l => (l.groupName, l.features)) ===
      Seq(("cust", Seq("id", "seg")), ("txn", Seq("amount"))))

    // reverse edge from the PERSISTED view IR
    fs2.saveFeatureView(view)
    assert(fs2.dependentViews(txn) === Seq(("custview", 1)))
    assert(fs2.dependentViews(cust) === Seq(("custview", 1)))
    assert(fs2.dependentViews(
      fs2.createFeatureGroup("unused", Seq((1L, 1L)).toDF("id", "x"),
        primaryKey = Seq("id"))) === Nil)

    // view tags live in their own namespace
    fs2.addTag(view, "stage", "prod")
    assert(fs2.getTags(view) === Map("stage" -> "prod"))
    assert(fs2.getTags(cust).get("stage") === None)
  }

  test("appendFeatures evolves the declared schema without data rewrite") {
    import org.apache.spark.sql.types._
    val wh = tempDir("graft_append").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val fg = fs.createFeatureGroup("evolves",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), primaryKey = Seq("id"))
    // name clash is rejected before touching the catalog
    intercept[IllegalArgumentException] {
      fs.appendFeatures(fg, Seq(graft.model.Feature("v", StringType)))
    }
    val evolved = fs.appendFeatures(fg, Seq(
      graft.model.Feature("w", DoubleType, defaultValue = Some(9.0))))
    fs.insert(evolved, Seq((3L, "c", 1.0)).toDF("id", "v", "w"))
    val got = fs.read(graft.ir.Query.selectAll(evolved)).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // pre-append rows read the declared default; the new row its value
    assert(got.toSeq === Seq((1L, 9.0), (2L, 9.0), (3L, 1.0)))
    // an insert OMITTING the evolved column also fills the default
    fs.insert(evolved, Seq((4L, "d")).toDF("id", "v"))
    val r4 = fs.read(graft.ir.Query.selectAll(evolved))
      .filter($"id" === 4L).collect().head
    assert(r4.getDouble(2) === 9.0)
  }

  test("training-dataset versions persist and read back across restart") {
    import graft.ir.Query
    val wh = tempDir("graft_td").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    def fg(t: String) = graft.catalog.TestTables.fg(spark, sfDir, t)
    val view = graft.view.FeatureView("tdspec", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_acctbal")))
    fs.saveFeatureView(view)
    val meta = fs.createTrainingDataset(view, 1,
      randomWeights = Map("train" -> 0.75, "test" -> 0.25),
      exactSizes = true)
    assert(meta.splitNames === Seq("test", "train"))

    // restart: descriptor + files readable from a brand-new store
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    assert(fs2.trainingDatasets("tdspec") === Seq(1))
    val back = fs2.getTrainingDataset("tdspec", 1, 1)
    assert(back.format === "parquet" && back.exactSizes &&
      back.randomWeights === Map("train" -> 0.75, "test" -> 0.25))
    val splits = fs2.readTrainingDataset("tdspec", 1, 1)
    val n = spark.read.parquet(s"$sfDir/customer.parquet").count()
    val test = math.round(0.25 * n)
    assert(splits("test").count() === test)
    assert(splits("train").count() === n - test)
    // disjoint and exhaustive on the key
    val trainIds = splits("train").select("c_custkey").collect()
      .map(_.getLong(0)).toSet
    val testIds = splits("test").select("c_custkey").collect()
      .map(_.getLong(0)).toSet
    assert((trainIds & testIds).isEmpty)
    assert(trainIds.size + testIds.size === n)

    fs2.deleteTrainingDataset("tdspec", 1, 1)
    assert(fs2.trainingDatasets("tdspec") === Nil)
    intercept[NoSuchElementException] { fs2.getTrainingDataset("tdspec") }
  }

  test("a tfrecord training dataset reads back through the store") {
    val wh = tempDir("graft_td_tfr").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val fg = fs.createFeatureGroup("tdtfr",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), primaryKey = Seq("id"))
    val view = graft.view.FeatureView("tdtfr", 1, fg.selectAll())
    fs.saveFeatureView(view)
    val meta = fs.createTrainingDataset(view, 1, format = "tfrecord")
    assert(meta.schema.map(_.fieldNames.toSeq) === Some(Seq("id", "v")))
    // a restarted store reads the files under the descriptor's schema
    val back = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
      .readTrainingDataset("tdtfr", 1, 1)
    assert(back.keySet === Set("train"))
    assert(back("train").orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("persisted builtin transformation functions rebuild views unaided") {
    import graft.ir.Query
    import graft.ops.Transformations
    val wh = tempDir("graft_tf").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    def fg(t: String) = graft.catalog.TestTables.fg(spark, sfDir, t)
    fs.createTransformationFunction("bal_scaled", "min_max_scaler",
      "c_acctbal", outName = Some("bal_scaled"))
    val view = graft.view.FeatureView("tfview", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_acctbal")),
      transformations = Seq(fs.getTransformationFunction("bal_scaled")))
    fs.saveFeatureView(view)

    // restart with NO caller registry: the persisted builtin resolves
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    assert(fs2.transformationFunctions === Seq("bal_scaled"))
    val back = fs2.getFeatureView("tfview")
    assert(back.transformations.map(_.name) === Seq("bal_scaled"))
    val frame = back.batchQuery(spark)
    val out = Transformations.fitApply(frame, frame, back.transformations)
    val vals = out.select("bal_scaled").collect().map(_.getDouble(0))
    assert(vals.nonEmpty && vals.forall(v => v >= 0.0 && v <= 1.0))

    // unknown builtin kinds are rejected up front
    intercept[IllegalArgumentException] {
      fs2.createTransformationFunction("bad", "no_such_scaler", "x")
    }
    fs2.deleteTransformationFunction("bal_scaled")
    assert(fs2.transformationFunctions === Nil)
  }

  test("getOrCreateFeatureGroup and version listings") {
    import graft.ir.Query
    val wh = tempDir("graft_goc").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val df = spark.read.parquet(s"$sfDir/nation.parquet")
      .selectExpr("CAST(n_nationkey AS LONG) AS id", "n_name AS v")
    val fg1 = fs.getOrCreateFeatureGroup("goc", df, Seq("id"))
    // second call must NOT recreate (df side effects would double-commit)
    val fg2 = fs.getOrCreateFeatureGroup("goc",
      sys.error("must not be evaluated"), Seq("id"))
    assert(fg1 eq fg2)
    fs.getOrCreateFeatureGroup("goc", df, Seq("id"), version = 2)
    assert(fs.getFeatureGroups("goc").map(_.version) === Seq(1, 2))
    assert(fs.read(Query.selectAll(fg2)).count() === df.count())
  }

  test("validation reports persist as history and reconstruct the latest") {
    import graft.ops.Validation
    val wh = tempDir("graft_valrep").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val good = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val fg = fs.createFeatureGroup("valfg", good, Seq("id"))
    fs.saveExpectationSuite(fg, Validation.SuiteDef("s",
      Seq(Validation.NotNullSpec("v"), Validation.UniqueSpec("id"))))

    val r1 = fs.validate(fg, good, atMillis = 1000L)
    assert(r1.success)
    val bad = Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("id", "v")
    val r2 = fs.validate(fg, bad, atMillis = 2000L)
    assert(!r2.success)

    // latest = the failing run, reconstructed result-for-result
    val latest = fs.getLatestValidationReport(fg).get
    assert(!latest.success)
    assert(latest.results.map(r => (r.name, r.success)).toSet ===
      Set(("not_null(v)", false), ("unique(id)", true)))
    // history holds both runs, one row per expectation
    assert(fs.getValidationHistory(fg).count() === 4)
    // a group with no history reports None
    val fg2 = fs.createFeatureGroup("valfg2", good, Seq("id"))
    assert(fs.getLatestValidationReport(fg2).isEmpty)
  }

  test("recreateTrainingDataset rebuilds purged files from the descriptor") {
    import graft.ir.Query
    val wh = tempDir("graft_rtd").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    def fg(t: String) = graft.catalog.TestTables.fg(spark, sfDir, t)
    val view = graft.view.FeatureView("rtd", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_acctbal")))
    fs.saveFeatureView(view)
    val meta = fs.createTrainingDataset(view, 1,
      randomWeights = Map("train" -> 0.8, "test" -> 0.2), exactSizes = true)
    val before = fs.readTrainingDataset("rtd").map {
      case (k, v) => k -> v.count()
    }
    // purge the materialized files, keep the descriptor
    val p = new org.apache.hadoop.fs.Path(meta.path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    fs2.recreateTrainingDataset("rtd")
    val after = fs2.readTrainingDataset("rtd").map {
      case (k, v) => k -> v.count()
    }
    assert(after === before, "deterministic splits must reproduce exactly")

    // getOrCreateFeatureView: hit returns the persisted view, miss saves
    val same = fs2.getOrCreateFeatureView(
      graft.view.FeatureView("rtd", 1,
        Query.select(fg("customer"), Seq("c_custkey"))))
    assert(same.query.features.map(_.name).contains("c_acctbal"),
      "hit must return the PERSISTED definition, not the argument")
    val fresh = fs2.getOrCreateFeatureView(
      graft.view.FeatureView("rtd", 9,
        Query.select(fg("customer"), Seq("c_custkey"))))
    assert(fresh.version === 9)
    assert(fs2.getFeatureView("rtd", 9).version === 9)
  }

  test("grouped training dataset keeps groups atomic and persists the spec") {
    import graft.ir.Query
    val wh = tempDir("graft_tdg").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    def fg(t: String) = graft.catalog.TestTables.fg(spark, sfDir, t)
    val view = graft.view.FeatureView("tdgrouped", 1,
      Query.select(fg("customer"),
        Seq("c_custkey", "c_mktsegment", "c_acctbal")))
    fs.saveFeatureView(view)
    val spec = graft.ops.Splits.GroupSplit("c_mktsegment",
      Seq("train" -> 0.6, "test" -> 0.4))
    fs.createTrainingDataset(view, 1, groupSplit = Some(spec))

    // restart: the grouped spec round-trips and the split files read back
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val back = fs2.getTrainingDataset("tdgrouped", 1, 1)
    assert(back.groupSplit === Some(spec))
    assert(back.splitNames === Seq("train", "test"))
    val splits = fs2.readTrainingDataset("tdgrouped", 1, 1)
    val segs = splits.map { case (_, df) =>
      df.select("c_mktsegment").distinct().collect()
        .map(_.getString(0)).toSet
    }.toSeq
    // leakage-safety: no market segment straddles two splits, and the
    // partition is exhaustive
    assert(segs.reduce(_ & _).isEmpty)
    val n = spark.read.parquet(s"$sfDir/customer.parquet").count()
    assert(splits.values.map(_.count()).sum === n)
  }

  test("statistics engine: config gates, as-of snapshots, persisted history") {
    import graft.model.StatisticsConfig
    val wh = tempDir("graft_fgstats").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val cfg = StatisticsConfig(histograms = true, exactUniqueness = true,
      correlations = true, columns = Seq("x", "y"))
    val fg = fs.createFeatureGroup("profiled",
      Seq((1L, 10.0, 1.0), (2L, 20.0, 2.0), (3L, 30.0, 3.0))
        .toDF("id", "x", "y"),
      primaryKey = Seq("id"), statisticsConfig = cfg)

    val t1 = graft.sources.Lake
      .listCommits(spark, s"$wh/profiled_1").max
    val run1 = fs.computeStatistics(fg, atMillis = 1000L)
    assert(run1.filter("feature = 'x' AND metric = 'cnt'")
      .head.getDouble(3) === 3.0)
    // opt-in passes present: histogram buckets, uniqueness, correlation
    assert(run1.filter("metric LIKE 'hist:%'").count() > 0)
    assert(run1.filter("feature = 'y' AND metric = 'exact_distinct'")
      .head.getDouble(3) === 3.0)
    assert(run1.filter("feature = 'x' AND metric = 'corr:y'")
      .head.getDouble(3) === 1.0)

    // second commit changes the data; as-of the first commit must NOT
    fs.insert(fg, Seq((4L, 100.0, -4.0)).toDF("id", "x", "y"))
    fs.computeStatistics(fg, atMillis = 2000L)
    val asOfOld = fs.computeStatistics(fg, atMillis = 3000L, asOf = Some(t1))
    assert(asOfOld.filter("feature = 'x' AND metric = 'cnt'")
      .head.getDouble(3) === 3.0)
    assert(fs.getStatistics(fg, Some(2500L))
      .filter("feature = 'x' AND metric = 'max_v'").head.getDouble(3) === 100.0)

    // restart: history persists; latest-≤-time and feature filters hold
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val fgBack = fs2.getFeatureGroup("profiled", 1)
    assert(fgBack.statisticsConfig === cfg, "config survives the catalog")
    assert(fs2.getAllStatistics(fgBack).select("computed_at").distinct()
      .count() === 3)
    assert(fs2.getStatistics(fgBack, Some(1500L))
      .filter("feature = 'x' AND metric = 'max_v'").head.getDouble(3) === 30.0)
    assert(fs2.getStatistics(fgBack, featureNames = Seq("y"))
      .select("feature").distinct().collect().map(_.getString(0)).toSeq
      === Seq("y"))

    // disabled config computes and persists nothing
    val off = fs2.createFeatureGroup("silent",
      Seq((1L, 1.0)).toDF("id", "x"), primaryKey = Seq("id"),
      statisticsConfig = StatisticsConfig(enabled = false))
    assert(fs2.computeStatistics(off, atMillis = 1000L).isEmpty)
    assert(fs2.getAllStatistics(off).isEmpty)
  }

  test("training statistics are versioned per training dataset") {
    import graft.ir.Query
    import graft.ops.Transformations
    val wh = tempDir("graft_tdstats").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    def fg(t: String) = graft.catalog.TestTables.fg(spark, sfDir, t)
    val view = graft.view.FeatureView("tdvstats", 1,
      Query.select(fg("customer"), Seq("c_custkey", "c_acctbal")),
      transformations = Seq(
        Transformations.builtin("mm", "min_max_scaler", "c_acctbal")))
    fs.saveFeatureView(view)
    // td1 fits on a low-balance subset, td2 on everything: different
    // training distributions that must BOTH stay retrievable
    fs.createTrainingDataset(view.copy(query =
        view.query.where(graft.ir.Dsl.FeatureOps("c_acctbal") < 0.0)), 1)
    fs.createTrainingDataset(view, 2)
    val s1 = fs.getTrainingStatistics("tdvstats", 1, Some(1)).get("c_acctbal")
    val s2 = fs.getTrainingStatistics("tdvstats", 1, Some(2)).get("c_acctbal")
    assert(s1.max < s2.max, "td1 (negative balances only) has a lower max")
    // default = view-level latest (the most recent create), td fallback
    // (compare (min, max, mean): quantile fields are NaN — min-max fits
    // skip them — and NaN breaks case-class equality)
    def key(s: Transformations.FeatureStatistics) = (s.min, s.max, s.mean)
    assert(key(fs.getTrainingStatistics("tdvstats", 1).get("c_acctbal"))
      === key(s2))
    assert(key(fs.getTrainingStatistics("tdvstats", 1, Some(99))
      .get("c_acctbal")) === key(s2),
      "unknown td falls back to the view-level latest")
  }

  test("auto statistics on ingestion when the store opts in") {
    import graft.model.StatisticsConfig
    val wh = tempDir("graft_autostats").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh,
      autoComputeStatistics = true)
    val fg = fs.createFeatureGroup("auto",
      Seq((1L, 5.0), (2L, 7.0)).toDF("id", "x"), primaryKey = Seq("id"))
    assert(fs.getAllStatistics(fg).select("computed_at").distinct()
      .count() === 1, "creation ingests -> one statistics run")
    fs.insert(fg, Seq((3L, 9.0)).toDF("id", "x"))
    assert(fs.getAllStatistics(fg).select("computed_at").distinct()
      .count() === 2, "insert -> a second run")
    assert(fs.getStatistics(fg).filter("feature = 'x' AND metric = 'cnt'")
      .head.getDouble(3) === 3.0)

    // disabled group config still wins over the store flag
    val off = fs.createFeatureGroup("auto_off",
      Seq((1L, 1.0)).toDF("id", "x"), primaryKey = Seq("id"),
      statisticsConfig = StatisticsConfig(enabled = false))
    fs.insert(off, Seq((2L, 2.0)).toDF("id", "x"))
    assert(fs.getAllStatistics(off).isEmpty)
  }
}
