package graft

import graft.catalog.FeatureStore
import graft.model.{Feature, FeatureGroup, ParquetSource, StatisticsConfig}
import graft.ops.Monitoring._
import graft.ops.Validation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The store's three append-only histories (validation reports, group
  * statistics, monitoring results) are tables of the one commit log: an
  * empty history reads under the same schema as a written one, a cut
  * append publishes no run, and a directory of bare Parquet files is
  * refused by name rather than read as empty.
  */
class HistorySpec extends SparkSpec {
  import spark.implicits._

  private val report = Validation.ValidationReport(success = true, Seq(
    Validation.ExpectationResult("not_null(x)", success = true, 0L, 2L)))

  /** A parquet-backed group of two rows whose statistics cover `x`. */
  private def profiled(wh: String): FeatureGroup = {
    val data = s"$wh/data"
    Seq((1L, 1.0), (2L, 3.0)).toDF("id", "x").write.parquet(data)
    FeatureGroup("profiled",
      features = Seq(Feature("id", LongType, primary = true),
        Feature("x", DoubleType)),
      primaryKey = Seq("id"), source = ParquetSource(data),
      statisticsConfig = StatisticsConfig(columns = Seq("x")))
  }

  private def monitor(eng: MonitoringEngine): Unit =
    eng.saveConfig(MonitoringConfig(name = "drift", featureGroup = "events",
      version = 1, feature = "value", eventTimeCol = "ts",
      detection = WindowSpec(sizeMillis = None), reference = None,
      referenceValue = Some(1.0),
      comparison = ComparisonSpec("mean", threshold = 0.5),
      schedule = ScheduleSpec(everyMillis = 1L)))

  private def events = spark.read.parquet(s"$sfDir/events.parquet")

  test("an empty history reads under the schema of a one-run history") {
    val wh = tempDir("graft_hist_schema").toString
    val fs = new FeatureStore(spark, warehouseDir = wh)
    val fg = profiled(wh)

    val reportsEmpty = fs.getValidationHistory(fg).schema
    fs.saveValidationReport(fg, report, atMillis = 1000L)
    assert(fs.getValidationHistory(fg).count() === 1)
    assert(fs.getValidationHistory(fg).schema === reportsEmpty)

    val statsEmpty = fs.getAllStatistics(fg).schema
    assert(fs.getStatistics(fg).isEmpty)
    fs.computeStatistics(fg, atMillis = 1000L)
    assert(fs.getAllStatistics(fg).count() > 0)
    assert(fs.getAllStatistics(fg).schema === statsEmpty)
    assert(fs.getStatistics(fg).schema === statsEmpty)

    val eng = new MonitoringEngine(spark, wh)
    val resultsEmpty = eng.results().schema
    monitor(eng)
    assert(eng.runDue(1000L, _ => events).size === 1)
    assert(eng.results().count() === 1)
    assert(eng.results().schema === resultsEmpty)
  }

  test("a cut append publishes no run and the next append lands") {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${FailingFs.Scheme}.impl", classOf[FailingFs].getName)
    val wh = s"${FailingFs.Scheme}://${tempDir("graft_hist_cut")}"
    val fs = new FeatureStore(spark, warehouseDir = wh)
    val fg = FeatureGroup("cut")
    def runs = fs.getValidationHistory(fg).select("run_millis").distinct()
      .as[Long].collect().sorted.toSeq

    fs.saveValidationReport(fg, report, atMillis = 1000L)
    FailingFs.failAfter.set(16L)
    try intercept[Exception](fs.saveValidationReport(fg, report, atMillis = 2000L))
    finally FailingFs.failAfter.set(-1L)
    assert(runs === Seq(1000L))
    assert(fs.getLatestValidationReport(fg) === Some(report))

    fs.saveValidationReport(fg, report, atMillis = 3000L)
    assert(runs === Seq(1000L, 3000L))
  }

  test("a history directory of bare Parquet files is refused by name") {
    val wh = tempDir("graft_hist_bare").toString
    val fs = new FeatureStore(spark, warehouseDir = wh)
    val fg = profiled(wh)
    def bare(dir: String): String = {
      Seq((1L, "x")).toDF("a", "b").write.parquet(dir)
      dir
    }
    def refused(dir: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(dir), e.getMessage)
    }
    val reports = bare(s"$wh/_validation_reports/${fg.id}")
    refused(reports)(fs.getValidationHistory(fg))
    refused(reports)(fs.saveValidationReport(fg, report, atMillis = 1000L))
    val stats = bare(s"$wh/_fg_statistics/${fg.id}")
    refused(stats)(fs.getAllStatistics(fg))
    refused(stats)(fs.computeStatistics(fg, atMillis = 1000L))
    val results = bare(s"$wh/_monitoring/results")
    val eng = new MonitoringEngine(spark, wh)
    refused(results)(eng.results())
  }

  test("a 40-run statistics history reads in no more Spark jobs than " +
    "one directory of the same 40 files") {
    val wh = tempDir("graft_hist_jobs").toString
    val fs = new FeatureStore(spark, warehouseDir = wh)
    val fg = profiled(wh)
    (1 to 40).foreach(i => fs.computeStatistics(fg, atMillis = i.toLong))

    val (hist, buildJobs, _) = counted(fs.getAllStatistics(fg))
    assert(buildJobs === 0, "building the read runs no job")
    val flat = s"$wh/flat"
    hist.repartition(40).write.parquet(flat)
    val (rows, jobs, _) = counted(fs.getAllStatistics(fg).collect())
    val (flatRows, flatJobs, _) = counted(
      spark.read.schema(hist.schema).parquet(flat).collect())
    assert(rows.length === 40 * 6 && rows.toSet === flatRows.toSet)
    assert(jobs <= flatJobs, s"history read ran $jobs jobs, one directory $flatJobs")
    assert(hist.select(col("computed_at")).distinct().count() === 40)
  }
}
