package graft

import graft.catalog._
import graft.catalog.TagPersistence.Tags
import graft.catalog.TrainingDatasetPersistence.TrainingDatasetMeta
import graft.catalog.TransformPersistence.TransformDef
import graft.ir._
import graft.model._
import graft.ops.Monitoring._
import graft.ops.Splits.GroupSplit
import graft.ops.Transformations.FeatureStatistics
import graft.ops.Validation._
import graft.view.FeatureView
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The catalog's on-disk format is fixed. One entity of each of the
  * eight kinds, written to a fresh warehouse, yields exactly the
  * documents under `src/test/resources/catalog-format` (names and
  * bytes), and each of those documents loads back into the entity it
  * was written from.
  */
class CatalogFormatSpec extends SparkSpec {
  private val Fixtures = Paths.get("src/test/resources/catalog-format")
  private val Kinds = Seq("_catalog", "_views", "_suites",
    "_training_datasets", "_stats", "_transformations", "_tags",
    "_monitoring/configs")

  private val group = FeatureGroup(
    name = "fmt_fg", version = 2,
    features = Seq(
      Feature("id", LongType, primary = true, nullable = false),
      Feature("day", StringType, partition = true),
      Feature("amount", DoubleType, description = Some("order total"),
        defaultValue = Some(0.5)),
      Feature("qty", IntegerType, defaultValue = Some(7)),
      Feature("big", LongType, defaultValue = Some(1L << 40)),
      Feature("ratio", FloatType, defaultValue = Some(0.25f)),
      Feature("flag", BooleanType, defaultValue = Some(true)),
      Feature("label", StringType, defaultValue = Some("none")),
      Feature("ts", TimestampType)),
    primaryKey = Seq("id"), partitionKey = Seq("day"),
    eventTime = Some("ts"), precombineKey = Some("amount"),
    source = LakeSource("/warehouse/fmt_fg_2"), online = true,
    statisticsConfig = StatisticsConfig(enabled = true, correlations = true,
      histograms = false, exactUniqueness = true,
      columns = Seq("amount", "qty")))

  private val external = FeatureGroup(
    name = "fmt_ext", version = 1,
    features = Seq(Feature("id", LongType, primary = true),
      Feature("region", StringType)),
    primaryKey = Seq("id"),
    source = ConnectorSource("jdbc",
      options = Map("url" -> "jdbc:postgresql://db/x",
        "query" -> "SELECT id, region FROM t"),
      hadoopConf = Map("fs.s3a.endpoint" -> "http://s3"),
      path = Some("/ext/path")))

  private val transform = TransformDef("fmt_amount_mm", "min_max_scaler",
    "amount", Some("amount_mm"), dropInput = true)

  private val view = FeatureView("fmt_view", 3,
    Query.select(group, Seq("id", "amount", "label"))
      .join(Query.selectAll(external), leftOn = Seq("id"),
        rightOn = Seq("id"), joinType = JoinType.Inner,
        prefix = Some("ext_"))
      .where((FilterLeaf(FeatureRef("amount", Some("fmt_fg")),
          FilterCondition.Ge, 10.5)
        && FilterLeaf(FeatureRef("label"), FilterCondition.In,
          List("a", "b")))
        || FilterLeaf(FeatureRef("qty"), FilterCondition.Lt, 3L))
      .asOf(1700000000000L, Some(1600000000000L)),
    labels = Seq("amount_mm"),
    inferenceHelperColumns = Seq("label"),
    trainingHelperColumns = Seq("qty"),
    transformations = Seq(transform.toTransformation))

  private val suite = SuiteDef("fmt_suite", Seq(
    NotNullSpec("id"), BetweenSpec("amount", -1.5, 99.0),
    InSetSpec("label", Seq("a", "b")), RegexSpec("label", "[a-z]+"),
    UniqueSpec("id")), policy = Policy.Always)

  private val stats = Map(
    "amount" -> FeatureStatistics(0.0, 10.5, 4.25, 2.5, 1.0, 4.0, 7.75, Nil),
    "label" -> FeatureStatistics(0, 0, 0, 0, 0, 0, 0,
      Seq("a", 3L, 1.5, true)))

  private val dataset = TrainingDatasetMeta("fmt_view", 3, 4, "parquet",
    "/warehouse/training_datasets/fmt_view_3/4",
    timeBounds = Map("train" -> ((0L, 100L)), "test" -> ((100L, 200L))),
    seed = 7L, exactSizes = true, createdMillis = 1700000000123L,
    groupSplit = Some(GroupSplit("id", Seq("train" -> 0.75, "test" -> 0.25),
      "salt1")), coalesce = true)

  private val tagState = Tags(Map("owner" -> "team-a", "tier" -> "gold"),
    Seq("orders", "daily"))

  private val monitor = MonitoringConfig(
    name = "fmt_drift", featureGroup = "fmt_fg", version = 2,
    feature = "amount", eventTimeCol = "ts",
    detection = WindowSpec(sizeMillis = Some(3600000L)),
    reference = Some(WindowSpec(sizeMillis = None, offsetMillis = 86400000L,
      rowPercentage = 0.5)),
    referenceValue = Some(4.5),
    comparison = ComparisonSpec("psi", threshold = 0.2, relative = true,
      strict = true, bins = 12, lo = -1.0, hi = 2.0),
    schedule = ScheduleSpec(everyMillis = 60000L, startMillis = 5L),
    enabled = false)

  private def writeAll(wh: String): Unit = {
    CatalogPersistence.save(spark, wh, group)
    ViewPersistence.save(spark, wh, view)
    SuitePersistence.save(spark, wh, group.id, suite)
    TrainingDatasetPersistence.save(spark, wh, dataset)
    StatsPersistence.save(spark, wh, "fmt_view", 3, stats, Some(4))
    TransformPersistence.save(spark, wh, transform)
    TagPersistence.save(spark, wh, "fg_fmt_fg_2", tagState)
    new MonitoringEngine(spark, wh).saveConfig(monitor)
  }

  /** The documents of one kind: file name → bytes (Hadoop's hidden
    * checksum files left out).
    */
  private def documents(root: Path, kind: String): Map[String, Seq[Byte]] = {
    val dir = root.resolve(kind)
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith("."))
      .map(n => n -> Files.readAllBytes(dir.resolve(n)).toSeq).toMap
    finally ls.close()
  }

  test("each kind writes the fixture documents, name for name, byte for byte") {
    val wh = tempDir("graft_format")
    try {
      writeAll(wh.toString)
      Kinds.foreach { kind =>
        val got = documents(wh, kind)
        val want = documents(Fixtures, kind)
        assert(got.keySet === want.keySet, kind)
        want.foreach { case (name, bytes) =>
          assert(new String(got(name).toArray, "UTF-8") ===
            new String(bytes.toArray, "UTF-8"), s"$kind/$name")
        }
      }
    } finally Bench.deleteRecursively(wh)
  }

  test("each fixture document loads back into the entity it was written from") {
    val wh = tempDir("graft_format_load")
    try {
      Kinds.foreach { kind =>
        Files.createDirectories(wh.resolve(kind))
        documents(Fixtures, kind).foreach { case (name, bytes) =>
          Files.write(wh.resolve(kind).resolve(name), bytes.toArray)
        }
      }
      val w = wh.toString
      assert(CatalogPersistence.load(spark, w) === Seq(group))
      val back = ViewPersistence.load(spark, w, "fmt_view", 3,
        resolve = n => TransformPersistence.load(spark, w, n)
          .map(_.toTransformation)).get
      assert(back.copy(transformations = Nil) ===
        view.copy(transformations = Nil))
      assert(back.transformations.map(_.name) === Seq(transform.name))
      assert(ViewPersistence.list(spark, w) === Seq(("fmt_view", 3)))
      assert(SuitePersistence.load(spark, w, group.id) === Some(suite))
      assert(TrainingDatasetPersistence.load(spark, w, "fmt_view", 3, 4)
        === Some(dataset))
      assert(TrainingDatasetPersistence.list(spark, w, "fmt_view", 3)
        === Seq(4))
      assert(StatsPersistence.load(spark, w, "fmt_view", 3, Some(4))
        === Some(stats))
      assert(TransformPersistence.load(spark, w, transform.name)
        === Some(transform))
      assert(TransformPersistence.list(spark, w) === Seq(transform.name))
      assert(TagPersistence.load(spark, w, "fg_fmt_fg_2") === tagState)
      assert(TagPersistence.list(spark, w) === Seq("fg_fmt_fg_2"))
      val eng = new MonitoringEngine(spark, w)
      assert(eng.getConfig(monitor.name) === Some(monitor))
      assert(eng.listConfigs() === Seq(monitor))
    } finally Bench.deleteRecursively(wh)
  }
}
