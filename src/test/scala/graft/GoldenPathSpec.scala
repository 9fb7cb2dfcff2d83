package graft

import graft.catalog.FeatureStore
import graft.ir._
import graft.ops.{Statistics, Transformations, Validation}
import graft.view.{FeatureView, TrainingDataset}
import org.apache.spark.sql.functions._

/** Golden path: the full reference workflow end-to-end through the public
  * API — validate → ingest (lake) → feature view → PIT training data →
  * transform → split → write/read → serve → log → monitor. One test, the
  * whole story (reference lifecycle §3.1–§3.3).
  */
class GoldenPathSpec extends SparkSpec {
  import spark.implicits._

  test("feature-store lifecycle from ingest to monitoring") {
    val tmp = tempDir("graft_golden").toString
    val fs = new FeatureStore(spark, warehouseDir = tmp)

    // 1. ingest with validation gate: user profile feature group
    val profiles = Seq(
      (1L, 100L, 0.10, "bronze"), (2L, 100L, 0.55, "silver"),
      (3L, 100L, 0.90, "gold"), (1L, 200L, 0.20, "silver"))
      .toDF("user_id", "et", "activity", "tier")
    val validated = Validation.validateOrThrow(profiles, Seq(
      Validation.notNull("user_id"),
      Validation.between("activity", 0.0, 1.0),
      Validation.inSet("tier", Seq("bronze", "silver", "gold"))))
    val profileFg = fs.createFeatureGroup("profiles", validated,
      primaryKey = Seq("user_id"), eventTime = Some("et"))

    // 2. upsert a correction (same record key wins by commit time)
    fs.insert(profileFg, Seq((3L, 100L, 0.95, "gold"))
      .toDF("user_id", "et", "activity", "tier"))

    // 3. feature view: labeled spine on the left, the feature group as a
    // PIT-joined branch (prefixed — both sides carry an `et` column)
    val spine = Seq((1L, 150L, 0), (2L, 150L, 1), (3L, 150L, 1))
      .toDF("user_id", "et", "label")
    val spineFg = graft.model.FeatureGroup.spine("labels", spine,
      primaryKey = Seq("user_id"), eventTime = Some("et"))
    val view = FeatureView("user_view", 1,
      Query(spineFg, joins = Seq(JoinSpec(Query.selectAll(profileFg),
        on = Seq("user_id"), prefix = Some("p_")))),
      labels = Seq("label"),
      transformations = Seq(Transformations.Transformation(
        "mm", Transformations.ModelDependent, Seq("p_activity"),
        fn = (cols, st) => Seq(Transformations
          .minMaxScaler(cols.head, st("p_activity")).as("activity_mm")))))

    // 4. PIT training frame against the spine
    val pit = view.pitTrainingFrame(spark, spine)
    assert(pit.count() === 3)
    // user 1 at t=150 sees the et=100 version, not the et=200 one
    val u1 = pit.filter($"user_id" === 1).collect().head
    assert(u1.getAs[Double]("p_activity") === 0.10)
    // user 3 sees the corrected upsert
    val u3 = pit.filter($"user_id" === 3).collect().head
    assert(u3.getAs[Double]("p_activity") === 0.95)

    // 5. split + transform + per-split statistics + file round trip
    val result = TrainingDataset.build(spark, view, pit,
      randomWeights = Map("train" -> 0.67, "test" -> 0.33),
      statsColumns = Seq("p_activity"))
    assert(result.splits.values.map(_.count()).sum === 3)
    assert(result.splits("train").columns.contains("activity_mm"))
    val out = s"$tmp/td"
    TrainingDataset.write(result, out, format = "parquet")
    assert(TrainingDataset.read(spark, s"$out/train").count() ===
      result.splits("train").count())

    // 6. serve vectors for two users
    val server = new graft.serving.FeatureVectorServer(spark,
      FeatureView("serve_view", 1, Query.selectAll(profileFg)))
    val vectors = server.getFeatureVectors(
      Seq(1L, 3L).toDF("user_id"))
    assert(vectors.count() === 2)

    // 7. log served vectors, read back with a time filter
    val logFg = graft.model.FeatureGroup("served_log",
      primaryKey = Seq("user_id"),
      source = graft.model.LakeSource(s"$tmp/served_log"))
    graft.serving.FeatureLogging.log(spark, s"$tmp/served_log", logFg, vectors)
    val logged = graft.serving.FeatureLogging.read(
      spark, s"$tmp/served_log", logFg)
    assert(logged.count() === 2)

    // 8. monitoring: detection vs reference window drift
    val (diff, shifted) = Statistics.differenceAndShift(
      detection = vectors.agg(avg("activity")).collect().head.getDouble(0),
      reference = 0.5, threshold = 0.2, relative = true)
    assert(!diff.isNaN)
    assert(shifted === (math.abs(diff) >= 0.2))
  }

  test("catalog survives a restart: new store over the same warehouse") {
    val wh = tempDir("graft_restart").toString
    val fs1 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val fg = fs1.createFeatureGroup("persisted",
      Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "v", "x"),
      primaryKey = Seq("id"), eventTime = None,
      precombineKey = None)
    fs1.insert(fg, Seq((3L, "c", 2.5)).toDF("id", "v", "x"))

    // a brand-new store over the same warehouse sees the definition
    val fs2 = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val back = fs2.getFeatureGroup("persisted")
    assert(back.primaryKey === Seq("id"))
    assert(back.features.map(_.name) === Seq("id", "v", "x"))
    assert(back.source === fg.source)
    // and can read + keep writing it
    assert(fs2.read(graft.ir.Query.selectAll(back)).count() === 3)
    fs2.insert(back, Seq((4L, "d", 3.5)).toDF("id", "v", "x"))
    assert(fs2.read(graft.ir.Query.selectAll(back)).count() === 4)
    // declared defaults survive the round trip
    val fg3 = back.copy(features = back.features :+ graft.model.Feature(
      "score", org.apache.spark.sql.types.DoubleType,
      defaultValue = Some(0.25)))
    fs2.register(fg3)
    val reloaded = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
      .getFeatureGroup("persisted")
    assert(reloaded.features.last.defaultValue === Some(0.25))
  }

  test("plan quality: join headliners push filters and broadcast dims") {
    val dir = sfDir
    for (name <- Seq("q41_sql_q3", "q42_ir_rollup")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("PushedFilters: [Is") || plan.contains(
        "PushedFilters: [*"), s"$name missing pushed filters:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$name missing broadcast join:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name has a cross join")
    }
  }
}
