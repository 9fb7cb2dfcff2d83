package graft

import graft.ops.{Materialize, Monitoring, TemporalFeatures}
import org.apache.spark.sql.functions._

/** Round-12 advice/verdict items, pinned as regression tests: the RE2
  * whitespace set (no VT), NULL window-flag rows excluded from the
  * drift battery, FromCounts folds merging unmerged stored partials,
  * kaplanMeier's loud bounded-distinct guard, the Materialize strategy
  * conf, and Bench's sub-second rep fast-stop.
  */
class R13AdviceSpec extends SparkSpec {
  import spark.implicits._

  test("ScriptMixCounts: VT is NOT whitespace (RE2 \\s parity), the five RE2 chars are") {
    // "ab" → 3 codepoints, 0 whitespace under RE2 semantics
    val df = Seq("ab", "a b\tc\nd\fe\rf").toDF("text")
      .select(graft.functions.TextScript.scriptMixCounts(col("text"))
        .as("m"))
    val rows = df.collect().map(_.getSeq[Long](0))
    assert(rows(0)(0) == 3L && rows(0)(4) == 0L,
      s"VT must not count as whitespace: ${rows(0)}")
    assert(rows(1)(4) == 5L,
      s"tab/LF/FF/CR/space must all count: ${rows(1)}")
  }

  test("burstiness: hand value unchanged after the DECIMAL(38,0) accumulator") {
    // gaps 10 s and 30 s → μ=20, σ=10 → B = (10−20)/(10+20) = −1/3
    val df = Seq(("e", 0L), ("e", 10000000L), ("e", 40000000L))
      .toDF("entity", "ts_us")
    val out = TemporalFeatures.burstiness(df, col("entity"), col("ts_us"))
      .collect().head
    assert(out.getAs[Long]("n_gaps") == 2L)
    assert(math.abs(out.getAs[Double]("burstiness") - (-0.333333)) < 1e-6)
  }

  test("drift battery: NULL window-flag rows count in NEITHER total") {
    val df = Seq(("g", 0.5, Option(true)), ("g", 0.5, Option(true)),
      ("g", 0.6, Option(false)), ("g", 0.6, Option(false)),
      ("g", 0.7, Option.empty[Boolean]))
      .toDF("k", "v", "is_ref")
    for (scored <- Seq(
      Monitoring.psiDrift(df, Seq("k"), col("v"), col("is_ref"),
        bins = 4, lo = 0.0, hi = 1.0),
      Monitoring.jsdDrift(df, Seq("k"), col("v"), col("is_ref"),
        bins = 4, lo = 0.0, hi = 1.0),
      Monitoring.ksDrift(df, Seq("k"), col("v"), col("is_ref"),
        bins = 4, lo = 0.0, hi = 1.0),
      Monitoring.wassersteinDrift(df, Seq("k"), col("v"), col("is_ref"),
        bins = 4, lo = 0.0, hi = 1.0),
      Monitoring.chiSquareDrift(df, Seq("k"), col("v"), col("is_ref")))) {
      val r = scored.collect().head
      assert(r.getAs[Long]("ref_total") == 2L &&
        r.getAs[Long]("det_total") == 2L,
        s"null-flag row leaked into a window total: $r")
    }
  }

  test("FromCounts folds: unmerged duplicate (keys, bin) partials fold like merged") {
    val merged = Seq(("g", 0, 5L, 1L), ("g", 1, 2L, 6L))
      .toDF("k", "bin", "ref_n", "det_n")
    val partials = Seq(("g", 0, 2L, 1L), ("g", 0, 3L, 0L),
      ("g", 1, 2L, 4L), ("g", 1, 0L, 2L))
      .toDF("k", "bin", "ref_n", "det_n")
    def one(df: org.apache.spark.sql.DataFrame, f: String): Map[String, Any] = {
      val r = (f match {
        case "psi" => Monitoring.psiFromCounts(df, Seq("k"), bins = 2)
        case "jsd" => Monitoring.jsdFromCounts(df, Seq("k"), bins = 2)
        case "ks"  => Monitoring.ksFromCounts(df, Seq("k"))
        case _     => Monitoring.wassersteinFromCounts(df, Seq("k"), 0.25)
      }).collect().head
      r.schema.fieldNames.map(n => n -> r.getAs[Any](n)).toMap
    }
    for (f <- Seq("psi", "jsd", "ks", "w1"))
      assert(one(partials, f) == one(merged, f),
        s"$f: unmerged partials diverged from the merged fold")
  }

  test("kaplanMeier: refuses a continuous duration column loudly") {
    val cont = (1 to 50).map(i => (i.toLong * 7 + 1, true)).toDF("t", "ev")
    val err = intercept[IllegalArgumentException] {
      TemporalFeatures.kaplanMeier(cont, col("t"), col("ev"),
        maxDistinct = 10).collect()
    }
    assert(err.getMessage.contains("distinct"))
    // bounded-bucket use keeps working and S(t) is a survival curve
    val ok = TemporalFeatures.kaplanMeier(
      Seq((1L, true), (1L, false), (2L, true), (3L, false))
        .toDF("t", "ev"), col("t"), col("ev")).collect()
    assert(ok.length == 3 &&
      ok.forall(r => r.getAs[Double]("survival") >= 0.0 &&
        r.getAs[Double]("survival") <= 1.0))
  }

  test("Materialize: cache and reliable modes preserve results, bad mode is loud") {
    val df = Seq(1, 2, 3).toDF("x")
    try {
      spark.conf.set(Materialize.ModeKey, "cache")
      val pinned = Materialize.pin(df)
      assert(pinned.agg(sum("x")).collect().head.getLong(0) == 6L)
      pinned.unpersist()
      // reliable = Dataset.checkpoint — the cluster setting: blocks
      // survive executor loss because they live in the checkpoint dir
      val ckDir = tempDir("graft_ck").toString
      spark.sparkContext.setCheckpointDir(ckDir)
      spark.conf.set(Materialize.ModeKey, "reliable")
      val rel = Materialize.pin(df)
      assert(rel.agg(sum("x")).collect().head.getLong(0) == 6L)
      spark.conf.set(Materialize.ModeKey, "bogus")
      intercept[IllegalArgumentException] { Materialize.pin(df) }
    } finally spark.conf.unset(Materialize.ModeKey)
  }

  test("Bench.render: calibration at both sweep ends lands in calibration_runs, best in calibration") {
    val results: Seq[(String, Seq[Bench.Rep])] = Seq(
      Bench.CalibName -> Seq(Right(2.0), Right(1.8)),
      "q01_agg" -> Seq(Right(0.7), Right(0.6)),
      s"${Bench.CalibName}_end" -> Seq(Right(2.4)))
    val json = Bench.render(results)
    // neither calibration entry may count as a query (runs keeps their
    // per-rep times for drift visibility — that is intended)
    assert(json.contains(""""declared":1"""), json)
    assert(json.contains(""""queries":{"q01_agg":0.6}"""), json)
    assert(json.contains(""""calibration":1.8"""), json)
    assert(json.contains(""""calibration_runs":[1.8,2.4]"""), json)
  }

  test("Bench.converged: sub-second min fast-stops at MinReps, slow descents do not") {
    assert(Bench.converged(Seq(2.5, 1.1, 0.9)),
      "a sub-second running min must stop at MinReps")
    assert(!Bench.converged(Seq(5.0, 4.0, 3.0)),
      "a still-descending multi-second sequence must keep running")
    assert(Bench.converged(Seq(5.0, 4.0, 3.9)),
      "a stable multi-second min converges as before")
  }
}
