package graft

import graft.ops.{Splits, Statistics, Transformations}
import org.apache.spark.sql.functions._

class StatsTransformSpec extends SparkSpec {
  import spark.implicits._

  private lazy val li = spark.read.parquet(s"$sfDir/lineitem.parquet")

  test("profile: one pass, sane numeric stats, null accounting") {
    val df = Seq((Some(1.0), "a"), (Some(3.0), "b"), (None, "c"))
      .toDF("x", "s")
    val p = Statistics.profile(df).map(c => c.feature -> c).toMap
    assert(p("x").count === 2 && p("x").nullCount === 1)
    assert(p("x").mean.get === 2.0 && p("x").min.get === 1.0)
    assert(p("x").completeness === 2.0 / 3.0)
    assert(p("s").min.isEmpty) // non-numeric: no numeric stats
  }

  test("frequency metrics: entropy of a uniform distribution is ln(k)") {
    val df = (1 to 100).map(i => ("v" + (i % 4)).toString).toDF("c")
    val row = Statistics.frequencyMetrics(df, "c").collect().head
    assert(math.abs(row.getAs[Double]("entropy") - math.log(4)) < 1e-5)
    assert(row.getAs[Long]("exact_distinct") === 4L)
    assert(row.getAs[Double]("uniqueness") === 0.0)
  }

  test("one-pass correlation matrix matches per-pair df.stat.corr") {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val matrix = Statistics.correlations(li, cols)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val expectedPairs = for {
      (a, i) <- cols.zipWithIndex; b <- cols.drop(i + 1)
    } yield (a, b)
    assert(matrix.keySet === expectedPairs.toSet)
    // independent per-pair scans agree with the single-pass matrix
    expectedPairs.foreach { case (a, b) =>
      assert(math.abs(matrix((a, b)) - li.stat.corr(a, b)) < 1e-6,
        s"pair ($a,$b)")
    }
    // uniform listwise semantics: a null in ANY requested column drops the
    // row for every pair of the call
    val withNulls = li.select(
      $"l_quantity", $"l_extendedprice",
      when($"l_linenumber" === 1, $"l_discount").as("l_discount"))
    val complete = withNulls.filter($"l_discount".isNotNull)
    val m2 = Statistics.correlations(withNulls, cols)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(m2(("l_quantity", "l_extendedprice")) -
      complete.stat.corr("l_quantity", "l_extendedprice")) < 1e-6)
  }

  test("label split separates X and y") {
    val (x, y) = Splits.splitLabels(
      li.select("l_orderkey", "l_quantity", "l_returnflag"),
      labels = Seq("l_returnflag"))
    assert(x.columns.toSeq === Seq("l_orderkey", "l_quantity"))
    assert(y.columns.toSeq === Seq("l_returnflag"))
    assert(x.count() === y.count())
  }

  test("random split: disjoint cover with requested proportions") {
    val splits = Splits.random(li, Map("train" -> 0.8, "test" -> 0.2), seed = 1L)
    val total = li.count()
    val n = splits.values.map(_.count()).sum
    assert(n === total)
    assert(splits("train").count() > splits("test").count())
  }

  test("exact random split hits the requested sizes exactly") {
    val df = spark.range(1000).toDF("id")
    val splits = Splits.exactRandom(df,
      Map("train" -> 0.7, "test" -> 0.2, "validation" -> 0.1), seed = 7L)
    assert(splits("train").count() === 700)
    assert(splits("test").count() === 200)
    assert(splits("validation").count() === 100)
    val union = splits.values.map(_.select("id")).reduce(_ union _)
    assert(union.distinct().count() === 1000) // disjoint exact cover
    // the global rank must come from range partition + offsets, never a
    // single-partition window (the scale-killer this replaced)
    val plan = splits("train").queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("feature store sql() runs over registered group views") {
    val fs = new graft.catalog.FeatureStore(spark,
      warehouseDir = tempDir("graft_sql").toString)
    fs.createFeatureGroup("sqlfg",
      Seq((1L, 5.0), (2L, 7.0)).toDF("id", "x"), primaryKey = Seq("id"))
    val n = fs.sql("SELECT sum(x) AS s FROM sqlfg_1").collect().head.getDouble(0)
    assert(n === 12.0)
  }

  test("time-series split bounds are [start, end)") {
    val df = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-06-01 00:00:00"),
      (3L, "2024-12-31 23:59:59")).toDF("id", "et")
    import graft.functions.TimeFunctions.toEpochMillis
    val s = Splits.timeSeries(df, "et", Map(
      "a" -> (toEpochMillis("2024-01-01"), toEpochMillis("2024-06-01")),
      "b" -> (toEpochMillis("2024-06-01"), toEpochMillis("2025-01-01"))))
    assert(s("a").select("id").as[Long].collect().toSet === Set(1L))
    assert(s("b").select("id").as[Long].collect().toSet === Set(2L, 3L))
  }

  test("scalers: min-max lands in [0,1], standard has ~zero mean") {
    import Transformations._
    val stats = FeatureStatistics.compute(li, Seq("l_quantity"))
    val t = li.select(
      minMaxScaler(col("l_quantity"), stats("l_quantity")).as("mm"),
      standardScaler(col("l_quantity"), stats("l_quantity")).as("st"))
    val row = t.agg(min("mm"), max("mm"), avg("st")).collect().head
    assert(row.getDouble(0) === 0.0 && row.getDouble(1) === 1.0)
    assert(math.abs(row.getDouble(2)) < 1e-9)
  }

  test("label encoder maps sorted uniques to 0-based indices") {
    import Transformations._
    val df = Seq("b", "a", "c", "a").toDF("v")
    val stats = FeatureStatistics.compute(df, Nil, encoded = Seq("v"))
    val got = df.select(col("v"), labelEncoder(col("v"), stats("v")).as("i"))
      .distinct().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("one wide select applies transforms and drops consumed inputs") {
    import Transformations._
    val df = Seq((1.0, 2.0)).toDF("a", "b")
    val t = Transformation("mm", ModelDependent, Seq("a"), drop = Seq("a"),
      fn = (cols, st) => Seq(minMaxScaler(cols.head, st("a")).as("a_mm")))
    val out = fitApply(df, df, Seq(t))
    assert(out.columns.toSeq === Seq("b", "a_mm"))
  }

  test("fitStats computes exact percentiles only for transforms that need them") {
    import Transformations._
    val df = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0))
      .toDF("a", "b")
    val mm = Transformation("mm", ModelDependent, Seq("a"),
      fn = (cols, st) => Seq(minMaxScaler(cols.head, st("a")).as("a_mm")))
    val rob = Transformation("rob", ModelDependent, Seq("b"),
      fn = (cols, st) => Seq(robustScaler(cols.head, st("b")).as("b_rob")),
      needsQuantiles = true)
    // min-max-only fit: NO percentile aggregate is planned — compute()
    // assigns NaN quantiles exactly (and only) when the column is left out
    // of the percentile request, so NaN here proves the aggregate was
    // never requested for `a`
    val mmOnly = fitStats(df, Seq(mm))
    assert(mmOnly("a").min === 1.0 && mmOnly("a").max === 4.0)
    assert(mmOnly("a").p25.isNaN && mmOnly("a").median.isNaN &&
      mmOnly("a").p75.isNaN)
    // mixed fit: quantiles exact for the robust-scaled input only
    val mixed = fitStats(df, Seq(mm, rob))
    assert(mixed("a").p25.isNaN)
    assert(mixed("b").p25 === 17.5 && mixed("b").median === 25.0 &&
      mixed("b").p75 === 32.5)
    val out = applyAll(df, Seq(mm, rob), mixed)
    val r = out.agg(min("a_mm"), max("a_mm"), avg("b_rob")).collect().head
    assert(r.getDouble(0) === 0.0 && r.getDouble(1) === 1.0)
    assert(math.abs(r.getDouble(2)) < 1e-9)
  }

  test("approx quantiles track exact on the same column") {
    import Transformations._
    val df = spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) AS x")
    val exact = FeatureStatistics.compute(df, Seq("x"))("x")
    val approx = FeatureStatistics.compute(df, Seq("x"),
      approxQuantiles = true)("x")
    // 1000 distinct values at accuracy 10000: the sketch holds every
    // value, so approx lands within one step of the exact interpolated
    // percentile (approx_percentile returns an observed value, exact
    // interpolates between them)
    assert(math.abs(approx.p25 - exact.p25) <= 1.0, s"$approx vs $exact")
    assert(math.abs(approx.median - exact.median) <= 1.0)
    assert(math.abs(approx.p75 - exact.p75) <= 1.0)
    assert(approx.min === exact.min && approx.max === exact.max)
  }

  test("monitoring difference and shift detection") {
    assert(Statistics.differenceAndShift(12.0, 10.0, 0.1, relative = true)
      === ((0.2, true)))
    assert(Statistics.differenceAndShift(10.5, 10.0, 1.0, relative = false)
      === ((0.5, false)))
    val (d, s) = Statistics.differenceAndShift(5.0, 0.0, 1.0, relative = true)
    assert(d.isPosInfinity && s)
  }

  test("out-of-fold target encoding: hand-computed cells, no self-fold") {
    // (cat, fold) cells: (a,0) y=[1,0]; (a,1) y=[1,1]; (b,0) y=[0];
    // (b,1) y=[1] → S_a=3 n_a=4, S_b=1 n_b=2, S_f0=1 n_f0=3,
    // S_f1=3 n_f1=3, S=4 N=6; m=1
    val df = Seq(
      ("a", 0, 1), ("a", 0, 0), ("a", 1, 1), ("a", 1, 1),
      ("b", 0, 0), ("b", 1, 1)
    ).toDF("cat", "fold", "y")
    val out = Transformations
      .targetEncodeOutOfFold(df, "cat", col("y"), "fold", smoothing = 1.0)
      .collect()
    assert(out.length === 6, "row count preserved")
    val enc = out.map(r => (r.getAs[String]("cat"), r.getAs[Int]("fold")) ->
      r.getAs[Double]("target_enc")).toMap
    // enc(a,0) = ((3-1) + (4-1)/(6-3)) / ((4-2)+1) = 3/3 = 1.0
    assert(enc(("a", 0)) === 1.0)
    // enc(a,1) = ((3-2) + (4-3)/(6-3)) / ((4-2)+1) = (1+1/3)/3
    assert(enc(("a", 1)) === 0.444444444)
    // enc(b,0) = ((1-0) + (4-1)/(6-3)) / ((2-1)+1) = 2/2 = 1.0
    assert(enc(("b", 0)) === 1.0)
    // enc(b,1) = ((1-1) + (4-3)/(6-3)) / ((2-1)+1) = (1/3)/2
    assert(enc(("b", 1)) === 0.166666667)
  }

  test("target encoding: null category is its own group; broadcast plan") {
    val df = Seq(
      (Some("a"), 0, 1), (Some("a"), 1, 0),
      (None, 0, 1), (None, 1, 1)
    ).toDF("cat", "fold", "y")
    val out = Transformations
      .targetEncodeOutOfFold(df, "cat", col("y"), "fold", smoothing = 2.0)
    val rows = out.collect()
    assert(rows.length === 4)
    // null-category rows joined (null-safe) — encoding present
    assert(rows.filter(_.isNullAt(0)).forall(!_.isNullAt(rows.head.fieldIndex("target_enc"))))
    // the join back onto the data is a broadcast — the big side is
    // never shuffled for the encoding
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), s"expected broadcast join:\n$plan")
  }

  test("hashed cross: in range, deterministic, null != empty-string") {
    val df = Seq(
      (Some("a"), Some(1L)), (Some("a"), Some(1L)), // identical cross
      (Some("a"), Some(2L)),
      (None: Option[String], Some(1L)),             // null left
      (Some(""), Some(1L))                          // empty string left
    ).toDF("c1", "c2")
    val out = df.withColumn("b",
        Transformations.hashedCross(Seq(col("c1"), col("c2")), 64))
      .collect().map(_.getAs[Int]("b"))
    assert(out.forall(b => b >= 0 && b < 64))
    assert(out(0) === out(1), "same inputs → same bucket")
    // the \u0002 sentinel separates null from empty string: the pair
    // (null, 1) must not collide with ("", 1) by construction — and the
    // sentinel must not be \u0000, which the polynomial absorbs when
    // leading (h starts at 0, so hash("\u0000x") == hash("x"))
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String): Long =
      graft.functions.TextHash.charPolyHash(UTF8String.fromString(s))
    assert(h("\u0000\u00011") === h("\u00011"), "NUL is absorbing")
    assert(h("\u0002\u00011") !== h("\u00011"), "STX sentinel is not")
    // concat ambiguity: ("ab", "c") vs ("a", "bc") differ via separator
    val amb = Seq(("ab", "c"), ("a", "bc")).toDF("c1", "c2")
      .withColumn("b",
        Transformations.hashedCross(Seq(col("c1"), col("c2")), 1 << 20))
      .collect().map(_.getAs[Int]("b"))
    assert(amb(0) !== amb(1))
  }
}
