package graft

import graft.ops.{IncrementalStats, Multimodal}
import org.apache.spark.sql.functions._

/** The round-8 additions: perceptual average-hash, mergeable incremental
  * moments, and the driver-local Lloyd k-means path.
  */
class IncrementalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("averageHash: pixel-identical payloads collide, distinct ones don't") {
    // ids 1 and 38 share img 1 via the mod-37 fold used by q97; plant the
    // same image directly here
    val df = Seq(1L, 2L, 3L).toDF("img")
      .withColumn("doc", col("img"))
    val planted = Multimodal.withPlantedPng(
      df.select(col("doc"), when(col("img") === 3L, lit(1L))
        .otherwise(col("img")).as("img")), "img", "png")
    val hashed = Multimodal.averageHash(planted, "png", "h")
      .select("doc", "h_hi", "h_lo").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hashed(1L) == hashed(3L), "identical images must collide")
    assert(hashed(1L) != hashed(2L), "different planted images must differ")
  }

  test("averageHash matches a hand-computed uniform-image case") {
    // a planted image with id where all pixels equal? No closed-form id
    // gives constant pixels, so verify the bit rule directly instead: the
    // hash of any image has ~half its bits set and is deterministic
    val df = Seq(5L).toDF("img")
    val hashed = Multimodal.averageHash(
      Multimodal.withPlantedPng(df, "img", "png"), "png", "h")
    val r1 = hashed.select("h_hi", "h_lo").collect().head
    val r2 = Multimodal.averageHash(
      Multimodal.withPlantedPng(df, "img", "png"), "png", "h")
      .select("h_hi", "h_lo").collect().head
    assert(r1 == r2, "hash must be deterministic across runs")
    val bits = java.lang.Long.bitCount(r1.getLong(0)) +
      java.lang.Long.bitCount(r1.getLong(1))
    // at-or-above-mean rule: at least one bit set, never all 64
    assert(bits > 0 && bits < 64, s"degenerate bit count $bits")
  }

  test("averageHash: null and undecodable payloads yield null halves") {
    val df = Seq((1L, Array[Byte](1, 2, 3)), (2L, null))
      .toDF("id", "png")
    val out = Multimodal.averageHash(df, "png", "h")
      .select("id", "h_hi", "h_lo").collect()
    out.foreach { r => assert(r.isNullAt(1) && r.isNullAt(2)) }
  }

  test("incremental moments: merge of partials equals a direct rescan") {
    val rows = (1 to 500).map { i =>
      (if (i % 3 == 0) "a" else "b", i.toLong % 17, (i * 7 % 101).toLong)
    }
    val df = rows.toDF("k", "bucket", "v")
    val merged = IncrementalStats.merge(
      IncrementalStats.partials(df, Seq("k"), col("bucket"), col("v")),
      Seq("k"))
    val direct = df.groupBy("k").agg(count("v").as("n"),
      sum("v").as("sum_v"), sum(col("v") * col("v")).as("sum_sq"),
      min("v").as("min_v"), max("v").as("max_v"),
      countDistinct("bucket").as("n_buckets"))
    assert(merged.except(direct).count() == 0 &&
      direct.except(merged).count() == 0)
  }

  test("incremental moments compose: a merge of merges is still exact") {
    val rows = (1 to 300).map { i => ("k", i.toLong % 7, i.toLong) }
    val df = rows.toDF("k", "bucket", "v")
    val p = IncrementalStats.partials(df, Seq("k"), col("bucket"), col("v"))
    // fold buckets in two arbitrary halves, then fold the folds: the
    // merged output must re-enter merge as a valid partial (drop the
    // n_buckets bookkeeping column, re-labelling each half as one bucket)
    val h1 = IncrementalStats.merge(p.filter(col("bucket") < 4), Seq("k"))
      .drop("n_buckets").withColumn("bucket", lit(0L))
    val h2 = IncrementalStats.merge(p.filter(col("bucket") >= 4), Seq("k"))
      .drop("n_buckets").withColumn("bucket", lit(1L))
    val refold = IncrementalStats.merge(h1.unionByName(h2), Seq("k"))
      .drop("n_buckets")
    val direct = IncrementalStats.merge(p, Seq("k")).drop("n_buckets")
    assert(refold.except(direct).count() == 0 &&
      direct.except(refold).count() == 0)
  }

  test("batch sessionization: gap breaks, inclusive boundary, one exchange") {
    // user 1: events at 0, 10, 25, 100, 105 s with gap 15 s →
    // sessions {0,10,25} (10→25 is EXACTLY the gap, stays in) and
    // {100,105}; user 2: one event
    val us = 1000000L
    val df = Seq((1L, 0L), (1L, 10L), (1L, 25L), (1L, 100L), (1L, 105L),
      (2L, 7L)).map { case (u, sec) => (u, sec * us, 1L) }
      .toDF("user_id", "ts_us", "v")
    val out = graft.ops.Sessionization.sessionFeatures(df, Seq("user_id"),
        col("ts_us"), col("v"), gapUs = 15L * us)
      .orderBy("user_id", "session_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2) / us, r.getLong(3) / us,
      r.getLong(4))).toSeq ===
      Seq((1L, 0L, 25L, 3L), (1L, 100L, 105L, 2L), (2L, 7L, 7L, 1L)))
    // the session aggregation must reuse the window's exchange: exactly
    // one shuffle in the whole plan
    val plan = graft.ops.Sessionization.sessionFeatures(df, Seq("user_id"),
      col("ts_us"), col("v"), gapUs = 15L * us)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length === 1,
      s"expected one exchange:\n$plan")
  }

  test("psiDrift: identical populations score ~0, a shifted one scores high") {
    val same = (1 to 400).map { i =>
      ("t", (i % 20).toDouble, i % 2 == 0)
    }.toDF("k", "v", "is_ref")
    val psi0 = graft.ops.Monitoring.psiDrift(same, Seq("k"), col("v"),
      col("is_ref"), bins = 10, lo = 0.0, hi = 20.0)
      .select("psi").as[Double].collect().head
    assert(math.abs(psi0) < 0.01, s"identical populations gave psi $psi0")
    // detection population pushed entirely into the top bins
    val shifted = (1 to 400).map { i =>
      val ref = i % 2 == 0
      ("t", if (ref) (i % 10).toDouble else 15.0 + i % 5, ref)
    }.toDF("k", "v", "is_ref")
    val psi1 = graft.ops.Monitoring.psiDrift(shifted, Seq("k"), col("v"),
      col("is_ref"), bins = 10, lo = 0.0, hi = 20.0)
      .select("psi").as[Double].collect().head
    assert(psi1 > 0.25, s"fully shifted population gave psi $psi1")
    // out-of-range values clamp into the edge bins instead of vanishing
    val clamped = Seq(("t", -5.0, true), ("t", 99.0, false))
      .toDF("k", "v", "is_ref")
    val row = graft.ops.Monitoring.psiDrift(clamped, Seq("k"), col("v"),
      col("is_ref"), bins = 4, lo = 0.0, hi = 8.0)
      .select("ref_total", "det_total").collect().head
    assert(row.getLong(0) == 1L && row.getLong(1) == 1L)
  }

  test("psiFromCounts on merged stored partials equals a direct psiDrift") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 600).map { i =>
      ("t", rnd.nextDouble() * 20.0, i % 2 == 0, i % 3)
    }
    val df = rows.toDF("k", "v", "is_ref", "day")
    val direct = graft.ops.Monitoring.psiDrift(df, Seq("k"), col("v"),
      col("is_ref"), bins = 10, lo = 0.0, hi = 20.0).collect().head
    // store per-day count partials, fold with plain sums, score zero-scan
    val bin = least(greatest(floor(col("v") / 2.0), lit(0L)), lit(9L))
      .cast("int")
    val partials = df.groupBy(col("k"), col("day"), bin.as("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("det_n"))
    val folded = partials.groupBy("k", "bin")
      .agg(sum("ref_n").as("ref_n"), sum("det_n").as("det_n"))
    val stored = graft.ops.Monitoring.psiFromCounts(folded, Seq("k"), 10)
      .collect().head
    assert(stored === direct)
  }

  test("wassersteinDrift: 0 when identical, mass x distance when shifted") {
    val same = (1 to 400).map(i => ("t", (i % 20).toDouble, i % 2 == 0))
      .toDF("k", "v", "is_ref")
    // width-2 bins put ref evens and det odds in the same cell (same
    // grid as the KS test) — binned-identical populations score 0
    val w0 = graft.ops.Monitoring.wassersteinDrift(same, Seq("k"),
      col("v"), col("is_ref"), bins = 10, lo = 0.0, hi = 20.0)
      .select("w1").as[Double].collect().head
    assert(w0 === 0.0)
    // ref at 0.5, det at 5.5 (bins 0 and 5 only, width 1): the CDF gap
    // is 1 across bins 0-4, so W1 = 5.0 — and bins 1-4 are ABSENT from
    // the count frame, which is exactly the span-weighting case
    val shifted = (1 to 100).map { i =>
      val ref = i % 2 == 0
      ("t", if (ref) 0.5 else 5.5, ref)
    }.toDF("k", "v", "is_ref")
    val w5 = graft.ops.Monitoring.wassersteinDrift(shifted, Seq("k"),
      col("v"), col("is_ref"), bins = 10, lo = 0.0, hi = 10.0)
      .select("w1").as[Double].collect().head
    assert(w5 === 5.0, s"expected the 5-bin move, got $w5")
  }

  test("ksDrift: identical ~0, disjoint = 1, stored partials = direct") {
    val same = (1 to 400).map(i => ("t", (i % 20).toDouble, i % 2 == 0))
      .toDF("k", "v", "is_ref")
    val ks0 = graft.ops.Monitoring.ksDrift(same, Seq("k"), col("v"),
      col("is_ref"), bins = 10, lo = 0.0, hi = 20.0)
      .select("ks").as[Double].collect().head
    assert(ks0 === 0.0)
    // ref entirely below 10, det entirely above → ECDF gap hits 1
    val disjoint = (1 to 400).map { i =>
      val ref = i % 2 == 0
      ("t", if (ref) (i % 10).toDouble else 10.0 + i % 10, ref)
    }.toDF("k", "v", "is_ref")
    val ks1 = graft.ops.Monitoring.ksDrift(disjoint, Seq("k"), col("v"),
      col("is_ref"), bins = 10, lo = 0.0, hi = 20.0)
      .select("ks").as[Double].collect().head
    assert(ks1 === 1.0)
    // fold per-day partials, score zero-scan, compare to direct
    val df = (1 to 500).map(i =>
      ("t", (i * 13 % 97).toDouble / 5.0, i % 2 == 0, i % 3))
      .toDF("k", "v", "is_ref", "day")
    val direct = graft.ops.Monitoring.ksDrift(df, Seq("k"), col("v"),
      col("is_ref"), bins = 10, lo = 0.0, hi = 20.0).collect().head
    val bin = least(greatest(floor(col("v") / 2.0), lit(0L)), lit(9L))
      .cast("int")
    val folded = df.groupBy(col("k"), col("day"), bin.as("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("det_n"))
      .groupBy("k", "bin")
      .agg(sum("ref_n").as("ref_n"), sum("det_n").as("det_n"))
    assert(graft.ops.Monitoring.ksFromCounts(folded, Seq("k"))
      .collect().head === direct)
  }

  test("chiSquareDrift: identical distributions ~0, shifted ones large") {
    val same = (1 to 600).map(i => ("t", s"c${i % 3}", i % 2 == 0))
      .toDF("k", "cat", "is_ref")
    val r0 = graft.ops.Monitoring.chiSquareDrift(same, Seq("k"),
      col("cat"), col("is_ref")).collect().head
    assert(r0.getDouble(r0.fieldIndex("chi2")) === 0.0)
    assert(r0.getLong(r0.fieldIndex("dof")) === 2L)
    // ref all category a, det all category b → chi2 = n
    val flipped = (1 to 600).map { i =>
      val ref = i % 2 == 0
      ("t", if (ref) "a" else "b", ref)
    }.toDF("k", "cat", "is_ref")
    val r1 = graft.ops.Monitoring.chiSquareDrift(flipped, Seq("k"),
      col("cat"), col("is_ref")).collect().head
    assert(r1.getDouble(r1.fieldIndex("chi2")) === 600.0)
    assert(r1.getLong(r1.fieldIndex("dof")) === 1L)
  }

  test("embeddingCentroidDrift: mirrored windows ~0, shifted windows move") {
    // both windows hold the SAME vector set → identical centroids
    val vecs = (1 to 100).map(i => Array.tabulate(8)(d =>
      ((i * 7 + d * 3) % 11).toFloat))
    val same = vecs.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, "a", v.toSeq, true), (i.toLong, "a", v.toSeq, false))
    }.toDF("id", "label", "embedding", "is_ref")
    val r0 = graft.ops.Monitoring.embeddingCentroidDrift(same, Seq("label"),
      "embedding", col("is_ref")).collect().head
    assert(math.abs(r0.getDouble(r0.fieldIndex("cos_dist"))) <= 0.0001)
    assert(r0.getDouble(r0.fieldIndex("l2_dist")) === 0.0)
    assert(r0.getLong(r0.fieldIndex("ref_total")) === 100L &&
      r0.getLong(r0.fieldIndex("det_total")) === 100L)
    // detection window shifted by a constant offset in dim 0
    val shifted = vecs.zipWithIndex.flatMap { case (v, i) =>
      val d = v.clone(); d(0) += 5.0f
      Seq((i.toLong, "a", v.toSeq, true), (i.toLong, "a", d.toSeq, false))
    }.toDF("id", "label", "embedding", "is_ref")
    val r1 = graft.ops.Monitoring.embeddingCentroidDrift(shifted,
      Seq("label"), "embedding", col("is_ref")).collect().head
    assert(r1.getDouble(r1.fieldIndex("l2_dist")) === 5.0)
    assert(r1.getDouble(r1.fieldIndex("cos_dist")) > 0.0)
  }

  test("robust anomaly summary: per-key median/MAD, planted outliers flagged") {
    // key a: 99 values in 10..12, one wild outlier; key b: tight cluster
    val rows = (1 to 99).map(i => ("a", 10.0 + (i % 3))) ++
      Seq(("a", 500.0)) ++ (1 to 50).map(i => ("b", 7.0))
    val df = rows.toDF("k", "v")
    val out = graft.ops.Monitoring.robustAnomalySummary(df, Seq("k"),
      col("v")).orderBy("k").collect()
    val a = out(0); val b = out(1)
    assert(a.getDouble(a.fieldIndex("median")) === 11.0)
    assert(a.getDouble(a.fieldIndex("mad")) === 1.0)
    assert(a.getLong(a.fieldIndex("n_anomalies")) === 1L,
      "exactly the planted outlier")
    assert(a.getLong(a.fieldIndex("n")) === 100L)
    // constant population: MAD 0, nothing beats a strict > gate... except
    // nothing deviates, so zero anomalies
    assert(b.getDouble(b.fieldIndex("mad")) === 0.0)
    assert(b.getLong(b.fieldIndex("n_anomalies")) === 0L)
    // per-key lower median agrees with the driver-side lowerMedian
    val global = graft.ops.Splits.lowerMedian(
      df.filter(col("k") === "a").select(col("v").as("s")), "s")
    val byKey = graft.ops.Splits.lowerMedianByKey(df, Seq("k"), col("v"))
      .filter(col("k") === "a").select("median").as[Double].collect().head
    assert(byKey === global)
  }

  test("monitoring engine runs a persisted PSI drift config end-to-end") {
    import graft.ops.Monitoring._
    val wh = tempDir("graft_mon").toString
    val eng = new MonitoringEngine(spark, wh)
    // detection = last hour, reference = the hour before it; detection
    // values concentrated high, reference low → strong drift
    val now = 7200000L
    val rows = (1 to 300).map { i =>
      val det = i % 2 == 0
      val t = if (det) now - 1800000L else now - 5400000L
      (t + i, if (det) 8.0 + (i % 2) else 1.0 + (i % 2))
    }
    val df = rows.toDF("ts", "v")
    eng.saveConfig(MonitoringConfig("psi_cfg", "fg", 1, "v", "ts",
      detection = WindowSpec(Some(3600000L)),
      reference = Some(WindowSpec(Some(3600000L), offsetMillis = 3600000L)),
      comparison = ComparisonSpec("psi", threshold = 0.25,
        bins = 10, lo = 0.0, hi = 10.0),
      schedule = ScheduleSpec(everyMillis = 1000L)))
    // config survives the JSON round-trip with its drift grid intact
    val loaded = eng.getConfig("psi_cfg").get
    assert(loaded.comparison.bins === 10 &&
      loaded.comparison.hi === 10.0 && loaded.comparison.metric === "psi")
    val fired = eng.runDue(now, _ => df)
    assert(fired.size === 1)
    assert(fired.head.shiftDetected, s"psi ${fired.head.difference}")
    assert(fired.head.difference > 1.0)
    assert(fired.head.detectionValue === 150.0 &&
      fired.head.referenceValue === 150.0)
    // the result is in the persisted log; the schedule debounces
    assert(eng.results().filter(col("configName") === "psi_cfg")
      .count() === 1L)
    assert(eng.runDue(now, _ => df).isEmpty)
  }

  test("frameDiff: added/removed/changed with null-safe payload compare") {
    val before = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, null, 3.0),
      (4L, "d", 4.0)).toDF("id", "s", "x")
    val after = Seq((1L, "a", 1.0), (2L, "B", 2.0), (3L, null, 3.0),
      (5L, "e", 5.0)).toDF("id", "s", "x")
    val out = graft.ops.SchemaOps.frameDiff(before, after, Seq("id"))
      .orderBy("id").collect()
    // 1 unchanged (dropped), 3 unchanged with null payload (null-safe
    // compare — dropped, not 'changed'), 2 changed, 4 removed, 5 added
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((2L, "changed"), (4L, "removed"), (5L, "added")))
    val changed = out(0)
    assert(changed.getString(changed.fieldIndex("before_s")) === "b")
    assert(changed.getString(changed.fieldIndex("after_s")) === "B")
    val added = out(2)
    assert(added.isNullAt(added.fieldIndex("before_s")))
    assert(added.getString(added.fieldIndex("after_s")) === "e")
  }

  test("vocabulary: rank by count with token tie-break, coverage cumsum") {
    val docs = Seq(
      (1L, "aa bb aa cc"), (2L, "aa bb dd"), (3L, "aa")
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.vocabulary(docs, "doc_id", "text", 3)
      .collect()
    // pre-tokens keep their leading space, so doc-initial "aa" and
    // mid-doc " aa" are distinct: "aa"=3 (3 docs), " bb"=2 (2 docs),
    // then the count-1 tie { " aa", " cc", " dd" } breaks on token asc
    // → " aa"; 8 total occurrences
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSeq ===
      Seq((1L, "aa", 3L, 3L), (2L, " bb", 2L, 2L), (3L, " aa", 1L, 1L)))
    assert(out.map(_.getDouble(4)).toSeq === Seq(0.375, 0.625, 0.75))
  }

  test("winsorize clips into exact per-key rational quantiles") {
    // key a: values 1..100 → p10 = 10, p90 = 90 under the lower-quantile
    // rule (cum·10 ≥ n·1 at v=10; cum·10 ≥ n·9 at v=90)
    val df = ((1 to 100).map(i => ("a", i.toDouble)) ++
      Seq(("b", 5.0), ("b", 6.0))).toDF("k", "v")
    val out = graft.ops.Transformations.winsorize(df, Seq("k"), col("v"),
      lowNum = 1, highNum = 9, den = 10)
    val a = out.filter(col("k") === "a")
    assert(a.select(min("value_wins")).as[Double].collect().head === 10.0)
    assert(a.select(max("value_wins")).as[Double].collect().head === 90.0)
    // interior values untouched
    assert(a.filter(col("v") === 50.0).select("value_wins")
      .as[Double].collect().head === 50.0)
    val b = out.filter(col("k") === "b").select("q_low", "q_high")
      .distinct().collect().head
    assert((b.getDouble(0), b.getDouble(1)) === (5.0, 6.0))
  }

  test("cohortRetention: first-period cohorts, offsets, exact fractions") {
    // user 1 active periods {0,1,3}; user 2 {0}; user 3 {1,2}
    val df = Seq((1L, 5L), (1L, 15L), (1L, 35L), (2L, 7L), (2L, 8L),
      (3L, 12L), (3L, 25L)).toDF("u", "t")
    val out = graft.ops.Sessionization.cohortRetention(df, "u", col("t"),
        bucketUs = 10L)
      .orderBy("cohort", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq === Seq(
      (0L, 0L, 2L, 2L, 1.0),   // users 1,2 in cohort 0
      (0L, 1L, 1L, 2L, 0.5),   // user 1 back in period 1
      (0L, 3L, 1L, 2L, 0.5),   // user 1 back in period 3
      (1L, 0L, 1L, 1L, 1.0),   // user 3 cohorts at period 1
      (1L, 1L, 1L, 1L, 1.0)))  // user 3 back in period 2
  }

  test("forward label window counts only the strict future horizon") {
    // user 1: click at t=100; views at 100 (same instant — excluded),
    // 150 (in), 86400000100 (exactly t+24h — inclusive), later (out);
    // purchase at 200 (in)
    val rows = Seq(
      (10L, 1L, 100L, "click", 0L), (11L, 1L, 100L, "view", 0L),
      (12L, 1L, 150L, "view", 0L), (13L, 1L, 86400000100L, "view", 0L),
      (14L, 1L, 86400000101L, "view", 0L), (15L, 1L, 200L, "purchase", 250L)
    ).toDF("event_id", "user_id", "ts_us", "event_type", "cents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(1L, 86400000000L)
    val out = rows
      .withColumn("fv", coalesce(sum(when(col("event_type") === "view", 1L)
        .otherwise(0L)).over(w), lit(0L)))
      .withColumn("fs", coalesce(sum(when(col("event_type") === "purchase",
        col("cents")).otherwise(0L)).over(w), lit(0L)))
      .filter(col("event_type") === "click")
      .select("fv", "fs").collect().head
    assert(out.getLong(0) === 2L, "views at t and past t+24h excluded")
    assert(out.getLong(1) === 250L)
  }

  test("localKMeans recovers well-separated clusters deterministically") {
    val rnd = new scala.util.Random(7)
    val pts = Array.tabulate(300) { i =>
      val c = i % 3
      Array.tabulate(8)(d => (c * 10.0 + rnd.nextGaussian() * 0.1 +
        (if (d == c) 5.0 else 0.0)).toFloat)
    }
    val a = graft.ops.IvfIndex.localKMeans(pts, 3, seed = 42L, maxIter = 20)
    val b = graft.ops.IvfIndex.localKMeans(pts, 3, seed = 42L, maxIter = 20)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "same seed must give identical centroids")
    // every centroid should sit near one cluster mean: distance to the
    // nearest generated center well under the inter-cluster gap
    val centers = Array.tabulate(3) { c =>
      Array.tabulate(8)(d => c * 10.0 + (if (d == c) 5.0 else 0.0))
    }
    a.foreach { cen =>
      val dmin = centers.map { t =>
        math.sqrt(t.zip(cen).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.min
      assert(dmin < 1.0, s"centroid far from any true center: $dmin")
    }
  }
}
