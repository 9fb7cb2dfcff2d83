package graft

import graft.ops.{ProductQuantization, Similarity, Statistics, TextAnalysis}

/** Round-10 retrieval + calibration additions: BM25, reciprocal-rank
  * fusion, product quantization, split-conformal thresholds.
  */
class RetrievalConformalSpec extends SparkSpec {
  import spark.implicits._

  // ---- BM25 ---------------------------------------------------------------

  private val bmDocs = Seq(
    (1L, "a b a"), (2L, "a c"), (3L, "c c d"), (4L, "b b")).toDF("id", "text")

  /** The exact dag bm25 computes, same op order, for hand verification. */
  private def bmScore(tf: Long, df: Long, dl: Long, n: Long,
                      avgdl: Double): Double = {
    val idf = math.log(1.0 + ((n - df).toDouble + 0.5) / (df.toDouble + 0.5))
    idf * (tf.toDouble * (1.0 + 1.2)) /
      (tf.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * dl.toDouble / avgdl))
  }

  test("bm25: hand-computed scores, absent docs absent") {
    val q = Seq((7L, "a d")).toDF("qid", "qtext")
    val out = TextAnalysis.bm25(bmDocs, "id", "text", q, "qid", "qtext")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    // N = 4 docs, total tokens = 3+2+3+2 = 10
    val avgdl = 10.0 / 4.0
    // doc1: only 'a' (tf 2, df 2, dl 3); doc2: 'a' (tf 1, dl 2);
    // doc3: only 'd' (tf 1, df 1, dl 3); doc4 matches nothing
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === r4(bmScore(2, 2, 3, 4, avgdl)))
    assert(out(2L) === r4(bmScore(1, 2, 2, 4, avgdl)))
    assert(out(3L) === r4(bmScore(1, 1, 3, 4, avgdl)))
    assert(!out.contains(4L), "doc matching no query term must be absent")
  }

  test("bm25: repeated query terms are deduplicated") {
    val q1 = Seq((7L, "a d")).toDF("qid", "qtext")
    val q2 = Seq((7L, "a a d a")).toDF("qid", "qtext")
    val a = TextAnalysis.bm25(bmDocs, "id", "text", q1, "qid", "qtext")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val b = TextAnalysis.bm25(bmDocs, "id", "text", q2, "qid", "qtext")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(a === b)
  }

  test("bm25: a term in over half the corpus keeps a positive idf") {
    // 'a' is in 3 of 4 docs — raw RSJ idf would be ln((4-3+0.5)/3.5) < 0
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b")).toDF("id", "text")
    val q = Seq((1L, "a")).toDF("qid", "qtext")
    val scores = TextAnalysis.bm25(docs, "id", "text", q, "qid", "qtext")
      .collect().map(_.getDouble(2))
    assert(scores.nonEmpty && scores.forall(_ > 0.0))
  }

  // ---- RRF fusion ---------------------------------------------------------

  test("rrfFuse: exact two-list arithmetic, absence, tie-break") {
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("qid", "id", "rank")
    val vec = Seq((1L, 20L, 1), (1L, 30L, 2)).toDF("qid", "id", "rank")
    val out = Similarity.rrfFuse(Seq(lex, vec), "qid", "id", "rank", c = 60)
      .collect()
      .map(r => (r.getLong(1),
        (r.getDouble(2), r.getLong(3), r.getInt(4)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 20: rank 2 in lex + rank 1 in vec — two addends, IEEE-exact
    assert(out(20L) === ((r6(1.0 / 62 + 1.0 / 61), 2L, 1)))
    assert(out(10L) === ((r6(1.0 / 61), 1L, 2)), "rank-1 single-list")
    assert(out(30L) === ((r6(1.0 / 62), 1L, 3)), "rank-2 single-list")
  }

  test("rrfFuse: equal fused scores break ties by id ascending") {
    val a = Seq((1L, 5L, 1), (1L, 3L, 2)).toDF("qid", "id", "rank")
    val b = Seq((1L, 3L, 1), (1L, 5L, 2)).toDF("qid", "id", "rank")
    val ranks = Similarity.rrfFuse(Seq(a, b), "qid", "id", "rank")
      .collect().map(r => (r.getLong(1), r.getInt(4))).toMap
    assert(ranks(3L) === 1 && ranks(5L) === 2)
  }

  // ---- Product quantization ----------------------------------------------

  test("pq: corpus at centroids — ADC distance is the exact squared L2") {
    // 4 distinct points, k = 4 → Lloyd converges to the points themselves
    val vecs = Seq(
      (1L, Seq(0f, 0f, 4f, 0f)), (2L, Seq(1f, 0f, 0f, 2f)),
      (3L, Seq(0f, 3f, 1f, 0f)), (4L, Seq(2f, 2f, 2f, 2f)))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>").as("vec"))
    val model = ProductQuantization.train(vecs, "vec", m = 2, k = 4,
      seed = 7L, maxIter = 25)
    val enc = ProductQuantization.encode(vecs, "id", "vec", model)
    val codes = enc.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.flatten.forall(c => c >= 0 && c < 4))
    assert(codes.values.map(_.toList).toSet.size === 4,
      "distinct points must encode to distinct code words")
    val q = Seq((9L, Seq(1f, 1f, 1f, 1f))).toDF("qid", "qe")
      .select($"qid", $"qe".cast("array<float>").as("qe"))
    val adc = ProductQuantization.adcSearch(enc, "id", "codes", model,
        q, "qid", "qe", k = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val truth = Map(
      1L -> Seq(0f, 0f, 4f, 0f), 2L -> Seq(1f, 0f, 0f, 2f),
      3L -> Seq(0f, 3f, 1f, 0f), 4L -> Seq(2f, 2f, 2f, 2f))
    truth.foreach { case (id, v) =>
      val d2 = v.zip(Seq(1f, 1f, 1f, 1f))
        .map { case (x, y) => val d = x.toDouble - y.toDouble; d * d }.sum
      assert(math.abs(adc(id) - d2) < 1e-9, s"doc $id ADC vs true d2")
    }
  }

  test("pq: searchRefined with shortlist = corpus size equals exact kNN") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat()))).toDF("id", "vec")
      .select($"id", $"vec".cast("array<float>").as("vec"))
    val queries = vecs.filter($"id" < 3)
      .select($"id".as("qid"), $"vec".as("qe"))
    val model = ProductQuantization.train(vecs, "vec", m = 4, k = 8,
      seed = 3L, maxIter = 15)
    val enc = ProductQuantization.encode(vecs, "id", "vec", model)
    val got = ProductQuantization.searchRefined(enc, "id", "codes", model,
        vecs, "vec", queries, "qid", "qe", k = 5, shortlist = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = Similarity.bruteForceKnn(vecs, "id", "vec",
        queries, "qid", "qe", k = 5,
        metric = graft.functions.VectorFunctions.L2, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got === exact,
      "full-shortlist refine must reduce to exact search")
  }

  test("ivfpq: all-cells probe + full shortlist reduces to exact kNN") {
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 80L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat()))).toDF("id", "vec")
      .select($"id", $"vec".cast("array<float>").as("vec"))
    val queries = vecs.filter($"id" < 3)
      .select($"id".as("qid"), $"vec".as("qe"))
    val idx = ops.IvfPq.build(vecs, "id", "vec", nCells = 4, m = 4, k = 8,
      seed = 13L, maxIter = 15)
    val got = ops.IvfPq.searchRefined(idx, "id", vecs, "vec",
        queries, "qid", "qe", k = 5, shortlist = 80, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = Similarity.bruteForceKnn(vecs, "id", "vec",
        queries, "qid", "qe", k = 5,
        metric = graft.functions.VectorFunctions.L2, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got === exact,
      "exhaustive probe + full shortlist must reduce to exact search")
  }

  test("ivfpq: nProbe=1 results come only from the query's nearest cell") {
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 80L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat()))).toDF("id", "vec")
      .select($"id", $"vec".cast("array<float>").as("vec"))
    val queries = vecs.filter($"id" < 3)
      .select($"id".as("qid"), $"vec".as("qe"))
    val idx = ops.IvfPq.build(vecs, "id", "vec", nCells = 4, m = 4, k = 8,
      seed = 13L, maxIter = 15)
    val cellOf = idx.encoded.select($"id", $"_cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = ops.IvfPq.search(idx, "id", queries, "qid", "qe",
        k = 10, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a query vector IS a corpus vector here, so its own cell is its
    // nearest cell — every hit must share it
    got.foreach { case (qid, id) =>
      assert(cellOf(id) === cellOf(qid),
        s"query $qid surfaced $id from an unprobed cell")
    }
    assert(got.nonEmpty)
  }

  test("pq: train rejects indivisible dims and oversized k honors sample") {
    val vecs = Seq((1L, Seq(1f, 2f, 3f))).toDF("id", "vec")
      .select($"id", $"vec".cast("array<float>").as("vec"))
    intercept[IllegalArgumentException] {
      ProductQuantization.train(vecs, "vec", m = 2, k = 2)
    }
    val m1 = ProductQuantization.train(vecs, "vec", m = 3, k = 16)
    assert(m1.codebooks.forall(_.length === 1),
      "k is capped at the number of training points")
    assert(m1.stride === 1)
  }

  // ---- quantile binning ---------------------------------------------------

  test("quantileBin: equal-frequency bins, ties share a bin, keys isolate") {
    val df = ((1 to 8).map(v => ("k1", v.toDouble)) ++
      Seq(("k2", 1.0), ("k2", 5.0), ("k2", 5.0), ("k2", 9.0)))
      .toDF("k", "v")
    val out = ops.Transformations.quantileBin(df, Seq("k"), $"v", nBins = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    val k1 = out.filter(_._1 == "k1")
    assert(k1.filter(_._2 <= 4.0).forall(_._3 === 0))
    assert(k1.filter(_._2 >= 5.0).forall(_._3 === 1))
    // k2: n=4, value 5.0 has rank_below 1 → bin ⌊1·2/4⌋ = 0 for BOTH
    // tied rows (ties share a bin); 9.0 → ⌊3·2/4⌋ = 1
    val k2 = out.filter(_._1 == "k2").map(r => r._2 -> r._3).toMap
    assert(k2(1.0) === 0 && k2(5.0) === 0 && k2(9.0) === 1)
  }

  test("quantileBin: max value lands in the top bin, nulls drop") {
    val df = ((1 to 100).map(v => ("a", Option(v.toDouble))) :+
      ("a", Option.empty[Double])).toDF("k", "v")
    val out = ops.Transformations.quantileBin(df, Seq("k"), $"v", nBins = 10)
      .collect().map(r => r.getDouble(1) -> r.getInt(2))
    assert(out.length === 100, "null values are dropped")
    assert(out.toMap.apply(100.0) === 9)
    assert(out.toMap.apply(1.0) === 0)
    // exactly 10 rows per bin on a tie-free uniform column
    assert(out.groupBy(_._2).values.forall(_.size === 10))
  }

  // ---- hard negatives -----------------------------------------------------

  test("mineHardNegatives excludes self and the labeled positive") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.99f, 0.1f)), (3L, Seq(0.9f, 0.2f)),
      (4L, Seq(0.5f, 0.5f)), (5L, Seq(0f, 1f)))
      .toDF("id", "vec").select($"id", $"vec".cast("array<float>").as("vec"))
    val q = Seq((1L, Seq(1f, 0f), 2L)).toDF("qid", "qe", "rel")
      .select($"qid", $"qe".cast("array<float>").as("qe"), $"rel")
    val out = Similarity.mineHardNegatives(vecs, "id", "vec",
        q, "qid", "qe", "rel", k = 10)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // doc 2 (the positive) and doc 1 (self) must be absent; the rest
    // rank by cosine desc: 3, 4, 5
    assert(out.map(_._1).toSeq === Seq(3L, 4L, 5L))
    assert(out.map(_._2).toSeq === Seq(1, 2, 3))
  }

  // ---- Krippendorff's alpha ----------------------------------------------

  test("krippendorff: perfect agreement is 1, hand case matches closed form") {
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("unit", "label")
    val p = Statistics.krippendorffAlpha(perfect, "unit", "label")
      .collect().head
    assert(p.getAs[Double]("alpha") === 1.0)
    // hand case: u1 {a,a}, u2 {a,b}, u3 {b,b}, u4 {b,b,b}
    val df = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "b"), (3L, "b"), (4L, "b"), (4L, "b"), (4L, "b"))
      .toDF("unit", "label")
    val r = Statistics.krippendorffAlpha(df, "unit", "label")
      .collect().head
    // D_o: only u2 disagrees — 1·(2−1)/1 twice = 2.0; n = 9,
    // marginals a=3 b=6 → D_e = (81 − (9+36))/8 = 36/8 = 4.5
    assert(r.getAs[Long]("n_units") === 4L)
    assert(r.getAs[Long]("n_ratings") === 9L)
    assert(r.getAs[Double]("d_o") === 2.0)
    assert(r.getAs[Double]("d_e") === 4.5)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("alpha") === r6(1.0 - 2.0 / 4.5))
  }

  test("krippendorff: single-rating units drop; single value nulls alpha") {
    val df = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("unit", "label")
    val r = Statistics.krippendorffAlpha(df, "unit", "label")
      .collect().head
    assert(r.getAs[Long]("n_units") === 1L, "unit 2 has one rating — dropped")
    assert(r.getAs[Long]("n_ratings") === 2L)
    // after the drop only value 'a' remains → D_e = 0 → alpha undefined
    assert(r.isNullAt(r.fieldIndex("alpha")))
  }

  // ---- split-conformal threshold ------------------------------------------

  test("conformal: ceil((n+1)(1-alpha)) position, exact integer algebra") {
    // key A: scores 1..10 — α=1/10 → r = ⌈11·0.9⌉ = 10 → threshold 10;
    // α=1/2 → r = ⌈11·0.5⌉ = 6 → threshold 6
    val df = (1 to 10).map(i => ("A", i.toDouble)).toDF("k", "s")
    val t10 = Statistics.conformalThreshold(df, Seq("k"), $"s", 1, 10)
      .collect().head
    assert(t10.getLong(1) === 10L && t10.getDouble(2) === 10.0)
    val t2 = Statistics.conformalThreshold(df, Seq("k"), $"s", 1, 2)
      .collect().head
    assert(t2.getDouble(2) === 6.0)
  }

  test("conformal: too-small calibration set emits NULL, not a clamp") {
    // key B has n=3 < 10/1 − 1 = 9 → r = ⌈4·0.9⌉ = 4 > 3 → null
    val df = ((1 to 10).map(i => ("A", i.toDouble)) ++
      Seq(("B", 1.0), ("B", 2.0), ("B", 3.0))).toDF("k", "s")
    val out = Statistics.conformalThreshold(df, Seq("k"), $"s", 1, 10)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out("A").isNullAt(2) && out("A").getLong(1) === 10L)
    assert(out("B").isNullAt(2), "n too small for the target coverage")
    assert(out("B").getLong(1) === 3L)
  }

  test("conformal: empirical coverage meets the target") {
    // ties + multiple keys: coverage fraction ≥ 1 − α per key
    val rnd = new scala.util.Random(5)
    val df = (1 to 400).map { i =>
      (if (i % 2 == 0) "x" else "y", (rnd.nextInt(50) + 1).toDouble)
    }.toDF("k", "s")
    val th = Statistics.conformalThreshold(df, Seq("k"), $"s", 1, 10)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    Seq("x", "y").foreach { k =>
      val scores = df.filter($"k" === k).collect().map(_.getDouble(1))
      val cov = scores.count(_ <= th(k)).toDouble / scores.length
      assert(cov >= 0.9, s"key $k coverage $cov below 1 − α")
    }
  }
}
