package graft

import graft.functions.VectorFunctions
import graft.ops.{Quantization, Similarity}
import org.apache.spark.sql.functions._

class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("quantize/dequantize round-trips within half a quantization step") {
    val p = Quantization.fit(emb, "embedding", 64)
    val rows = emb.select(col("embedding"),
        Quantization.dequantize(
          Quantization.quantize(col("embedding"), p), p).as("deq"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getSeq[Float](0)
      val b = r.getSeq[Float](1)
      (0 until 64).foreach { i =>
        assert(math.abs(a(i) - b(i)) <= p.scales(i) / 2 + 1e-4,
          s"dim $i: ${a(i)} vs ${b(i)}")
      }
    }
  }

  test("int8 stage-1 distance tracks exact L2") {
    val p = Quantization.fit(emb, "embedding", 64)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe")).limit(1)
    val both = emb.crossJoin(broadcast(q))
      .select(
        VectorFunctions.vecL2(col("embedding"), col("qe")).as("exact"),
        VectorFunctions.vecInt8L2(
          Quantization.quantize(col("embedding"), p),
          Quantization.quantize(col("qe"), p), p.scales).as("approx"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1))
        <= 0.05 * r.getDouble(0) + 0.1,
        s"exact ${r.getDouble(0)} vs int8 ${r.getDouble(1)}")
    }
  }

  test("quantizedKnn clears 0.9 recall vs the exact top-5") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ann = Quantization.quantizedKnn(emb, "vec_id", "embedding",
        queries, "qid", "qe", k = 5, dim = 64, refine = 4)
      .select("qid", "vec_id")
    val exact = Similarity.bruteForceKnn(emb, "vec_id", "embedding",
        queries, "qid", "qe", k = 5, metric = VectorFunctions.L2)
      .select("qid", "vec_id")
    val recall =
      ann.join(exact, Seq("qid", "vec_id")).count().toDouble / exact.count()
    assert(recall >= 0.9, s"recall $recall")
  }

  test("quantized IVF index persists and searches with high recall") {
    import graft.ops.IvfIndex
    val tmp = tempDir("graft_qivf").toString
    val idx = IvfIndex.build(emb, "vec_id", "embedding",
      nCells = 4, trainSampleFraction = 0.5, maxIter = 8)
    val qi = IvfIndex.quantize(idx, "vec_id", "embedding")
    IvfIndex.saveQuantized(qi, tmp)
    val loaded = IvfIndex.loadQuantized(spark, tmp)
    assert(loaded.params.mins.toSeq == qi.params.mins.toSeq &&
      loaded.params.scales.toSeq == qi.params.scales.toSeq)

    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ann = IvfIndex.searchQuantized(loaded, emb, "vec_id", "embedding",
        queries, "qid", "qe", k = 5, nProbe = 3, refine = 4)
      .select("qid", "vec_id")
    val exact = Similarity.bruteForceKnn(emb, "vec_id", "embedding",
        queries, "qid", "qe", k = 5, metric = VectorFunctions.L2)
      .select("qid", "vec_id")
    val recall =
      ann.join(exact, Seq("qid", "vec_id")).count().toDouble / exact.count()
    assert(recall >= 0.7, s"recall $recall")
    // in-memory and loaded indexes must agree row-for-row
    val annMem = IvfIndex.searchQuantized(qi, emb, "vec_id", "embedding",
        queries, "qid", "qe", k = 5, nProbe = 3, refine = 4)
      .select("qid", "vec_id")
    assert(annMem.except(ann).count() == 0 && ann.except(annMem).count() == 0)
  }

  test("fit round-trips constant dimensions exactly") {
    val df = Seq((1L, Seq(1.5f, -2f)), (2L, Seq(1.5f, 3f))).toDF("id", "v")
    val p = Quantization.fit(df, "v", 2)
    assert(p.scales(0) == 1f, "constant dim must get the degenerate scale")
    val deq = df.orderBy("id").select(
      Quantization.dequantize(Quantization.quantize(col("v"), p), p))
      .collect()
    deq.foreach(r => assert(r.getSeq[Float](0).head == 1.5f))
  }

  test("matryoshka recall: full prefix = 1.0, informative prefix beats tiny") {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // truncating to the FULL dimension is the identity: recall 1 everywhere
    val full = Similarity.matryoshkaRecall(emb, "vec_id", "embedding",
      queries, "qid", "qe", k = 5, dims = 64).collect()
    assert(full.length === 10)
    assert(full.forall(_.getAs[Double]("recall") === 1.0))
    // a 32-dim prefix carries more of a random vector's geometry than a
    // 4-dim one: mean recall must be strictly ordered
    def mean(d: Int) = Similarity.matryoshkaRecall(emb, "vec_id",
        "embedding", queries, "qid", "qe", k = 5, dims = d)
      .agg(avg(col("recall"))).collect().head.getDouble(0)
    assert(mean(32) > mean(4))
  }
}
