package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for embedding columns — the memory/bandwidth
  * scale path for similarity search (no reference analog; the reference
  * delegates ANN to OpenSearch, core/vector_db_client.py:107-200).
  *
  * At 100 TB an `array<float>` embedding column dominates scan and
  * shuffle cost. Affine per-dimension int8 cuts it 4×: candidate
  * generation runs the codegen'd [[VectorFunctions.Int8L2Distance]] byte
  * loop over quantized vectors, and only the ≤ k·refine candidates per
  * query ever touch float data again (exact re-rank). Quantization error
  * is bounded by scale/2 per dimension, and the re-rank stage makes the
  * final ordering exact over the candidate set — recall is the only
  * approximation.
  */
object Quantization {

  /** Per-dimension affine parameters: x̂ = min_i + scale_i · (q_i + 128). */
  final case class QuantParams(mins: Array[Float], scales: Array[Float]) {
    def dim: Int = mins.length
  }

  /** One aggregate pass over the corpus: per-dimension min/max → params.
    * 2·dim scalar aggregates in a single job — never a collect of vectors.
    */
  def fit(df: DataFrame, vecCol: String, dim: Int): QuantParams = {
    require(dim >= 1, "dim must be positive")
    val aggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col(vecCol), i + 1)).as(s"_mn$i"),
      max(element_at(col(vecCol), i + 1)).as(s"_mx$i")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val mins = new Array[Float](dim)
    val scales = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val mn = if (row.isNullAt(2 * i)) 0f else row.getFloat(2 * i)
      val mx = if (row.isNullAt(2 * i + 1)) 0f else row.getFloat(2 * i + 1)
      mins(i) = mn
      scales(i) = if (mx > mn) (mx - mn) / 255f else 1f
      i += 1
    }
    QuantParams(mins, scales)
  }

  def quantize(vec: Column, p: QuantParams): Column =
    VectorFunctions.vecQuantize(vec, p.mins, p.scales)

  def dequantize(bin: Column, p: QuantParams): Column =
    VectorFunctions.vecDequantize(bin, p.mins, p.scales)

  /** Approximate k-NN (L2) with an int8 stage-1 scan and exact re-rank.
    *
    * Plan shape: corpus quantized in the map side of the scan (binary,
    * 4× smaller than the float column), queries quantized and broadcast;
    * the stage-1 window carries only (queryId, id, distance) — Spark's
    * map-side WindowGroupLimit prunes to ≤ k·refine rows per (partition,
    * query) before the only full-width shuffle. The candidate set then
    * joins back to the corpus for float vectors (AQE broadcasts the
    * candidate ids against the big side) and is re-ranked exactly.
    *
    * @param refine stage-1 over-fetch factor (top k·refine candidates)
    * @param params pre-fit quantizer (e.g. persisted with an index); fit
    *               on the corpus when absent
    */
  def quantizedKnn(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, dim: Int, refine: Int = 4,
      params: Option[QuantParams] = None,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && refine >= 1, "k and refine must be positive")
    val p = params.getOrElse(fit(corpus, vecCol, dim))

    val qCorpus = corpus.select(col(idCol), quantize(col(vecCol), p).as("_qv"))
    val qQueries = queries.select(col(queryIdCol),
      quantize(col(queryVecCol), p).as("_qq"))

    val approx = qCorpus.join(broadcast(qQueries))
      .filter(if (excludeSelf) col(idCol) =!= col(queryIdCol) else lit(true))
      .select(col(queryIdCol), col(idCol),
        VectorFunctions.vecInt8L2(col("_qv"), col("_qq"), p.scales).as("_ad"))
    rerankL2(approx, corpus, idCol, vecCol,
      queries, queryIdCol, queryVecCol, k, refine)
  }

  /** The int8 searches' shared tail: the top k·refine of `approx`
    * (queryId, id, int8 distance `_ad`) per query, joined back to
    * `corpus` for float vectors and re-ranked by exact L2 to the top k.
    * Used by [[quantizedKnn]] and [[IvfIndex.searchQuantized]].
    */
  private[graft] def rerankL2(approx: DataFrame, corpus: DataFrame,
                              idCol: String, vecCol: String,
                              queries: DataFrame, queryIdCol: String,
                              queryVecCol: String, k: Int,
                              refine: Int): DataFrame = {
    val cands = ProductQuantization.topK(approx, queryIdCol, idCol,
        col("_ad").asc, k * refine, rank = "_r")
      .select(col(queryIdCol), col(idCol))
    val withVecs = cands
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(queryIdCol), col(queryVecCol))),
        Seq(queryIdCol))
      .withColumn("_score",
        VectorFunctions.vecL2(col(vecCol), col(queryVecCol)))
    ProductQuantization.topK(withVecs, queryIdCol, idCol, col("_score").asc, k)
      .select(col(queryIdCol), col(idCol), col("_score").as("score"),
        col("_rank").as("rank"))
  }
}
