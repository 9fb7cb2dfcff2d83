package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ: the composition that makes billion-vector ANN tractable
  * (Jégou 2011's IVFADC — the index family FAISS popularized; public
  * method). [[IvfIndex]] cells prune the CANDIDATE SET (a query probes
  * `nProbe` cells, not the corpus); [[ProductQuantization]] residual
  * codes shrink the BYTES PER CANDIDATE (each probed row is an `m`-int
  * code word, not `dim` floats). PQ encodes the RESIDUAL `v − c(v)`
  * against the row's cell centroid, not the raw vector — residuals
  * concentrate near zero, so the same code budget quantizes far finer
  * than direct PQ on the raw space.
  *
  * Scale shape: build trains both quantizers on bounded driver samples
  * (the shared seeded k-means) and encodes in ONE corpus pass — cell
  * assignment and code word are both codegen argmins; the residual
  * subtraction is the pass's only interpreted expression (one-time
  * build cost, stored with the table). Persisted cell-partitioned (the
  * [[IvfIndex.save]] layout), a probe's cell filter is partition
  * pruning at the scan. Search joins the encoded table to a broadcast
  * per-(query, probed-cell) LUT — each corpus row meets only the
  * queries probing ITS cell — and folds with the codegen
  * [[VectorFunctions.AdcScore]]; the exact-refine variant then
  * re-scores `shortlist·|queries|` float rows, nothing more.
  */
object IvfPq {

  final case class Index(cells: Array[(Int, Array[Float])],
                         pq: ProductQuantization.Model,
                         encoded: DataFrame)

  def build(corpus: DataFrame, idCol: String, vecCol: String,
            nCells: Int, m: Int, k: Int,
            trainSampleFraction: Double = 1.0, seed: Long = 42L,
            maxIter: Int = 20, trainMaxRows: Int = 32768): Index = {
    val ivf = IvfIndex.build(corpus, idCol, vecCol, nCells,
      trainSampleFraction, seed, maxIter, trainMaxRows = trainMaxRows)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cellDf = ivf.centroids.toSeq
      .map { case (c, v) => (c, v.toSeq) }.toDF("_cell", "_ccent")
    val resid = ivf.assigned.join(broadcast(cellDf), Seq("_cell"))
      .withColumn("_resid",
        zip_with(col(vecCol).cast("array<float>"),
          col("_ccent").cast("array<float>"), (x, y) => x - y))
    // the PQ codebooks train on residuals (seed offset so the two
    // quantizers never share an init even at nCells = k)
    val pq = ProductQuantization.train(resid, "_resid", m, k,
      trainSampleFraction, seed + 1000, maxIter, trainMaxRows = trainMaxRows)
    val encoded = resid.select(col(idCol), col("_cell"),
      ProductQuantization.codeWord(col("_resid"), pq).as("codes"))
    Index(ivf.centroids, pq, encoded)
  }

  /** ADC search over the probed cells only: approximate squared L2 via
    * the residual LUT — for a row in cell `c`,
    * `||q − v||² ≈ ||(q − centroid_c) − resid_code||²`, which is
    * exactly the LUT built from the query's OWN residual against cell
    * `c`. Output ordered ascending, (score, id) tie-break.
    */
  def search(index: Index, idCol: String,
             queries: DataFrame, queryIdCol: String, queryVecCol: String,
             k: Int, nProbe: Int = 4): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val cents = index.cells.map(_._2)
    val cellDf = index.cells.toSeq
      .map { case (c, v) => (c, v.toSeq) }.toDF("_cell", "_ccent")
    val probes = queries
      .select(col(queryIdCol), col(queryVecCol),
        explode(VectorFunctions.vecNearestCells(
          col(queryVecCol), cents, nProbe)).as("_cell"))
      .join(broadcast(cellDf), Seq("_cell"))
      .withColumn("_qresid",
        zip_with(col(queryVecCol).cast("array<float>"),
          col("_ccent").cast("array<float>"), (x, y) => x - y))
    val lut = ProductQuantization.lutFrame(probes,
      Seq(queryIdCol, "_cell"), "_qresid", index.pq)
    val scored = index.encoded.join(broadcast(lut), Seq("_cell"))
      .withColumn("_adc", VectorFunctions.vecAdcScore(
        col("codes"), col("_lut"), index.pq.stride))
    ProductQuantization.topK(scored, queryIdCol, idCol, col("_adc").asc, k)
      .select(col(queryIdCol), col(idCol), col("_adc").as("adc_score"),
        col("_rank").as("rank"))
  }

  /** The production read path: probed-cell ADC shortlist → exact
    * re-rank of the shortlist rows' float vectors (same composition as
    * [[ProductQuantization.searchRefined]], with the IVF candidate
    * pruning in front).
    */
  def searchRefined(index: Index, idCol: String,
                    corpus: DataFrame, vecCol: String,
                    queries: DataFrame, queryIdCol: String,
                    queryVecCol: String, k: Int, shortlist: Int,
                    nProbe: Int = 4,
                    metric: VectorFunctions.Metric = VectorFunctions.L2)
      : DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val cand = search(index, idCol, queries, queryIdCol, queryVecCol,
        shortlist, nProbe)
      .select(col(queryIdCol), col(idCol))
    ProductQuantization.refineExact(cand, corpus, idCol, vecCol,
      queries, queryIdCol, queryVecCol, k, metric)
  }
}
