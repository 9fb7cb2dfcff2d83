package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid 2011, public method): the
  * memory-scale ANN path past int8 — each vector is split into `m`
  * subspaces, each subspace k-means-quantized to one of `k` codes, so a
  * `dim`-float vector compresses to `m` small ints (e.g. 64 floats =
  * 256 bytes → 8 bytes at m=8, k≤256) and search never touches the
  * original floats. Complements the existing family: LSH (q44) and IVF
  * (q45) shrink the CANDIDATE SET; int8 (q62) and PQ shrink the BYTES
  * PER CANDIDATE — at 100 TB the scan over codes is 32× less I/O than
  * the float scan, which is the difference between an in-memory code
  * table and a disk-bound pass (reference vector-db surface:
  * `core/vector_db_client.py` — index geometry is the engine's call).
  *
  * Scale shape mirrors [[IvfIndex]]: training is a bounded driver
  * sample (per-subspace Lloyd on the SAME seeded k-means — restarts,
  * empty-cell reseeding); encoding is one zero-shuffle codegen map pass
  * ([[VectorFunctions.NearestCells]] per subspace over sliced views);
  * ADC search broadcasts a per-query lookup table of
  * (subspace, code) → squared sub-distance and folds it with the
  * codegen [[VectorFunctions.AdcScore]] — so the corpus-sized pass
  * reads only the code column, and the per-query top-k is the same
  * keyed `InferWindowGroupLimit` window as [[Similarity.bruteForceKnn]]
  * (map-side partial top-k, the shuffle carries ≤ k·partitions rows per
  * query).
  */
object ProductQuantization {

  /** Trained codebooks: `codebooks(s)(c)` is subspace `s`'s centroid
    * `c` (length dim/m). `k` is the REQUESTED codes-per-subspace; a
    * subspace trained on fewer distinct points may hold fewer.
    */
  final case class Model(codebooks: Array[Array[Array[Float]]],
                         m: Int, k: Int, dim: Int) {
    def subDim: Int = dim / m
    /** LUT stride: max codebook size — every subspace's LUT slot block
      * is this wide so `s·stride + code` indexes a flat array. */
    def stride: Int = codebooks.map(_.length).max
  }

  /** Train per-subspace codebooks on a (sampled) corpus. The train set
    * — never the corpus — is collected, CAPPED at `trainMaxRows`
    * (codebooks need ~256·k points, the standard PQ prescription; the
    * default cap is 2048 points per code at k=16, already generous —
    * train cost must stay CONSTANT in corpus size or the build's
    * driver-side Lloyd grows with the data, which the 30× probe caught
    * at 8× wall). Use `trainSampleFraction` for randomness at scale
    * (the cap alone takes the scan's first rows); each subspace runs
    * the shared seeded k-means ([[IvfIndex.localKMeans]]: k-means++
    * init, restarts, empty-cell reseeding) on its slice.
    */
  def train(corpus: DataFrame, vecCol: String, m: Int, k: Int,
            trainSampleFraction: Double = 1.0, seed: Long = 42L,
            maxIter: Int = 20, trainMaxRows: Int = 32768): Model = {
    require(m >= 1 && k >= 2, s"need m >= 1 subspaces and k >= 2 codes, got $m/$k")
    require(trainMaxRows >= k, s"trainMaxRows $trainMaxRows < k=$k")
    val trainDf = (if (trainSampleFraction < 1.0)
      corpus.sample(withReplacement = false, trainSampleFraction, seed)
    else corpus).select(col(vecCol).cast("array<float>").as("_f"))
    val head = trainDf.limit(trainMaxRows).collect()
    val pts = head.map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    require(pts.nonEmpty, "PQ training sample is empty")
    val dim = pts.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sd = dim / m
    val codebooks = Array.tabulate(m) { s =>
      val sub = pts.map(p => java.util.Arrays.copyOfRange(p, s * sd, (s + 1) * sd))
      IvfIndex.localKMeans(sub, math.min(k, sub.length), seed + s, maxIter)
    }
    Model(codebooks, m, k, dim)
  }

  /** Encode every vector to its `array<int>` code word — one codegen
    * argmin per subspace over a sliced view, zero shuffle; the encoded
    * table is what a 100 TB deployment persists (32× smaller at rest
    * and in every downstream scan).
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             model: Model): DataFrame =
    corpus.select(col(idCol), codeWord(col(vecCol), model).as("codes"))

  /** The code-word column itself — one codegen argmin per subspace over
    * a sliced view; exposed so compositions ([[IvfPq]]) can carry extra
    * columns (cell id) through the encode without a re-join.
    */
  def codeWord(vec: org.apache.spark.sql.Column, model: Model)
      : org.apache.spark.sql.Column = {
    val sd = model.subDim
    array((0 until model.m).map { s =>
      VectorFunctions.vecNearestCells(
        slice(vec, s * sd + 1, sd), model.codebooks(s), 1).getItem(0)
    }: _*)
  }

  /** ADC top-k search over an encoded corpus. Per query, the flat LUT
    * `lut[s·stride + c] = ||q_s − codebook(s)(c)||²` is computed on the
    * tiny (|queries| × Σ|codebook|)-row cross frame with an EXACT
    * interpreted fold (bit-stable, off the hot path), assembled in
    * subspace-major order, and broadcast; the corpus pass is then one
    * codegen [[VectorFunctions.AdcScore]] fold per (row, query) and the
    * standard keyed top-k window. Scores are approximate squared L2 —
    * ascending, ties broken by id like every ranker here.
    */
  /** Per-group flat LUT of (subspace, code) → exact squared sub-distance
    * from `vecCol` to every codebook centroid, assembled in
    * subspace-major `s·stride + code` order. Every subspace emits a FULL
    * stride-wide slot block (unfilled slots — a subspace that trained
    * < stride codes — get +inf): the flat indexing needs dense
    * positions, and encode never emits a code pointing at a filler
    * slot. The frame is tiny (|groups| × m × stride rows before the
    * groupBy), so the exact interpreted double fold is off the hot path.
    * Shared by [[adcSearch]] (grouped by query) and [[IvfPq]] (grouped
    * by (query, probed cell) with the residual query vector).
    */
  private[graft] def lutFrame(frame: DataFrame, groupCols: Seq[String],
                              vecCol: String, model: Model): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    val sd = model.subDim
    val stride = model.stride
    val cb = model.codebooks.zipWithIndex.flatMap { case (book, s) =>
      (0 until stride).map { c =>
        (s, c,
          if (c < book.length) Option(book(c).toSeq.map(_.toDouble)) else None)
      }
    }.toSeq.toDF("_sub", "_code", "_cent")
    val d2 = when(col("_cent").isNotNull, aggregate(
      zip_with(slice(col(vecCol), col("_sub") * sd + 1, lit(sd))
          .cast("array<double>"),
        col("_cent"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)).otherwise(lit(Double.MaxValue))
    frame.crossJoin(broadcast(cb))
      .withColumn("_pos", col("_sub") * stride + col("_code"))
      .withColumn("_d2", d2)
      .groupBy(groupCols.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_d2")))),
        x => x.getField("_d2")).as("_lut"))
  }

  def adcSearch(encoded: DataFrame, idCol: String, codesCol: String,
                model: Model, queries: DataFrame, queryIdCol: String,
                queryVecCol: String, k: Int): DataFrame = {
    val lut = lutFrame(queries, Seq(queryIdCol), queryVecCol, model)
      .select(col(queryIdCol), col("_lut"))
    val scored = encoded.crossJoin(broadcast(lut))
      .withColumn("_adc",
        VectorFunctions.vecAdcScore(col(codesCol), col("_lut"), model.stride))
    topK(scored, queryIdCol, idCol, col("_adc").asc, k)
      .select(col(queryIdCol), col(idCol), col("_adc").as("adc_score"),
        col("_rank").as("rank"))
  }

  /** The production PQ composition: ADC over the code table produces a
    * `shortlist`-deep candidate set per query, then ONLY those rows'
    * original vectors are re-scored exactly and the top `k` re-ranked —
    * so the corpus-sized pass reads codes (32× less I/O), and the float
    * vectors are touched for `shortlist·|queries|` rows total (a
    * broadcast-semi-shaped join, never a second corpus pass's worth of
    * compute). Recall@k is then purely "did the true top-k survive the
    * shortlist" — the candidates themselves rank exactly. Same output
    * shape and (score, id) tie-break as [[Similarity.bruteForceKnn]].
    */
  def searchRefined(encoded: DataFrame, idCol: String, codesCol: String,
                    model: Model, corpus: DataFrame, vecCol: String,
                    queries: DataFrame, queryIdCol: String,
                    queryVecCol: String, k: Int, shortlist: Int,
                    metric: VectorFunctions.Metric = VectorFunctions.L2)
      : DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val cand = adcSearch(encoded, idCol, codesCol, model,
        queries, queryIdCol, queryVecCol, shortlist)
      .select(col(queryIdCol), col(idCol))
    refineExact(cand, corpus, idCol, vecCol,
      queries, queryIdCol, queryVecCol, k, metric)
  }

  /** Exact re-rank of an ANN candidate set: only the candidates' rows
    * touch their float vectors (one broadcast-joined corpus subset),
    * then the standard keyed top-k. Shared by [[searchRefined]] and
    * [[IvfPq.searchRefined]].
    */
  private[graft] def refineExact(cand: DataFrame, corpus: DataFrame,
                                 idCol: String, vecCol: String,
                                 queries: DataFrame, queryIdCol: String,
                                 queryVecCol: String, k: Int,
                                 metric: VectorFunctions.Metric): DataFrame = {
    val qv = queries.select(col(queryIdCol), col(queryVecCol))
    val rescored = corpus.select(col(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(qv), Seq(queryIdCol))
      .withColumn("_score",
        VectorFunctions.distance(metric)(col(vecCol), col(queryVecCol)))
    val ord = metric match {
      case VectorFunctions.L2 => col("_score").asc
      case _                  => col("_score").desc
    }
    topK(rescored, queryIdCol, idCol, ord, k)
      .select(col(queryIdCol), col(idCol), col("_score").as("score"),
        col("_rank").as("rank"))
  }

  /** The vector searches' one per-query top-k: `scored` ranked within
    * each `queryIdCol` by `order`, ties broken by `idCol` ascending, with
    * the ranks ≤ `k` kept in column `rank`. ONE window: Spark's
    * InferWindowGroupLimit already plants a partial (map-side)
    * WindowGroupLimit before the exchange, so the shuffle carries
    * ≤ k × partitions × queries rows — a hand-rolled two-stage top-k
    * just adds a second full Exchange for the same pruning.
    */
  private[graft] def topK(scored: DataFrame, queryIdCol: String,
                          idCol: String, order: org.apache.spark.sql.Column,
                          k: Int, rank: String = "_rank"): DataFrame =
    scored.withColumn(rank, row_number().over(
        Window.partitionBy(col(queryIdCol)).orderBy(order, col(idCol).asc)))
      .filter(col(rank) <= k)
}
