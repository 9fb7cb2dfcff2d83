package graft.ops

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.{Cosine, Metric}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor index: the classic
  * coarse-quantizer design (trained centroids partition the corpus; a query
  * probes only the `nProbe` nearest cells). Complements the hash-based
  * [[Similarity.lshKnn]] — IVF adapts to the data distribution, so recall
  * on clustered real-world embeddings is far better at the same candidate
  * budget.
  *
  * Scale shape: training samples the corpus (KMeans on a bounded sample),
  * assignment is one broadcast-centroid pass over the corpus (storable —
  * at 100 TB the assignment is written once alongside the table, ideally
  * partitioned by cell so a probe is partition pruning); search touches
  * only the probed cells' rows.
  */
object IvfIndex {

  final case class Index(centroids: Array[(Int, Array[Float])],
                         assigned: DataFrame)

  /** Train-sample row cap under which k-means runs ON THE DRIVER instead
    * of as MLlib jobs. The coarse-quantizer train set is bounded by design
    * (~256 rows/cell — [[graft.ops.Dedup.semanticDedupAuto]]), so Lloyd
    * iterations over it are pure CPU; running them as up-to-20 distributed
    * no-op-sized Spark jobs pays per-job scheduling latency for nothing.
    * At 100 TB the sample is still ≤ this cap for any sane cell count —
    * the distributed path below remains for oversized explicit requests.
    */
  private val MaxLocalTrainRows = 200000

  /** Seeded k-means++ init + Lloyd iterations, driver-local, best of
    * [[Restarts]] seeded inits by within-cluster SSE — restarts buy the
    * init quality MLlib gets from k-means|| at driver-CPU prices.
    * Converges on max centroid movement < tol (same stopping rule as
    * MLlib's default). Empty cells are reseeded from the point farthest
    * from its centroid, so the requested k is always honored.
    */
  private val Restarts = 4

  private[graft] def localKMeans(points: Array[Array[Float]], k: Int,
                                 seed: Long, maxIter: Int,
                                 tol: Double = 1e-4): Array[Array[Float]] = {
    val runs = (0 until Restarts).map { r =>
      val cs = localKMeansOnce(points, k, seed + r, maxIter, tol)
      val dim = points.head.length
      var sse = 0.0
      points.foreach { p =>
        var best = Double.MaxValue; var c = 0
        while (c < cs.length) {
          var s = 0.0; var i = 0
          while (i < dim) { val d = p(i) - cs(c)(i); s += d * d; i += 1 }
          if (s < best) best = s
          c += 1
        }
        sse += best
      }
      (sse, cs)
    }
    runs.minBy(_._1)._2
  }

  private def localKMeansOnce(points: Array[Array[Float]], k: Int,
                              seed: Long, maxIter: Int,
                              tol: Double): Array[Array[Float]] = {
    require(points.nonEmpty, "k-means needs at least one training point")
    val dim = points.head.length
    val rnd = new java.util.Random(seed)
    def d2(a: Array[Float], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding
    val centers = Array.ofDim[Double](k, dim)
    val first = points(rnd.nextInt(points.length))
    var c = 0
    while (c < dim) { centers(0)(c) = first(c); c += 1 }
    val minD2 = points.map(p => d2(p, centers(0)))
    var ci = 1
    while (ci < k) {
      val total = minD2.sum
      var pick = 0
      if (total <= 0) pick = rnd.nextInt(points.length)
      else {
        var r = rnd.nextDouble() * total; var i = 0
        while (i < points.length - 1 && r > minD2(i)) { r -= minD2(i); i += 1 }
        pick = i
      }
      var j = 0
      while (j < dim) { centers(ci)(j) = points(pick)(j); j += 1 }
      var i = 0
      while (i < points.length) {
        val d = d2(points(i), centers(ci))
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
      ci += 1
    }
    // Lloyd
    val assign = Array.ofDim[Int](points.length)
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = Double.MaxValue; var cc = 0
        while (cc < k) {
          val d = d2(points(i), centers(cc))
          if (d < bestD) { bestD = d; best = cc }
          cc += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.ofDim[Double](k, dim)
      val counts = Array.ofDim[Long](k)
      i = 0
      while (i < points.length) {
        val a = assign(i); counts(a) += 1
        var j = 0
        while (j < dim) { sums(a)(j) += points(i)(j); j += 1 }
        i += 1
      }
      moved = 0.0
      var cc = 0
      while (cc < k) {
        if (counts(cc) == 0) {
          // reseed an empty cell from the globally worst-fit point,
          // skipping points already claimed as a reseed THIS iteration
          // (assign(p) == an earlier empty cell): without the skip, two
          // empty cells in one Lloyd pass both grab the same worst point
          // and converge as duplicate centroids
          var worst = -1; var worstD = -1.0; var p = 0
          while (p < points.length) {
            val d = d2(points(p), centers(assign(p)))
            if (d > worstD) { worstD = d; worst = p }
            p += 1
          }
          if (worst >= 0) {
            var j = 0
            while (j < dim) { sums(cc)(j) = points(worst)(j); j += 1 }
            counts(cc) = 1
            // claim the point: centers(cc) becomes exactly this point
            // below, so its d2 under the new assignment is 0 and the
            // next empty cell's worst-point scan can never re-pick it
            assign(worst) = cc
          }
        }
        var delta = 0.0; var j = 0
        while (j < dim) {
          val nv = sums(cc)(j) / counts(cc)
          val dj = nv - centers(cc)(j)
          delta += dj * dj
          centers(cc)(j) = nv
          j += 1
        }
        if (delta > moved) moved = delta
        cc += 1
      }
      iter += 1
    }
    centers.map(_.map(_.toFloat))
  }

  /** Train the coarse quantizer (k-means on a sample — never the full
    * corpus at scale) and assign every corpus row to its cell with the
    * codegen'd [[VectorFunctions.NearestCells]] argmin: a zero-shuffle
    * map pass, instead of a broadcast-cross-join (nCells × |corpus| rows)
    * plus a full-table window. Training itself is driver-local for any
    * bounded sample (one collect, CPU-speed Lloyd) and falls back to
    * MLlib's distributed KMeans only when the sample exceeds
    * [[MaxLocalTrainRows]].
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            nCells: Int, trainSampleFraction: Double = 1.0,
            seed: Long = 42L, maxIter: Int = 20,
            trainMaxRows: Int = MaxLocalTrainRows): Index = {
    require(trainMaxRows >= nCells, s"trainMaxRows $trainMaxRows < nCells")
    val trainDf = (if (trainSampleFraction < 1.0)
      corpus.sample(withReplacement = false, trainSampleFraction, seed)
    else corpus).select(col(vecCol).cast("array<float>").as("features"))
    // one bounded collect decides the path: ≤ cap rows → local Lloyd.
    // trainMaxRows is the ABSOLUTE sample bound (~256 points per cell is
    // plenty) — train cost must stay constant in corpus size; the
    // fraction only buys randomness on top of it
    val head = trainDf.limit(
      if (trainMaxRows < MaxLocalTrainRows) trainMaxRows
      else MaxLocalTrainRows + 1).collect()
    val centroids: Array[(Int, Array[Float])] =
      if (head.length <= MaxLocalTrainRows) {
        val pts = head.map(
          _.getAs[scala.collection.Seq[Float]](0).toArray)
        localKMeans(pts, math.min(nCells, pts.length), seed, maxIter)
          .zipWithIndex.map { case (cen, i) => i -> cen }
      } else {
        val model = new KMeans().setK(nCells).setSeed(seed)
          .setMaxIter(maxIter)
          .fit(trainDf.select(array_to_vector(
            col("features").cast("array<double>")).as("features")))
        model.clusterCenters.zipWithIndex.map { case (cen, i) =>
          i -> cen.toArray.map(_.toFloat)
        }
      }
    val cents = centroids.map(_._2)
    val assigned = corpus.withColumn("_cell",
      VectorFunctions.vecNearestCells(col(vecCol), cents, 1).getItem(0))
    Index(centroids, assigned)
  }

  /** Persist the index: centroids plus the assignment PARTITIONED BY
    * `_cell`, so a probe's cell filter becomes partition pruning at the
    * scan — at 100 TB a search then reads only the probed cells' files,
    * never the corpus. Build once per corpus version, search many times.
    */
  def save(index: Index, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.toSeq
      .map { case (cell, c) => (cell, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // repartition by cell first: a bare partitionBy write emits
    // (input-partitions × cells) splinter files — the small-files problem
    // at corpus scale; one shuffle buys one file per cell
    index.assigned.repartition(col("_cell")).write.mode("overwrite")
      .partitionBy("_cell").parquet(s"$path/assigned")
  }

  /** Load a persisted index. The assignment scan stays lazy — search's
    * cell join prunes partitions instead of reading the corpus.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect()
      .map(r => r.getInt(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toArray)
      .sortBy(_._1)
    Index(centroids, spark.read.parquet(s"$path/assigned"))
  }

  /** IVF index with int8-quantized vectors: cells give partition-pruned
    * probes AND the stored vector column is 4× smaller than float32 —
    * stage 1 scans quantized bytes in the probed cells only; the exact
    * re-rank joins the k·refine candidate ids back to the float corpus.
    * The two scale levers (read less of the index, store less per row)
    * compose.
    */
  final case class QuantizedIndex(centroids: Array[(Int, Array[Float])],
                                  params: Quantization.QuantParams,
                                  assigned: DataFrame)

  /** Quantize a built index's vectors (fits params on the corpus when not
    * supplied; dim comes from the centroids).
    */
  def quantize(index: Index, idCol: String, vecCol: String,
               params: Option[Quantization.QuantParams] = None)
      : QuantizedIndex = {
    val dim = index.centroids.head._2.length
    val p = params.getOrElse(Quantization.fit(index.assigned, vecCol, dim))
    QuantizedIndex(index.centroids, p,
      index.assigned.select(col(idCol),
        Quantization.quantize(col(vecCol), p).as("_qv"), col("_cell")))
  }

  def saveQuantized(qi: QuantizedIndex, path: String): Unit = {
    val spark = qi.assigned.sparkSession
    import spark.implicits._
    qi.centroids.toSeq.map { case (cell, c) => (cell, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    qi.params.mins.zip(qi.params.scales).zipWithIndex.toSeq
      .map { case ((mn, sc), i) => (i, mn, sc) }
      .toDF("dim", "min", "scale")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    qi.assigned.repartition(col("_cell")).write.mode("overwrite")
      .partitionBy("_cell").parquet(s"$path/assigned")
  }

  def loadQuantized(spark: org.apache.spark.sql.SparkSession,
                    path: String): QuantizedIndex = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect()
      .map(r => r.getInt(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toArray)
      .sortBy(_._1)
    val ps = spark.read.parquet(s"$path/params")
      .collect().map(r => (r.getInt(0), r.getFloat(1), r.getFloat(2)))
      .sortBy(_._1)
    QuantizedIndex(centroids,
      Quantization.QuantParams(ps.map(_._2), ps.map(_._3)),
      spark.read.parquet(s"$path/assigned"))
  }

  /** Search the quantized index (L2): int8 stage-1 over the probed cells,
    * exact float re-rank of the top k·refine candidates against `corpus`.
    */
  def searchQuantized(qi: QuantizedIndex, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      queries: DataFrame, queryIdCol: String,
                      queryVecCol: String,
                      k: Int, nProbe: Int = 4, refine: Int = 4,
                      excludeSelf: Boolean = true): DataFrame = {
    val cents = qi.centroids.map(_._2)
    val probes = queries
      .select(col(queryIdCol),
        Quantization.quantize(col(queryVecCol), qi.params).as("_qq"),
        explode(VectorFunctions.vecNearestCells(
          col(queryVecCol), cents, nProbe)).as("_cell"))

    val approx = qi.assigned.join(broadcast(probes), "_cell")
      .filter(if (excludeSelf) col(idCol) =!= col(queryIdCol) else lit(true))
      .select(col(queryIdCol), col(idCol),
        VectorFunctions.vecInt8L2(col("_qv"), col("_qq"), qi.params.scales)
          .as("_ad"))
    Quantization.rerankL2(approx, corpus, idCol, vecCol,
      queries, queryIdCol, queryVecCol, k, refine)
  }

  /** Search: probe the `nProbe` nearest cells per query, exact-score only
    * those cells' rows, return top-k per query.
    */
  def search(index: Index, idCol: String, vecCol: String,
             queries: DataFrame, queryIdCol: String, queryVecCol: String,
             k: Int, nProbe: Int = 4, metric: Metric = Cosine,
             excludeSelf: Boolean = true): DataFrame = {
    val cents = index.centroids.map(_._2)
    val probes = queries
      .select(col(queryIdCol), col(queryVecCol),
        explode(VectorFunctions.vecNearestCells(
          col(queryVecCol), cents, nProbe)).as("_cell"))

    val score = VectorFunctions.distance(metric)(col(vecCol), col(queryVecCol))
    val ord = metric match {
      case VectorFunctions.L2 => col("_score").asc
      case _                  => col("_score").desc
    }
    val scored = index.assigned.join(broadcast(probes), "_cell")
      .filter(if (excludeSelf) col(idCol) =!= col(queryIdCol) else lit(true))
      .withColumn("_score", score)
    ProductQuantization.topK(scored, queryIdCol, idCol, ord, k)
      .select(col(queryIdCol), col(idCol), col("_score").as("score"),
        col("_rank").as("rank"))
  }
}
