package graft.ops

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.{Cosine, Metric}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Reference surface: `find_neighbors(embedding, k, filter)` backed by an
  * OpenSearch k-NN index (python/hsfs/core/vector_db_client.py:107-200,
  * similarity functions python/hsfs/embedding.py:31-47). Here the same
  * semantics are a Spark plan:
  *
  *  - [[bruteForceKnn]] — exact top-k: broadcast the (small) query set,
  *    one scan of the corpus, one top-k window; Spark's partial
  *    WindowGroupLimit prunes map-side, so the single shuffle carries at
  *    most k × partitions × queries rows instead of |corpus| × |queries|.
  *  - [[lshKnn]] — approximate at scale: deterministic random-hyperplane
  *    signatures bucket both sides; candidates are generated per bucket
  *    (multi-probe via `nProbes` sign-flips), then exact-scored and
  *    top-k'd. Corpus signatures are computable incrementally and the
  *    bucket join shuffles only matching buckets.
  *
  * Distances use the codegen'd native expressions in
  * [[graft.functions.VectorFunctions]]; higher similarity = better for
  * Cosine/Dot, lower = better for L2.
  */
object Similarity {

  private def score(metric: Metric, a: org.apache.spark.sql.Column,
                    b: org.apache.spark.sql.Column) =
    VectorFunctions.distance(metric)(a, b)

  private def ordering(metric: Metric, c: org.apache.spark.sql.Column) =
    metric match {
      case VectorFunctions.L2 => c.asc
      case _                  => c.desc
    }

  /** Exact k-NN of each query vector against the corpus.
    *
    * @param corpus  (idCol, vecCol) — the big side, scanned once
    * @param queries (queryIdCol, vecCol) — the small side, broadcast
    */
  def bruteForceKnn(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, metric: Metric = Cosine,
      excludeSelf: Boolean = true,
      preFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // pushdown-friendly pre-filter on the corpus — the reference's
    // find_neighbors(filter) pushdown (core/vector_db_client.py:232-298)
    val pairs = preFilter.fold(corpus)(corpus.filter)
      .join(broadcast(queries))
      .filter(if (excludeSelf) col(idCol) =!= col(queryIdCol) else lit(true))
      .withColumn("_score", score(metric, col(vecCol), col(queryVecCol)))
      .select(col(queryIdCol), col(idCol), col("_score"))

    ProductQuantization.topK(pairs, queryIdCol, idCol,
        ordering(metric, col("_score")), k)
      .select(col(queryIdCol), col(idCol), col("_score").as("score"),
        col("_rank").as("rank"))
  }

  /** Retrieval evaluation against EXACT ground truth: for each query
    * (`queryIdCol`, `queryVecCol`, `relevantIdCol` — the id of its known
    * relevant document), the relevant document's exact rank under
    * `metric` over the whole corpus, and the rank metrics the ANN family
    * is tuned by — reciprocal rank (MRR's addend), NDCG@k (one relevant
    * document: 1/log₂(1+rank) for rank ≤ k, ideal DCG = 1), and hit@k.
    *
    * Scale shape: NO top-k materialization and NO global sort —
    * rank = 1 + |{docs scoring strictly better than the relevant doc,
    * ties broken by id}|, so the plan is one corpus scan with two
    * broadcast joins (query set, per-query relevant score) feeding one
    * map-side-combined count. A sort-based rank would shuffle
    * |corpus| × |queries| scored rows; this shuffles |queries| counts.
    */
  def rankEval(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      relevantIdCol: String, k: Int, metric: Metric = Cosine,
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries
      .select(col(queryIdCol), col(queryVecCol), col(relevantIdCol)))
    // the relevant doc's own score, |queries| rows
    val rel = corpus.join(q, col(idCol) === col(relevantIdCol))
      .select(col(queryIdCol).as("_rq"),
        score(metric, col(vecCol), col(queryVecCol)).as("_rel_score"),
        col(relevantIdCol).as("_rel_id"))
    val scored = corpus.join(q)
      .filter(if (excludeSelf) col(idCol) =!= col(queryIdCol) else lit(true))
      .withColumn("_score", score(metric, col(vecCol), col(queryVecCol)))
      .join(broadcast(rel), col(queryIdCol) === col("_rq"))
    // strictly-better predicate under the metric's ordering, same id
    // tie-break as bruteForceKnn (score, then id ascending)
    val beats = metric match {
      case VectorFunctions.L2 =>
        col("_score") < col("_rel_score") ||
          (col("_score") === col("_rel_score") && col(idCol) < col("_rel_id"))
      case _ =>
        col("_score") > col("_rel_score") ||
          (col("_score") === col("_rel_score") && col(idCol) < col("_rel_id"))
    }
    val ranked = scored.groupBy(col(queryIdCol))
      .agg((sum(when(beats, 1L).otherwise(0L)) + 1L).as("rank"))
    val metrics = ranked.select(col(queryIdCol), col("rank"),
      round(lit(1.0) / col("rank"), 6).as("reciprocal_rank"),
      (col("rank") <= k).as(s"hit_at_k"),
      round(when(col("rank") <= k,
        lit(math.log(2.0)) / log(col("rank") + 1.0)).otherwise(0.0), 6)
        .as("ndcg_at_k"))
    // a query whose relevant id has NO corpus row would silently vanish
    // through the inner `rel` join — left-join back over the full query
    // set so it surfaces as a NULL-rank row instead of a dropped one
    // (an eval over a mislabeled query set must not report metrics for
    // only the found subset with no signal)
    // both frames are |queries|-sized; broadcast the right side (the
    // side a left-outer BroadcastHashJoin can build from)
    queries.select(col(queryIdCol)).distinct()
      .join(broadcast(metrics), Seq(queryIdCol), "left")
  }

  /** Multi-relevant ranked-retrieval evaluation — MAP@k, precision@k,
    * recall@k per query from a ranked RUN and a relevance-judgment
    * (qrels) frame, the TREC-style complement of [[rankEval]]'s
    * single-relevant metrics. Run-producer-agnostic: feed it
    * [[bruteForceKnn]], an IVF shortlist, a BM25 ranking, or a fused
    * list — anything with (query, doc, rank ∈ 1..k).
    *
    * Exactness at the float boundary: average precision is
    * Σ_{hit at rank r} (hits≤r)/r, a sum of small rationals whose
    * float total would depend on summation order. It is instead
    * accumulated as the EXACT integer Σ (hits≤r)·(L/r) with
    * L = lcm(1..k), then divided once by L·min(|rel|, k) — so the
    * whole metric dag is integer until a single final division, and
    * an external SQL oracle replays it bit-identically in any row
    * order. (k ≤ 20 keeps every term within long range.)
    *
    * Scale shape: the run is |queries|·k rows; qrels joins by
    * (query, doc); every aggregate is a map-side-combinable groupBy on
    * qid. Nothing is corpus-sized. Queries with NO qrels row surface
    * with rel_n = 0 and NULL metrics (the [[rankEval]] missing-query
    * lesson), never silently dropped.
    *
    * Output: (qid, rel_n, n_hits, p_at_k, r_at_k, ap_at_k).
    */
  def precisionRecallEval(run: DataFrame, qidCol: String, docCol: String,
                          rankCol: String,
                          qrels: DataFrame, relQidCol: String,
                          relDocCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 20, "precisionRecallEval supports 1 ≤ k ≤ 20")
    val L: Long = (1 to k).foldLeft(1L) { (acc, i) =>
      val g = BigInt(acc).gcd(BigInt(i)).toLong; acc / g * i
    }
    val r = run.select(col(qidCol).as("qid"), col(docCol).as("_doc"),
        col(rankCol).cast("long").as("_rk"))
      .filter(col("_rk") <= k)
    val rel = qrels.select(col(relQidCol).as("qid"),
      col(relDocCol).as("_doc")).distinct()
    val relN = rel.groupBy("qid").agg(count(lit(1)).as("rel_n"))
    // hits in rank order; hits≤r is a row_number within qid (ranks are
    // distinct within a run list, so the order is total)
    val w = Window.partitionBy(col("qid")).orderBy(col("_rk").asc)
    val hits = r.join(rel, Seq("qid", "_doc"))
      .withColumn("_h", row_number().over(w))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_hits"),
        sum(col("_h") * (lit(L) / col("_rk")).cast("long")).as("_aps"))
    r.select(col("qid")).distinct()
      .join(broadcast(relN), Seq("qid"), "left")
      .join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("rel_n"), lit(0L)).as("rel_n"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("rel_n").isNotNull,
          round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 6))
          .as("p_at_k"),
        when(col("rel_n").isNotNull,
          round(coalesce(col("n_hits"), lit(0L)) / col("rel_n")
            .cast("double"), 6)).as("r_at_k"),
        when(col("rel_n").isNotNull,
          round(coalesce(col("_aps"), lit(0L)) /
            (lit(L.toDouble) * least(col("rel_n"), lit(k.toLong))
              .cast("double")), 6)).as("ap_at_k"))
  }

  /** kNN label-agreement scores — the classic label-noise detector for
    * training data: a point whose k nearest neighbours mostly carry a
    * DIFFERENT label is a mislabeling suspect (or sits on a class
    * boundary). Runs [[bruteForceKnn]] for the query panel, joins the
    * neighbours' labels, and reports per query the same/different
    * split and the disagreement score n_diff/k — one exact division
    * over integer counts, oracle-replayable.
    *
    * Scale shape: inherits bruteForceKnn's one-corpus-scan ×
    * broadcast-queries shape (swap an ANN shortlist upstream at corpus
    * scale); the label join touches |queries|·k rows.
    */
  def labelAgreement(corpus: DataFrame, idCol: String, vecCol: String,
                     labelCol: String,
                     queries: DataFrame, queryIdCol: String,
                     queryVecCol: String, queryLabelCol: String,
                     k: Int, metric: Metric = Cosine): DataFrame = {
    val run = bruteForceKnn(corpus, idCol, vecCol,
      queries.select(col(queryIdCol), col(queryVecCol)),
      queryIdCol, queryVecCol, k, metric)
    val nbrLabels = corpus.select(col(idCol),
      col(labelCol).as("_nl"))
    val qLabels = broadcast(queries.select(col(queryIdCol),
      col(queryLabelCol).as("_ql")))
    // plain (not null-safe) equality: a NULL label on either side
    // counts as DISAGREEMENT — an unlabeled neighbour cannot vouch for
    // the query's label, and this matches SQL `nl = ql` CASE semantics
    // so the oracle replays exactly
    run.join(nbrLabels, Seq(idCol)).join(qLabels, Seq(queryIdCol))
      .groupBy(col(queryIdCol))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("_nl") === col("_ql"), 1L).otherwise(0L))
          .as("n_same"),
        sum(when(col("_nl") === col("_ql"), 0L).otherwise(1L))
          .as("n_diff"))
      .withColumn("noise_score",
        round(col("n_diff") / col("n_neighbors").cast("double"), 6))
  }

  /** Deterministic random-hyperplane signature: `nBits` sign bits of dot
    * products against pseudo-random hyperplanes derived from (seed, bit,
    * dim) — no fit step, reproducible across runs. Backed by the codegen'd
    * [[VectorFunctions.HyperplaneSignature]] expression (single fused pass
    * over the vector; the HOF formulation allocated one array per bit and
    * ran interpreted).
    */
  def signatureFor(vec: org.apache.spark.sql.Column,
                   dim: Int, nBits: Int, seed: Int): org.apache.spark.sql.Column =
    hyperplaneSignature(vec, dim, nBits, seed)

  private def hyperplaneSignature(vec: org.apache.spark.sql.Column,
                                  dim: Int, nBits: Int, seed: Int) =
    VectorFunctions.vecLshSignature(vec, nBits, seed.toLong)

  /** Approximate k-NN via multi-table LSH bucketing: `nTables` independent
    * signatures bucket corpus and queries; candidates are the union of
    * bucket matches across tables (standard L-table LSH — each extra table
    * multiplies recall at linear candidate cost), exact-scored and top-k'd.
    * `nProbes` > 1 additionally probes buckets at Hamming distance 1
    * (query-side sign flips) to recover near-boundary neighbors.
    */
  def lshKnn(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, dim: Int, nBits: Int = 8, nTables: Int = 4, nProbes: Int = 3,
      metric: Metric = Cosine, seed: Int = 42,
      excludeSelf: Boolean = true,
      preFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val corpusF = preFilter.fold(corpus)(corpus.filter)
    def tableSigs(vec: org.apache.spark.sql.Column) =
      (0 until nTables).map(t =>
        hyperplaneSignature(vec, dim, nBits, seed + t * 7919))

    val sigCorpus = corpusF.select(col(idCol), col(vecCol),
      posexplode(array(tableSigs(col(vecCol)): _*)).as(Seq("_table", "_bucket")))

    val probesPerTable = tableSigs(col(queryVecCol)).zipWithIndex.flatMap {
      case (sig, t) =>
        (0 until math.max(1, math.min(nProbes, nBits + 1))).map {
          case 0 => struct(lit(t).as("_table"), sig.as("_bucket"))
          case i => struct(lit(t).as("_table"),
            sig.bitwiseXOR(lit(1L << (i - 1))).as("_bucket"))
        }
    }
    val sigQueries = queries
      .select(col(queryIdCol), col(queryVecCol),
        explode(array(probesPerTable: _*)).as("_p"))
      .select(col(queryIdCol), col(queryVecCol),
        col("_p._table").as("_table"), col("_p._bucket").as("_bucket"))
      .dropDuplicates(queryIdCol, "_table", "_bucket")

    val candidates = sigCorpus
      .join(broadcast(sigQueries), Seq("_table", "_bucket"))
      .filter(if (excludeSelf) col(idCol) =!= col(queryIdCol) else lit(true))
      .dropDuplicates(queryIdCol, idCol)
      .withColumn("_score", score(metric, col(vecCol), col(queryVecCol)))

    ProductQuantization.topK(candidates, queryIdCol, idCol,
        ordering(metric, col("_score")), k)
      .select(col(queryIdCol), col(idCol), col("_score").as("score"),
        col("_rank").as("rank"))
  }

  /** Matryoshka truncation recall: how much of the exact top-k survives
    * when search runs on only the first `dims` dimensions — the
    * measurement behind MRL-style embeddings (Kusupati 2022, public
    * method), where a prefix of the vector is trained to stand alone
    * and search cost drops by dims/D. Cosine renormalizes internally,
    * so truncated search is just cosine over the sliced arrays; recall
    * is `|top_k(full) ∩ top_k(prefix)| / k` per query. Use it to pick
    * the cheapest prefix that keeps recall — the same design probe
    * IVF/LSH geometry gets from SCALE.md, as a first-class operator.
    *
    * Cost: two brute-force passes over corpus × queries (queries
    * broadcast) + one tiny join of the two k-row-per-query tops.
    */
  def matryoshkaRecall(corpus: DataFrame, idCol: String, vecCol: String,
                       queries: DataFrame, queryIdCol: String,
                       queryVecCol: String, k: Int, dims: Int): DataFrame = {
    require(dims >= 1, "dims must be at least 1")
    val full = bruteForceKnn(corpus, idCol, vecCol,
      queries, queryIdCol, queryVecCol, k)
      .select(col(queryIdCol), col(idCol))
    val tCorpus = corpus.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val tQueries = queries.select(col(queryIdCol),
      slice(col(queryVecCol), 1, dims).as(queryVecCol))
    val trunc = bruteForceKnn(tCorpus, idCol, vecCol,
      tQueries, queryIdCol, queryVecCol, k)
      .select(col(queryIdCol), col(idCol))
    // left join from the full top so a zero-overlap query still emits
    // recall = 0 instead of vanishing
    full.join(trunc.withColumn("_hit", lit(1)), Seq(queryIdCol, idCol),
        "left")
      .groupBy(col(queryIdCol))
      .agg(round(coalesce(sum(col("_hit")), lit(0L)).cast("double") / k, 6)
        .as("recall"))
  }

  /** Hard-negative mining — the training-data op for embedding models
    * (dense retrievers train on (query, positive, hard negatives); the
    * negatives that matter are the top-scoring NON-relevant documents,
    * not random ones). For each query: the `k` best-scoring corpus
    * documents under `metric`, excluding the query's own row and its
    * labeled positive (`relevantIdCol`). Same scale shape as
    * [[bruteForceKnn]] — one corpus scan × broadcast queries, keyed
    * partial-top-k window; swap in an ANN shortlist upstream at corpus
    * scale, the exclusion projection is unchanged.
    */
  def mineHardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, queryIdCol: String,
                        queryVecCol: String, relevantIdCol: String,
                        k: Int, metric: Metric = Cosine): DataFrame = {
    val q = broadcast(queries
      .select(col(queryIdCol), col(queryVecCol), col(relevantIdCol)))
    val pairs = corpus.join(q)
      .filter(col(idCol) =!= col(queryIdCol) &&
        col(idCol) =!= col(relevantIdCol))
      .withColumn("_score", score(metric, col(vecCol), col(queryVecCol)))
    ProductQuantization.topK(pairs, queryIdCol, idCol,
        ordering(metric, col("_score")), k)
      .select(col(queryIdCol), col(idCol).as("negative_id"),
        col("_score").as("score"), col("_rank").as("rank"))
  }

  /** Reciprocal-rank fusion of N ranked lists (Cormack & Clarke 2009):
    * `rrf(q, d) = Σ_lists 1/(c + rank_list(q, d))`, the standard hybrid
    * retrieval combiner (lexical BM25 ∘ vector kNN) — rank-based, so no
    * per-list score normalization is needed and an outlier score in one
    * list can't dominate. A document absent from a list contributes
    * nothing for that list (the conventional treatment); `n_lists`
    * reports how many lists surfaced each document. Re-ranked per query
    * by (fused score desc, id asc) — the fused score is rounded BEFORE
    * ranking so the tie-break replays across engines.
    *
    * Scale shape: input lists are top-k frames (≤ k·|queries| rows each
    * by construction), so everything here is small-frame algebra: one
    * union, one map-side-combined groupBy, one KEYED window. The
    * corpus-sized work already happened inside the rankers. With ≤ 2
    * lists the per-pair sum has at most two addends — IEEE-exact under
    * reordering, no sum-order slack at all.
    */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, idCol: String,
              rankCol: String, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranked list")
    require(c >= 0, "rank constant c must be non-negative")
    val unioned = rankings
      .map(_.select(col(queryCol), col(idCol),
        col(rankCol).cast("long").as("_rk")))
      .reduce(_ unionByName _)
    val fused = unioned.groupBy(col(queryCol), col(idCol))
      .agg(round(sum(lit(1.0) / (lit(c.toDouble) + col("_rk").cast("double"))), 6)
          .as("rrf_score"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
    fused.withColumn("fused_rank", row_number().over(w))
  }

  /** Truncated rank-biased overlap between two per-query rankings —
    * the standard top-weighted similarity between an exact and an
    * approximate retrieval run (or two rankers):
    * RBO@k = (1−p) · Σ_{d=1..k} p^{d−1} · |A_{:d} ∩ B_{:d}| / d.
    * Unlike Kendall/Spearman it handles non-conjoint lists (an id in
    * only one ranking just never enters the intersection) and weights
    * agreement at rank 1 most — exactly what an ANN-vs-exact regression
    * gate needs. This is the truncated (minimum) RBO; extrapolation
    * adds the unseen-tail assumption and is deliberately left out.
    *
    * Distributed form: a common id entering the intersection at depth
    * m = max(rank_A, rank_B) contributes (1−p)·Σ_{d=m..k} p^{d−1}/d —
    * a ROW-LOCAL geometric tail — so one (query, id) equi-join plus a
    * per-query sum computes the double sum with no per-depth pass.
    * Queries present in `a` but with zero overlap emit rbo = 0.
    *
    * Scale shape: one equi-join on (query, id) of two ≤ k·|queries|
    * frames, one map-side-combined per-query sum. Nothing grows with
    * the corpus — only with the ranking frames.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, queryCol: String,
                        idCol: String, rankCol: String, k: Int,
                        p: Double = 0.9): DataFrame = {
    require(k >= 1, "k must be ≥ 1")
    require(p > 0.0 && p < 1.0, "persistence p must be in (0, 1)")
    val ra = a.select(col(queryCol), col(idCol),
        col(rankCol).cast("int").as("_ra"))
      .filter(col("_ra").between(1, k))
    val rb = b.select(col(queryCol), col(idCol),
        col(rankCol).cast("int").as("_rb"))
      .filter(col("_rb").between(1, k))
    val joined = ra.join(rb, Seq(queryCol, idCol))
      .withColumn("_m", greatest(col("_ra"), col("_rb")))
      // Σ_{d=m..k} p^{d−1}/d, row-local over a ≤ k-element sequence
      .withColumn("_w", aggregate(sequence(col("_m"), lit(k)), lit(0.0),
        (acc, d) => acc +
          pow(lit(p), d.cast("double") - 1) / d.cast("double")))
    val per = joined.groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_common"), sum(col("_w")).as("_sw"))
    ra.select(col(queryCol)).distinct()
      .join(per, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("_sw"), lit(0.0)) * lit(1.0 - p), 6).as("rbo"))
  }

  /** Kendall rank correlation between two per-query top-k rankings,
    * evaluated over their COMMON ids (both rankings come from
    * row_number, so ranks are tie-free and tau-a = tau-b): tau =
    * (concordant − discordant) / (n(n−1)/2). The sign-sensitive
    * complement of [[rankBiasedOverlap]] — RBO says how much the lists
    * share top-weighted; tau says whether the shared part is ordered
    * the SAME WAY (an ANN index that returns the right set backwards
    * scores high RBO and negative tau).
    *
    * Scale shape: the pair enumeration is a per-query self-join of the
    * ≤ k-row common set — ≤ k(k−1)/2 rows per query, row-local sign
    * algebra, one map-side-combined per-query sum. Nothing grows with
    * the corpus. Queries with fewer than 2 common ids emit tau = NULL
    * (no pair evidence), not 0.
    */
  def kendallTau(a: DataFrame, b: DataFrame, queryCol: String,
                 idCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be ≥ 1")
    val ra = a.select(col(queryCol), col(idCol),
        col(rankCol).cast("int").as("_ra"))
      .filter(col("_ra").between(1, k))
    val rb = b.select(col(queryCol), col(idCol),
        col(rankCol).cast("int").as("_rb"))
      .filter(col("_rb").between(1, k))
    val j = ra.join(rb, Seq(queryCol, idCol))
    val l = j.select(col(queryCol), col(idCol).as("_ia"),
      col("_ra").as("_ra1"), col("_rb").as("_rb1"))
    val r = j.select(col(queryCol), col(idCol).as("_ib"),
      col("_ra").as("_ra2"), col("_rb").as("_rb2"))
    val pairs = l.join(r, Seq(queryCol)).filter(col("_ia") < col("_ib"))
      .select(col(queryCol),
        when((col("_ra1") - col("_ra2")).cast("long") *
          (col("_rb1") - col("_rb2")) > 0L, 1L).otherwise(0L).as("_c"),
        when((col("_ra1") - col("_ra2")).cast("long") *
          (col("_rb1") - col("_rb2")) < 0L, 1L).otherwise(0L).as("_d"))
    val perPairs = pairs.groupBy(col(queryCol))
      .agg(sum(col("_c")).as("n_concordant"),
        sum(col("_d")).as("n_discordant"),
        count(lit(1)).as("n_pairs"))
    val common = j.groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_common"))
    ra.select(col(queryCol)).distinct()
      .join(common, Seq(queryCol), "left")
      .join(perPairs, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_concordant"), lit(0L)).as("n_concordant"),
        coalesce(col("n_discordant"), lit(0L)).as("n_discordant"),
        when(col("n_pairs") > 0L,
          round((col("n_concordant") - col("n_discordant")).cast("double")
            / col("n_pairs").cast("double"), 6)).as("tau"))
  }

  /** Per-class simplified silhouette over an embedding column: for each
    * vector, a = Euclidean distance to its OWN class centroid, b = the
    * minimum distance to any OTHER class centroid, s = (b − a) /
    * max(a, b) (0 when both distances are 0). Averaged per class, this
    * is the standard label-separability screen over an embedding space
    * — classes whose mean silhouette hugs 0 (or goes negative) overlap
    * other classes and predict label noise / weak features before any
    * model is trained. The SIMPLIFIED form (distance-to-centroid, not
    * mean pairwise distance) is the one that scales: exact silhouette
    * is O(n²) in the class sizes; this is one centroid pass + one
    * |classes|-way broadcast comparison.
    *
    * Scale shape: centroids via one posexplode + map-side-combined
    * (label, dim) average — |labels × dims| rows — assembled to arrays
    * and broadcast; the corpus is scanned ONCE against all centroids
    * with a row-local zip_with/aggregate distance, then one map-side
    * per-label mean. Nothing shuffles at vector grain.
    */
  def classSilhouette(df: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val base = df.select(col(idCol).as("_id"),
        transform(col(vecCol), x => x.cast("double")).as("_v"),
        col(labelCol).as("_lab"))
      .filter(col("_lab").isNotNull && col("_v").isNotNull &&
        size(col("_v")) > 0)
    val cent = base
      .select(col("_lab"), posexplode(col("_v")).as(Seq("_pos", "_x")))
      .groupBy(col("_lab").as("_clab"), col("_pos"))
      .agg(avg(col("_x")).as("_c"))
      .groupBy(col("_clab"))
      .agg(transform(array_sort(collect_list(struct(col("_pos"),
        col("_c")))), s => s.getField("_c")).as("_cv"))
    val dists = base.crossJoin(broadcast(cent))
      .withColumn("_dist", sqrt(aggregate(
        zip_with(col("_v"), col("_cv"), (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, t) => acc + t)))
    val ab = dists.groupBy(col("_id"), col("_lab"))
      .agg(min(when(col("_lab") === col("_clab"), col("_dist"))).as("_a"),
        min(when(col("_lab") =!= col("_clab"), col("_dist"))).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
    ab.select(col("_lab"),
        when(greatest(col("_a"), col("_b")) === 0.0, lit(0.0))
          .otherwise((col("_b") - col("_a")) /
            greatest(col("_a"), col("_b"))).as("_s"))
      .groupBy(col("_lab"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("_s")), 6).as("mean_silhouette"))
      .withColumnRenamed("_lab", "label")
  }
}
