package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.ops.Materialize.PinOps

/** Deduplication operators for large-scale training-data pipelines
  * (BASELINE.json north star; not present in the reference client, which
  * dedups only on upsert keys — core/hudi_engine.py:141-149).
  *
  * All operators are pure DataFrame algebra (codegen-friendly, no UDFs):
  *
  *  - [[exact]] — hash-groupBy on content columns; one shuffle of
  *    (hash, id) pairs, deterministic survivor (min id).
  *  - [[minHashLsh]] — shingle → k min-hashes → band buckets → bucket
  *    self-join. The candidate join shuffles only (band, signature)
  *    buckets, never the full cross product; pairs are verified with the
  *    exact shingle-set Jaccard before reporting.
  *  - [[simHash]] — 64-bit weighted-token fingerprint; near-dups share a
  *    16-bit chunk (Hamming ≤ 3 ⇒ some chunk equal by pigeonhole).
  *  - [[tokenJaccard]] — exact token-set Jaccard similarity join
  *    (explode + count intersection); quadratic only within shared-token
  *    groups.
  *  - [[embeddingNearDup]] — cosine-threshold pairs via the LSH bucketing
  *    of [[Similarity]].
  *  - [[duplicateClusters]] / [[deduplicateByClusters]] — alternating-star
  *    connected components turning candidate pairs into keep-one groups.
  *  - [[contaminationOverlap]] / [[decontaminate]] — n-gram overlap gate
  *    against an eval/benchmark probe set.
  */
object Dedup {

  /** Exact dedup: one surviving row (smallest `idCol`) per distinct
    * combination of `on` columns.
    *
    * The window partitions by (xxhash64, content columns): the hash comes
    * first so sort comparisons short-circuit cheaply on 8 bytes, but the
    * grouping compares the actual column VALUES — a 64-bit hash collision
    * (expected by the birthday bound at ≥10⁹ documents) therefore lands in
    * the same shuffle partition yet can never merge two distinct rows.
    */
  def exact(df: DataFrame, idCol: String, on: Seq[String]): DataFrame =
    exactImpl(df, idCol, on, xxhash64(on.map(col): _*))

  /** A 64-bit hash of a row's `cols`, taken in name order so it does not
    * depend on the frame's column order: the deterministic last tie-break
    * of version resolution. Spark does not hash maps, so a map (at any
    * depth) hashes as the xor of its entries' hashes, which does not
    * depend on the order of its entries either.
    */
  def contentHash(df: DataFrame, cols: Seq[String]): Column =
    xxhash64(cols.sorted.map(c => hashable(col(c), df.schema(c).dataType)): _*)

  private def hashable(c: Column, t: DataType): Column = t match {
    case MapType(k, v, _) =>
      aggregate(map_entries(c), lit(0L), (acc, e) => acc.bitwiseXOR(
        xxhash64(hashable(e.getField("key"), k), hashable(e.getField("value"), v))))
    case ArrayType(e, _) if hasMap(e) => transform(c, x => hashable(x, e))
    case StructType(fs) if hasMap(t) => when(c.isNotNull,
      struct(fs.toSeq.map(f => hashable(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Test seam: `h` lets specs force total hash collision to prove the
    * content comparison keeps distinct rows apart.
    */
  private[graft] def exactImpl(df: DataFrame, idCol: String,
                               on: Seq[String], h: Column): DataFrame = {
    val w = Window.partitionBy(h +: on.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Word shingles (n-grams of the whitespace-tokenized text), distinct per
    * document, as (id, shingle-hash) pairs. `transform` over a slide of the
    * token array keeps this in native expressions.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               n: Int = 3): DataFrame = {
    val sh = graft.functions.Exprs.let(split(lower(col(textCol)), "\\s+"),
      toks => {
        val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
        transform(idx, i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n)))))
      })
    df.select(col(idCol), explode(sh).as("shingle")).distinct()
  }

  /** MinHash signatures: k independent permutations approximated by
    * k seeded hashes; signature = per-doc min of each. One groupBy over the
    * exploded shingles.
    */
  def minHashSignatures(shingled: DataFrame, idCol: String,
                        numHashes: Int = 64): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(hash(col("shingle"), lit(i))).as(s"h$i"))
    shingled.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Per-document distinct shingle-hash ARRAY — computed entirely
    * row-locally (tokenize → slide → hash → distinct within one
    * expression), so signature derivation needs no shuffle at all.
    */
  def shingleArray(textCol: Column, n: Int): Column =
    graft.functions.Exprs.let(split(lower(textCol), "\\s+"), toks => {
      val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
      array_distinct(transform(idx, i =>
        xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
    })

  /** Candidate near-dup pairs by banded LSH + exact Jaccard verification.
    *
    * Scale shape: shingle sets and MinHash signatures are document-local
    * array expressions (zero shuffle); the only shuffles are the banded
    * candidate self-join (keyed on (band, bandHash) — matching buckets
    * only, never the O(n²) pair space) and the candidate verification,
    * which joins the shingle arrays back onto the (small) candidate pair
    * set and intersects them in-place.
    *
    * @return (idA, idB, jaccard) with idA < idB and jaccard ≥ threshold
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleSize: Int = 3, numHashes: Int = 64,
                 bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val withShingles = df
      .select(col(idCol), shingleArray(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .cache()

    // signatures via exploded shingles + 64 codegen'd min-aggregates (the
    // whole-row lambda form recomputes the k×|shingles| hash matrix once
    // per band — measured 4× slower); `sig` lands as a materialized column
    // so banding slices it without re-evaluation
    val sigs = minHashSignatures(
      withShingles.select(col(idCol), explode(col("sh")).as("shingle")),
      idCol, numHashes)
    val banded = sigs
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          hash(slice(col("sig"), b * rows + 1, lit(rows))))).as(Seq("band", "bh")))

    val left = banded.select(col(idCol).as("idA"), col("band"), col("bh"))
    val rightB = banded.select(col(idCol).as("idB"), col("band"), col("bh"))
    val candidates = left.join(rightB, Seq("band", "bh"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()

    val verified = candidates
      .join(withShingles.select(col(idCol).as("idA"), col("sh").as("shA")), "idA")
      .join(withShingles.select(col(idCol).as("idB"), col("sh").as("shB")), "idB")
      .select(col("idA"), col("idB"),
        (size(array_intersect(col("shA"), col("shB"))).cast("double") /
          size(array_union(col("shA"), col("shB")))).as("jaccard"))
    verified.filter(col("jaccard") >= threshold)
  }

  /** Number of SimHash signature bits: the token hash is the 52-bit
    * [[graft.functions.TextHash.CharPolyHash]] (oracle-reproducible in
    * plain SQL — the reason it replaced xxhash64 here).
    */
  val SimHashBits = 52

  /** SimHash: weighted sum of token-hash bits, one groupBy pass.
    * Documents with Hamming-close fingerprints are near-duplicates.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", graft.functions.TextHash.charPolyHash(col("tok")))
    val bitSums = (0 until SimHashBits).map(b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$b"))
    val agg = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimHashBits).map(b =>
        when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** Near-dup pairs by SimHash: candidates share one of four 13-bit chunks
    * (pigeonhole: Hamming ≤ 3 ⇒ at least one chunk identical), verified by
    * exact Hamming distance ≤ maxHamming.
    */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val sigs = simHash(df, idCol, textCol)
    val chunked = sigs.select(col(idCol), col("simhash"), posexplode(
      array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 13).bitwiseAND(0x1FFFL)): _*))
      .as(Seq("chunk", "cv")))
    val l = chunked.select(col(idCol).as("idA"), col("simhash").as("sigA"),
      col("chunk"), col("cv"))
    val r = chunked.select(col(idCol).as("idB"), col("simhash").as("sigB"),
      col("chunk"), col("cv"))
    l.join(r, Seq("chunk", "cv"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        bit_count(col("sigA").bitwiseXOR(col("sigB"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact token-set Jaccard similarity join over all pairs sharing at
    * least one token (n=1 shingles). For bounded corpora / oracle checks;
    * use [[minHashLsh]] at scale.
    */
  def tokenJaccard(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    val toks = df.select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
    val sizes = toks.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = toks.select(col(idCol).as("idA"), col("tok"))
    val b = toks.select(col(idCol).as("idB"), col("tok"))
    val inter = a.join(b, "tok").filter(col("idA") < col("idB"))
      .groupBy("idA", "idB").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("idA"), col("sz").as("szA")), "idA")
      .join(sizes.select(col(idCol).as("idB"), col("sz").as("szB")), "idB")
      .select(col("idA"), col("idB"),
        (col("inter") / (col("szA") + col("szB") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Directed shingle CONTAINMENT C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| —
    * the near-superset detector resemblance misses: a document wholly
    * embedded in a larger one (quotation, concatenated crawl page,
    * boilerplate-wrapped copy) scores 1.0 here while its Jaccard
    * against the container can be arbitrarily low. Output is the
    * ORDERED pairs (id_a contained-in id_b) at or above
    * `minContainment`.
    *
    * Exact over pairs sharing a shingle (same contract as
    * [[tokenJaccard]] — bounded corpora and verification); at scale,
    * generate candidates with [[minHashLsh]]'s bands first and verify
    * containment on the candidate pairs only. Shingle construction
    * matches [[minHashLsh]]'s (distinct word n-grams; a document
    * shorter than `shingleSize` contributes its whole token run as one
    * shingle).
    */
  def shingleContainment(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 2,
                         minContainment: Double = 0.9,
                         reference: Option[DataFrame] = None): DataFrame = {
    // reference mode rides [[shingleArray]] (hashed shingles, the q58
    // contaminationOverlap contract; collisions negligible, symmetric);
    // self mode keeps exact strings — the oracle-replayable form. Both
    // LET-BIND the token array: an un-bound `tk` inside the transform
    // lambda re-evaluates the split per shingle index, turning the
    // row-local pass O(tokens²) per document (the q58 lesson).
    // Per-document distinctness comes from array_distinct BEFORE the
    // explode — row-local, no global distinct() shuffle.
    def shingled(src: DataFrame) = {
      val sh =
        if (reference.isDefined) shingleArray(col(textCol), shingleSize)
        else graft.functions.Exprs.let(
          filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0),
          toks => array_distinct(transform(
            sequence(lit(1),
              greatest(size(toks) - (shingleSize - 1), lit(1))),
            i => concat_ws(" ", slice(toks, i, lit(shingleSize))))))
      src.select(col(idCol), explode(sh).as("shingle"))
    }
    // self mode: all ordered pairs sharing a shingle (the tokenJaccard
    // contract — bounded corpora). Reference mode: the A side is the
    // SMALL reference set, broadcast onto one corpus scan — C(ref→doc),
    // linear in the corpus at any scale. This is the shape the 100 TB
    // run uses: "which corpus documents contain this benchmark item"
    // (decontamination's question, with a fraction instead of a count).
    val aSide = reference.map(shingled).getOrElse(shingled(df))
    val bSide = reference.map(_ => shingled(df)).getOrElse(aSide)
    val sizes = aSide.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = aSide.select(col(idCol).as("id_a"), col("shingle"))
    val b = bSide.select(col(idCol).as("id_b"), col("shingle"))
    val joined = reference match {
      case Some(_) => b.join(broadcast(a), "shingle")
      case None => a.join(b, "shingle")
    }
    joined.filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(reference.fold(sizes)(_ => broadcast(sizes))
        .select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .select(col("id_a"), col("id_b"),
        (col("inter") / col("sz_a")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Connected components over an undirected candidate-pair graph via
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    * step that turns near-dup PAIRS ([[minHashLsh]] / [[simHashNearDups]] /
    * [[embeddingNearDup]] output) into dedup GROUPS.
    *
    * Scale shape: every step is join + groupBy algebra keyed on node id —
    * no collect_set neighborhoods (a hub node with 10⁸ neighbors never
    * has to fit its adjacency list in one row) and no driver-side graph.
    * Converges in O(log n) rounds on ANY graph shape — long path graphs
    * collapse logarithmically, where naive min-label propagation needs a
    * round per hop. Each round is pinned ([[Materialize]]) to keep the plan
    * flat (swap for `checkpoint` + a reliable dir on a real cluster where
    * executor loss matters); convergence is detected with an
    * order-independent (count, bit_xor of edge hashes) fingerprint — one
    * cheap aggregate per round over the just-materialized blocks.
    *
    * @param pairs candidate pairs; self-pairs and null ids are dropped
    * @return (id, component) for every node appearing in `pairs`, where
    *         component = the minimum reachable id (cluster representative)
    */
  // ---- alternating-star round bodies (private[graft] so the plan
  // budget can assert shuffles-per-round on the REAL code, not a copy)

  private def dedupEdges(e: DataFrame): DataFrame = e.distinct()

  // m(u) = min(N(u) ∪ {u}), computed by aggregation + join — never by
  // materializing a neighborhood array
  private def minsOf(sym: DataFrame): DataFrame =
    sym.groupBy("u").agg(min("v").as("_mv"))
      .select(col("u"), least(col("_mv"), col("u")).as("m"))

  // large-star: connect every strictly-larger neighbor of u to m(u).
  // The output dedup is keyed by the LARGER endpoint (repartition(u) —
  // hashpartitioning on a subset of the grouping keys satisfies the
  // dropDuplicates distribution, so no second exchange), which is
  // exactly the key the small-star half of a round groups and joins on:
  // the round's mid-point costs ONE exchange where the r13 shape paid a
  // (u,v)-keyed distinct exchange AND a fresh u-keyed exchange for
  // small-star (guide §2.4: two operations keyed the same way share one
  // exchange).
  private[graft] def ccLargeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    sym.join(minsOf(sym), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .repartition(col("u"))
      .dropDuplicates("u", "v")
  }

  // small-star body on a KNOWN-ORIENTED edge set (u > v on every row):
  // large-star output is always oriented — it emits (v, m(u)) with
  // m(u) ≤ u < v — so inside a round the greatest/least re-projection
  // is an identity. Skipping it matters for the plan, not just per-row
  // cost: projecting through greatest()/least() destroys the incoming
  // hashpartitioning(u) (Catalyst cannot prove greatest(u,v)=u), which
  // would force the aggregate and join below to re-exchange.
  private[graft] def ccSmallStarOriented(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    val nbrs = e.join(mins, "u").select(col("v").as("n"), col("m"))
    val self = mins.select(col("u").as("n"), col("m"))
    dedupEdges(nbrs.union(self)
      .filter(col("n") =!= col("m"))
      .select(col("n").as("u"), col("m").as("v")))
  }

  // small-star: orient edges (larger, smaller); connect u and its
  // smaller neighbors to the minimum of that in-neighborhood
  private[graft] def ccSmallStar(e: DataFrame): DataFrame =
    ccSmallStarOriented(e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v")))

  def duplicateClusters(pairs: DataFrame, idACol: String = "idA",
                        idBCol: String = "idB", maxIter: Int = 25): DataFrame = {
    // fused round (r13 verdict #4): large-star's u-keyed output dedup
    // feeds small-star's u-keyed aggregate/join with no re-exchange, and
    // the oriented small-star skips the partitioning-destroying
    // greatest/least projection — same edge-set algebra per round
    // (duplicates never change a min; every round still ends in a
    // distinct), fewer exchanges per round
    def round(e: DataFrame): DataFrame = ccSmallStarOriented(ccLargeStar(e))

    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))"))
        .collect().head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // LAZY pin + fingerprint: the fingerprint action both
    // materializes the round's frontier blocks (truncating lineage, so
    // no round ever re-reads the pair history) AND collects the
    // convergence check — ONE sequential driver round-trip per star
    // round instead of the two an eager checkpoint + separate collect
    // would pay. The loop's wall-clock is exactly its sequential
    // actions, so halving them halves the suite's noise exposure.
    var edges = dedupEdges(pairs
      .filter(col(idACol).isNotNull && col(idBCol).isNotNull &&
        col(idACol) =!= col(idBCol))
      .select(col(idACol).as("u"), col(idBCol).as("v")))
      .pinned(false)
    var fp = fingerprint(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = round(edges).pinned(false)
      val nfp = fingerprint(next)
      converged = nfp == fp
      edges = next
      fp = nfp
      iter += 1
    }
    // a non-fixed-point edge set is NOT a star forest — reading it as one
    // would silently emit wrong components downstream (keep-one dedup,
    // leakage-safe splits), so refuse instead
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge within $maxIter alternating " +
        "star rounds — raise maxIter (convergence is O(log n) rounds)")
    // the fixed point is a star forest: every edge is (member, component
    // minimum), so components fall out without another traversal
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Per-cluster label purity over a [[duplicateClusters]] frame: join
    * the (id, component) membership to a label column and report, per
    * component, the member count, the majority-label count, the number
    * of distinct labels present, and purity = majority/members. The
    * cluster-quality audit for dedup itself — near-duplicate clusters
    * that straddle languages (or sources, or licences) are usually
    * FALSE merges, and purity surfaces them before keep-one dedup
    * silently drops the wrong half. Ids absent from `labels` are
    * dropped (inner join); a NULL label is a real label value
    * (missingness concentrating in one cluster is signal).
    *
    * Scale shape: one join at membership grain, then two map-side
    * combined aggregations — |members| → |components × labels| →
    * |components|.
    */
  def clusterPurity(clusters: DataFrame, labels: DataFrame, idCol: String,
                    labelCol: String): DataFrame = {
    val lab = labels.select(col(idCol).as("_id"),
      col(labelCol).cast("string").as("_lab"))
    val byLab = clusters.select(col("id").as("_id"), col("component"))
      .join(lab, Seq("_id"))
      .groupBy(col("component"), col("_lab"))
      .agg(count(lit(1)).as("_nl"))
    byLab.groupBy(col("component"))
      .agg(sum(col("_nl")).as("n_members"),
        max(col("_nl")).as("n_majority"),
        count(lit(1)).as("n_labels"))
      .withColumn("purity",
        round(col("n_majority") / col("n_members").cast("double"), 6))
  }

  /** Keep one survivor — the component-minimum id — per duplicate cluster:
    * the standard pairs → clusters → keep-one corpus dedup. Rows whose id
    * is not in `clusters` pass through untouched; losers are removed with
    * one left_anti join against the (small) loser id set, so the corpus
    * itself is never reshuffled.
    */
  def deduplicateByClusters(df: DataFrame, idCol: String,
                            clusters: DataFrame): DataFrame = {
    val losers = clusters.filter(col("id") =!= col("component")).select("id")
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Distinct word n-gram STRINGS per document — row-local companion to
    * [[shingleArray]] for operators that need the grams themselves (or a
    * caller-chosen hash of them) rather than xxhash64.
    */
  def shingleStrings(textCol: Column, n: Int): Column =
    graft.functions.Exprs.let(array_remove(split(lower(textCol), "\\s+"), ""),
      toks => {
        val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
        array_distinct(transform(idx, i =>
          concat_ws(" ", slice(toks, i + 1, lit(n)))))
      })

  /** Train/eval contamination check: for each corpus document, the number
    * of distinct word n-grams it shares with the probe (benchmark / test)
    * corpus. The standard decontamination gate before training-data
    * export: drop (or flag) documents with n_overlap ≥ some floor.
    *
    * Scale shape: both sides reduce to (docLocal n-gram set → hash)
    * before any shuffle; the only shuffles are the probe distinct and the
    * gram join. The probe side (an eval set) is normally orders of
    * magnitude smaller than the corpus, so AQE broadcasts it and the
    * 100 TB corpus side never reshuffles.
    *
    * @param hashFn gram hash — xxhash64 by default; pass
    *               [[graft.functions.TextHash.charPolyHash]] for an
    *               external-SQL-replayable oracle
    * @return (idCol, n_overlap) for corpus docs with ≥ 1 shared gram
    */
  def contaminationOverlap(corpus: DataFrame, idCol: String, textCol: String,
                           probe: DataFrame, probeTextCol: String,
                           n: Int = 3,
                           hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val probeGrams = probe
      .select(explode(shingleStrings(col(probeTextCol), n)).as("_g"))
      .select(hashFn(col("_g")).as("_gh")).distinct()
    val corpusGrams = corpus
      .select(col(idCol), explode(shingleStrings(col(textCol), n)).as("_g"))
      .select(col(idCol), hashFn(col("_g")).as("_gh"))
    corpusGrams.join(probeGrams, "_gh")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
  }

  /** Remove corpus documents sharing ≥ `minOverlap` distinct n-grams with
    * the probe set (left_anti against the flagged ids).
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    probe: DataFrame, probeTextCol: String,
                    n: Int = 3, minOverlap: Int = 1,
                    hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val flagged = contaminationOverlap(corpus, idCol, textCol,
        probe, probeTextCol, n, hashFn)
      .filter(col("n_overlap") >= minOverlap)
      .select(idCol)
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold via multi-table
    * hyperplane-LSH bucketing — both sides bucketed per table, candidate
    * pairs only within shared (table, bucket) groups, never all-pairs.
    * `nTables` independent signatures multiply recall at linear candidate
    * cost (a single table misses ~(1-p^nBits) of true pairs; with
    * cos ≈ 0.97, 12 tables of 8 bits give >99.9% per-pair recall).
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, threshold: Double,
                       nBits: Int = 8, nTables: Int = 12,
                       seed: Int = 42): DataFrame = {
    val cos = VectorFunctions.vecCosine(col(s"${vecCol}A"), col(s"${vecCol}B"))
    val sigs = (0 until nTables).map(t =>
      Similarity.signatureFor(col(vecCol), dim, nBits, seed + t * 7919))
    val bucketed = df.select(col(idCol), col(vecCol),
      posexplode(array(sigs: _*)).as(Seq("_table", "_bucket")))
    val l = bucketed.select(col(idCol).as("idA"),
      col(vecCol).as(s"${vecCol}A"), col("_table"), col("_bucket"))
    val r = bucketed.select(col(idCol).as("idB"),
      col(vecCol).as(s"${vecCol}B"), col("_table"), col("_bucket"))
    // a true pair collides in most of the nTables tables — deduplicate the
    // candidate (idA, idB) BEFORE scoring (the vectors ride along; they are
    // identical for every duplicate of a pair) so the O(dim) cosine runs
    // once per pair, not once per (table, bucket) collision
    l.join(r, Seq("_table", "_bucket"))
      .filter(col("idA") < col("idB"))
      .dropDuplicates("idA", "idB")
      .select(col("idA"), col("idB"), cos.as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** [[embeddingNearDup]] with table geometry derived from the corpus
    * size — the 100 TB form. With FIXED `nBits`, per-bucket density grows
    * linearly with the corpus and within-bucket candidate pairs grow
    * QUADRATICALLY (measured 12× wall time for 10× rows in SCALE.md).
    * Deriving `nBits = log2(n / targetBucketRows)` pins expected bucket
    * occupancy at `targetBucketRows`, making candidate volume
    * ~`n · targetBucketRows · nTables` — linear in n. Raising bits lowers
    * per-table collision probability for TRUE pairs, so `nTables` is
    * derived from the threshold's per-bit agreement probability
    * (`1 - acos(threshold)/π`, the standard hyperplane-LSH identity) to
    * keep the per-pair miss probability at or below `missTarget`.
    *
    * Cost of the derivation: one count of the corpus. At a fixed corpus
    * size the explicit-parameter form is identical and skips the count.
    */
  def embeddingNearDupAuto(df: DataFrame, idCol: String, vecCol: String,
                           dim: Int, threshold: Double,
                           targetBucketRows: Int = 16,
                           missTarget: Double = 1e-3,
                           seed: Int = 42): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0,
      "cosine threshold must be in (0, 1) to derive LSH geometry")
    val n = math.max(1L, df.count())
    val (nBits, nTables) =
      deriveLshGeometry(n, threshold, targetBucketRows, missTarget)
    embeddingNearDup(df, idCol, vecCol, dim, threshold, nBits, nTables, seed)
  }

  /** Hard ceiling on LSH table count: candidate volume (and the explode
    * width) is linear in tables, so past this point narrower buckets are
    * the better trade — see [[deriveLshGeometry]]'s bit-reduction loop.
    */
  private val MaxTables = 64

  /** Corpus-size → (nBits, nTables) for hyperplane LSH. Occupancy-derived
    * bits first (`log2(n / targetBucketRows)`); if hitting `missTarget`
    * would need more than [[MaxTables]] tables at that width, REDUCE bits
    * until it fits — denser buckets (more candidates) in exchange for
    * keeping the promised per-pair recall, instead of silently capping
    * nTables and degrading the miss probability (round-5 ADVICE finding:
    * threshold 0.95 at nBits=24 needs ~86 tables; a silent 64-cap would
    * miss ~6e-3 vs the 1e-3 ask). Fails loudly if even nBits=4 can't
    * reach the target within the cap.
    */
  private[graft] def deriveLshGeometry(n: Long, threshold: Double,
                                       targetBucketRows: Int,
                                       missTarget: Double): (Int, Int) = {
    val pBit = 1.0 - math.acos(threshold) / math.Pi
    def tablesFor(bits: Int): Int = math.max(4,
      math.ceil(math.log(missTarget) / math.log1p(-math.pow(pBit, bits))).toInt)
    var nBits = math.min(24, math.max(8,
      math.ceil(math.log(n.toDouble / targetBucketRows) / math.log(2.0)).toInt))
    while (tablesFor(nBits) > MaxTables && nBits > 4) nBits -= 1
    val nTables = tablesFor(nBits)
    require(nTables <= MaxTables,
      s"missTarget=$missTarget unreachable within $MaxTables tables even at" +
        s" nBits=$nBits for threshold=$threshold — relax missTarget or call" +
        " embeddingNearDup with explicit geometry")
    (nBits, nTables)
  }

  /** SemDeDup (Abbas et al. 2023, "Semantic deduplication at web scale"):
    * k-means cluster the embedding space, compare pairs ONLY within a
    * cluster, and keep one representative (min id) of each
    * cosine-≥-threshold group. The clustering bounds the quadratic —
    * candidate cost is Σ|cell|², never |corpus|², and `nCells` is the
    * knob trading cross-cluster recall for cost (the paper's design
    * point: true semantic duplicates land in the same cluster). Reuses
    * the IVF coarse quantizer ([[IvfIndex.build]] — sampled k-means,
    * zero-shuffle argmin assignment) and the alternating-star connected
    * components ([[duplicateClusters]]) for transitive keep-one.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCells: Int,
                    trainSampleFraction: Double = 1.0,
                    seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "cosine threshold must be in (0, 1]")
    require(!Set("idA", "idB", "_cell", "_vA", "_vB").contains(idCol),
      s"id column '$idCol' collides with an internal name")
    val assigned = IvfIndex.build(df, idCol, vecCol, nCells,
      trainSampleFraction, seed, maxIter).assigned
    val l = assigned.select(col("_cell"), col(idCol).as("idA"),
      col(vecCol).as("_vA"))
    val r = assigned.select(col("_cell"), col(idCol).as("idB"),
      col(vecCol).as("_vB"))
    val pairs = l.join(r, Seq("_cell"))
      .filter(col("idA") < col("idB"))
      .filter(VectorFunctions.vecCosine(col("_vA"), col("_vB"))
        >= threshold)
      .select("idA", "idB")
    deduplicateByClusters(df, idCol, duplicateClusters(pairs))
  }

  /** [[semanticDedup]] with corpus-size-derived cluster count — the
    * paper's scale guidance is constant EXPECTED CELL SIZE, not constant
    * cell count (fixed cells make the within-cell quadratic grow with
    * the square of the corpus). Training samples ~256 points per cell,
    * capped at the corpus.
    */
  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, targetCellRows: Int = 512,
                        seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    require(targetCellRows > 0, "targetCellRows must be positive")
    val n = math.max(1L, df.count())
    val nCells = math.max(4, math.ceil(n.toDouble / targetCellRows).toInt)
    val frac = math.min(1.0, 256.0 * nCells / n)
    semanticDedup(df, idCol, vecCol, threshold, nCells, frac, seed, maxIter)
  }

  /** C4/RefinedWeb-style boilerplate line removal: a line occurring in
    * more than `maxDocs` DISTINCT documents is shared chrome (nav menus,
    * cookie banners, footers), not content — strip it from every document
    * and reassemble the text with the surviving lines in original order.
    * Documents whose every line is boilerplate come back with empty text
    * (the caller decides whether to drop them).
    *
    * Scale shape: `posexplode` keeps the line index without a window; the
    * document-frequency count runs over the DISTINCT (doc, line) pairs so
    * a line repeated within one document counts once; the banned-line set
    * is removed with a `left_anti` join (AQE broadcasts it when small —
    * boilerplate vocabularies usually are); reassembly is one groupBy per
    * document (a document's lines always fit one executor). Every groupBy
    * and join keys on (xxhash64(line), line) — the hash short-circuits
    * comparisons, the value comparison makes collisions harmless, exactly
    * like [[exact]].
    *
    * Output contract: every input column survives, in the input order,
    * with `textCol` replaced by the rebuilt text — payload columns (lang,
    * source, …) ride through on the id-keyed join instead of forcing the
    * caller to re-join them (round-5 ADVICE: the old (id, text)-only
    * output silently dropped them).
    */
  def stripRepeatedLines(docs: DataFrame, idCol: String, textCol: String,
                         maxDocs: Int, sep: String = "\n"): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be at least 1")
    val internal = Set("_pos", "_line", "_lh", "_clean")
    val clash = docs.columns.filter(internal.contains)
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(", ")} collide with operator internals")
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_pos", "_line")))
      .withColumn("_lh", xxhash64(col("_line")))
    val banned = lines.select(col(idCol), col("_lh"), col("_line")).distinct()
      .groupBy("_lh", "_line").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocs)
      .select("_lh", "_line")
    val kept = lines.join(banned, Seq("_lh", "_line"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_pos"), col("_line")))),
        s => s.getField("_line")), sep).as("_clean"))
    val outCols = docs.columns.map {
      case c if c == textCol => coalesce(col("_clean"), lit("")).as(textCol)
      case c                 => col(c)
    }
    docs.join(rebuilt, Seq(idCol), "left").select(outCols.toSeq: _*)
  }

  /** Substring-level duplication report in the style of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better"): for
    * every document, the fraction of its k-token spans (sliding windows,
    * stride 1) that also occur in at least `minDocs - 1` OTHER documents.
    * Catches long verbatim passages shared across documents — licence
    * blocks, syndicated paragraphs, templated intros — that document- or
    * line-level dedup both miss. A high `dup_fraction` marks a document
    * as substantially non-original; the removal decision (drop, or strip
    * the spans) composes downstream.
    *
    * Scale shape (the suffix-array of the paper is replaced by span
    * hashing, which Spark can distribute): spans are built row-locally
    * from ONE let-bound token array; the per-span document count runs
    * over `array_distinct` spans — deduplicated INSIDE the row, so no
    * distinct-shuffle precedes the count; grouping keys on
    * (charPolyHash(span), span) — hash short-circuits comparison, value
    * comparison makes collisions harmless, and the SQL-replayable hash
    * gives the operator a value-level oracle. The repeated-span set is
    * corpus-boilerplate-sized, so AQE broadcasts the position-count join.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, "span length k must be at least 2")
    require(minDocs >= 2, "minDocs must be at least 2")
    // every internal AND output name this operator generates — an idCol
    // named e.g. dup_spans would otherwise yield duplicate output columns
    // instead of the loud failure this guard promises
    val internal = Set("_span", "_h", "_dup", "_docs",
                       "n_spans", "dup_spans", "dup_fraction")
    require(!internal.contains(idCol),
      s"id column '$idCol' collides with an internal or output name")
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val spansOf = graft.functions.Exprs.let(toks, t =>
      when(size(t) >= k,
        transform(sequence(lit(1), size(t) - (k - 1)),
          i => concat_ws(" ", slice(t, i, lit(k))))))
    val spanPositions = docs
      .select(col(idCol), explode(spansOf).as("_span"))
      .withColumn("_h", graft.functions.TextHash.charPolyHash(col("_span")))
    val repeated = docs
      .select(col(idCol), explode(array_distinct(spansOf)).as("_span"))
      .withColumn("_h", graft.functions.TextHash.charPolyHash(col("_span")))
      .groupBy("_h", "_span").agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select("_h", "_span")
    val dupPerDoc = spanPositions
      .join(repeated, Seq("_h", "_span"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_dup"))
    docs
      .select(col(idCol), graft.functions.Exprs.let(toks, t =>
        greatest(lit(0), size(t) - (k - 1)).cast("long")).as("n_spans"))
      .join(dupPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("_dup"), lit(0L)).as("dup_spans"),
        when(col("n_spans") === 0, 0.0).otherwise(
          round(coalesce(col("_dup"), lit(0L)).cast("double") / col("n_spans"),
            4)).as("dup_fraction"))
  }

  /** Span REMOVAL — the action [[repeatedSpans]] only reports (Lee et al.
    * 2021 §4.2 "ExactSubstr": dropping the repeated substring beats
    * dropping whole documents): rebuild every document with each
    * occurrence of a cross-document-repeated k-token span removed. A
    * token is dropped when ANY repeated-span occurrence covers it (the
    * union of covering windows — overlapping repeats merge naturally),
    * and the surviving tokens are rejoined in order with single spaces:
    * whitespace-normalized output, [[stripRepeatedLines]]'s rebuild
    * contract. Documents with fewer than k tokens have no spans and pass
    * through (normalized) untouched. All non-text columns are preserved.
    *
    * Scale shape: the repeated set derives exactly as in
    * [[repeatedSpans]] (row-local spans from one let-bound token array,
    * row-local `array_distinct` before the doc count, (hash, span)
    * grouping, boilerplate-sized result broadcast by AQE); covered
    * START POSITIONS — repeat occurrences, boilerplate-sized per doc,
    * NOT covered tokens — regroup in one narrow shuffle on the doc id;
    * the rebuild is a row-local higher-order-function pass over the
    * token array. Nothing quadratic in the corpus, nothing driver-side.
    */
  def stripRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, "span length k must be at least 2")
    require(minDocs >= 2, "minDocs must be at least 2")
    val internal = Set("_span", "_h", "_i", "_pos", "_poss", "_clean")
    val clash = docs.columns.filter(internal.contains)
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(", ")} collide with operator internals")
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val spansOf = graft.functions.Exprs.let(toks, t =>
      when(size(t) >= k,
        transform(sequence(lit(1), size(t) - (k - 1)),
          i => concat_ws(" ", slice(t, i, lit(k))))))
    val repeated = docs
      .select(col(idCol), explode(array_distinct(spansOf)).as("_span"))
      .withColumn("_h", graft.functions.TextHash.charPolyHash(col("_span")))
      .groupBy("_h", "_span").agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select("_h", "_span")
    // start positions (1-based) of repeated spans, regrouped per doc
    val posPerDoc = docs
      .select(col(idCol), posexplode(spansOf).as(Seq("_i", "_span")))
      .withColumn("_h", graft.functions.TextHash.charPolyHash(col("_span")))
      .join(repeated, Seq("_h", "_span"), "left_semi")
      .select(col(idCol), (col("_i") + 1).as("_pos"))
      .groupBy(col(idCol)).agg(collect_list(col("_pos")).as("_poss"))
    val rebuilt = graft.functions.Exprs.let(toks, t =>
      graft.functions.Exprs.let(
        coalesce(col("_poss"), array().cast("array<int>")), ps =>
        when(size(t) >= 1,
          concat_ws(" ", filter(
            transform(sequence(lit(1), size(t)), j =>
              when(!exists(ps, p => j >= p && j <= p + (k - 1)),
                element_at(t, j))),
            x => x.isNotNull)))
          .otherwise(lit(""))))
    val outCols = docs.columns.map {
      case c if c == textCol => rebuilt.as(textCol)
      case c                 => col(c)
    }
    docs.join(posPerDoc, Seq(idCol), "left").select(outCols.toSeq: _*)
  }

  /** Exact dedup of a new batch against an arbitrarily large HISTORY of
    * already-ingested content, with a Bloom pre-filter so the exact check
    * only pays for rows that might be duplicates. The steady-state shape
    * at 100 TB: most of each incoming batch is genuinely new, and a plain
    * anti-join would shuffle the ENTIRE batch against the entire history
    * every time. Instead the history's content fingerprints are folded
    * into one Bloom filter (a distributed aggregate; only the filter's
    * bytes reach the driver), broadcast into a codegen'd
    * `BloomFilterMightContain` scan predicate, and:
    *  - bloom-NEGATIVE rows are DEFINITELY new (no false negatives) —
    *    they pass through with zero shuffle;
    *  - bloom-POSITIVE rows (true duplicates + an `fpp` sliver of false
    *    positives) are verified with an exact anti-join on the
    *    fingerprint, so the result is EXACTLY `batch minus history` —
    *    the Bloom changes the cost, never the answer.
    *
    * Semantics: dedups against history only (within-batch duplicates are
    * [[exact]]'s job); "duplicate" means equal whitespace-normalized text
    * fingerprint ([[TextAnalysis.fingerprint]]). Size the filter with
    * `expectedItems ≈ |history|`: 10^9 fingerprints at fpp 0.03 is a
    * ~0.9 GiB broadcast — beyond that, shard history by fingerprint range
    * and run one pass per shard.
    *
    * Reference analog: the streaming dedup-vs-history path
    * (python/hsfs/core/feature_group_engine.py insert-overwrite guards);
    * the Bloom pre-filter is the scale path the reference lacks.
    */
  def dedupAgainstHistory(batch: DataFrame, history: DataFrame,
                          textCol: String,
                          expectedItems: Long = 10000000L,
                          fpp: Double = 0.03): DataFrame = {
    val fpCol = "_graft_fp"
    // the distinct fingerprint frame is consumed TWICE — bloom build and
    // anti-join build side — so persist it across both: uncached, the
    // full history would be scanned and distinct-shuffled twice per call,
    // defeating the Bloom at exactly the 10^9-row scale it targets. The
    // bloom-build action below populates the cache; lifetime is left to
    // the session (the frame is the anti-join's build side, so it stays
    // live as long as the returned frame does).
    val histFp = history
      .select(graft.ops.TextAnalysis.fingerprint(col(textCol)).as(fpCol))
      .distinct()
      .persist()
    dedupAgainstFpCore(batch, histFp, textCol, expectedItems, fpp)
  }

  /** Variant over an already-maintained fingerprint frame (one column of
    * [[TextAnalysis.fingerprint]] values, as the streaming ingest path
    * persists — see q73): skips the history scan entirely, so steady-state
    * ingest pays only the batch fingerprinting + bloom build over the
    * compact fingerprint store. Duplicate fingerprints in `fingerprints`
    * don't change the answer (bloom insertion and anti-join existence are
    * both idempotent), only the build cost — keep the store distinct.
    */
  def dedupAgainstHistoryFingerprints(batch: DataFrame,
                                      fingerprints: DataFrame,
                                      fingerprintCol: String,
                                      textCol: String,
                                      expectedItems: Long = 10000000L,
                                      fpp: Double = 0.03): DataFrame =
    dedupAgainstFpCore(batch,
      fingerprints.select(col(fingerprintCol).as("_graft_fp")),
      textCol, expectedItems, fpp)

  private def dedupAgainstFpCore(batch: DataFrame, histFp: DataFrame,
                                 textCol: String, expectedItems: Long,
                                 fpp: Double): DataFrame = {
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val fpCol = "_graft_fp"
    require(!batch.columns.contains(fpCol),
      s"batch column '$fpCol' collides with an operator internal")
    val bloom = histFp.stat.bloomFilter(fpCol, expectedItems, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // checkpoint the fingerprinted batch so it is evaluated EXACTLY once:
    // the bloom split consumes it twice (negative filter + positive
    // branch), and a nondeterministic upstream (sampling, rand-derived
    // filters) evaluated independently per consumer could silently drop
    // rows that flip sides between evaluations — a correctness bug, not
    // just doubled cost. A batch is the bounded increment of an ingest
    // pipeline, so materializing it is cheap relative to that risk.
    val withFp = batch.withColumn(fpCol,
      graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .pinned(true)
    val might = graft.functions.BloomFunctions.mightContain(col(fpCol), bloomBytes)
    val definitelyNew = withFp.filter(!might)
    val verifiedNew = withFp.filter(might)
      .join(histFp, Seq(fpCol), "left_anti")
    definitelyNew.unionByName(verifiedNew).drop(fpCol)
  }

  /** Pick the canonical SURVIVOR of each duplicate cluster — the step
    * that ends every dedup pipeline ("which copy do we keep?"):
    * highest `qualityCol` wins, ties broken by smallest id (the
    * deterministic contract a re-run must reproduce). `clusterCol` is
    * whatever keyed the duplicates — a [[graft.ops.TextAnalysis
    * .fingerprint]], an aHash, or a [[duplicateClusters]] component id.
    * Returns one row per cluster: the representative id, its quality,
    * and the member count.
    *
    * Scale shape: ONE keyed window (partitioned by cluster — clusters
    * are many, so it parallelizes; never a global sort) over the
    * already-clustered frame.
    */
  def clusterRepresentatives(df: DataFrame, clusterCol: String,
                             idCol: String,
                             qualityCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(clusterCol))
    val ranked = df.select(col(clusterCol), col(idCol),
        qualityCol.as("_q"))
      .withColumn("_rn", row_number().over(
        w.orderBy(col("_q").desc, col(idCol).asc)))
      .withColumn("n_members", count(lit(1)).over(w))
    ranked.filter(col("_rn") === 1)
      .select(col(clusterCol), col(idCol).as("representative_id"),
        col("_q").as("quality"), col("n_members").cast("long"))
  }

  /** Typo-level near-duplicate pairs: all (id_a < id_b) pairs whose
    * `strCol` values are within Levenshtein distance 1 — the fuzzy-key
    * dedup for titles / URLs / product names where MinHash shingles are
    * too coarse.
    *
    * Scale shape — pigeonhole blocking instead of an O(n²) cross join:
    * a single edit at position p either leaves the first `prefixLen`
    * characters intact (p ≥ prefixLen) or, when every string is at
    * least 2·prefixLen long, leaves the last `prefixLen` characters
    * intact (p < prefixLen ⇒ the edit sits strictly before the final
    * prefixLen characters). So every true pair co-buckets under the
    * exact-prefix key OR the exact-suffix key; candidates are the two
    * bucketed self-joins (length difference ≤ 1), de-duped, then
    * verified with the exact `levenshtein` — candidate volume is
    * Σ|bucket|², never n². Inputs shorter than 2·prefixLen are
    * rejected loudly rather than silently losing the guarantee.
    *
    * Output: (id_a, id_b, dist) with dist ∈ {0, 1}.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        prefixLen: Int = 8): DataFrame = {
    require(prefixLen >= 1, "prefixLen must be at least 1")
    // pinned (Materialize policy): blocks free on GC instead of
    // accumulating CacheManager entries across invocations
    val base = df.select(col(idCol).cast("long").as("_id"),
        col(strCol).cast("string").as("_s"))
      .filter(col("_s").isNotNull)
      .withColumn("_n", length(col("_s")))
      .pinned()
    // the pigeonhole guarantee needs len ≥ 2·prefixLen everywhere
    val shortCount = base.filter(col("_n") < 2 * prefixLen).limit(1).count()
    require(shortCount == 0L,
      s"editDistancePairs(prefixLen=$prefixLen) requires every string " +
        s"to be at least ${2 * prefixLen} chars")
    def bucketed(key: Column): DataFrame = {
      val l = base.select(key.as("_k"), col("_id").as("id_a"),
        col("_s").as("_sa"), col("_n").as("_na"))
      val r = base.select(key.as("_k"), col("_id").as("id_b"),
        col("_s").as("_sb"), col("_n").as("_nb"))
      l.join(r, Seq("_k"))
        .filter(col("id_a") < col("id_b") &&
          abs(col("_na") - col("_nb")) <= 1)
        .select(col("id_a"), col("id_b"), col("_sa"), col("_sb"))
    }
    val cands = bucketed(substring(col("_s"), 1, prefixLen))
      .unionByName(bucketed(substring(col("_s"), -prefixLen, prefixLen)))
      .distinct()
    cands
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist").cast("long"))
  }

  /** Near-key pair detection: all (id_a, id_b) pairs agreeing on
    * `partitionCols` whose integer `keyCol` values differ by at most
    * `delta` — the at-least-once-ingestion artifact finder ("same user,
    * same action, seconds apart = probable redelivery") and the numeric
    * sorted-neighborhood blocking primitive for entity resolution.
    *
    * Scale shape — bucket-banded, never a rank window: keys bucket at
    * width `delta`, so any qualifying pair sits in the same or adjacent
    * buckets; candidates are ONE equi-join on (partitionCols, bucket)
    * with the left side probing bucket b and b+1. No global sort, no
    * SinglePartition window, no n² — candidate volume is Σ|bucket|²
    * within each partition key. The exact |Δkey| ≤ delta verify runs
    * row-local on candidates only.
    *
    * Output: partitionCols, id_a < id_b, key_a = id_a's key,
    * key_b = id_b's key (aligned per id, NOT the sorted key pair —
    * when the smaller id carries the larger key, key_a > key_b), diff.
    */
  def nearKeyPairs(df: DataFrame, idCol: String, keyCol: Column,
                   delta: Long,
                   partitionCols: Seq[String] = Nil): DataFrame = {
    require(delta >= 1, "delta must be at least 1")
    val p = partitionCols.map(col)
    val base = df.select((p :+ col(idCol).as("_id") :+
        keyCol.cast("long").as("_k")): _*)
      .filter(col("_id").isNotNull && col("_k").isNotNull)
      .withColumn("_bkt", expr(s"_k div ${delta}L"))
    val probes = base.withColumn("_probe",
      explode(array(col("_bkt"), col("_bkt") + 1)))
    val l = probes.select((p :+ col("_id").as("_ida") :+
      col("_k").as("_ka") :+ col("_probe")): _*)
    val r = base.select((p :+ col("_id").as("_idb") :+
      col("_k").as("_kb") :+ col("_bkt").as("_probe")): _*)
    l.join(r, partitionCols :+ "_probe")
      .filter(col("_ida") =!= col("_idb") &&
        abs(col("_ka") - col("_kb")) <= delta)
      .select((p :+
        least(col("_ida"), col("_idb")).as("id_a") :+
        greatest(col("_ida"), col("_idb")).as("id_b") :+
        when(col("_ida") < col("_idb"), col("_ka"))
          .otherwise(col("_kb")).as("key_a") :+
        when(col("_ida") < col("_idb"), col("_kb"))
          .otherwise(col("_ka")).as("key_b") :+
        abs(col("_ka") - col("_kb")).as("diff")): _*)
      .distinct()
  }
}
