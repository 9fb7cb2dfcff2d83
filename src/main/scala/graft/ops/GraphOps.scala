package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.PinOps

/** Graph-shaped feature operators: Markov transition features over
  * per-entity event sequences, and fixed-iteration PageRank over a
  * weighted edge frame. Both are beyond the reference's own surface —
  * part of the large-scale pipeline brief (behavioral transition
  * features for event streams; link-graph reputation for URL/domain
  * curation alongside `UrlCuration`'s static gate).
  *
  * Scale shapes:
  *  - [[transitionCounts]]: ONE shuffle by entity (the sequence window),
  *    then a map-side-combined groupBy collapsing to |states|² rows —
  *    everything downstream is transition-matrix-sized.
  *  - [[pageRank]]: the classic distributed iteration — each round joins
  *    the |nodes| rank frame into the (cached, pre-collapsed) weighted
  *    edge frame and re-aggregates by destination; work per round is
  *    O(|edges|) with no driver-side state. Lineage is severed every
  *    `checkpointEvery` rounds so a deep iteration never grows an
  *    unbounded plan (the q57/q63 connected-components lesson).
  */
object GraphOps {

  /** First-order Markov transition matrix over per-entity sequences:
    * order each entity's rows by `orderCols` (caller supplies a total
    * order — include a tie-break column), pair each state with its
    * successor via `lead`, and count (from → to) transitions globally.
    * `p_transition` is the row-conditional probability
    * n(from→to) / n(from→·).
    */
  def transitionCounts(df: DataFrame, entityCol: String,
                       orderCols: Seq[Column],
                       stateCol: Column): DataFrame = {
    // alias the order expressions before the projection narrows the
    // frame — the window must resolve against the projected columns
    val oc = orderCols.zipWithIndex.map { case (c, i) => c.as(s"_o$i") }
    val w = Window.partitionBy(col(entityCol))
      .orderBy(oc.indices.map(i => col(s"_o$i")): _*)
    val pairs = df
      .select(col(entityCol) +: stateCol.cast("string").as("from_state") +:
        oc: _*)
      .withColumn("to_state", lead(col("from_state"), 1).over(w))
      .filter(col("to_state").isNotNull)
    val counts = pairs.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n_transitions"))
    // row totals: re-aggregate the tiny |states|² frame and broadcast it
    // back — never a SinglePartition window over the matrix
    val totals = counts.groupBy(col("from_state"))
      .agg(sum(col("n_transitions")).as("_row_n"))
    counts.join(broadcast(totals), Seq("from_state"))
      .select(col("from_state"), col("to_state"), col("n_transitions"),
        round(col("n_transitions").cast("double") /
          col("_row_n").cast("double"), 6).as("p_transition"))
  }

  /** Held-out negative log-likelihood of a fitted [[transitionCounts]]
    * model: score a LATER period's per-entity transition pairs under
    * the model's add-k smoothed row distributions, p(to | from) =
    * (n_{from,to} + k) / (n_{from,·} + k·V) with V = the model's state
    * count — unseen contexts degrade smoothly to the uniform 1/V.
    * Per-entity mean NLL is the sequence-model generalization check
    * (fit on window 1, score window 2: a rising NLL means behaviour
    * drifted) — the event-sequence analog of
    * [[graft.ops.TextAnalysis.bigramLmScore]]'s CCNet-style fluency
    * filter, with the same fit-corpus ≠ scored-corpus discipline.
    *
    * Scale shape: the model is |states|² rows (broadcast, with its row
    * totals and V); the scored side is one keyed lead window + one
    * map-side-combined per-entity mean — one shuffle over the scored
    * period.
    */
  def transitionNll(model: DataFrame, df: DataFrame, entityCol: String,
                    orderCols: Seq[Column], stateCol: Column,
                    addK: Double = 0.5): DataFrame = {
    require(addK > 0.0, "addK must be positive")
    val oc = orderCols.zipWithIndex.map { case (c, i) => c.as(s"_o$i") }
    val w = Window.partitionBy(col(entityCol))
      .orderBy(oc.indices.map(i => col(s"_o$i")): _*)
    val pairs = df
      .select(col(entityCol) +: stateCol.cast("string").as("_from") +:
        oc: _*)
      .withColumn("_to", lead(col("_from"), 1).over(w))
      .filter(col("_to").isNotNull)
      .select(col(entityCol), col("_from"), col("_to"))
    val m = model.select(col("from_state").as("_mf"),
      col("to_state").as("_mt"), col("n_transitions").as("_n"))
    val vocab = m.select(col("_mf").as("_st"))
      .unionByName(m.select(col("_mt").as("_st")))
      .distinct().agg(count(lit(1)).as("_v"))
    val rowTot = m.groupBy(col("_mf")).agg(sum(col("_n")).as("_nf"))
      .withColumnRenamed("_mf", "_rf")
    pairs
      .join(broadcast(m),
        col("_from") === col("_mf") && col("_to") === col("_mt"), "left")
      .join(broadcast(rowTot), col("_from") === col("_rf"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("_p", (coalesce(col("_n"), lit(0L)) + lit(addK)) /
        (coalesce(col("_nf"), lit(0L)) + lit(addK) * col("_v")))
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_transitions"),
        round(-avg(log(col("_p"))), 4).as("avg_nll"))
  }

  /** Fixed-iteration damped PageRank over a (multi-)edge frame.
    * Parallel edges are collapsed to weights once up front; a node's
    * contribution along an edge is `rank · w / Σw(out)`. Ranks follow
    * the classic unnormalized recurrence
    * `r'(v) = (1 − d) + d · Σ contributions(v)` from `r₀ = 1` —
    * deterministic given the edge set, so the whole iteration is
    * value-oracle-able by unrolling in SQL. Sink nodes (no out-edges)
    * keep receiving rank but contribute none, per the same recurrence.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 3, damping: Double = 0.85,
               checkpointEvery: Int = 10): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    // collapse parallel edges and pre-divide by the source's total
    // out-weight: the per-round join then carries ONE multiply per edge
    val ew = edges
      .groupBy(col(srcCol).cast("long").as("_s"),
        col(dstCol).cast("long").as("_d"))
      .agg(count(lit(1)).cast("double").as("_w"))
    val outW = ew.groupBy(col("_s")).agg(sum(col("_w")).as("_ow"))
    // pinned (Materialize policy): blocks free on GC instead of
    // accumulating CacheManager entries across invocations
    val share = ew.join(outW, "_s")
      .select(col("_s"), col("_d"), (col("_w") / col("_ow")).as("_share"))
      .pinned()
    val nodes = share.select(col("_s").as("node"))
      .union(share.select(col("_d")))
      .distinct().pinned()
    var ranks = nodes.select(col("node"), lit(1.0).as("rank"))
    var i = 0
    while (i < iterations) {
      i += 1
      val contribs = share
        .join(ranks, col("_s") === col("node"))
        .select(col("_d").as("node"),
          (col("rank") * col("_share")).as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_sc"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("_sc"), lit(0.0))).as("rank"))
      if (i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.pinned(false)
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Per-node triangle counts over an undirected (multi-)edge frame —
    * the clustering-coefficient numerator and the classic link-spam /
    * community-density signal next to [[pageRank]].
    *
    * Scale shape — degree-ordered orientation (compact-forward): after
    * collapsing to canonical distinct edges (low id < high id, no self
    * loops), each edge is oriented from its lower-(degree, id) endpoint
    * to its higher one. Every wedge is then enumerated at its LOWEST
    * corner, so the self-join fan-out per node is out-degree², and
    * out-degree is O(√|E|) for every node regardless of skew — a
    * celebrity node with 10⁸ followers contributes no 10¹⁶-pair wedge
    * explosion because its edges point INTO it. The wedge frame is
    * closed against the oriented edge set with one more equi-join.
    * Triangle membership is orientation-invariant, so an external
    * oracle can replay with the simpler id-ordered enumeration.
    *
    * Returns (node, n_triangles) for every node of the canonical edge
    * set, zeros included.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected edge set: low < high, loops dropped, distinct
    val und = edges
      .select(col(srcCol).cast("long").as("_u"), col(dstCol).cast("long").as("_v"))
      .filter(col("_u") =!= col("_v"))
      .select(least(col("_u"), col("_v")).as("_a"),
        greatest(col("_u"), col("_v")).as("_b"))
      .distinct()
    val deg = und.select(col("_a").as("node"))
      .union(und.select(col("_b")))
      .groupBy("node").agg(count(lit(1)).as("_deg"))
    // total order (degree, id): orient each edge low → high under it
    val withDeg = und
      .join(deg.withColumnRenamed("node", "_a").withColumnRenamed("_deg", "_da"), "_a")
      .join(deg.withColumnRenamed("node", "_b").withColumnRenamed("_deg", "_db"), "_b")
    val oriented = withDeg.select(
        when(struct(col("_da"), col("_a")) < struct(col("_db"), col("_b")),
          struct(col("_a").as("s"), col("_b").as("d"),
            col("_db").as("dd")))
          .otherwise(struct(col("_b").as("s"), col("_a").as("d"),
            col("_da").as("dd"))).as("_e"))
      .select(col("_e.s").as("s"), col("_e.d").as("d"), col("_e.dd").as("dd"))
      .pinned()
    // wedges at the lowest corner: (s; b, c) with ord(b) < ord(c), then
    // close against the oriented edge b → c
    val x = oriented.select(col("s"), col("d").as("b"), col("dd").as("db"))
    val y = oriented.select(col("s"), col("d").as("c"), col("dd").as("dc"))
    val wedges = x.join(y, Seq("s"))
      .filter(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
    val closing = oriented.select(col("s").as("b"), col("d").as("c"))
    val triangles = wedges.join(closing, Seq("b", "c"))
      .select(col("s").as("n1"), col("b").as("n2"), col("c").as("n3"))
    val corners = triangles.select(col("n1").as("node"))
      .union(triangles.select(col("n2")))
      .union(triangles.select(col("n3")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.select(col("node")).join(corners, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Degree assortativity of an undirected graph — the Pearson
    * correlation of endpoint degrees over edges (Newman 2002):
    * positive = hubs attach to hubs (social nets), negative = hubs
    * attach to leaves (hub-and-spoke infrastructure). A one-number
    * structure summary next to [[triangleCounts]]' local density.
    *
    * Exactness: degrees are integers, and each undirected edge
    * contributes BOTH ordered pairs (da, db), (db, da) — the standard
    * symmetrization — so the correlation sums (n, Σx, Σxx, Σxy, with
    * Σx = Σy and Σxx = Σyy by symmetry) are exact integers AND the
    * sqrt in Pearson's denominator cancels algebraically:
    * r = (nΣxy − (Σx)²) / (nΣxx − (Σx)²), integers to one division.
    * The sums and their products are carried in DECIMAL(38,0), not
    * LONG — Σxy grows up to deg²·|E| and hub-heavy graphs would wrap
    * 64-bit past 9.2·10¹⁸; decimal buys 10³⁸ headroom (beyond that
    * the result is NULL, never silently wrong).
    * Degenerate variance (regular graphs) → NULL.
    *
    * Scale shape: canonical-edge collapse, a degree frame, two
    * node-keyed joins, one global five-sum aggregate.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("_u"), col(dstCol).cast("long").as("_v"))
      .filter(col("_u") =!= col("_v"))
      .select(least(col("_u"), col("_v")).as("_a"),
        greatest(col("_u"), col("_v")).as("_b"))
      .distinct()
    val deg = und.select(col("_a").as("node"))
      .union(und.select(col("_b")))
      .groupBy("node").agg(count(lit(1)).as("_deg"))
    val paired = und
      .join(deg.withColumnRenamed("node", "_a").withColumnRenamed("_deg", "_da"), "_a")
      .join(deg.withColumnRenamed("node", "_b").withColumnRenamed("_deg", "_db"), "_b")
    // both orientations: Σx = Σy and Σxx = Σyy by construction
    val sym = paired.select(col("_da").as("_x"), col("_db").as("_y"))
      .unionByName(paired.select(col("_db").as("_x"), col("_da").as("_y")))
    // DECIMAL(38,0) sums and products: n·Σxy, n·Σxx, (Σx)² are long
    // products of long sums and would silently wrap past 9.2·10¹⁸ on
    // hub-heavy graphs (Σxy grows up to deg²·|E|); decimal buys 10³⁸
    // headroom and the final ratio casts to double anyway
    val xd = col("_x").cast("decimal(38,0)")
    val sums = sym.agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
      sum(xd).as("_sx"),
      sum(xd * col("_x")).as("_sxx"),
      sum(xd * col("_y")).as("_sxy"))
    sums.select(col("_n").cast("long").as("n_ordered_pairs"),
      when(col("_n") * col("_sxx") - col("_sx") * col("_sx") =!= lit(0),
        round((col("_n") * col("_sxy") - col("_sx") * col("_sx"))
          .cast("double") /
          (col("_n") * col("_sxx") - col("_sx") * col("_sx"))
            .cast("double"), 6)).as("assortativity"))
  }
}
