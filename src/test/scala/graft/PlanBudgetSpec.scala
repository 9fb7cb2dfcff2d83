package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}

/** Regression tripwires on the FLAGSHIP queries' physical plans (round-8
  * verdict #7): the invariants the per-round plan audits verified ad hoc
  * — shuffle budgets, no cartesian products outside the explicit CROSS
  * query, broadcast on the model-table joins — asserted per query so a
  * refactor that silently adds an Exchange fails `sbt test`, not the
  * next benchmark read.
  *
  * Budgets are UPPER BOUNDS set one above nothing — they encode "this
  * query's plan shape is K shuffles by design"; loosening one in a diff
  * is a reviewable scale decision. Plans are built at sf0.001 with AQE
  * off (the statically-planned tree; AQE only improves it at runtime).
  */
class PlanBudgetSpec extends SparkSpec {

  private def plan(name: String): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def shuffles(p: SparkPlan): Int =
    p.collect { case _: ShuffleExchangeExec => () }.size +
      p.subqueries.map(shuffles).sum

  private def broadcasts(p: SparkPlan): Int =
    p.collect { case _: BroadcastExchangeExec => () }.size +
      p.subqueries.map(broadcasts).sum

  private def assertBudget(name: String, maxShuffles: Int): Unit = {
    val p = plan(name)
    val n = shuffles(p)
    assert(n <= maxShuffles,
      s"$name: $n shuffle Exchanges > budget $maxShuffles —\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"$name grew a CartesianProduct:\n$p")
  }

  test("q07 PIT join: union + one keyed window shuffle (+ output sort)") {
    // union both sides, ONE hashpartition shuffle for the running-last
    // window, one range exchange for the deterministic output orderBy
    assertBudget("q07_pit_join", maxShuffles = 2)
  }

  test("q24 MinHash-LSH: banded candidate generation stays in budget") {
    // shingle/minhash (narrow) → band explode → bucket shuffle → pair
    // dedup → verify join + output sort; NO all-pairs shuffle
    assertBudget("q24_minhash_lsh", maxShuffles = 6)
  }

  test("q95 sequence packing: two-level prefix sum, never one partition") {
    val p = plan("q95_sequence_packing")
    assert(shuffles(p) <= 6,
      s"q95: ${shuffles(p)} shuffles —\n$p")
    // the two-level prefix sum's defining property: no single-partition
    // global window (the naive Window.orderBy implementation)
    assert(graft.tools.PlanAudit.unjustifiedSinglePartitions(p).isEmpty,
      s"q95 grew a single-partition stage:\n$p")
  }

  test("q22 exact dedup: one narrow (hash, content) shuffle + sort") {
    assertBudget("q22_dedup_exact", maxShuffles = 3)
  }

  test("q88 DSIR: model tables join BROADCAST, corpus never reshuffles") {
    val p = plan("q88_dsir_score")
    assert(broadcasts(p) >= 1,
      s"q88 lost its broadcast model-table join:\n$p")
    // the scoring pass itself: corpus scan + broadcast joins + row-local
    // math; shuffles only in the (checkpointed) model-fit lineage
    assert(!p.toString.contains("CartesianProduct"))
  }

  test("q79 bigram LM: count-table joins stay broadcast") {
    val p = plan("q79_lm_perplexity")
    assert(broadcasts(p) >= 1,
      s"q79 lost its broadcast count-table join:\n$p")
    assert(!p.toString.contains("CartesianProduct"))
  }

  test("q101 PSI drift: one map-side-combined scan, tiny-frame folds") {
    assertBudget("q101_psi_drift", maxShuffles = 4)
  }

  test("q102 batch sessionization: window exchange reused by the agg") {
    // one hashpartition shuffle shared by window + session agg, one
    // output sort
    assertBudget("q102_batch_sessions", maxShuffles = 2)
  }

  test("q113 ingest loop: merged stats fold partials, bounded shuffles") {
    assertBudget("q113_ingest_loop", maxShuffles = 4)
  }

  test("only the explicit CROSS query may contain a cartesian product") {
    val p = plan("q10_join_cross").toString
    assert(p.contains("CartesianProduct") || p.contains("BroadcastNestedLoop"),
      s"q10 should be the cross-join query:\n$p")
  }

  // ---- round-10 additions (VERDICT r9 #5): the rest of the top-10 ----

  test("q63 CC loop: one alternating-star ROUND is a fixed shuffle count") {
    // per round by design: large-star (sym groupBy(u) agg + shuffle join
    // + distinct) then small-star (same shape on oriented edges) — the
    // loop's cost is K_round × O(log n) rounds, so a regression here
    // multiplies by the round count. Budget measured on the real round
    // body (Dedup.ccLargeStar/ccSmallStar, the code q63 runs), checked
    // one above nothing.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("u", "v")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the FUSED round (r14): large-star's u-keyed output dedup is the
      // same exchange small-star's aggregate+join consume, and the
      // oriented small-star adds none of its own before its final
      // distinct — 3 shuffles per round (sym-by-u, mid-dedup-by-u,
      // round-end distinct), down from the r13 shape's 6-node/4-executed
      val round = graft.ops.Dedup.ccSmallStarOriented(
        graft.ops.Dedup.ccLargeStar(edges))
      val p = round.queryExecution.executedPlan
      val n = shuffles(p)
      assert(n <= 4, s"CC round grew to $n shuffles —\n$p")
      assert(!p.toString.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q34 windowed agg: exactly one StateStoreSave micro-batch shape") {
    graft.streaming.Streaming.lastMicroBatchPlan = None
    SparkEntry.queries("q34_stream_agg")(spark, sfDir).collect()
    val p = graft.streaming.Streaming.lastMicroBatchPlan
      .getOrElse(fail("q34 recorded no micro-batch plan")).toString
    assert(p.contains("StateStoreSave"),
      s"q34 lost its windowed-agg state store:\n$p")
  }

  test("q48 custom-state sessionization: flatMapGroupsWithState, one " +
    "state operator") {
    graft.streaming.Streaming.lastMicroBatchPlan = None
    SparkEntry.queries("q48_sessionization")(spark, sfDir).collect()
    val p = graft.streaming.Streaming.lastMicroBatchPlan
      .getOrElse(fail("q48 recorded no micro-batch plan")).toString
    assert(p.contains("FlatMapGroupsWithState"),
      s"q48 lost its custom-state operator:\n$p")
    assert(!p.contains("StateStoreSave"),
      s"q48 grew a second stateful operator:\n$p")
  }

  test("q52 native session window: SessionWindowStateStoreSave with the " +
    "map-side local merge") {
    graft.streaming.Streaming.lastMicroBatchPlan = None
    SparkEntry.queries("q52_session_window")(spark, sfDir).collect()
    val p = graft.streaming.Streaming.lastMicroBatchPlan
      .getOrElse(fail("q52 recorded no micro-batch plan")).toString
    assert(p.contains("SessionWindowStateStoreSave"),
      s"q52 lost the native session-window state store:\n$p")
    // the local-partition merge keeps the stateful shuffle one-row-per-
    // partial-session, not one-row-per-event (SparkSessions sets it)
    assert(spark.conf.get("spark.sql.streaming.sessionWindow" +
      ".merge.sessions.in.local.partition") == "true")
  }

  test("q83 materialization: stateless append into foreachBatch upsert " +
    "(exactly-once = checkpoint + idempotent sink, not state)") {
    // the stream carries NO state store by design; what must stay
    // bounded is the batch half — the final lake snapshot read
    assertBudget("q83_stream_materialize", maxShuffles = 3)
  }

  test("q100 domain reputation: per-domain rate + broadcast gate") {
    val p = plan("q100_domain_reputation")
    assert(shuffles(p) <= 4, s"q100: ${shuffles(p)} shuffles —\n$p")
    assert(broadcasts(p) >= 1,
      s"q100 lost its broadcast reputation gate:\n$p")
    assert(!p.toString.contains("CartesianProduct"))
  }

  test("q122 OOF target encoding: cell frame joins back BROADCAST") {
    // the |categories × folds| encoding table must broadcast onto the
    // data — a shuffle join here would reshuffle the corpus by category
    val p = plan("q122_target_encode")
    assert(broadcasts(p) >= 1,
      s"q122 lost its broadcast model-table join:\n$p")
    assert(!p.toString.contains("CartesianProduct"))
  }

  test("q132 exact AUC: per-key windows, never a single-partition sort") {
    val p = plan("q132_auc_by_day")
    assert(graft.tools.PlanAudit.unjustifiedSinglePartitions(p).isEmpty,
      s"q132 grew a single-partition window:\n$p")
    assert(!p.toString.contains("CartesianProduct"))
  }
}
