package graft

import graft.tools.ExplainCheck

/** ExplainCheck's plans are a fingerprint: explaining a query again after
  * it has run prints the same plan, ids aside, and no plan holds an
  * adaptive node, whose printed final plan depends on which of its stages
  * have run (two fresh JVMs explaining q90 under AQE print different
  * joins and exchanges).
  */
class ExplainCheckSpec extends SparkSpec {
  private val Q90 = "q90_corpus_pipeline_v4"

  /** Expression ids (`#12L`, lambda variables' `x_12`), plan ids and RDD
    * ids number what a session has built so far, not the plan.
    */
  private def normalized(plan: String): String = plan
    .replaceAll("#\\d+L?", "#")
    .replaceAll("(lambda \\w+)_\\d+", "$1")
    .replaceAll("plan_id=\\d+", "plan_id")
    .replaceAll("RDD\\[\\d+\\]", "RDD")

  test("q90 explains to the same plan before and after it runs") {
    val s = spark.newSession()
    ExplainCheck.Conf.foreach { case (k, v) => s.conf.set(k, v) }
    def fingerprint = normalized(ExplainCheck.plan(s, sfDir, Q90))
    // q90 caches frames; start and end with none cached, as a fresh
    // ExplainCheck JVM does
    s.catalog.clearCache()
    try {
      val before = fingerprint
      assert(!before.contains("AdaptiveSparkPlan"))
      SparkEntry.queries(Q90)(s, sfDir).collect()
      assert(fingerprint === before)
    } finally s.catalog.clearCache()
  }
}
