package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-quality audit: prints the formatted physical plan of selected
  * queries so pushdown / broadcast / codegen properties can be inspected
  * (`sbt "runMain graft.tools.ExplainCheck q02_select_filter ..."`).
  *
  * The printed plan is a stable fingerprint of a query: the session runs
  * with adaptive execution off ([[Conf]]). Under AQE, a plan over a cached
  * frame prints the final plan of whichever of its stages have already
  * run, so two runs of one query (q90, say) could print different plans.
  */
object ExplainCheck {

  /** Applied after `SparkSessions.local`'s defaults. */
  private[graft] val Conf = Seq("spark.sql.adaptive.enabled" -> "false")

  /** Formatted physical plan of registry query `name` at data dir `dir`. */
  private[graft] def plan(spark: SparkSession, dir: String,
                          name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(FormattedMode)

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkSessions.local("8", "graft-explain",
      metastoreDir = None, Conf, System.err.println)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(plan(spark, dir, n))
    }
    spark.stop()
  }
}
