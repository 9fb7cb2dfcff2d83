package graft.planner

import graft.ir._
import graft.model._
import graft.sources.Lake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-process query planner: lowers the [[graft.ir.Query]] IR straight to
  * DataFrame transformations, replacing the reference's REST hop to a
  * server-side SQL generator (python/hsfs/constructor/query.py:485-496 →
  * core/query_constructor_api.py). Catalyst then handles predicate pushdown,
  * column pruning and join planning — we only declare the plan.
  */
object QueryPlanner {

  final class PlanError(msg: String) extends RuntimeException(msg)

  /** Plan a query to a DataFrame. Output columns are the selected left
    * features followed by each join's (optionally prefixed) features, in
    * declaration order. With `keys`, the left group is read keyed
    * ([[materialize]]).
    */
  def plan(spark: SparkSession, q: Query,
           keys: Option[DataFrame] = None): DataFrame = {
    val (df, out) = planKeeping(spark, q, Nil, keys)
    df.select(out.map(col): _*)
  }

  /** Plan `q` but guarantee `extraCols` survive the final projection (used
    * to keep join keys of a nested right-side query alive until the parent
    * join executes).
    * @return (dataframe, ordered output column names)
    */
  private def planKeeping(
      spark: SparkSession,
      q: Query,
      extraCols: Seq[String],
      keys: Option[DataFrame] = None): (DataFrame, Seq[String]) = {
    val fg = q.leftFeatureGroup
    var df = materialize(spark, fg, q.timeTravel, keys)

    val leftSelected: Seq[String] =
      if (q.features.isEmpty) df.columns.toSeq else q.features.map(_.name)
    var out: Seq[String] = leftSelected

    q.joins.foreach { j =>
      val (joined, joinedOut) = applyJoin(spark, df, out, fg, j)
      df = joined
      out = joinedOut
    }

    // Filter after joins so predicates may reference joined (prefixed)
    // features; Catalyst pushes them back down past the join when legal.
    q.filter.foreach { f => df = df.filter(compileFilter(df, f)) }

    val keep = out ++ extraCols.filterNot(out.contains)
    val missing = keep.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new PlanError(s"unresolved columns ${missing.mkString(", ")} " +
        s"in query over ${fg.name}; available: ${df.columns.mkString(", ")}")
    (df.select(keep.map(col): _*), out)
  }

  private def applyJoin(
      spark: SparkSession,
      left: DataFrame,
      leftOut: Seq[String],
      leftFg: FeatureGroup,
      j: JoinSpec): (DataFrame, Seq[String]) = {
    val rightFg = j.right.leftFeatureGroup
    // Key resolution: explicit `on`, explicit leftOn/rightOn, else the
    // maximal matching subset of both sides' primary keys
    // (python/hsfs/constructor/query.py:247-248).
    val (lks, rks): (Seq[String], Seq[String]) =
      if (j.on.nonEmpty) (j.on, j.on)
      else if (j.leftOn.nonEmpty || j.rightOn.nonEmpty) {
        if (j.leftOn.size != j.rightOn.size)
          throw new PlanError(
            s"left_on/right_on length mismatch joining ${rightFg.name}")
        (j.leftOn, j.rightOn)
      } else {
        val inferred = leftFg.primaryKey.filter(rightFg.primaryKey.contains)
        if (inferred.isEmpty && j.joinType != JoinType.Cross &&
            j.joinType != JoinType.Comma)
          throw new PlanError(
            s"could not infer join keys between ${leftFg.name} " +
              s"(pk=${leftFg.primaryKey.mkString(",")}) and ${rightFg.name} " +
              s"(pk=${rightFg.primaryKey.mkString(",")})")
        (inferred, inferred)
      }

    val (rightDf0, rightSelected) = planKeeping(spark, j.right, rks)
    val prefix = j.prefix.getOrElse("")

    // Prefix every selected right feature (python/hsfs/constructor/join.py:43,51);
    // key columns keep their raw name for the join condition and are dropped
    // after (symmetric keys collapse onto the left column).
    val rightRenamed = rightSelected.filterNot(rks.contains).foldLeft(rightDf0) {
      (d, c) => d.withColumnRenamed(c, prefix + c)
    }
    val rightOutCols = rightSelected.collect {
      case c if !rks.contains(c) => prefix + c
      case c if j.on.isEmpty && j.leftOn.nonEmpty => c // asymmetric key kept
    }

    val isCross = j.joinType == JoinType.Cross || j.joinType == JoinType.Comma
    val joined =
      if (isCross) left.crossJoin(rightRenamed)
      else if (j.on.nonEmpty) left.join(rightRenamed, lks, j.joinType.spark)
      else {
        val cond = lks.zip(rks)
          .map { case (lk, rk) => left(lk) === rightRenamed(rk) }
          .reduce(_ && _)
        val d = left.join(rightRenamed, cond, j.joinType.spark)
        // asymmetric (left_on/right_on) keys have distinct names — keep a
        // right key only if the user selected it; inferred keys share the
        // left column's name and value, so always drop the right copy
        val dropKeys =
          if (j.leftOn.nonEmpty) rks.filterNot(rightSelected.contains) else rks
        dropKeys.foldLeft(d)((dd, k) => dd.drop(rightRenamed(k)))
      }

    val semiLike =
      j.joinType == JoinType.LeftSemi || j.joinType == JoinType.LeftAnti
    val out = if (semiLike) leftOut else {
      val merged = leftOut ++ rightOutCols.filterNot(c =>
        j.on.nonEmpty && j.on.contains(c))
      val dups = merged.diff(merged.distinct).distinct
      if (dups.nonEmpty)
        throw new PlanError(s"ambiguous output columns after join with " +
          s"${rightFg.name}: ${dups.mkString(", ")} — set a join prefix")
      merged
    }
    (joined, out)
  }

  /** Materialize a feature-group relation, honoring per-branch time travel.
    * Maps the reference's temp-view registration step
    * (python/hsfs/engine/spark.py:195-243) minus the metastore.
    * With `keys`, only the rows whose key columns match a row of `keys`
    * ([[graft.ops.KeyPrune.pruneToKeys]]): a lake snapshot prunes its
    * commit rows before it resolves versions ([[Lake.snapshot]]: eagerly,
    * on the driver, for a few driver-local keys), any other read on top.
    */
  def materialize(
      spark: SparkSession,
      fg: FeatureGroup,
      tt: Option[TimeTravel],
      keys: Option[DataFrame] = None): DataFrame = fg.source match {
    case ParquetSource(path) => pruned(spark.read.parquet(path), keys)
    case ViewSource(table)   => pruned(spark.table(table), keys)
    case DataFrameSource(df) => pruned(df, keys)
    case ConnectorSource(format, options, conf, path) =>
      // pushdown rides in the options (e.g. jdbc "query"/"dbtable"): the
      // external system sees the query, Spark sees only its result
      conf.foreach { case (k, v) =>
        spark.sparkContext.hadoopConfiguration.set(k, v)
      }
      val r = spark.read.format(format).options(options)
      val df = path.map(r.load).getOrElse(r.load())
      // the DECLARED schema is authoritative for an external group (the
      // reference's server-side ExternalFeatureGroup schema): cast what the
      // connector returned (e.g. csv strings) to it
      pruned(if (fg.features.nonEmpty) graft.ops.SchemaOps.castToSchema(df, fg.schema)
        else df, keys)
    case LakeSource(root) =>
      tt match {
        case Some(TimeTravel(asOf, Some(t0))) => pruned(
          Lake.readChanges(spark, root, fg, t0, asOf.getOrElse(Long.MaxValue)), keys)
        case Some(TimeTravel(Some(t), None)) => Lake.snapshot(spark, root, fg, Some(t), keys)
        case _                               => Lake.snapshot(spark, root, fg, None, keys)
      }
    case UnboundSource =>
      throw new PlanError(s"feature group ${fg.name} has no bound source")
  }

  private def pruned(df: DataFrame, keys: Option[DataFrame]): DataFrame =
    keys.fold(df)(k => graft.ops.KeyPrune.pruneToKeys(df, k, k.columns.toSeq))

  /** Compile the predicate tree to a Catalyst Column
    * (python/hsfs/constructor/filter.py → Column algebra).
    */
  def compileFilter(df: DataFrame, f: FilterExpr): Column = f match {
    case FilterAnd(l, r) => compileFilter(df, l) && compileFilter(df, r)
    case FilterOr(l, r)  => compileFilter(df, l) || compileFilter(df, r)
    case FilterLeaf(ref, cond, value) =>
      val c = df(ref.name)
      import FilterCondition._
      cond match {
        case Eq   => c === literal(value)
        case Ne   => c =!= literal(value)
        case Gt   => c > literal(value)
        case Ge   => c >= literal(value)
        case Lt   => c < literal(value)
        case Le   => c <= literal(value)
        case Like => c.like(value.toString)
        case In =>
          value match {
            case vs: Seq[_]   => c.isin(vs: _*)
            case vs: Array[_] => c.isin(vs.toSeq: _*)
            case other        => c.isin(other)
          }
      }
  }

  private def literal(v: Any): Column = v match {
    case c: Column => c
    case other     => lit(other)
  }
}
