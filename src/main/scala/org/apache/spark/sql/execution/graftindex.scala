package org.apache.spark.sql.execution

import org.apache.spark.sql.{classic, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, InterpretedOrdering, InterpretedUnsafeProjection, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.joins.{HashJoin, HashedRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Minimal bridge to Spark's broadcast-join build structure
  * (`joins.HashedRelation`, `private[execution]`), used as a driver-resident
  * keyed index, to driver-local frames (`LocalRelation`), and to Spark's
  * row ordering, for resolving a window's first rows on the driver.
  *
  * The index holds the rows of `schema` keyed on its first `keyTypes.size`
  * columns: a `LongHashedRelation` when the keys pack into one long, an
  * `UnsafeHashedRelation` otherwise — UnsafeRows in pages, exactly what a
  * broadcast hash join builds. Keys are normalized as the join planner
  * does (-0.0 = 0.0, NaN = NaN); rows with a null key are not indexed and a
  * null probe key matches nothing, as in a SQL equi-join.
  */
final class GraftKeyedIndex private (val schema: StructType,
                                     val keyTypes: Seq[DataType],
                                     relation: HashedRelation) {

  /** Bytes the relation holds (its pages and hash table). */
  def estimatedSize: Long = relation.estimatedSize

  /** Probes of these column types find exactly the rows a SQL equi-join
    * would: each type is the key type or widens to it losslessly, which is
    * also the type Catalyst's coercion compares them in.
    */
  def exact(probeTypes: Seq[DataType]): Boolean =
    probeTypes.zip(keyTypes).forall { case (p, k) => GraftKeyedIndex.widens(p, k) }

  /** A probe for one caller: the copied rows whose key equals the probe
    * row's columns at `probe` (ordinal, type), each cast to the key type (a
    * failed cast is a null key). Not thread-safe: take one per call.
    */
  def lookup(probe: Seq[(Int, DataType)]): InternalRow => Seq[InternalRow] = {
    require(probe.size == keyTypes.size,
      s"${probe.size} probe columns for ${keyTypes.size} key columns")
    val rel = relation.asReadOnlyCopy()
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    // interpreted: a probe serves one call, too few rows to pay for codegen
    val key = InterpretedUnsafeProjection.createProjection(GraftKeyedIndex.keyExprs(
      probe.zip(keyTypes).map { case ((i, t), k) =>
        val ref = BoundReference(i, t, nullable = true)
        if (t == k) ref else Cast(ref, k, tz, EvalMode.TRY)
      }))
    row => {
      val k = key(row)
      if (k.anyNull) Nil
      else Option(rel.get(k)).fold(Seq.empty[InternalRow])(_.map(_.copy()).toSeq)
    }
  }
}

object GraftKeyedIndex {

  /** Whether a probe column of type `probe` finds exactly the rows a SQL
    * equi-join would against a key of type `key` ([[GraftKeyedIndex.exact]]).
    */
  def widens(probe: DataType, key: DataType): Boolean =
    probe == key || Cast.canUpCast(probe, key)

  /** Index over the rows of `df`, keyed on its first `numKeys` columns.
    * The rows reach the driver through one `executeCollect`, so
    * `spark.driver.maxResultSize` bounds them and an over-size frame fails
    * with Spark's error before any index exists.
    */
  def build(df: DataFrame, numKeys: Int): GraftKeyedIndex = {
    val schema = df.schema
    val rows = collect(df, "buildIndex")
    val toUnsafe = UnsafeProjection.create(schema)
    val keyTypes = schema.take(numKeys).map(_.dataType)
    val keys = keyExprs(keyTypes.zipWithIndex.map { case (t, i) =>
      BoundReference(i, t, nullable = true) })
    val unsafe = rows.iterator.map {
      case u: UnsafeRow => u
      case r => toUnsafe(r).copy()
    }
    new GraftKeyedIndex(schema, keyTypes,
      HashedRelation(unsafe, keys, sizeEstimate = math.max(rows.length, 64)))
  }

  /** Rows of `df` on the driver, in one SQL execution that query
    * execution listeners see under `name`.
    */
  def collect(df: DataFrame, name: String): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(
      qe.executedPlan.executeCollect())
  }

  /** The schema and rows of `df` when its optimized plan is driver-local. */
  def localRows(df: DataFrame): Option[(StructType, Seq[InternalRow])] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    // a frame over local rows is driver-local as analyzed; only other
    // plans pay for the optimizer to fold them
    (qe.analyzed match {
      case l: LocalRelation => l
      case _ => qe.optimizedPlan
    }) match {
      case l: LocalRelation if !l.isStreaming =>
        Some((DataTypeUtils.fromAttributes(l.output), l.data))
      case _ => None
    }
  }

  /** A driver-local frame over `rows`: collecting it runs no Spark job.
    * Its plan is resolved as built, so it skips the analyzer.
    */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame = {
    val plan = LocalRelation(DataTypeUtils.toAttributes(schema), rows)
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }

  /** The first row of each group of `df`'s rows in `order`: the rows
    * `row_number() OVER (PARTITION BY keys ORDER BY order) = 1` keeps,
    * resolved on the driver with Spark's own ordering. Rows group as the
    * window partitions them: floating keys normalized (-0.0 = 0.0,
    * NaN = NaN), null keys together. The rows of a driver-local `df` are
    * read from its plan; others reach the driver in one [[collect]] under
    * `name`. The winners come back as a [[localFrame]] of `df`'s schema.
    */
  def latest(df: DataFrame, keys: Seq[String], order: Seq[Column],
             name: String): DataFrame = {
    val sort = df.orderBy(order: _*).queryExecution.analyzed
      .collectFirst { case s: Sort => s }.get
    val input = sort.child.output
    val ordering = new InterpretedOrdering(sort.order, input)
    val key = InterpretedUnsafeProjection.createProjection(keys.map { k =>
      val i = df.schema.fieldIndex(k)
      NormalizeFloatingNumbers.normalize(
        BoundReference(i, input(i).dataType, nullable = true))
    })
    val winners = new java.util.LinkedHashMap[UnsafeRow, InternalRow]
    localRows(df).fold(collect(df, name).toSeq)(_._2).foreach { r =>
      val k = key(r).copy()
      val best = winners.get(k)
      if (best == null || ordering.compare(r, best) < 0) winners.put(k, r)
    }
    localFrame(df.sparkSession, df.schema, winners.values.asScala.toSeq)
  }

  /** Key expressions as a broadcast hash join builds them. */
  private def keyExprs(cols: Seq[Expression]): Seq[Expression] =
    HashJoin.rewriteKeyExpr(cols.map(NormalizeFloatingNumbers.normalize))
}
