package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.execution.GraftKeyedIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Prune a relation to a key set: the keyed reads of the lake's snapshot,
  * upsert stats and delete, and of the planner's other sources.
  */
object KeyPrune {

  /** The rows of `df` whose `cols` equal a row of `keys`: exactly the rows
    * `df.join(keys, cols, "left_semi")` keeps. Below a window partitioned
    * by a superset of `cols` it keeps or drops whole partitions, so a
    * lake's commit log can be pruned before its latest-version window.
    *
    * One driver-local key column (a `LocalRelation` plan) of no more rows
    * than Spark pushes into Parquet as points
    * (`spark.sql.parquet.pushdown.inFilterThreshold`) becomes
    * `col IN (values)` when the column is numeric (not floating), a
    * string, a date or a timestamp and the key type equals it or widens
    * losslessly to a non-string type. Catalyst pushes the predicate below
    * windows and into the Parquet scan, which skips row groups and pages.
    * A longer list would reach Parquet only as a min/max range. A frame
    * whose analyzed plan bounds it above that many rows is never
    * optimized here.
    *
    * Everything else takes a left-semi join, exact on all columns
    * (per-column `IN` lists would keep a superset, and a delete tombstones
    * every row kept). A string column takes it for other key types
    * because the join compares it as the key's type ("007" matches 7),
    * and a floating column because the join normalizes -0.0 and NaN. The
    * join carries no hint of its own, so Spark sizes it; a caller that
    * needs a broadcast hints `keys`.
    */
  def pruneToKeys(df: DataFrame, keys: DataFrame,
                  cols: Seq[String]): DataFrame =
    inPredicate(df, keys, cols).fold(semiJoin(df, keys, cols))(df.filter)

  /** The `IN` form of [[pruneToKeys]]: `col IN (values)` when `keys` is
    * one driver-local column of at most the Parquet point-pushdown
    * threshold of rows and the column's type admits it; None when the
    * prune takes the join form.
    */
  def inPredicate(df: DataFrame, keys: DataFrame,
                  cols: Seq[String]): Option[Column] = {
    val probe = keys.select(cols.map(col): _*)
    val limit = SQLConf.get.parquetFilterPushDownInFilterThreshold
    for {
      c <- cols.headOption if cols.size == 1
      to <- df.schema.find(_.name == c).map(_.dataType)
      if (to match {
        case FloatType | DoubleType => false
        case _: NumericType | _: StringType | DateType | TimestampType |
             TimestampNTZType => true
        case _ => false
      })
      if probe.queryExecution.analyzed.maxRows.forall(_ <= limit)
      (schema, rows) <- GraftKeyedIndex.localRows(probe) if rows.size <= limit
      from = schema.head.dataType
      if from == to || (!to.isInstanceOf[StringType] && Cast.canUpCast(from, to))
    } yield {
      // a local frame collects without a Spark job
      val values = probe.collect().map(_.get(0)).filter(_ != null).distinct
      if (values.isEmpty) lit(false)
      else col(c).isin(values.map(lit(_).cast(to)).toIndexedSeq: _*)
    }
  }

  /** The join form of [[pruneToKeys]]. */
  def semiJoin(df: DataFrame, keys: DataFrame, cols: Seq[String]): DataFrame =
    df.join(keys.select(cols.map(col): _*).distinct(), cols, "left_semi")
}
