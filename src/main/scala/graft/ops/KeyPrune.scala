package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.execution.GraftKeyedIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

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
    * string compared by its bytes, a date or a timestamp and the key type
    * equals it or widens losslessly to a non-string type. Catalyst pushes
    * the predicate below windows and into the Parquet scan, which skips
    * row groups and pages. A longer list would reach Parquet only as a
    * min/max range. A frame whose analyzed plan bounds it above that many
    * rows is never optimized here.
    *
    * Everything else takes a left-semi join, exact on all columns
    * (per-column `IN` lists would keep a superset, and a delete tombstones
    * every row kept). A string column takes it for other key types
    * because the join compares it as the key's type ("007" matches 7), a
    * collated one because its equality is not byte equality, and a
    * floating column because the join normalizes -0.0 and NaN. The join
    * carries no hint of its own, so Spark sizes it; a caller that needs a
    * broadcast hints `keys`.
    */
  def pruneToKeys(df: DataFrame, keys: DataFrame,
                  cols: Seq[String]): DataFrame =
    inPredicate(df.schema, keys, cols)
      .fold(semiJoin(df, keys, cols))(p => df.filter(p.predicate))

  /** The `IN` form of a prune: `predicate` keeps the rows whose column
    * holds one of `values`, the requested keys cast to the column's
    * `dataType` as Catalyst internal values, distinct and not null.
    */
  final case class InList(predicate: Column, dataType: DataType, values: Seq[Any])

  /** The `IN` form of [[pruneToKeys]] over a relation of `schema`: when
    * `keys` is one driver-local column of at most the Parquet
    * point-pushdown threshold of rows and the column's type admits it;
    * None when the prune takes the join form.
    *
    * The predicate is Catalyst's `InSet` over the cast values, which
    * generated code reads as a referenced object, so a new key compiles no
    * new class (literals in an `IN` list are inlined into the code). Int,
    * short, byte and date columns are the exception: `InSet` compiles
    * them to a switch over inlined literals.
    */
  def inPredicate(schema: StructType, keys: DataFrame,
                  cols: Seq[String]): Option[InList] = {
    val probe = keys.select(cols.map(col): _*)
    val limit = SQLConf.get.parquetFilterPushDownInFilterThreshold
    for {
      c <- cols.headOption if cols.size == 1
      to <- schema.find(_.name == c).map(_.dataType)
      // the types a key filter takes, and decimals
      if filterable(to) || to.isInstanceOf[DecimalType]
      if probe.queryExecution.analyzed.maxRows.forall(_ <= limit)
      (probeSchema, rows) <- GraftKeyedIndex.localRows(probe) if rows.size <= limit
      from = probeSchema.head.dataType
      if from == to || (!to.isInstanceOf[StringType] && Cast.canUpCast(from, to))
    } yield {
      val tz = Some(SQLConf.get.sessionLocalTimeZone)
      val values = rows.map(_.get(0, from)).filter(_ != null).map { v =>
        if (from == to) v else Cast(Literal(v, from), to, tz).eval()
      }.distinct
      InList(
        if (values.isEmpty) lit(false)
        else GraftSqlBridge.column(InSet(GraftSqlBridge.expression(col(c)), values.toSet)),
        to, values)
    }
  }

  /** The join form of [[pruneToKeys]]. */
  def semiJoin(df: DataFrame, keys: DataFrame, cols: Seq[String]): DataFrame =
    df.join(keys.select(cols.map(col): _*).distinct(), cols, "left_semi")

  // -- key filters -------------------------------------------------------

  /** Whether key values of type `t` go into a [[keyFilter]]: integral,
    * date and timestamp values hash as longs and strings compared by their
    * bytes hash their bytes, as `df.stat.bloomFilter` puts them. Other
    * types (collated strings, decimals, floating) get no filter.
    */
  def filterable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case s: StringType => s.collationId == StringType.collationId // UTF8_BINARY
    case _ => false
  }

  /** Rate of false positives a [[keyFilter]] is sized for. */
  private val FilterFpp = 0.01

  /** A Bloom filter over the non-null `values` (internal values of a
    * [[filterable]] type), sized for their distinct count.
    */
  def keyFilter(values: Seq[Any]): BloomFilter = {
    val distinct = values.filter(_ != null).distinct
    val f = BloomFilter.create(math.max(distinct.size, 1).toLong, FilterFpp)
    distinct.foreach {
      case s: UTF8String => f.putBinary(s.getBytes)
      case n => f.putLong(n.asInstanceOf[Number].longValue)
    }
    f
  }

  /** Whether a [[keyFilter]] may hold the non-null internal value `v`: no
    * false negatives, false positives at its sizing rate.
    */
  def mightContain(f: BloomFilter, v: Any): Boolean = v match {
    case s: UTF8String => f.mightContainBinary(s.getBytes)
    case n => f.mightContainLong(n.asInstanceOf[Number].longValue)
  }
}
