package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.model.FeatureGroup
import graft.serving.FeatureVectorServer
import graft.sources.Lake
import graft.view.FeatureView

/** Calls shared by the online workloads: lookups through the serving
  * layer, and the end-of-run checks of the lake table behind them.
  */
object Online {
  val Rows = 100000L
  private val KeySchema = StructType(Seq(StructField("ip", LongType)))

  def single(ctx: Ctx, server: FeatureVectorServer, key: Long,
             op: Long): Array[Row] = {
    val df = ctx.tracer.span("plan.lookup", op)(
      server.getFeatureVector(Map("ip" -> key)))
    ctx.collect(df, op)
  }

  def batch(ctx: Ctx, server: FeatureVectorServer, keys: Seq[Long],
            op: Long): Array[Row] = {
    val df = ctx.tracer.span("plan.lookup", op) {
      val rows = keys.map(k => Row(k))
      server.getFeatureVectors(
        ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), KeySchema))
    }
    ctx.collect(df, op)
  }

  /** Every key answered exactly once, each with its expected row. */
  def verify(got: Array[Row], want: Map[Long, Row]): Option[String] =
    if (got.length != want.size)
      Some(s"${got.length} rows for ${want.size} keys")
    else got.iterator.map { r =>
      want.get(r.getAs[Long]("ip")) match {
        case None => Some(s"unrequested key ${r.getAs[Long]("ip")}")
        case Some(w) => Data.diff(r, w)
      }
    }.collectFirst { case Some(e) => e }

  /** `n` distinct uniform keys below `bound`. */
  def distinctKeys(rng: SplittableRandom, n: Int, bound: Long): Seq[Long] = {
    val s = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (s.size < n) s += rng.nextLong(bound)
    s.toSeq
  }

  /** End-of-run checks of each lake group: its commit listing and its
    * live snapshot's row count; then the lakes' size on disk.
    */
  def finishLake(ctx: Ctx, groups: Seq[FeatureGroup], commits: Int,
                 rows: Long): Unit = {
    groups.foreach { fg =>
      val root = Layout.lakeRoot(fg)
      val listed = ctx.tracer.span("lake.list", 0)(Lake.listCommits(ctx.spark, root))
      ctx.check(s"${fg.name} commit listing")(Option.when(listed.size != commits)(
        s"${listed.size} commits, want $commits"))
      val n = ctx.tracer.span("lake.snapshot", 0)(
        Lake.snapshot(ctx.spark, root, fg, None).count())
      ctx.check(s"${fg.name} snapshot rows")(Option.when(n != rows)(
        s"$n rows, want $rows"))
    }
    Layout.recordLake(ctx, groups.map(Layout.lakeRoot))
  }

  /** The view's batch frame has the group's columns. */
  def checkFrame(ctx: Ctx, view: FeatureView): Unit = {
    val frame = ctx.tracer.span("view.frame", 0)(view.batchQuery(ctx.spark))
    ctx.check("view frame columns")(Option.when(
      frame.columns.toSeq != Data.LocustSchema.fieldNames.toSeq)(
      s"columns ${frame.columns.mkString(",")}"))
  }
}
