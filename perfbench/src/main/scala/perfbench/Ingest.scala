package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.catalog.FeatureStore
import graft.ir.Dsl._
import graft.model.FeatureGroup
import graft.serving.FeatureVectorServer
import graft.sources.Lake
import graft.view.FeatureView

/** `ingest`: writes beside reads on the lake. The group is served in the
  * default (un-materialized) mode, and one client loops over a 1k-row
  * upsert (90% existing keys), the commit listing, a read-your-write
  * lookup, a uniform fresh lookup and an as-of read of the previous
  * commit. A run makes a fixed number of commits, so every run reads at
  * the same history depth. Warm-up runs the same loop on a separate
  * 10k-row group, so the measured group's history holds only measured
  * commits.
  */
object Ingest {
  val BatchRows = 1000
  val NewPerBatch = 100
  val Commits = 20
  val FreshPerCommit = 2
  val AsOfKeys = 10
  val WarmRows = 10000L
  val WarmCommits = 6

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val path = Data.file(Data.dir(dataDir, "ingest", seed, Online.Rows), "locust")
    val t0 = System.nanoTime()
    val fs = new FeatureStore(spark, warehouseDir = work("warehouse").toString)
    val input = spark.read.parquet(path)
    phase("warm_up") {
      val warm = new Table(ctx, fs, "locust_warm",
        input.filter(col("ip") < WarmRows), WarmRows)
      (1 to WarmCommits).foreach(warm.iteration(_, "warm_"))
      warm.finish(WarmCommits)
    }
    val table = phase("load.bulk_insert")(
      new Table(ctx, fs, "locust", input, Online.Rows))
    val setupS = (System.nanoTime() - t0) / 1e9
    settle()

    val m0 = System.nanoTime()
    (1 to Commits).foreach(table.iteration(_, ""))
    extras("measured_s") = ((System.nanoTime() - m0) / 1e9, "s")
    table.finish(Commits)
    extras("space_amp") = (Layout.spaceAmp(ctx, table.fg), "ratio")
    // every lookup here misses the serving cache: the read-your-write
    // lookups are fresh lookups of just-written keys
    Outcome(setupS,
      Stats.median(latencies("fresh_lookup") ++ latencies("ryw_lookup")),
      BatchRows / (Stats.median(latencies("commit")) / 1000))
  }

  /** One lake group under the loop, and what it should hold: every
    * version each key was written at (newest first; version 0 = the
    * initial load), and each commit's time and keys.
    */
  private final class Table(ctx: Ctx, fs: FeatureStore, name: String,
                            input: org.apache.spark.sql.DataFrame, rows0: Long) {
    import ctx.{seed, spark, timed, tracer}
    val fg: FeatureGroup = fs.createFeatureGroup(name, input, Seq("ip"))
    private val view = FeatureView(name, 1, fg.selectAll())
    private val server = new FeatureVectorServer(spark, view)
    private val root = Layout.lakeRoot(fg)
    private val versions = mutable.Map.empty[Long, List[Int]]
    private val commitTime = mutable.ArrayBuffer(Lake.listCommits(spark, root).head)
    private val written = mutable.ArrayBuffer(Seq.empty[Long])
    private var nextKey = rows0
    private val rng = new SplittableRandom(seed * 104729 + rows0)

    private def versionAt(k: Long, c: Int): Int =
      versions.getOrElse(k, Nil).find(_ <= c).getOrElse(0)
    private def want(k: Long, v: Int): Row = Data.locustRow(seed, k, v)

    def iteration(c: Int, prefix: String): Unit = {
      val old = Online.distinctKeys(rng, BatchRows - NewPerBatch, nextKey)
      val keys = old ++ (nextKey until nextKey + NewPerBatch)
      var op = tracer.newOp(prefix + "commit")
      val meta = timed(prefix + "commit", op) {
        val df = tracer.span("plan.rows", op)(
          Data.locustFrame(spark, keys.map(want(_, c))))
        tracer.span("lake.commit", op)(fs.insert(fg, df))
      } { m =>
        Option.when(m.rowsInserted != NewPerBatch ||
            m.rowsUpdated != BatchRows - NewPerBatch)(
          s"commit $c counted ${m.rowsInserted} inserted, ${m.rowsUpdated} updated")
      }
      // the model follows the commit even when its counts were wrong: the
      // rows are in the table either way
      keys.foreach(k => versions(k) = c :: versions.getOrElse(k, Nil))
      written += keys
      nextKey += NewPerBatch
      commitTime += meta.fold(Lake.listCommits(spark, root).last)(_.commitTime)

      op = tracer.newOp(prefix + "list")
      timed(prefix + "list", op)(
        tracer.span("lake.list", op)(Lake.listCommits(spark, root))) { l =>
        Option.when(l.size != c + 1)(s"${l.size} commits listed, want ${c + 1}")
      }

      val own = keys(rng.nextInt(keys.size))
      op = tracer.newOp(prefix + "ryw_lookup")
      timed(prefix + "ryw_lookup", op)(Online.single(ctx, server, own, op))(
        Online.verify(_, Map(own -> want(own, c))))

      (1 to FreshPerCommit).foreach { _ =>
        val k = rng.nextLong(nextKey)
        op = tracer.newOp(prefix + "fresh_lookup")
        timed(prefix + "fresh_lookup", op)(Online.single(ctx, server, k, op))(
          Online.verify(_, Map(k -> want(k, versionAt(k, c)))))
      }

      // as of the previous commit: keys it wrote show that version, and
      // keys this commit overwrote still show their older one
      val at = c - 1
      val ofAt =
        if (at == 0) Online.distinctKeys(rng, AsOfKeys, rows0)
        else written(at).take(AsOfKeys)
      val probe = (ofAt ++ old.take(AsOfKeys)).distinct
      op = tracer.newOp(prefix + "asof_read")
      timed(prefix + "asof_read", op) {
        val df = tracer.span("plan.asof", op)(
          fs.read(fg.selectAll().asOf(commitTime(at)).where("ip".in(probe))))
        ctx.collect(df, op)
      }(Online.verify(_, probe.map(k => k -> want(k, versionAt(k, at))).toMap))
    }

    /** End-of-run checks after `commits` iterations. */
    def finish(commits: Int): Unit = {
      Online.finishLake(ctx, Seq(fg), commits = 1 + commits, rows = nextKey)
      Online.checkFrame(ctx, view)
    }
  }
}
