package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row

import graft.catalog.FeatureStore
import graft.serving.FeatureVectorServer
import graft.view.FeatureView

/** `serve`: the reference's online benchmark. A 100k-row `locust_fg` lake
  * group is materialized once for serving, then 4 closed-loop clients send
  * single-key and batch-100 lookups (10 : 1) with uniform keys.
  */
object Serve {
  val Clients = 4
  val BatchEvery = 11 // every 11th request is a batch: single : batch = 10 : 1
  val BatchKeys = 100
  val WarmRequestsPerClient = 6

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val rows = Online.Rows
    val path = Data.file(Data.dir(dataDir, "serve", seed, rows), "locust")

    val t0 = System.nanoTime()
    val fs = new FeatureStore(spark, warehouseDir = work("warehouse").toString)
    val fg = phase("load.bulk_insert")(
      fs.createFeatureGroup("locust", spark.read.parquet(path), Seq("ip")))
    val view = FeatureView("locust", 1, fg.selectAll())
    val server = new FeatureVectorServer(spark, view)
    phase("serving.materialize")(server.materializeOnline())
    val want = (k: Long) => Data.locustRow(seed, k, 0)
    phase("warm_up")(clients(ctx, server, want, "warm_",
      deadlineNs = Long.MaxValue, maxRequests = WarmRequestsPerClient))
    val setupS = (System.nanoTime() - t0) / 1e9
    settle()

    val m0 = System.nanoTime()
    val done = clients(ctx, server, want, "", m0 + seconds * 1000000000L,
      Int.MaxValue)
    val elapsedS = (System.nanoTime() - m0) / 1e9

    Online.finishLake(ctx, Seq(fg), commits = 1, rows = rows)
    Online.checkFrame(ctx, view)
    server.close()
    Outcome(setupS, Stats.median(latencies("lookup")), done / elapsedS)
  }

  /** Runs the closed loop; returns the number of completed requests. */
  private def clients(ctx: Ctx, server: FeatureVectorServer,
                      want: Long => Row, prefix: String, deadlineNs: Long,
                      maxRequests: Int): Long = {
    val completed = new java.util.concurrent.atomic.AtomicLong
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        // warm-up draws other keys than the measurement, and opens with a
        // batch, so both plans are warm
        val warm = prefix.nonEmpty
        val rng = new SplittableRandom(ctx.seed * 7919 + c + (if (warm) Clients else 0))
        var i = if (warm) BatchEvery - 1 else 0
        val end = i + maxRequests.toLong
        while (i < end && System.nanoTime() < deadlineNs) {
          val batch = i % BatchEvery == BatchEvery - 1
          val kind = prefix + (if (batch) "batch_lookup" else "lookup")
          val op = ctx.tracer.newOp(kind)
          if (batch) {
            val keys = Online.distinctKeys(rng, BatchKeys, Online.Rows)
            ctx.timed(kind, op)(
              Online.batch(ctx, server, keys, op))(
              Online.verify(_, keys.map(k => k -> want(k)).toMap))
          } else {
            val k = rng.nextLong(Online.Rows)
            ctx.timed(kind, op)(Online.single(ctx, server, k, op))(
              Online.verify(_, Map(k -> want(k))))
          }
          completed.incrementAndGet()
          i += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    completed.get
  }
}
