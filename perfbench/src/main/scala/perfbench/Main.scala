package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness: the session, the tracer,
  * its directories, the clock and the output tallies.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val seed: Long, val seconds: Int,
                val dataDir: Path, val workDir: Path) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Named figures beyond the reported metrics (printed, not gated). */
  val extras = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val firstFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def failures: Seq[String] = scala.jdk.CollectionConverters
    .CollectionHasAsScala(firstFailures).asScala.toSeq

  /** Time one operation of kind `kind`; it counts as attempted, and as
    * failed if it throws or `check` returns an error message. Returns the
    * body's result unless it threw.
    */
  def timed[T](kind: String, op: Long)(body: => T)(check: T => Option[String])
      : Option[T] = {
    attemptedN.incrementAndGet()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome =
      try Right(tracer.span(kind, op)(body))
      catch { case e: Exception => Left(s"$kind threw $e") }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!kind.startsWith("warm_"))
      opWindows.add((wall0, System.currentTimeMillis()))
    outcome.flatMap(r => check(r).toLeft(r)) match {
      case Left(msg) => fail(msg)
      case Right(_) => record(kind, ms, op)
    }
    outcome.toOption
  }

  def collect(df: org.apache.spark.sql.DataFrame, op: Long)
      : Array[org.apache.spark.sql.Row] =
    tracer.span("exec.collect", op)(df.collect())

  /** Wall-clock interval of every measured operation (warm-up excluded). */
  val opWindows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  /** A set-up step: a span in traced runs, and always an `info` line. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name, 0)(body)
    finally extras(s"$name.s") = ((System.nanoTime() - t0) / 1e9, "s")
  }

  def fail(msg: String): Unit = {
    failedN.incrementAndGet()
    if (firstFailures.size < 10) firstFailures.add(msg)
  }

  /** A check outside a timed operation (set-up and end-of-run checks). */
  def check(what: String)(err: Option[String]): Unit = {
    attemptedN.incrementAndGet()
    err.foreach(e => fail(s"$what: $e"))
  }

  /** A traced operation's latency is kept apart from untraced ones, so a
    * traced run measures its own overhead.
    */
  private def record(kind: String, ms: Double, op: Long): Unit = {
    val key = if (tracer.traces(op)) s"$kind#traced" else kind
    synchronized(samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ms)
  }

  def latencies(kind: String): Seq[Double] =
    synchronized(samples.getOrElse(kind, Nil).toSeq)

  /** Live heap after a full collection, in MiB: what the loaded, warmed
    * workload holds. Called once, right after set-up, outside its timing.
    */
  def settle(): Unit = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def live(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    // after a collection Spark's cleaner releases unreferenced broadcasts
    // and shuffles on its own thread, at its own pace: collect again until
    // the live heap stops shrinking
    var prev = Double.MaxValue
    var cur = live()
    var rounds = 0
    while (prev - cur > 0.5 && rounds < 20) {
      Thread.sleep(300)
      org.apache.spark.PerfbenchDrain(spark.sparkContext)
      prev = cur
      cur = live()
      rounds += 1
    }
    heapLiveMb = cur
  }
  var heapLiveMb: Double = Double.NaN

  def work(name: String): Path = {
    val p = workDir.resolve(name); Files.createDirectories(p); p
  }
}

/** What a workload reports: the end-to-end metrics every workload shares.
  * `latencyMs` is the median of the workload's main operation and
  * `throughput` its completed work per second (see perfbench/README.md).
  */
final case class Outcome(setupS: Double, latencyMs: Double, throughput: Double)

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val dataDir = Paths.get(opts("data"))
    val workDir = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))
    val jvmStartNs = System.nanoTime() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

    val t0 = System.nanoTime()
    val spark = graft.SparkSessions.local("4", s"perfbench-$workload",
      metastoreDir = Some(workDir.resolve("metastore").toString))
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = new Tracer(traced, spark.sparkContext)
      val exec = new ExecListener
      val catalyst = new CatalystListener
      if (traced) {
        spark.sparkContext.addSparkListener(exec)
        spark.listenerManager.register(catalyst)
      }
      val ctx = new Ctx(spark, tracer, seed, seconds, dataDir, workDir)
      ctx.extras("session.start_s") = (sessionS, "s")

      val o = workload match {
        case "serve"  => Serve.run(ctx)
        case "ingest" => Ingest.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.extras("rss_peak_mb") = (peakRssMb(), "MB")

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", (t0 - jvmStartNs) / 1e9 + sessionS + o.setupS, "s"),
          ("heap_live_mb", ctx.heapLiveMb, "MB"),
          ("latency_p50_ms", o.latencyMs, "ms"),
          ("throughput_per_s", o.throughput, "1/s"))
        else {
          org.apache.spark.PerfbenchDrain(spark.sparkContext)
          tracer.write(workDir.resolve("spans.jsonl"))
          Layers.metrics(ctx, exec, catalyst)
        }
      report(ctx, metrics, out)
    } finally spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def report(ctx: Ctx, metrics: Seq[(String, Double, String)],
                     out: Path): Unit = {
    ctx.extras.foreach { case (k, (v, u)) => println(f"info $k%-28s $v%.4f $u") }
    ctx.samples.keys.toSeq.sorted.foreach { k =>
      val xs = ctx.latencies(k)
      println(f"samples $k%-28s n=${xs.size}%d p50=${Stats.pct(xs, 50)}%.3f " +
        f"p90=${Stats.pct(xs, 90)}%.3f p99=${Stats.pct(xs, 99)}%.3f ms")
    }
    ctx.failures.foreach(f => println(s"FAILED $f"))
    metrics.foreach { case (k, v, u) => println(f"metric $k%-28s $v%.6f $u") }
    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = ctx.failed == 0
    Files.writeString(out,
      s"""{"correct": $correct, "attempted": ${ctx.attempted}, """ +
        s""""failed": ${ctx.failed}, "metrics": {$m}}""")
  }
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** JSON number with all its digits (NaN/inf are not JSON). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
