package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Benchmark runner: measures every entry of a query registry over one
  * data dir, each entry in its own fresh child JVM.
  *
  *  - `graft.Bench` — the driver contract: every [[SparkEntry.queries]]
  *    entry at SPARK_GRAFT_SF_DIR. Prints one full JSON line (also written
  *    to SPARK_GRAFT_BENCH_OUT), then a short summary line as the last
  *    stdout line.
  *  - `graft.Bench scale <dir1x> <dirNx> [out.json]` — every
  *    [[SparkEntry.scaleOps]] op, swept once per dir: one JSON
  *    line of per-op seconds at each dir and their ratio.
  *
  * SPARK_GRAFT_BENCH_ONLY (comma-separated name prefixes) filters both.
  *
  * Round-3 lesson: running 52 queries x 3 reps in ONE JVM accumulates
  * heap/GC/codegen-cache state — alphabetically-late queries reported up
  * to 13x their isolated cost, with zero code changes to their plans. The
  * harness forks ONE CHILD JVM PER QUERY (same classpath and JVM flags as
  * this process — build.sbt sets `run / fork := true`, so both are real),
  * keeps min-of-N inside the child after a fixed warmup, and emits every
  * per-run time in the output so residual contamination is visible
  * instead of silently skewing the totals. If a fork fails (no usable
  * java/classpath), the query falls back to an in-process run in a
  * freshly restarted SparkSession.
  *
  * Round-4 lesson (judge): failures must be EXPLICIT. A rep that throws
  * is recorded as an `ERR:` token, never a sentinel time that could win
  * the min; a query with zero successful reps lands in `"errors"` and is
  * excluded from `"queries"`/`"value"`; any error anywhere exits non-zero.
  * The complete JSON also persists to `bench_out/latest.json` so the
  * per-query history survives a driver capture window that truncates
  * stdout.
  *
  * Round-13 lesson: at 202 queries the serial jvm-per-query sweep
  * (~9.5 s startup each) outgrew the driver's capture window — r12's
  * driver bench died at rc 124 with no complete signal. The sweep is
  * PIPELINED: up to [[Prefork]] child JVMs run their startup phase
  * (SparkSession build + warmup) concurrently, then each BLOCKS ON STDIN
  * until the parent grants the single measurement slot — startup
  * amortizes ~3× while measured reps remain strictly serialized, the
  * property the round-3 lesson exists to protect. Calibration runs at
  * BOTH sweep ends (`calibration_runs`) so mid-sweep machine drift is a
  * measured number, not an inference — and calibration children run SOLO
  * (launched, measured and collected with zero siblings launched or
  * starting) so the instrument never reads the pipeline's own startup
  * as machine drift.
  *
  * Round-14 lessons: (a) QUERY slots get the same quiescing calibration
  * got in round 13 — the sweep runs in batches (start [[Prefork]]
  * children, wait until all are parked-ready, drain them through the
  * slot with zero siblings launching or starting, refill); the r13
  * launch-during-measurement overlap was the proven ~4× calibration
  * contaminator and showed up as query first-reps 3–4× their min.
  * (b) After the full contract JSON line (~15 KB: never fit the
  * driver's ~2 KB stdout tail — `parsed: null` in BENCH_r08–r13), the
  * orchestrator prints a second SHORT summary line (renderSummary) so
  * the driver's tail capture always ends with one complete JSON object.
  */
object Bench {
  // Round-6 judge: min-of-FIXED-3 under-converges exactly when the
  // machine is slow (q63's rep sequence 25.9 -> 20.7 -> 10.5 was still
  // falling at the cap). Reps are now adaptive: always run MinReps, then
  // keep going (to MaxReps) while the latest rep is still IMPROVING the
  // running min by more than ConvergeFrac — EXCEPT that a query whose
  // running min is already sub-second stops at MinReps unconditionally
  // (round-12 verdict #1c: at 200+ queries the rep tail of already-fast
  // queries is pure sweep-length cost, not signal).
  private val MinReps = 3
  private[graft] val MaxReps = 6
  private val ConvergeFrac = 0.10
  private val FastStopSec = 1.0
  private val RepsTag =
    s"adaptive-$MinReps-$MaxReps-converge${(ConvergeFrac * 100).toInt}pct-faststop${FastStopSec}s"
  private val Marker = "GRAFT_BENCH_TIMES"
  private val ReadyMarker = "GRAFT_BENCH_READY"
  /** Measurement-phase limit of one child: long enough for a scale op at
    * 100× data.
    */
  private val ChildTimeoutSec = 1200L
  private val StartupTimeoutSec = 300L
  /** Children started per batch. Under the r14 batch model startups
    * serialize against measurements instead of overlapping them, so batch
    * size is the only startup-amortization lever — 6 concurrent session
    * builds compete only with each other, never with a measured rep.
    */
  private val Prefork = 6

  type QueryFn = (SparkSession, String) => DataFrame
  /** Session startup (when measured) and the reps of one entry. */
  private[graft] type Sample = (Option[Double], Seq[Rep])
  /** An entry's name (as reported) with its [[Sample]]. */
  private[graft] type Measured = (String, Option[Double], Seq[Rep])

  /** The registries a child JVM can be asked to measure from, by id. */
  private val QueriesReg = "queries"
  private val ScaleReg = "scale"
  private def registry(id: String): Map[String, QueryFn] =
    if (id == ScaleReg) SparkEntry.scaleOps.toMap else SparkEntry.queries

  /** Data-INDEPENDENT fixed workload (spark.range only — never touches
    * the sf dir): measured like any query, reported separately in the
    * JSON. Cross-round machine drift becomes a measurable divisor
    * instead of an argument (round-6 judge: queries unchanged since
    * round 1 ran 3-4x slower under an idle-machine probe — the sweep
    * total moved for environmental reasons no per-query number could
    * prove).
    */
  private[graft] val CalibName = "calibration_fixed"
  /** The I/O counterpart of [[CalibName]] (round-13.1 lesson: a
    * parquet-path-degraded machine window is INVISIBLE to the
    * spark.range-only instrument — a diagnostic sweep measured queries
    * 1.29× slower under the round's best `calibration` reading). This
    * workload writes a fixed 2M-row frame to a per-JVM tmp dir and
    * reads it back through an aggregate — same bytes, same plan, every
    * round — so its wall time tracks the machine's storage path.
    * Reported in its own additive JSON fields
    * (`calibration_io`/`calibration_io_runs`); the pinned
    * `calibration` field keeps its cross-round meaning untouched.
    */
  private[graft] val CalibIoName = "calibration_io"

  private[graft] def isCalib(name: String): Boolean =
    name.startsWith(CalibName) || name.startsWith(CalibIoName)

  /** Tag of a calibration placement measured in the parent JVM instead of
    * a solo child (no runnable `java`, or its solo child failed twice):
    * listed in `calibration_runs`, never the instrument's minimum.
    */
  private[graft] val InprocSuffix = "_inproc"

  /** Per-placement minima of one instrument, in sweep order, and their
    * min over fresh-JVM placements only.
    */
  private def instrument(rows: Seq[(String, Seq[Rep])])
      : (Seq[Double], Option[Double]) = {
    val mins = rows.flatMap { case (k, rs) => best(rs).map(k -> _) }
    val solo = mins.filterNot(_._1.endsWith(InprocSuffix)).map(_._2)
    (mins.map(_._2), if (solo.isEmpty) None else Some(solo.min))
  }

  def main(args: Array[String]): Unit = args match {
    case Array("one", reg, dir, name) => childMain(reg, dir, name)
    case Array("scale", dir1, dirN) => scale(dir1, dirN, None)
    case Array("scale", dir1, dirN, out) => scale(dir1, dirN, Some(out))
    case Array("scale", _*) =>
      System.err.println("usage: graft.Bench scale <dir1x> <dirNx> [out.json]")
      sys.exit(2)
    case _ => orchestrate()
  }

  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private def cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  private def outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out/latest.json")

  /** SPARK_GRAFT_BENCH_ONLY=q46,q49: measure only names with one of these
    * prefixes. The calibration placements go through the same filter, so
    * a full sweep always carries both instruments while a targeted run
    * skips their ~fixed cost (probe them via BENCH_ONLY=calibration).
    */
  private def selected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .forall(_.exists(name.startsWith))

  /** The sweep order over `entries`: both instruments FIRST and LAST —
    * the committed-sweep re-run clause (SCALE.md, r12 verdict #3) needs
    * machine speed at both sweep ends to detect mid-sweep drift (r12's
    * calibration moved 1.69→1.97 and the raw 2x gate breached on exactly
    * that drift).
    */
  private def withCalibration(entries: Seq[String]): Seq[String] =
    (Seq(CalibName, CalibIoName) ++ entries ++
      Seq(s"${CalibName}_end", s"${CalibIoName}_end")).filter(selected)

  private def queryFn(reg: String, name: String): QueryFn =
    if (name.startsWith(CalibIoName)) (s, dir) => calibrationIoDf(s, dir)
    else if (name.startsWith(CalibName)) (s, _) => calibrationDf(s)
    else registry(reg)(name)

  /** Pinned-size shuffle+join+agg over spark.range: 20M-row fact keyed
    * into a 1M-row dim, grouped to 97 rows. Exercises codegen, a shuffle
    * join, and a hash aggregate with zero dependence on the test data —
    * the same plan byte-for-byte every round, so its wall time tracks
    * only the machine.
    */
  private def calibrationDf(spark: SparkSession): DataFrame = {
    val fact = spark.range(0L, 20000000L)
      .selectExpr("id % 1000000 AS k", "id % 97 AS g", "id AS v")
    val dim = spark.range(0L, 1000000L)
      .selectExpr("id AS k", "id * 3 AS w")
    fact.join(dim, "k")
      .groupBy("g")
      .agg(org.apache.spark.sql.functions.sum("v").as("sv"),
           org.apache.spark.sql.functions.sum("w").as("sw"),
           org.apache.spark.sql.functions.count("*").as("n"))
  }

  /** Base directory for the bench's scratch writes at data dir `dir`. On
    * the SAME filesystem as the data dir (r13 ADVICE, medium:
    * java.io.tmpdir can be tmpfs or a different device than the data, in
    * which case the I/O instrument measures memory/CPU encode-decode
    * instead of the data dir's storage path — the exact blind spot it
    * exists to close). Resolution: SPARK_GRAFT_BENCH_IO_SCRATCH env
    * override, else a writability-probed sibling of the data dir, else
    * java.io.tmpdir as a last resort. The resolved base is recorded in
    * the JSON (`calibration_io_scratch`) so a reader can tell what
    * device was actually probed.
    */
  private[graft] def ioBase(dir: String): String =
    sys.env.get("SPARK_GRAFT_BENCH_IO_SCRATCH")
      .getOrElse(writableSibling(dir))

  /** The parent of `dir` when a probe directory can be created there
    * (same filesystem as the data), else `java.io.tmpdir`.
    */
  private[graft] def writableSibling(dir: String): String =
    Option(java.nio.file.Paths.get(dir).toAbsolutePath.getParent)
      .flatMap { base =>
        try {
          val probe = java.nio.file.Files
            .createTempDirectory(base, "graft_calib_io_probe")
          java.nio.file.Files.delete(probe)
          Some(base.toString)
        } catch { case _: Exception => None }
      }
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Recursive delete via java.nio, NOT the Hadoop FS client: Hadoop's
    * own shutdown hook may close all filesystems before ours runs (hook
    * ordering is nondeterministic), which made the old FS-client delete
    * throw and leak ~45 MB per calibration_io JVM (r13 ADVICE, low).
    */
  private[graft] def deleteRecursively(dir: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: Throwable => () }

  /** Where a measured entry may write throwaway data at data dir `dir`
    * (e.g. a lake it creates and reads back): per JVM, beside the data.
    * [[measure]] deletes it after every rep, outside the timed region.
    */
  private[graft] def repScratch(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(ioBase(dir),
      s"graft_rep_scratch_${ProcessHandle.current.pid}")

  private val calibIoDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-JVM scratch dir for the I/O instrument, deleted on JVM exit.
    * One fixed dir + mode(overwrite): successive reps rewrite the same
    * ~45 MB, so a sweep leaves nothing behind and every rep pays the
    * full write+read.
    */
  private def calibIoDir(dir: String): String =
    calibIoDirs.getOrElseUpdate(dir, {
      val base = java.nio.file.Paths.get(ioBase(dir))
      java.nio.file.Files.createDirectories(base)
      val d = java.nio.file.Files.createTempDirectory(base, "graft_calib_io")
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => deleteRecursively(d)))
      d.toString
    })

  /** Deterministic 2M-row × 4-col frame (long key, modular key, double,
    * 16-char string — enough string bytes that the parquet size is real)
    * written and read back per rep: the timed region covers encode +
    * write + footer/metadata + decode + aggregate, i.e. the storage
    * path the CPU instrument never touches.
    */
  private def calibrationIoDf(spark: SparkSession, dir: String): DataFrame = {
    val out = calibIoDir(dir)
    spark.range(0L, 2000000L)
      .selectExpr("id", "id % 9973 AS k", "id * 2.5 AS x",
        "lpad(cast(id % 100000 AS string), 16, 'x') AS s")
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("x").as("sx"),
           org.apache.spark.sql.functions.count("s").as("n"))
  }

  /** One rep result: a wall time or an explicit error. */
  private[graft] type Rep = Either[String, Double]

  /** Marker-line token for one rep: `1.234` or `ERR:<sanitized>`. The
    * marker line is whitespace-split on the parent side, so error text is
    * collapsed to `_` word separators and truncated.
    */
  private[graft] def repToken(r: Rep): String = r match {
    case Right(t)  => t.toString
    case Left(msg) =>
      val clean = msg.replaceAll("[\\s\"\\\\]+", "_").take(120)
      s"ERR:$clean"
  }

  private[graft] def parseToken(t: String): Rep =
    if (t.startsWith("ERR:")) Left(t.stripPrefix("ERR:"))
    else Right(t.toDouble)

  /** Structured Streaming queries: their first run in a JVM pays the
    * streaming engine's one-time costs (streaming planner + state-store
    * provider class loading, codegen of the stateful operators) on top
    * of the per-run query lifecycle. That first-run surcharge is session
    * fixed cost in exactly the sense JVM startup is — so the warmup
    * below runs a tiny end-to-end streaming job for these queries and
    * the surcharge lands in `S:` instead of inflating the measured min
    * (round-8 verdict #3: ~3 s × 4 queries ≈ 10% of the sweep was
    * state-store spin-up, not plan cost).
    */
  private val StreamingQueries = Set("q34_stream_agg", "q48_sessionization",
    "q52_session_window", "q73_stream_dedup_history",
    "q83_stream_materialize", "q125_stream_interval_join")

  /** JVM/codegen + parquet-reader warmup so the first measured run isn't
    * charged for session startup. Timed separately (see childMain) so the
    * sweep reports operator time and harness fixed cost as two numbers.
    * For streaming queries, also spins one minimal stateful streaming
    * query (2-row parquet source → session_window agg → memory sink) so
    * the streaming engine's class-load/codegen fixed cost is startup.
    */
  private def warmup(spark: SparkSession, name: String, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$dir/lineitem.parquet").count()
    catch { case _: Throwable => () }
    if (name.startsWith(CalibIoName)) {
      // r13 ADVICE (low): without this, the I/O instrument's first
      // measured rep additionally pays one-time parquet WRITE-path
      // class loading/codegen (the read path above warms only the
      // reader) — a tiny untimed write+read makes rep 1 measure
      // storage, not class loading (the streaming-warmup precedent).
      try {
        val warmDir = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(ioBase(dir)), "graft_calib_io_warm")
        spark.range(1000L).selectExpr("id", "cast(id AS string) AS s")
          .write.mode("overwrite").parquet(warmDir.toString)
        spark.read.parquet(warmDir.toString)
          .agg(org.apache.spark.sql.functions.count("s")).collect()
        deleteRecursively(warmDir)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration_io warmup skipped: $e")
      }
    }
    if (StreamingQueries.contains(name)) {
      val warmDir = java.nio.file.Files.createTempDirectory("graft_stream_warm")
      try {
        val dir = warmDir.toString
        spark.sql("SELECT 1L AS user_id, TIMESTAMP'2024-01-01' AS ts2, " +
            "1.0 AS value UNION ALL SELECT 2L, TIMESTAMP'2024-01-02', 2.0")
          .write.mode("overwrite").parquet(dir)
        val schema = spark.read.parquet(dir).schema
        val stream = graft.streaming.Streaming.readStream(
          spark, "parquet", Some(dir), schema = Some(schema))
        val sessions = graft.streaming.Streaming.sessionizeNative(
          stream, "user_id", "ts2", "value",
          gapMillis = 1000L, watermark = "0 seconds")
        graft.streaming.Streaming.runToMemory(sessions, "warm_", "append")
          .collect()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming warmup skipped: $e")
      } finally deleteRecursively(warmDir) // its query has stopped
    }
  }

  /** Convergence test for the adaptive rep loop: true once MinReps have
    * run AND the latest rep failed to beat the prior running min by more
    * than ConvergeFrac — i.e. the min has stopped improving. A noisy
    * spike ABOVE the min also converges (the min is stable relative to
    * it); only a still-descending sequence keeps the loop alive.
    */
  private[graft] def converged(times: Seq[Double]): Boolean =
    times.size >= MinReps &&
      (times.min < FastStopSec ||
        times.last >= (1.0 - ConvergeFrac) * times.init.min)

  /** Adaptive min-of-N measurement of `fn` at data dir `dir` in a warmed
    * session. Runs MinReps..MaxReps reps, stopping once `converged`. The
    * cache is cleared between reps: operators that cache() internally
    * get their intra-rep benefit, but rep N+1 must recompute the full
    * pipeline — otherwise Spark's CacheManager matches the structurally
    * identical plan across reps and the min measures a cache-warm re-read
    * instead of the operator (round-6 ADVICE finding on q81/q90).
    */
  private[graft] def measure(spark: SparkSession, fn: QueryFn,
                             dir: String): Seq[Rep] = {
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    var done = false
    while (!done && reps.size < MaxReps) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // noop sink, not count(): a count lets the optimizer PRUNE unused
      // deterministic operators — e.g. a PIT window whose payload no one
      // reads — and silently under-measures; the noop sink computes every
      // output column and discards the rows (round-5 scale-probe lesson)
      reps += (try {
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        Right((System.nanoTime() - t0) / 1e9)
      }
      catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
      }
      finally deleteRecursively(repScratch(dir)))
      val ok = reps.collect { case Right(t) => t }.toSeq
      // a failed rep never converges the loop by itself; errors cap out
      // at MaxReps like any still-descending sequence
      done = reps.last.isRight && converged(ok)
    }
    reps.toSeq
  }

  /** Child mode: start a session, announce readiness, BLOCK until the
    * parent grants the measurement slot, then measure one entry in this
    * fresh JVM and print one marker line (stdout also carries Spark logs
    * — the parent greps). Startup of many children overlaps; measurement
    * never does. The first token `S:<sec>` is the session fixed cost
    * (SparkSession build + warmup) — the part of the per-query wall clock
    * that is harness overhead, not operator time (round-5 judge: at 82
    * queries the fixed cost is ~60% of the jvm-per-query total, so the 2x
    * gate needs the split to stay meaningful).
    */
  private def childMain(reg: String, dir: String, name: String): Unit = {
    val t0 = System.nanoTime()
    val spark = SparkSessions.local(cpus, s"graft-bench-$name")
    warmup(spark, name, dir)
    val startup = (System.nanoTime() - t0) / 1e9
    println(s"$ReadyMarker $name")
    System.out.flush()
    val line = Option(new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in)).readLine())
    if (!line.map(_.trim).contains("GO")) { spark.stop(); sys.exit(2) }
    val times = measure(spark, queryFn(reg, name), dir)
    println(s"$Marker $name S:$startup ${times.map(repToken).mkString(" ")}")
    spark.stop()
    sys.exit(0)
  }

  /** In-process fallback: restart the SparkSession (new SparkContext) and
    * measure here. Weaker isolation than a fresh JVM, but never silently
    * skipped.
    */
  private def inProcess(reg: String, dir: String, name: String): Sample = {
    SparkSession.getActiveSession.foreach(_.stop())
    System.gc()
    val t0 = System.nanoTime()
    val spark = SparkSessions.local(cpus, s"graft-bench-$name")
    try {
      warmup(spark, name, dir)
      val startup = (System.nanoTime() - t0) / 1e9
      (Some(startup), measure(spark, queryFn(reg, name), dir))
    } finally spark.stop()
  }

  /** JSON string literal. Escapes quotes, backslashes AND control chars:
    * an AnalysisException message is routinely multi-line, and the
    * in-process fallback path hands raw messages to render() without the
    * repToken whitespace collapse — un-escaped newlines would break the
    * one-parseable-JSON-line contract exactly on the failure path
    * (round-5 ADVICE finding).
    */
  private[graft] def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\'            => sb.append("\\\\")
      case '"'             => sb.append("\\\"")
      case '\n'            => sb.append("\\n")
      case '\r'            => sb.append("\\r")
      case '\t'            => sb.append("\\t")
      case c if c < 0x20   => sb.append(f"\\u${c.toInt}%04x")
      case c               => sb.append(c)
    }
    sb.append('"').toString
  }

  private def best(rs: Seq[Rep]): Option[Double] =
    rs.collect { case Right(t) => t }.minOption

  /** Both instruments' fields, each with a leading comma: "calibration"
    * stays the cross-round machine divisor (best fresh-JVM placement);
    * "calibration_runs" carries each placement's min in sweep order
    * (in-process ones too) so the drift re-run clause can compare
    * sweep-start vs sweep-end. The I/O instrument is additive and
    * separately keyed: pooling it into "calibration" would corrupt the
    * pinned cross-round divisor.
    */
  private def calibrationFields(results: Seq[(String, Seq[Rep])]): String = {
    val (calibIo, calib) = results.filter(r => isCalib(r._1))
      .partition(_._1.startsWith(CalibIoName))
    def fields(key: String, rows: Seq[(String, Seq[Rep])]): String = {
      val (runs, best) = instrument(rows)
      if (runs.isEmpty) ""
      else best.fold("")(v => s""","$key":$v""") +
        s""","${key}_runs":""" + runs.mkString("[", ",", "]")
    }
    fields("calibration", calib) + fields("calibration_io", calibIo)
  }

  private[graft] def render(results: Seq[(String, Seq[Rep])],
                            startups: Map[String, Double] = Map.empty,
                            ioScratch: Option[String] = None): String = {
    // the calibration workloads are machine probes, not queries: each
    // instrument gets its own top-level fields and never contributes to
    // "queries"/"value"
    val queries = results.filterNot(r => isCalib(r._1))
    val minima = queries.flatMap { case (k, rs) => best(rs).map(k -> _) }
    val errors = queries.flatMap { case (k, rs) =>
      // a query is in error if NO rep succeeded; partial failures stay
      // visible in "runs" but still contribute their best successful time
      if (rs.exists(_.isRight)) None
      else Some(k -> rs.collect { case Left(m) => m }.mkString("; "))
    }
    val qs = minima.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => jsonStr(k) + ":" + jsonStr(m) }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, rs) =>
      jsonStr(k) + ":[" + rs.map {
        case Right(t) => t.toString
        case Left(m)  => jsonStr("ERR: " + m)
      }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = minima.map(_._2).sum
    // session fixed cost (SparkSession build + warmup) per query, reported
    // SEPARATELY from the measured operator minima: "value" is pure
    // operator time; "startup" is what jvm-per-query isolation costs
    val startupJson = results.flatMap { case (k, _) => startups.get(k).map(k -> _) }
      .map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}")
    val startupTotal = results.flatMap { case (k, _) => startups.get(k) }.sum
    val calibJson = calibrationFields(results) +
      // which device the I/O instrument actually probed (r13 ADVICE)
      ioScratch.fold("")(p => s""","calibration_io_scratch":${jsonStr(p)}""")
    // "declared" = queries attempted (calibration excluded): lets a
    // cross-round total comparison detect a shrunken denominator even if
    // the errors map is dropped downstream
    s"""{"metric":"total","value":$total,"unit":"sec","declared":${queries.size},"queries":$qs,"errors":$errJson,"sf":"$sfDir","runs":$runs,"startup":$startupJson,"startup_total":$startupTotal$calibJson,"isolation":"jvm-per-query","action":"noop-write","reps":"$RepsTag"}"""
  }

  /** Round-14 (r13 verdict #1): the driver captures a ~2 KB stdout TAIL,
    * and the full render() line (~15 KB once `runs` and `startup` are
    * embedded) has therefore never been parseable driver-side —
    * `parsed: null` in every BENCH_r*.json from r08 through r13. The
    * orchestrator now prints THIS short summary line AFTER the full one
    * (the full line stays verbatim: it is the bench contract and also
    * persists to bench_out/latest.json): total/n/errors plus both
    * machine instruments, a few hundred bytes, so the tail capture
    * always contains one complete JSON object. "metric"/"value"/"unit"
    * repeat the contract fields so a parser keyed on either shape
    * succeeds; "total" duplicates "value" under the name the r13 judge
    * specified. "detail" is the file the full line was written to
    * (`*_failed.json` after an errored sweep; null if the write failed).
    */
  private[graft] def renderSummary(results: Seq[(String, Seq[Rep])],
                                   startups: Map[String, Double] = Map.empty,
                                   detail: Option[String] = None): String = {
    val (calibAll, queries) = results.partition(r => isCalib(r._1))
    val (calibIo, calib) = calibAll.partition(_._1.startsWith(CalibIoName))
    val minima = queries.flatMap { case (_, rs) => best(rs) }
    val nErrors = queries.count(_._2.forall(_.isLeft))
    val total = minima.sum
    val startupTotal = results.flatMap { case (k, _) => startups.get(k) }.sum
    val calibJson = instrument(calib)._2.fold("")(v => s""","calibration":$v""")
    val calibIoJson = instrument(calibIo)._2.fold("")(v => s""","calibration_io":$v""")
    val cpusJson = scala.util.Try(cpus.trim.toInt).toOption
      .map(_.toString).getOrElse(jsonStr(cpus))
    s"""{"metric":"total","value":$total,"unit":"sec","summary":true,"total":$total,"n":${minima.size},"declared":${queries.size},"errors":$nErrors,"startup_total":$startupTotal$calibJson$calibIoJson,"cpus":$cpusJson,"sf":"$sfDir","detail":${detail.fold("null")(jsonStr)}}"""
  }

  /** The scale run's JSON line: per op, its best time at each dir and
    * their ratio (null where a dir has no successful rep, with the
    * reason under "errors"), plus each dir's calibration fields.
    */
  private[graft] def renderScale(dir1: String, dirN: String,
                                 x1: Seq[(String, Seq[Rep])],
                                 xN: Seq[(String, Seq[Rep])]): String = {
    val dirs = Seq("x1" -> x1.toMap, "xN" -> xN.toMap)
    val ops = (x1 ++ xN).map(_._1).filterNot(isCalib).distinct
    def num(v: Option[Any]) = v.fold("null")(_.toString)
    val body = ops.map { op =>
      val Seq(a, b) = dirs.map(_._2.get(op).flatMap(best))
      val ratio = for (t1 <- a; tN <- b) yield f"${tN / t1}%.2f"
      jsonStr(op) + s""":{"x1":${num(a)},"xN":${num(b)},"ratio":${num(ratio)}}"""
    }.mkString("{", ",", "}")
    val errors = ops.flatMap { op =>
      val failed = dirs.flatMap { case (x, m) =>
        m.get(op).filter(best(_).isEmpty).map(rs =>
          s"$x: " + rs.collect { case Left(e) => e }.mkString("; "))
      }
      if (failed.isEmpty) None
      else Some(jsonStr(op) + ":" + jsonStr(failed.mkString(" | ")))
    }.mkString("{", ",", "}")
    val calib = Seq("x1" -> x1, "xN" -> xN).map { case (x, rs) =>
      s""""$x":{${calibrationFields(rs).drop(1)}}"""
    }.mkString("{", ",", "}")
    s"""{"dir1":${jsonStr(dir1)},"dirN":${jsonStr(dirN)},"reps":"$RepsTag","action":"noop-write","ops":$body,"errors":$errors,"calibration":$calib}"""
  }

  /** One gated child JVM: launched, starting up (session + warmup) or
    * READY (blocked on stdin waiting for its measurement slot). The only
    * place the harness starts a JVM.
    */
  private final class GatedChild(reg: String, dir: String, val name: String) {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ready = new java.util.concurrent.atomic.AtomicBoolean(false)
    val launchedAtNanos: Long = System.nanoTime()
    val proc: Process = {
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", cp, "graft.Bench", "one", reg, dir, name)
      new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    }
    // consume stdout on a separate thread so a chatty child can't fill
    // the pipe and deadlock against waitFor
    private val reader = new Thread(() => {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var l = br.readLine()
      while (l != null) {
        lines.add(l)
        if (l.startsWith(s"$ReadyMarker $name")) ready.set(true)
        l = br.readLine()
      }
    })
    reader.setDaemon(true); reader.start()

    def startupTimedOut: Boolean = !ready.get() &&
      (System.nanoTime() - launchedAtNanos) / 1e9 > StartupTimeoutSec
    def deadBeforeReady: Boolean = !ready.get() && !proc.isAlive

    /** Grant the measurement slot and collect the marker line. Returns
      * None only if the child produced no marker and exited (caller
      * falls back); a measurement-phase timeout is an EXPLICIT error rep.
      */
    def grantAndCollect(): Option[Sample] = {
      try {
        val os = proc.getOutputStream
        os.write("GO\n".getBytes("UTF-8")); os.flush()
      } catch { case _: java.io.IOException => () } // dead child → no marker
      val done = proc.waitFor(ChildTimeoutSec,
        java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { proc.destroyForcibly(); proc.waitFor() }
      reader.join(5000)
      lines.asScala.find(_.startsWith(s"$Marker $name ")).map { l =>
        val toks = l.stripPrefix(s"$Marker $name ").trim.split("\\s+").toSeq
        val (sToks, repToks) = toks.partition(_.startsWith("S:"))
        (sToks.headOption.map(_.drop(2).toDouble), repToks.map(parseToken))
      }.orElse(if (done) None
               else Some((None: Option[Double],
                          Seq(Left(s"child timeout after ${ChildTimeoutSec}s"): Rep))))
    }

    def kill(): Unit = { proc.destroyForcibly(); proc.waitFor() }
  }

  private def javaBin = s"${System.getProperty("java.home")}/bin/java"

  /** Round-13 pipelined sweep of registry `reg` at data dir `dir`: the
    * round-12 driver bench TIMED OUT (rc 124) because 202 queries ×
    * (~9.5 s child startup + reps) serialized to 60+ min. The fix keeps
    * BOTH round-3 lessons (fresh JVM per query) and measurement purity:
    * [[Prefork]] children start up CONCURRENTLY (SparkSession build +
    * warmup — class-loading/JIT work with no timing contract), then each
    * blocks until the parent grants the single measurement slot, so
    * measured reps never overlap another child's reps. Startup cost
    * amortizes ~(Prefork−1)× and the sweep fits the driver window again.
    * A child that dies or stalls before READY is killed and drained
    * through `inProc` AFTER the pipeline (never concurrently with gated
    * measurements); without a runnable `java` (`canFork` false) every
    * entry goes through `inProc`. An in-process calibration placement is
    * tagged [[InprocSuffix]] on every path.
    */
  private[graft] def pipelined(reg: String, dir: String, names: Seq[String],
                               canFork: Boolean,
                               inProc: String => Sample): Seq[Measured] = {
    val queue = scala.collection.mutable.Queue(names: _*)
    var started = Vector.empty[GatedChild]
    val out = scala.collection.mutable.ArrayBuffer.empty[Measured]
    val fallback = scala.collection.mutable.ArrayBuffer.empty[String]
    def record(name: String, sample: Sample): Unit = {
      val (s, reps) = sample
      System.err.println(s"[bench] $name -> " +
        s.map(v => f"S:$v%.2f ").getOrElse("") +
        reps.map(repToken).mkString(" "))
      out += ((name, s, reps))
    }
    def inProcessAt(name: String): Unit = {
      System.err.println(s"[bench] $name (in-process) ...")
      record(if (isCalib(name)) name + InprocSuffix else name, inProc(name))
    }
    if (!canFork) { names.foreach(inProcessAt); return out.toSeq }
    // Calibration entries are processed strictly SOLO: no other child
    // may be launched, starting up, or parked while one exists. The
    // round-13.1 lesson: granting the calibration slot and THEN calling
    // launchUpTo() let replacement children run their SparkSession
    // startup DURING the calibration's measured reps — the opening
    // placement read 7.8–12.6 s on a box whose standalone calibration
    // probe read 2.2–3.2 s, a ~4× self-contamination that the drift
    // re-run clause then misread as mid-sweep machine drift. (The end
    // placement was always clean because the queue is empty by then —
    // the asymmetry was the tell.)
    def launchUpTo(): Unit =
      while (started.size < Prefork && queue.nonEmpty &&
             !isCalib(queue.head) &&
             !started.exists(c => isCalib(c.name)))
        started :+= new GatedChild(reg, dir, queue.dequeue())
    // r13 ADVICE (low): a solo calibration child that fails is retried
    // once IN PLACE; if that also fails it is measured in-process IN
    // PLACE under a `_inproc`-tagged name, so placement order (the drift
    // clause compares sweep-start vs sweep-end BY POSITION) is always
    // intact and a solo-JVM-contract violation is visible in the JSON.
    def runCalibrationSolo(): Unit =
      while (started.isEmpty && queue.nonEmpty &&
             isCalib(queue.head)) {
        val name = queue.dequeue()
        def trySolo(): Option[Sample] = {
          val c = new GatedChild(reg, dir, name)
          while (!c.ready.get() && c.proc.isAlive && !c.startupTimedOut)
            Thread.sleep(100)
          if (!c.ready.get()) { c.kill(); None }
          else {
            System.err.println(s"[bench] $name (solo) ...")
            c.grantAndCollect()
          }
        }
        trySolo().orElse {
          System.err.println(s"[bench] $name solo child failed" +
            " — retrying once in place")
          trySolo()
        } match {
          case Some(sample) => record(name, sample)
          case None =>
            System.err.println(s"[bench] $name solo child failed twice")
            inProcessAt(name)
        }
      }
    runCalibrationSolo()
    launchUpTo()
    // Round-14 (r13 verdict #2): QUERY measurement slots are quiesced
    // too — the runCalibrationSolo rule generalized. The r13 pipeline
    // granted a slot and immediately launched replacement children, whose
    // SparkSession startups ran DURING the measured reps; the identical
    // mechanism provably inflated the solo calibration placement ~4×
    // (7.8 s granted-while-launching vs 2.2–3.2 s standalone), and r14's
    // baseline sweep showed query first-reps 3–4× their min (e.g. q28:
    // 3.04 → 0.83). The sweep runs in BATCHES: launch Prefork children,
    // wait until EVERY one is parked-ready (startup overlaps startup,
    // never a measurement), then drain the whole batch through the
    // measurement slot one by one with ZERO children launching or
    // starting, then refill. Startup still amortizes ~Prefork× between
    // drains; measured reps see a quiescent box.
    while (started.nonEmpty || queue.nonEmpty) {
      // pipeline drained down to a calibration entry at the queue head
      // (the sweep's tail, or any mid-queue placement): run it solo on
      // the quiesced box, then launch the next batch
      if (started.isEmpty) { runCalibrationSolo(); launchUpTo() }
      // wait for the full batch to park on stdin; a child that dies or
      // stalls before READY is killed and drained via the in-process
      // fallback after the pipeline
      var waiting = started.nonEmpty
      while (waiting) {
        val (bad, rest) = started.partition(c =>
          c.deadBeforeReady || c.startupTimedOut)
        bad.foreach { c =>
          System.err.println(s"[bench] ${c.name} child failed before ready" +
            " — queued for in-process fallback")
          c.kill(); fallback += c.name
        }
        started = rest
        waiting = started.nonEmpty && !started.forall(_.ready.get())
        if (waiting) Thread.sleep(100)
      }
      started.foreach { c =>
        System.err.println(s"[bench] ${c.name} ...")
        c.grantAndCollect() match {
          case Some(sample) => record(c.name, sample)
          case None =>
            System.err.println(s"[bench] ${c.name} child lost" +
              " — queued for in-process fallback")
            fallback += c.name
        }
      }
      started = Vector.empty
    }
    fallback.foreach(inProcessAt)
    out.toSeq
  }

  /** [[pipelined]] with this JVM's `java` and in-process fallback. */
  private def sweep(reg: String, dir: String, names: Seq[String]): Seq[Measured] =
    pipelined(reg, dir, names, new java.io.File(javaBin).canExecute,
      inProcess(reg, dir, _))

  private def anyError(results: Seq[(String, Seq[Rep])]): Boolean =
    results.exists(_._2.exists(_.isLeft))

  /** Writes a sweep's JSON line to `out` and returns the path written
    * (None if the write failed) and the exit code. A sweep with any
    * errored rep goes to the `*_failed.json` sibling and exits 1: "latest"
    * totals must stay comparable across rounds, and a shrunken
    * denominator (errored queries missing from "queries") would silently
    * look like a speedup (round-7 ADVICE).
    */
  private[graft] def persist(json: String, out: String,
                             results: Seq[(String, Seq[Rep])]): (Option[String], Int) = {
    val failed = anyError(results)
    val written = try {
      val out0 = java.nio.file.Paths.get(out)
      val path =
        if (!failed) out0
        else {
          val fn = out0.getFileName.toString
          val name = fn.replaceFirst("(\\.json)?$", "") + "_failed.json"
          Option(out0.getParent).map(_.resolve(name))
            .getOrElse(java.nio.file.Paths.get(name))
        }
      Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(path, (json + "\n").getBytes("UTF-8"))
      Some(path.toString)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: $e")
      None
    }
    (written, if (failed) 1 else 0)
  }

  private def orchestrate(): Unit = {
    val measured = sweep(QueriesReg, sfDir,
      withCalibration(SparkEntry.queries.keys.toSeq.sorted))
    val results = measured.map { case (n, _, r) => n -> r }
    val startups = measured.collect { case (n, Some(s), _) => n -> s }.toMap
    // the parent resolves the scratch base with the same env/data-dir
    // logic the children used, so recording it here names the device
    // they probed
    val ioScratch =
      if (results.exists(_._1.startsWith(CalibIoName))) Some(ioBase(sfDir))
      else None
    val json = render(results, startups, ioScratch)
    // persist the complete sweep independent of the driver's stdout
    // capture window (round-4 BENCH json lost q01-q39 to tail truncation)
    val (written, code) = persist(json, outPath, results)
    println(json)
    // the short driver-parseable line LAST, inside any tail capture
    // (r13 verdict #1; see renderSummary)
    println(renderSummary(results, startups, written))
    sys.exit(code)
  }

  /** `graft.Bench scale <dir1x> <dirNx> [out.json]`: the sweep over
    * [[SparkEntry.scaleOps]] once per dir, each with both
    * instruments at both ends; see [[renderScale]].
    */
  private def scale(dir1: String, dirN: String, out: Option[String]): Unit = {
    val names = withCalibration(SparkEntry.scaleOps.map(_._1))
    val Seq(x1, xN) = Seq(dir1, dirN).map(dir =>
      sweep(ScaleReg, dir, names).map { case (n, _, r) => n -> r })
    val json = renderScale(dir1, dirN, x1, xN)
    val code = out.map(persist(json, _, x1 ++ xN)._2)
      .getOrElse(if (anyError(x1 ++ xN)) 1 else 0)
    println(json)
    sys.exit(code)
  }
}
