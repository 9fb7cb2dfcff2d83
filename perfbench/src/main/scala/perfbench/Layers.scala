package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from its spans and the Spark
  * listeners. "Per op" means per traced measured operation (warm-up and
  * set-up excluded); times named after a span are the median of that
  * span's durations.
  */
object Layers {

  def metrics(ctx: Ctx, exec: ExecListener,
              catalyst: CatalystListener): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.spans
    val opOf = spans.map(s => s.id -> s.op).toMap
    val ops = spans.filter(s => s.parent == 0 && s.op > 0 &&
      !s.name.startsWith("warm_"))
    val opIds = ops.map(_.op).toSet
    val nOps = math.max(1, ops.size).toDouble
    // spans of measured operations, set-up and end-of-run checks (op 0)
    val measured = spans.filter(s => s.op == 0 || opIds(s.op))
    def med(names: String*): Double = {
      val xs = measured.filter(s => names.contains(s.name)).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def total(name: String): Double =
      spans.filter(_.name == name).map(_.ms / 1000).sum
    def extra(k: String): Double = ctx.extras.get(k).fold(0.0)(_._1)

    // jobs, stages and tasks started inside a measured operation
    val (jobs, stageAggs, taskMs) = exec.synchronized {
      val js = exec.jobs.toSeq.filter { case (_, j) =>
        opOf.get(j.span).exists(opIds) }
      val stages = js.flatMap(_._2.stages).toSet
      (js, exec.stageAgg.filter(s => stages(s._1)).toMap,
        exec.stageTaskMs.filter(s => stages(s._1)).toMap)
    }
    def sumAgg(f: ExecListener.TaskAgg => Long): Double =
      stageAggs.values.map(f).sum.toDouble
    val waits = jobs.map(_._2).filter(_.firstTaskMs >= 0)
      .map(j => (j.firstTaskMs - j.submitMs).toDouble)
    // skew: max/median task time of each operation's longest stage
    val skew = jobs.groupBy { case (_, j) => opOf(j.span) }.values.flatMap { js =>
      val stages = js.flatMap(_._2.stages).filter(taskMs.contains)
      if (stages.isEmpty) None
      else {
        val longest = stages.maxBy(s => taskMs(s).sum)
        val ts = taskMs(longest).map(_.toDouble).toSeq
        val m = Stats.median(ts)
        Some(if (m <= 0) 1.0 else ts.max / m)
      }
    }.toSeq

    // Catalyst phases of every action that started inside a measured
    // operation, traced or not: tracing does not change plans
    val windows = ctx.opWindows.asScala.toSeq
    val phases = catalyst.actions.asScala.toSeq.collect {
      case (t, ps) if windows.exists { case (a, b) => a <= t && t <= b } => ps
    }
    // means, not medians: the tracker and the scheduler report whole
    // milliseconds, and a median of those hides changes below 1 ms
    def phase(p: String): Double = mean(phases.flatMap(_.get(p)).map(_.toDouble))

    // how much of each operation its direct child spans account for
    val children = spans.groupBy(_.parent)
    val coverage = ops.map { o =>
      val inner = children.getOrElse(o.id, Nil).map(_.ms).sum
      100 * inner / math.max(o.ms, 1e-9)
    }
    val kinds = ops.map(_.name).distinct
    val overhead = kinds.flatMap { k =>
      val on = ctx.latencies(s"$k#traced")
      val off = ctx.latencies(k)
      Option.when(on.nonEmpty && off.nonEmpty)(
        (on.size, 100 * (Stats.median(on) / Stats.median(off) - 1)))
    }
    val overheadPct =
      if (overhead.isEmpty) 0.0
      else overhead.map { case (n, p) => n * p }.sum / overhead.map(_._1).sum

    Seq(
      ("session.start_s", extra("session.start_s"), "s"),
      ("load.bulk_insert_s", total("load.bulk_insert"), "s"),
      ("serving.materialize_s", total("serving.materialize"), "s"),
      ("planner.build_ms", {
        val xs = measured.filter(_.name.startsWith("plan.")).map(_.ms)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }, "ms"),
      ("catalyst.analysis_ms", phase("analysis"), "ms"),
      ("catalyst.optimization_ms", phase("optimization"), "ms"),
      ("catalyst.planning_ms", phase("planning"), "ms"),
      ("exec.jobs_per_op", jobs.size / nOps, "count"),
      ("exec.stages_per_op", jobs.map(_._2.stages.count(stageAggs.contains)).sum / nOps,
        "count"),
      ("exec.tasks_per_op", sumAgg(_.tasks) / nOps, "count"),
      ("exec.scheduler_wait_ms", mean(waits), "ms"),
      ("exec.task_time_s", sumAgg(_.runMs) / 1000 / nOps, "s"),
      ("exec.input_bytes", sumAgg(_.inputBytes) / nOps, "bytes"),
      ("exec.shuffle_write_bytes", sumAgg(_.shuffleWrite) / nOps, "bytes"),
      ("exec.shuffle_read_bytes", sumAgg(_.shuffleRead) / nOps, "bytes"),
      ("exec.spill_bytes", sumAgg(_.spill) / nOps, "bytes"),
      ("exec.gc_s", sumAgg(_.gcMs) / 1000 / nOps, "s"),
      ("exec.task_skew", if (skew.isEmpty) 1.0 else Stats.median(skew), "ratio"),
      // a bulk insert is a lake commit too: the only one on serve
      ("lake.commit_ms", med("lake.commit", "load.bulk_insert"), "ms"),
      ("lake.list_ms", med("lake.list"), "ms"),
      ("lake.snapshot_ms", med("lake.snapshot"), "ms"),
      ("lake.commits", extra("lake.commits"), "count"),
      ("lake.files_written", extra("lake.files_written"), "count"),
      ("lake.bytes_written", extra("lake.bytes_written"), "bytes"),
      ("view.frame_ms", med("view.frame"), "ms"),
      ("trace.ops", ops.size.toDouble, "count"),
      ("trace.span_coverage_pct", if (coverage.isEmpty) 0.0 else coverage.min, "%"),
      ("trace.overhead_pct", overheadPct, "%"))
  }
}
