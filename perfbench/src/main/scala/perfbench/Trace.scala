package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `op` groups the spans of
  * one benchmark operation; `parent` is the enclosing span (0 = none).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. With `enabled` false every call is a plain pass-through,
  * so untraced runs pay nothing. Traced spans stay in memory until
  * [[write]] at the end of the run, and each span becomes the Spark job
  * group of the work it starts, so [[ExecListener]] can attribute jobs,
  * stages and tasks to it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong
  private val opIds = new AtomicLong
  private val perKind = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  private val done = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** A fresh operation id. Ids alternate in parity within each kind, and
    * in a traced run only even ids record spans: every other operation of
    * each kind runs bare, so one run also measures the tracing overhead.
    */
  def newOp(kind: String): Long = {
    val n = perKind.computeIfAbsent(kind, _ => new AtomicLong).getAndIncrement()
    2 * opIds.incrementAndGet() + n % 2
  }

  def traces(op: Long): Boolean = enabled && op % 2 == 0

  def span[T](name: String, op: Long)(body: => T): T =
    if (!traces(op)) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, op, name, t0, System.nanoTime()))
        stack.set(outer)
        outer.headOption match {
          case Some(pid) =>
            sc.setJobGroup(Tracer.group(pid), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  private val Prefix = "perfbench-span-"
  def group(id: Long): String = Prefix + id
  def spanOf(group: String): Option[Long] =
    Option.when(group.startsWith(Prefix))(group.stripPrefix(Prefix).toLong)
}

object ExecListener {
  final case class Job(span: Long, submitMs: Long, stages: Seq[Int]) {
    @volatile var firstTaskMs: Long = -1
  }
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var inputBytes = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var gcMs = 0L
  }
}

/** Spark scheduler events, keyed by the span that started each job. */
final class ExecListener extends SparkListener {
  import ExecListener._

  val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** Per stage: aggregate plus every task's run time (for skew). */
  val stageAgg = mutable.Map.empty[Int, TaskAgg]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.flatMap(Tracer.spanOf).foreach { span =>
      jobs(e.jobId) = Job(span, e.time, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      if (j.firstTaskMs < 0) j.firstTaskMs = e.taskInfo.launchTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = stageAgg.getOrElseUpdate(e.stageId, new TaskAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }
}

/** Catalyst phase times of every action, from `QueryExecution.tracker`,
  * with the wall-clock time its first phase started.
  */
final class CatalystListener extends QueryExecutionListener {
  val actions = new ConcurrentLinkedQueue[(Long, Map[String, Long])]

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ps = qe.tracker.phases
    if (ps.nonEmpty)
      actions.add((ps.values.map(_.startTimeMs).min,
        ps.map { case (k, v) => k -> v.durationMs }))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
