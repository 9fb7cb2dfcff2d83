package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GraftPointRead, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session for all suites (one per JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parity with SparkSessions.local: specs must see the same
      // streaming plan shape the driver sessions run (PlanBudgetSpec
      // asserts the session-window local merge)
      .config("spark.sql.streaming.sessionWindow.merge.sessions" +
        ".in.local.partition", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh directory named `prefix…` under the system temp dir, deleted
    * with everything in it when the JVM exits.
    */
  protected def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    SparkSpec.made.add(dir)
    dir
  }

  /** Runs `body` in its own job group and counts the Spark jobs it
    * started, and returns the SQL executions it ran, with their names. A
    * sentinel job started after it drains the listener queue, so a count
    * of 0 is not a race.
    */
  protected def observed[T](body: => T): (T, Int, Seq[(String, QueryExecution)]) = {
    val sc = spark.sparkContext
    val group = "counted-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val executions = new ConcurrentLinkedQueue[(String, QueryExecution)]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == group + "-end" => drained.countDown()
          case _ =>
        }
    }
    val qeListener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        executions.add(name -> qe)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        executions.add(name -> qe)
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener queue drained")
      (out, jobs.get, executions.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** [[observed]]'s result and job count, with the driver point reads
    * ([[GraftPointRead.Read]]) posted while `body` ran. The listener queue
    * is drained before `body` too, so no earlier read is counted.
    */
  protected def pointReads[T](body: => T): (T, Int, Seq[GraftPointRead.Read]) = {
    val reads = new ConcurrentLinkedQueue[GraftPointRead.Read]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case r: GraftPointRead.Read => reads.add(r)
        case _ =>
      }
    }
    observed(())
    spark.sparkContext.addSparkListener(listener)
    try {
      val (out, jobs, _) = observed(body)
      (out, jobs, reads.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** [[observed]], with the SQL executions counted by name. */
  protected def counted[T](body: => T): (T, Int, Map[String, Int]) = {
    val (out, jobs, executions) = observed(body)
    (out, jobs, executions.groupBy(_._1).map { case (n, es) => n -> es.size })
  }
}

object SparkSpec {
  private val made = new ConcurrentLinkedQueue[java.nio.file.Path]
  Runtime.getRuntime.addShutdownHook(
    new Thread(() => made.forEach(Bench.deleteRecursively(_))))
}
