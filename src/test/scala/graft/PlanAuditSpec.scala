package graft

import graft.tools.PlanAudit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plan-audit walker itself, plus spec-level plan assertions for the
  * stateful queries the batch sweep skips (q34/q36/q47/q48 analogs).
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  /** Audit the statically-planned tree (AQE off for the plan build). */
  private def offenders(mk: => DataFrame): Seq[String] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try PlanAudit.unjustifiedSinglePartitions(mk.queryExecution.executedPlan)
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("walker flags a global-sort SinglePartition even next to a scalar agg") {
    val d = spark.range(100).toDF("x")
    // the poison pill the old whole-plan substring whitelist swallowed: the
    // scalar aggregate's keys=[] excused EVERY SinglePartition in the plan
    val ranked = d.withColumn("rn", row_number().over(Window.orderBy($"x")))
    val total = d.agg(sum($"x").as("s"))
    val planted = ranked.crossJoin(broadcast(total))
    val off = offenders(planted)
    assert(off.nonEmpty, planted.queryExecution.executedPlan.toString)
    assert(off.exists(_.contains("Exchange")))
  }

  test("walker excuses scalar aggregates and limit tails, scoped to their own edge") {
    val d = spark.range(1000).toDF("x")
    assert(offenders(d.agg(sum($"x"))) === Nil)
    assert(offenders(d.agg(count(lit(1)))) === Nil)
    assert(offenders(d.orderBy($"x").limit(5)) === Nil)
    // but a bare repartition(1) is never excused
    assert(offenders(d.repartition(1)).nonEmpty)
  }

  test("stateful plans pass the same walker: lake snapshot and monitoring agg") {
    // q36 analog: lake lifecycle's read side
    val wh = java.nio.file.Files.createTempDirectory("graft_audit").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val fgrp = fs.createFeatureGroup("audited",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), primaryKey = Seq("id"))
    fs.insert(fgrp, Seq((1L, "a2"), (3L, "c")).toDF("id", "v"))
    assert(offenders(fs.read(graft.ir.Query.selectAll(fgrp))) === Nil)

    // q47 analog: the one-scan dual-window conditional aggregation is a
    // scalar aggregate — its SinglePartition is the excused shape
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val et = graft.ops.Splits.eventTimeMillisCol(ev, "ts")
    val t0 = graft.functions.TimeFunctions.toEpochMillis("2024-01-15")
    assert(offenders(ev.agg(
      avg(when(et >= t0, col("value"))).as("_det"),
      avg(when(et < t0, col("value"))).as("_ref"))) === Nil)
  }

  test("stateful plans pass the same walker: streaming micro-batch (q34/q48 analogs)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_stream")
    val src = dir.resolve("src").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "user_id", "ts", "value")
      .limit(1000).coalesce(1).write.json(src)

    val stream = spark.readStream
      .schema(spark.read.json(src).schema).json(src)
    val agg = graft.streaming.Streaming.windowedAgg(
      stream.withColumn("ts_t", timestamp_millis(
        graft.ops.Splits.eventTimeMillisCol(stream, "ts"))),
      "ts_t", windowLen = "1 hour", watermark = "1 hour",
      keyCol = "user_id", valueCol = "value")
    val q = agg.writeStream.format("memory").queryName("audit_stream")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val plan = org.apache.spark.sql.GraftSqlBridge.lastExecutedPlan(q)
    assert(plan.isDefined)
    // stateful aggregation shuffles by (key, window) — never to one task
    assert(PlanAudit.unjustifiedSinglePartitions(plan.get) === Nil,
      plan.get.toString)
    assert(plan.get.toString.contains("StateStore"))
  }

  test("keyPruneAboveWindow flags a semi-join above the lake's window, not the keyed read") {
    val wh = java.nio.file.Files.createTempDirectory("graft_audit_keyed").toString
    val fs = new graft.catalog.FeatureStore(spark, warehouseDir = wh)
    val fgrp = fs.createFeatureGroup("keyed",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), primaryKey = Seq("id"))
    fs.insert(fgrp, Seq((1L, "a2"), (3L, "c")).toDF("id", "v"))
    val root = fgrp.source.asInstanceOf[graft.model.LakeSource].root
    val snap = graft.sources.Lake.snapshot(spark, root, fgrp, None)
    for (keys <- Seq(Seq(1L, 3L).toDF("id"), spark.range(0, 2).toDF("id"))) {
      val above = snap.join(keys, Seq("id"), "left_semi")
      val flagged = PlanAudit.keyPruneAboveWindow(above.queryExecution.optimizedPlan)
      assert(flagged.exists(_.contains("LeftSemi join on id")),
        above.queryExecution.optimizedPlan.toString)
      val keyed = graft.sources.Lake.snapshot(spark, root, fgrp, None, Some(keys))
      assert(PlanAudit.keyPruneAboveWindow(keyed.queryExecution.optimizedPlan) === Nil,
        keyed.queryExecution.optimizedPlan.toString)
      assert(keyed.collect().toSet === above.collect().toSet)
    }
    // a filter on a non-key column above the window is not a key prune
    assert(PlanAudit.keyPruneAboveWindow(
      snap.filter($"v" === "a2").queryExecution.optimizedPlan) === Nil)
  }
}
