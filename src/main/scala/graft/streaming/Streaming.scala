package graft.streaming

import graft.model.FeatureGroup
import graft.sources.Lake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** One closed activity session (sessionization output). Times in epoch
  * millis. Top-level: Catalyst encoder codegen cannot instantiate
  * object-nested case classes.
  */
final case class Session(key: String, sessionStart: Long, sessionEnd: Long,
                         nEvents: Long, total: Double)

/** Open-session state carried between micro-batches (one per active key). */
final case class SessionState(start: Long, last: Long, n: Long, total: Double)

/** Structured-Streaming ingestion — the engine's analog of the reference's
  * stream feature groups (insert_stream → Kafka sink,
  * python/hsfs/engine/spark.py:398-469; Kafka→lakehouse materialization via
  * Hudi DeltaStreamer, java hudi/DeltaStreamerKafkaSource.java:49-115).
  *
  * Design: sources and sinks are format-parameterized (`kafka` works
  * unchanged on a cluster with the kafka datasource; tests drive the same
  * code with file sources). Materialization is `foreachBatch` → Lake
  * upsert — Structured Streaming checkpoints the source offsets, the lake
  * dedups on (pk, event_time, precombine), so the pipeline is end-to-end
  * exactly-once to the snapshot read, replacing DeltaStreamer's manual
  * offset bookkeeping.
  */
object Streaming {

  /** Streaming read with payload decode. For JSON payloads in a `value`
    * column (the Kafka wire shape — engine/spark.py:994-1003), pass
    * `jsonValueSchema` to get `from_json` + `select("value.*")`; file
    * sources with native schemas skip the decode.
    */
  def readStream(spark: SparkSession, format: String,
                 path: Option[String] = None,
                 schema: Option[StructType] = None,
                 options: Map[String, String] = Map(),
                 jsonValueSchema: Option[StructType] = None): DataFrame = {
    var r = spark.readStream.format(format).options(options)
    schema.foreach(s => r = r.schema(s))
    val df = path.map(r.load).getOrElse(r.load())
    jsonValueSchema match {
      case Some(vs) =>
        df.select(from_json(col("value").cast("string"), vs).as("value"))
          .select("value.*")
      case None => df
    }
  }

  /** In-stream late-data handling: watermark + dropDuplicates on the
    * record key (reference relies on upsert precombine instead —
    * core/hudi_engine.py:127-149; we do both, SURVEY §2.12).
    */
  def withDedup(df: DataFrame, eventTimeCol: String, watermark: String,
                keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keys :+ eventTimeCol)

  /** Incremental corpus dedup: drop stream rows whose content fingerprint
    * already exists in the historical corpus — the streaming counterpart
    * of [[graft.ops.Dedup.exact]] for continuous ingestion.
    *
    * `history` is a STATIC frame of fingerprints (e.g. the persisted
    * `fingerprint` column of the corpus, or
    * [[graft.ops.TextAnalysis.fingerprint]] over it). Stream-static
    * left_anti joins are executed per micro-batch with the static side
    * planned once; combine with [[withDedup]] (watermarked key dedup) for
    * in-stream duplicates — this guard is against what is ALREADY stored.
    */
  def dedupAgainstHistory(stream: DataFrame, fingerprintCol: Column,
                          history: DataFrame): DataFrame = {
    val hist = history.toDF("_hist_fp").dropDuplicates("_hist_fp")
    stream.withColumn("_fp", fingerprintCol)
      .join(hist, col("_fp") === col("_hist_fp"), "left_anti")
      .drop("_fp")
  }

  /** Materialize a stream into a lake-backed feature group:
    * `foreachBatch { batch => Lake.upsert(batch) }` with checkpointing —
    * the DeltaStreamer analog (SURVEY §2.12).
    */
  def materialize(df: DataFrame, fg: FeatureGroup, checkpoint: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val root = fg.source match {
      case graft.model.LakeSource(r) => r
      case other => throw new IllegalArgumentException(
        s"materialize needs a lake-backed group, got $other")
    }
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Lake.upsert(batch.sparkSession, root, fg, batch, computeStats = false)
        }
        ()
      }
      .start()
  }

  /** Generic streaming sink (kafka / file formats / memory), with the
    * reference's knobs: output mode, checkpoint dir, query name, optional
    * await timeout (engine/spark.py:398-469).
    */
  def insertStream(df: DataFrame, format: String, checkpoint: String,
                   outputMode: String = "append",
                   queryName: Option[String] = None,
                   path: Option[String] = None,
                   options: Map[String, String] = Map(),
                   awaitTerminationMs: Option[Long] = None): StreamingQuery = {
    var w = df.writeStream.format(format).outputMode(outputMode)
      .option("checkpointLocation", checkpoint).options(options)
    queryName.foreach(n => w = w.queryName(n))
    path.foreach(p => w = w.option("path", p))
    val q = w.start()
    awaitTerminationMs.foreach(q.awaitTermination)
    q
  }

  /** Executed physical plan of the last micro-batch driven through
    * [[runToMemory]] — the PlanAudit main (and specs) sweep stateful
    * streaming plans with the same walker as batch plans. The wrapper
    * type needed to reach it is `private[sql]`; see GraftSqlBridge.
    */
  @volatile var lastMicroBatchPlan
      : Option[org.apache.spark.sql.execution.SparkPlan] = None

  /** Drive a streaming frame to completion (AvailableNow) into a uniquely
    * named memory sink and return the sink table. Records the final
    * micro-batch's executed plan in [[lastMicroBatchPlan]] before the
    * query stops (afterwards it is unreachable).
    *
    * `statePartitions`: number of shuffle/state partitions for THIS
    * query (session conf is set for the start call and restored after
    * the query stops — a streaming query pins its shuffle-partition
    * count at first start, so the restore cannot affect it). Stateful
    * operators keep one state store per partition, each paying
    * per-micro-batch delta-file + commit fsyncs, so state partitioning
    * is sized to STATE VOLUME, not to the session's batch parallelism:
    * a bounded one-shot eval over a test-scale stream wants a handful
    * of stores, while a 10⁹-key production stream wants the full
    * parallelism (the default — None — keeps exactly that).
    *
    * Concurrency contract: the override toggles the SESSION-global
    * `spark.sql.shuffle.partitions` for the duration of the run, so a
    * query started CONCURRENTLY on the same session inside that window
    * would silently inherit the temporary value. Callers that need a
    * concurrent start while a sized run is in flight must pass the
    * frame through `spark.newSession()` (separate conf, shared
    * catalog/state) — every in-repo caller is sequential.
    */
  def runToMemory(df: DataFrame, namePrefix: String,
                  outputMode: String,
                  statePartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val name = namePrefix + java.util.UUID.randomUUID.toString.replace("-", "")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    statePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    val q =
      try {
        val started = df.writeStream.format("memory").queryName(name)
          .outputMode(outputMode)
          .trigger(Trigger.AvailableNow())
          .start()
        started.processAllAvailable()
        started
      } finally {
        if (statePartitions.isDefined)
          spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
    lastMicroBatchPlan = org.apache.spark.sql.GraftSqlBridge.lastExecutedPlan(q)
    q.stop()
    spark.table(name)
  }

  /** Switch the session's streaming state store to RocksDB — the
    * large-state lever for sessionization/dedup streams whose active-key
    * state outgrows executor heap. The default HDFS-backed provider keeps
    * every key's state as JVM objects on-heap (fine for the test-scale
    * streams here, and faster below ~1 GB of state); RocksDB spills to
    * local SSD with bounded memory, which is what a 100 TB corpus's
    * billions of active keys need. Ships in this Spark build
    * (rocksdbjni); opt-in per session, takes effect for queries started
    * AFTER the call. StreamingSpec proves result parity with the default
    * provider on the sessionization oracle path.
    */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Restore the default on-heap state store provider. */
  def useDefaultStateStore(spark: SparkSession): Unit =
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

  /** Tumbling-window streaming aggregation (extension surface — the
    * reference has no stream windows, SURVEY §2.12): count/sum per
    * (window, key) with watermarking.
    */
  def windowedAgg(df: DataFrame, eventTimeCol: String, windowLen: String,
                  watermark: String, keyCol: String,
                  valueCol: String): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("window.start").as("w_start"), col(keyCol),
        col("n"), col("total"))

  /** Gap-based event-time sessionization with CUSTOM STATE
    * (`flatMapGroupsWithState` over a `KeyValueGroupedDataset` — the
    * Structured-Streaming state surface SURVEY §2.12 calls for when
    * built-in windows can't express the semantics).
    *
    * Per key, consecutive events separated by less than `gapMillis` fold
    * into one session; a gap closes the session and emits it (append
    * mode). The trailing open session lives in the state store with an
    * event-time timeout at `last + gap`: when the WATERMARK (not wall
    * clock) passes it, the timeout fires and the session is emitted —
    * late data within the watermark still extends sessions correctly.
    *
    * Scale shape: state is one small record per ACTIVE key (not per
    * event), partitioned by key across executors by the state store;
    * events arrive sorted per micro-batch via in-group sort (bounded by a
    * key's events per batch, not per stream).
    *
    * @param df streaming frame; `eventTimeCol` must be a timestamp column
    *           (the caller applies any nanos→timestamp normalization)
    */
  def sessionize(df: DataFrame, keyCol: String, eventTimeCol: String,
                 valueCol: String, gapMillis: Long,
                 watermark: String): org.apache.spark.sql.Dataset[Session] = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // project FIRST, then watermark the surviving timestamp column (a
    // select after withWatermark, or a typed map after it, silently drops
    // the watermark tag and EventTimeTimeout refuses to plan)
    val typed = df
      .select(col(keyCol).cast("string").as("k"),
        col(eventTimeCol).as("et"),
        col(valueCol).cast("double").as("v"))
      .withWatermark("et", watermark)
      .as[(String, java.sql.Timestamp, Double)]

    def fold(key: String,
             rows: Iterator[(String, java.sql.Timestamp, Double)],
             state: GroupState[SessionState]): Iterator[Session] = {
      val events = rows.map { case (k, ts, v) => (k, ts.getTime, v) }
      if (state.hasTimedOut) {
        // watermark passed last + gap: close and emit the trailing session
        val s = state.get
        state.remove()
        Iterator.single(Session(key, s.start, s.last, s.n, s.total))
      } else {
        val sorted = events.toArray.sortBy(_._2)
        val closed = Vector.newBuilder[Session]
        var cur = state.getOption
        sorted.foreach { case (_, t, v) =>
          cur match {
            case Some(s) if t - s.last < gapMillis =>
              cur = Some(SessionState(s.start, math.max(s.last, t),
                s.n + 1, s.total + v))
            case Some(s) =>
              closed += Session(key, s.start, s.last, s.n, s.total)
              cur = Some(SessionState(t, t, 1L, v))
            case None =>
              cur = Some(SessionState(t, t, 1L, v))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last + gapMillis)
        }
        closed.result().iterator
      }
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fold)
  }

  /** Gap sessionization via Spark's NATIVE `session_window` — the
    * declarative fast path for the common aggregate shape (count/sum),
    * with the session state store managed by the built-in operator.
    * Same gap semantics and emission rule as [[sessionize]] (events merge
    * when separated by strictly less than the gap; a session finalizes in
    * append mode once the watermark passes `last + gap`) — proven equal
    * on the q48 oracle in StreamingSpec. Keep [[sessionize]] for custom
    * per-session logic the aggregate algebra can't express.
    */
  def sessionizeNative(df: DataFrame, keyCol: String, eventTimeCol: String,
                       valueCol: String, gapMillis: Long,
                       watermark: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
        col(eventTimeCol).as("et"),
        col(valueCol).cast("double").as("v"))
      .withWatermark("et", watermark)
      .groupBy(session_window(col("et"), s"$gapMillis milliseconds"),
        col("key"))
      .agg(unix_millis(min(col("et"))).as("sessionStart"),
        unix_millis(max(col("et"))).as("sessionEnd"),
        count(lit(1)).as("nEvents"), sum(col("v")).as("total"))
      .select("key", "sessionStart", "sessionEnd", "nEvents", "total")

  /** Stream-stream interval join: match left rows to right rows on equal
    * keys with the right event time inside
    * `[leftTime − lookback, leftTime]` — the online feature-enrichment
    * join ("attach the views of the last hour to each click") run
    * CONTINUOUSLY, Structured Streaming's stream-stream join with the
    * time-range condition that lets the engine expire join state: each
    * side buffers only `watermark + lookback` of history, so state is
    * rate-bounded, not stream-length-bounded — the property that makes
    * the join runnable forever at 100 TB/day. Without the range
    * condition Spark would have to keep EVERY past row of both streams.
    *
    * Column name collisions between the two sides must be resolved by
    * the caller before the join (standard Spark contract); both inputs
    * must carry event-time columns of timestamp type. Inner joins emit
    * eagerly per micro-batch; `left_outer` additionally emits
    * null-padded rows once the watermark passes (outer results are
    * therefore only complete after watermark advance).
    */
  def intervalJoin(left: DataFrame, leftTime: String, leftWatermark: String,
                   right: DataFrame, rightTime: String,
                   rightWatermark: String,
                   leftKeys: Seq[String], rightKeys: Seq[String],
                   lookback: String,
                   joinType: String = "inner"): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "interval join needs matching non-empty key lists")
    val l = left.withWatermark(leftTime, leftWatermark)
    val r = right.withWatermark(rightTime, rightWatermark)
    val keyCond = leftKeys.zip(rightKeys)
      .map { case (a, b) => l(a) === r(b) }.reduce(_ && _)
    val timeCond = r(rightTime) >= l(leftTime) - expr(s"INTERVAL $lookback") &&
      r(rightTime) <= l(leftTime)
    l.join(r, keyCond && timeCond, joinType)
  }
}
