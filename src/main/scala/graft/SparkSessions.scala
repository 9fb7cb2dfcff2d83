package graft

import org.apache.spark.sql.SparkSession

/** Canonical local session factory: one place for the engine's session
  * tuning so Verify / Bench / tools cannot drift.
  *
  * Settings rationale (100 TB posture, tested on local[N]):
  *  - shuffle partitions = cores locally; on a cluster size to data volume
  *    and let AQE coalesce (`spark.sql.adaptive.enabled` on → runtime
  *    re-planning, skew-join splitting, partition coalescing).
  *  - UTC session timezone — event-time parity with the reference
  *    (engine/spark.py:133) and with the DuckDB oracle (TIMESTAMP_NTZ
  *    columns are interpreted in the session zone by
  *    `TimeFunctions.eventTimeToMicros`).
  *  - `nanosAsLong` — kept for testdata generations whose events table
  *    stores TIMESTAMP(NANOS) (unsupported natively by Spark 4 parquet
  *    reads; read as Long nanos). The current generation writes
  *    timestamp[us] — a no-op for it; queries dispatch on the resolved
  *    type either way.
  *  - 100 retained SQL executions instead of 1000. The UI is off, so
  *    nothing reads them, and a session running hundreds of queries a
  *    second (driver-local feature lookups) would otherwise spend a core
  *    on evicting them.
  */
object SparkSessions {

  def local(cpus: String, appName: String = "graft"): SparkSession =
    local(cpus, appName, metastoreDir = None)

  /** `metastoreDir`: where the HIVE METASTORE (embedded Derby) and the
    * managed-table warehouse live. Default = a fresh per-JVM temp dir,
    * deleted when the JVM exits — Derby allows ONE JVM per database, so
    * concurrent Verify/Bench/test JVMs must not share one. Pass a fixed
    * dir to prove metastore persistence across real process restarts
    * (`MetastoreSpec`'s probe `graft.tools.MetastoreCheck`). Catalog implementation is `hive`
    * (the jars ship in /opt/spark/jars): `saveAsTable`/`spark.table`
    * hit a real HiveExternalCatalog, the reference's
    * `engine/spark.py:160-163` storage path. The catalog initializes
    * LAZILY — parquet-scan/temp-view queries never touch Derby, so the
    * other 116 queries' plans and costs are unchanged.
    */
  def local(cpus: String, appName: String,
            metastoreDir: Option[String]): SparkSession =
    local(cpus, appName, metastoreDir, envConf(), System.err.println)

  /** Deployment settings from `SPARK_GRAFT_SPARK_CONF`. */
  private def envConf(): Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_SPARK_CONF").toSeq.flatMap {
      _.split(";").map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SPARK_CONF entry is not key=value: '$kv'")
        }
      }
    }

  /** `conf` is applied after the defaults, in order. When getOrCreate()
    * returns an already running session, Spark keeps only runtime SQL
    * settings; `warn` then gets one line naming every `conf` key that
    * did not take effect.
    */
  private[graft] def local(cpus: String, appName: String,
                           metastoreDir: Option[String],
                           conf: Seq[(String, String)],
                           warn: String => Unit): SparkSession = {
    val msDir = metastoreDir.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft_metastore")
      // deleted at JVM exit after Spark's own shutdown hook (which stops
      // the context; Hadoop priority FileSystem.SHUTDOWN_HOOK_PRIORITY
      // + 30) and before the Hadoop filesystem cache closes
      org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        () => Bench.deleteRecursively(d),
        org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
      d.toString
    }
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // map-side session merge before the stateful shuffle: at scale the
      // session_window operator otherwise shuffles one row per EVENT
      // instead of one per partial session
      .config("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
      .config("spark.ui.enabled", "false")
      // with no UI, Spark's SQL status store still keeps finished queries;
      // past the limit each further query sorts all it keeps to evict one
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", s"$msDir/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$msDir/metastore_db;create=true")
    // Scale-dependent settings stay PARAMETERISED, never baked in for
    // one box (r13/r14 optimization-round rule): local defaults above
    // keep the bench cross-round comparable; a deployment (or a scaling
    // probe — SCALE.md's maxPartitionBytes sweep) overrides via
    //   SPARK_GRAFT_SPARK_CONF="spark.sql.files.maxPartitionBytes=512m;…"
    // (semicolon-separated key=value pairs, applied in order).
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    val ignored = ignoredConf(s, conf)
    if (ignored.nonEmpty)
      warn("[graft] SPARK_GRAFT_SPARK_CONF: a running session ignored " +
        ignored.mkString(", "))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Keys of `conf` the session does not run with: a setting takes effect
    * as a runtime SQL setting of the session or as a setting of its
    * SparkContext. (A warm session copies every non-static key into its
    * SQL conf, where a core setting such as `spark.driver.maxResultSize`
    * shows but does nothing, so `s.conf` alone cannot tell.)
    */
  private def ignoredConf(s: SparkSession,
                          conf: Seq[(String, String)]): Seq[String] = {
    val last = conf.toMap
    val context = s.sparkContext.getConf
    conf.map(_._1).distinct.filterNot { k =>
      (s.conf.isModifiable(k) && s.conf.getOption(k).contains(last(k))) ||
        context.getOption(k).contains(last(k))
    }
  }
}
