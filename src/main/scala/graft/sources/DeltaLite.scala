package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Delta Lake tables at the PROTOCOL level (the public delta-io
  * PROTOCOL.md), without the delta-spark jar: a `_delta_log/` of
  * zero-padded `%020d.json` commit files whose newline-delimited
  * actions (`protocol`, `metaData` with the schema as Spark's own
  * schema-JSON, `add`, `remove`, `commitInfo`) are replayed into the
  * live file set; data files are ordinary parquet written by Spark's
  * writer under a per-version subdirectory (`add.path` is
  * table-root-relative, so version dirs keep the diffing trivial and
  * are protocol-legal). This is the transaction-log half of the
  * reference's Delta engine (`core/delta_engine.py:54-170` — create /
  * append / overwrite / time travel).
  *
  * OPTIMISTIC CONCURRENCY (r11, PROTOCOL.md §"Transactions": a writer
  * MUST NOT overwrite an existing `%020d.json` entry): every commit
  * publishes through an atomic PUT-IF-ABSENT — on a local filesystem
  * the staged JSON is hard-LINKED into place (`link(2)` fails with
  * EEXIST when the target exists, the textbook put-if-absent; an
  * O_EXCL-style rename-no-replace isn't portably exposed), on
  * HDFS-like stores via exclusive create (atomic at the namenode). A
  * writer that loses the race REBASES: it re-reads the head version,
  * recomputes its actions against the freshly observed state (appends
  * commute so the retry is just a version bump; overwrite recomputes
  * its remove set), and tries the next version. Data files are staged
  * ONCE under a per-transaction directory before the first attempt, so
  * retries never rewrite data — only the ~1 KB commit JSON.
  *
  * A checkpoint and the `_last_checkpoint` pointer publish as a catalog
  * document does: each is written under a hidden staged name ending
  * `.tmp`, which the log listing ignores, and then renamed into place,
  * so no reader lists a partial one. Two winners checkpointing different
  * versions race last-writer-wins on the pointer, and either value is a
  * valid seed (resolution probes the contiguous tail forward). A pointer
  * or checkpoint that cannot be read (say, one a crashed writer of an
  * older build cut short) is never a seed: replay falls back to an older
  * checkpoint, or to version 0, which is always correct because JSON
  * entries are never deleted.
  *
  * CHECKPOINTS (PROTOCOL.md §"Checkpoints"): every
  * [[CheckpointInterval]] commits the full replay state is written as
  * `%020d.checkpoint.parquet` — one row per action under the
  * protocol's top-level `protocol`/`metaData`/`add` struct columns —
  * and `_last_checkpoint` points at it (`{"version":V,"size":N}`).
  * Snapshot reconstruction then costs O(checkpoint + tail), not
  * O(commits): the newest checkpoint ≤ the requested version seeds the
  * state and only the JSON commits AFTER it are replayed. A 10⁵-commit
  * table reads ≤ [[CheckpointInterval]]−1 JSON files plus one parquet.
  * Expired `remove` tombstones are not carried into checkpoints (legal
  * per the protocol's retention rule; this writer stamps
  * `deletionTimestamp: 0`, so every tombstone is past retention by the
  * time a checkpoint is cut — and there is no vacuum to need them:
  * [[Lake]] deletes a squashed commit's files right after publishing the
  * entry that removes it, and concurrent writers only ever add). A live
  * add's `commitInfo` is restated in the checkpoint's `add.stats` string,
  * so [[Lake]]'s per-commit row counts and record-key Bloom filters
  * survive checkpoints.
  *
  * Tables that publish through this log:
  *  - [[Lake]], every feature-group commit: its `add` paths name commit
  *    DIRECTORIES, each entry carries a `commitInfo`, and its writers
  *    rebase through [[commitWithRetry]];
  *  - the feature store's three append-only histories (validation
  *    reports, group statistics, monitoring results): each run is one
  *    [[append]], the first of which writes the [[header]] with the
  *    schema the store declares, and [[history]] reads a history with no
  *    entry yet as that schema's empty frame.
  *
  * What makes it "real" interop rather than an analog: the on-disk
  * layout is the published protocol — a stock delta-spark reader
  * presented with these directories resolves the same snapshots
  * (structure asserted field-by-field in DeltaLiteSpec; the jar itself
  * is absent from this environment).
  *
  * Scale shape: data files are written and read by Spark's parquet
  * path (pushdown/pruning intact — snapshot reads hand the live files to
  * Spark's parquet scan through [[scan]]); the log replay is driver-side
  * and O(tail) thanks to checkpoints. The checkpoint itself is a tiny
  * |live files|+2-row file written driver-side with parquet-hadoop.
  */
object DeltaLite {

  /** Cut a checkpoint every this many commits (delta's own default). */
  val CheckpointInterval = 10

  private[sources] val mapper = new ObjectMapper()

  /** The Hadoop configuration of the active session: `spark.hadoop.*`
    * settings and schemes registered on the session reach every log read
    * and write, checkpoints included.
    */
  private def hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** The one filesystem resolver for the log and for the [[Lake]] tables
    * published through it: the path's scheme under [[hadoopConf]].
    */
  private[sources] def fs(path: String): FileSystem =
    new Path(path).getFileSystem(hadoopConf)

  private def logDir(table: String) = new Path(table, "_delta_log")

  private def commitFile(table: String, v: Long): Path =
    new Path(logDir(table), f"$v%020d.json")

  private def checkpointFile(table: String, v: Long): Path =
    new Path(logDir(table), f"$v%020d.checkpoint.parquet")

  private def lastCheckpointFile(table: String): Path =
    new Path(logDir(table), "_last_checkpoint")

  /** Sorted existing commit versions (JSON commit files only). */
  def versions(table: String): Seq[Long] = {
    val f = fs(table)
    val ld = logDir(table)
    if (!f.exists(ld)) Seq.empty
    else f.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  /** Sorted existing checkpoint versions (from the directory listing —
    * the fallback when `_last_checkpoint` is absent or ahead of the
    * requested time-travel version).
    */
  private[graft] def checkpointVersions(table: String): Seq[Long] = {
    val f = fs(table)
    val ld = logDir(table)
    if (!f.exists(ld)) Seq.empty
    else f.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint.parquet"))
      .map(_.stripSuffix(".checkpoint.parquet").toLong).sorted
  }

  /** The `_last_checkpoint` pointer, if present and readable. The
    * pointer is only a hint, so one that cannot be read is absent.
    */
  private[graft] def lastCheckpoint(table: String): Option[Long] = {
    val f = fs(table)
    val p = lastCheckpointFile(table)
    if (!f.exists(p)) None
    else
      try {
        val in = f.open(p)
        val node = try mapper.readTree(in) finally in.close()
        Option(node).filter(_.has("version")).map(_.get("version").asLong)
      } catch { case NonFatal(_) => None }
  }

  /** A hidden name beside `target` that the log listing ignores. */
  private def staged(target: Path): Path =
    new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")

  /** Atomic put-if-absent publish of commit `v`. Returns false when the
    * version already exists — the caller lost the race and must rebase.
    * Local scheme: stage to a hidden `.tmp` in `_delta_log`, then
    * `Files.createLink` (atomic, EEXIST on conflict) and drop the
    * stage. Other schemes: exclusive create (atomic on HDFS).
    */
  private[graft] def tryPublish(table: String, v: Long,
                                actions: Seq[String]): Boolean = {
    val f = fs(table)
    val target = commitFile(table, v)
    if (f.getScheme == "file") {
      val tmp = staged(target)
      val out = f.create(tmp, false)
      try actions.foreach(a => out.write((a + "\n").getBytes("UTF-8")))
      finally out.close()
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally f.delete(tmp, false)
    } else {
      if (f.exists(target)) false
      else
        try {
          val out = f.create(target, false)
          try actions.foreach(a => out.write((a + "\n").getBytes("UTF-8")))
          finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    }
  }

  /** The optimistic-concurrency loop: replay the head, publish the
    * entry `actions(head)` at the version after it, and on losing the
    * put-if-absent race replay the new head and try again. `actions` is
    * re-evaluated on every attempt so a loser REBASES against the freshly
    * observed head rather than replaying a stale view; `head` is None
    * while the log is empty (the entry then publishes version 0).
    * Bounded — an FS whose put-if-absent always "loses" must surface as
    * an error, not an infinite loop.
    *
    * Once the entry is published the commit has happened, so the
    * checkpoint that may follow it cannot fail it: a checkpoint is only a
    * replay shortcut, replay from the JSON entries is always correct, and
    * a cut checkpoint leaves no file the log lists ([[publishStaged]]).
    * A caller that saw an error here would retry a commit already made.
    */
  private[sources] def commitWithRetry(table: String, maxAttempts: Int = 1000)
                                      (actions: Option[State] => Seq[String]): Long = {
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val head = latest(table)
      val v = head.fold(0L)(_.version + 1)
      if (tryPublish(table, v, actions(head))) {
        try maybeCheckpoint(table, v) catch { case NonFatal(_) => }
        return v
      }
    }
    sys.error(s"$table: lost the commit race $maxAttempts times")
  }

  /** The actions that declare a table, which the entry publishing
    * version 0 carries: `protocol`, and `metaData` with `schema`.
    */
  private[sources] def header(schema: StructType): Seq[String] = {
    val node = mapper.createObjectNode()
    val md = node.putObject("metaData")
    md.put("id", java.util.UUID.randomUUID.toString)
    md.put("schemaString", schema.json)
    md.putObject("format").put("provider", "parquet")
    md.putArray("partitionColumns")
    md.putObject("configuration")
    md.put("createdTime", 0L)
    Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      mapper.writeValueAsString(node))
  }

  private[sources] def addAction(relPath: String, size: Long): String = {
    val node = mapper.createObjectNode()
    val a = node.putObject("add")
    a.put("path", relPath)
    a.putObject("partitionValues")
    a.put("size", size)
    a.put("modificationTime", 0L)
    a.put("dataChange", true)
    mapper.writeValueAsString(node)
  }

  private[sources] def removeAction(relPath: String): String = {
    val node = mapper.createObjectNode()
    val r = node.putObject("remove")
    r.put("path", relPath)
    r.put("deletionTimestamp", 0L)
    r.put("dataChange", true)
    mapper.writeValueAsString(node)
  }

  /** Write `df`'s parquet files under `<table>/<dirName>/` and return
    * their table-relative paths + sizes. `dirName` is `v0` for create
    * and a per-transaction `tx-…` directory for append/overwrite —
    * staged ONCE before the first commit attempt, so losing the commit
    * race never rewrites data (add paths are opaque to the protocol).
    */
  private def writeData(df: DataFrame, table: String,
                        dirName: String): Seq[(String, Long)] = {
    val dir = s"$table/$dirName"
    df.write.mode("errorifexists").parquet(dir)
    val f = fs(table)
    f.listStatus(new Path(dir)).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map(s => (s"$dirName/${s.getPath.getName}", s.getLen))
  }

  private def txDir(): String =
    s"tx-${java.util.UUID.randomUUID.toString.take(8)}"

  /** Version 0: protocol + metaData + the initial adds. Put-if-absent
    * on the v0 entry — of two concurrent creates exactly one wins; the
    * loser gets an error (there is no meaningful rebase for create).
    */
  def create(df: DataFrame, table: String): Long = {
    require(versions(table).isEmpty, s"$table already has a _delta_log")
    fs(table).mkdirs(logDir(table))
    val files = writeData(df, table, "v0")
    val won = tryPublish(table, 0L,
      header(df.schema) ++ files.map { case (p, s) => addAction(p, s) })
    require(won, s"$table: concurrent create — another writer owns v0")
    0L
  }

  /** Append commit: adds only. Appends commute with appends, so a lost
    * race rebases by just bumping the version (data staged once). The
    * first append to an empty log also writes the [[header]], declaring
    * `df`'s schema, so an append-only table needs no create.
    */
  def append(df: DataFrame, table: String): Long = {
    requireNoBareParquet(table)
    val files = writeData(df, table, txDir())
    val adds = files.map { case (p, s) => addAction(p, s) }
    commitWithRetry(table) { head =>
      if (head.isEmpty) header(df.schema) ++ adds else adds
    }
  }

  /** A directory that holds Parquet files but no log was written around
    * the log (for example a history saved as bare append-mode parquet
    * before it was a table of this log). Reading it as an empty table
    * would hide its rows, and appending to it would shadow them.
    */
  private def requireNoBareParquet(table: String): Unit = {
    val f = fs(table)
    val dir = new Path(table)
    if (f.exists(dir) && !f.exists(logDir(table)) && f.listStatus(dir)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(s"$table holds Parquet files but no " +
        "_delta_log: it is not a table of this log")
  }

  /** Overwrite commit: remove every live file, add the new ones. A
    * lost race REBASES the remove set — the retry recomputes the live
    * files at the freshly observed head (v − 1), so files added by the
    * interleaved winner are removed too (full-table overwrite
    * semantics; delta-spark resolves the same way for blind
    * mode=overwrite).
    */
  def overwrite(df: DataFrame, table: String): Long = {
    require(versions(table).nonEmpty, s"$table has no log — create first")
    val files = writeData(df, table, txDir())
    val adds = files.map { case (p, s) => addAction(p, s) }
    commitWithRetry(table) { head =>
      head.toSeq.flatMap(_.adds).map(_._1).map(removeAction) ++ adds
    }
  }

  // ------------------------------------------------------------------
  // snapshot state: checkpoint + JSON tail
  // ------------------------------------------------------------------

  /** Full replay state at one version: the declared schema, the
    * metaData id, the live files (table-relative path, size) in add
    * order, and for each live file added by an entry that carries a
    * `commitInfo` action, that action's JSON (checkpoints restate it in
    * the protocol's `add.stats` string).
    */
  private[graft] case class State(version: Long, schema: StructType,
                                  metaId: String, adds: Seq[(String, Long)],
                                  info: Map[String, String])

  /** Checkpoint parquet schema — the protocol's top-level action struct
    * columns (one row per action, exactly one struct non-null), as a
    * parquet MessageType so both halves of the checkpoint IO run
    * driver-side on parquet-hadoop (no Spark job for a ≤|live files|+2
    * row file — the write happens inside every Nth commit and the read
    * inside every snapshot resolution, so both must be cheap).
    */
  private val cpMessage = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("""
      message checkpoint {
        optional group protocol {
          optional int32 minReaderVersion;
          optional int32 minWriterVersion;
        }
        optional group metaData {
          optional binary id (UTF8);
          optional group format { optional binary provider (UTF8); }
          optional binary schemaString (UTF8);
          optional group partitionColumns (LIST) {
            repeated group list { optional binary element (UTF8); }
          }
          optional group configuration (MAP) {
            repeated group key_value {
              required binary key (UTF8);
              optional binary value (UTF8);
            }
          }
          optional int64 createdTime;
        }
        optional group add {
          optional binary path (UTF8);
          optional group partitionValues (MAP) {
            repeated group key_value {
              required binary key (UTF8);
              optional binary value (UTF8);
            }
          }
          optional int64 size;
          optional int64 modificationTime;
          optional boolean dataChange;
          optional binary stats (UTF8);
        }
      }""")

  /** Write the `%020d.checkpoint.parquet` + `_last_checkpoint` pair for
    * version `v`. Driver-side parquet-hadoop write — one tiny file,
    * exact protocol name, no Spark job. Each file is written staged and
    * renamed into place ([[publishStaged]]), the checkpoint before the
    * pointer that names it. Commits call it automatically every
    * [[CheckpointInterval]] versions.
    */
  private[graft] def writeCheckpoint(table: String, v: Long): Unit = {
    val st = replayState(table, Some(v))
    val f = fs(table)
    publishStaged(f, checkpointFile(table, v)) { tmp =>
      val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, hadoopConf))
        .withType(cpMessage).build()
      try writeState(writer, st) finally writer.close()
    }
    publishStaged(f, lastCheckpointFile(table)) { tmp =>
      val out = f.create(tmp, false)
      try out.write(s"""{"version":$v,"size":${st.adds.size + 2}}"""
        .getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Write `target` through `write(staged)` under a hidden staged name
    * beside it, then rename it into place. A write that fails part-way
    * leaves only the staged file, which is removed when it can be and is
    * never listed either way. The local filesystem's rename replaces an
    * older target atomically (Hadoop's hidden checksum file follows in a
    * second rename). HDFS and object stores refuse to rename over an
    * existing file; there the old target is deleted first, so a reader in
    * that window sees no file, never a truncated one.
    */
  private[graft] def publishStaged(f: FileSystem, target: Path)
                                  (write: Path => Unit): Unit = {
    val tmp = staged(target)
    try {
      write(tmp)
      if (!f.rename(tmp, target)) {
        f.delete(target, false)
        if (!f.rename(tmp, target))
          throw new java.io.IOException(s"cannot rename $tmp to $target")
      }
    } catch {
      case e: Throwable =>
        try f.delete(tmp, false) catch { case NonFatal(_) => }
        throw e
    }
  }

  private def writeState(writer: ParquetWriter[Group], st: State): Unit = {
    val factory = new SimpleGroupFactory(cpMessage)
    val gp = factory.newGroup()
    val pr = gp.addGroup("protocol")
    pr.add("minReaderVersion", 1); pr.add("minWriterVersion", 2)
    writer.write(gp)
    val gm = factory.newGroup()
    val md = gm.addGroup("metaData")
    md.add("id", st.metaId)
    md.addGroup("format").add("provider", "parquet")
    md.add("schemaString", st.schema.json)
    md.addGroup("partitionColumns") // present and empty
    md.addGroup("configuration")    // present and empty
    md.add("createdTime", 0L)
    writer.write(gm)
    st.adds.foreach { case (p, size) =>
      val g = factory.newGroup()
      val a = g.addGroup("add")
      a.add("path", p)
      a.addGroup("partitionValues") // present and empty
      a.add("size", size)
      a.add("modificationTime", 0L)
      // delta-spark convention: checkpoint add entries carry
      // dataChange=false (they restate state, they are not new data);
      // state reconstruction ignores the flag either way
      a.add("dataChange", false)
      st.info.get(p).foreach(a.add("stats", _))
      writer.write(g)
    }
  }

  private def maybeCheckpoint(table: String, v: Long): Unit =
    if (v > 0 && v % CheckpointInterval == 0)
      writeCheckpoint(table, v)

  /** The checkpoint each table was last seeded from, with the file's
    * path, length and modification time. A checkpoint never changes once
    * written, and opening one through parquet-hadoop costs ~10 ms, which
    * every lake read and commit would otherwise pay.
    */
  private val loaded =
    new java.util.concurrent.ConcurrentHashMap[Path, ((Path, Long, Long), State)]()

  private def loadCheckpoint(table: String, v: Long): State = {
    val p = checkpointFile(table, v)
    val st = fs(table).getFileStatus(p)
    val key = (p, st.getLen, st.getModificationTime)
    Option(loaded.get(logDir(table))).filter(_._1 == key).map(_._2)
      .getOrElse {
        val state = readCheckpoint(table, v)
        loaded.put(logDir(table), (key, state))
        state
      }
  }

  /** Read a checkpoint parquet back into a seed [[State]]. Read
    * DRIVER-SIDE via parquet-hadoop's own reader — snapshot resolution
    * must not cost a Spark job: a |live files|+2-row file reads in
    * milliseconds, so log replay latency is pure local IO of the tail,
    * O(tail) with a tiny constant.
    */
  private def readCheckpoint(table: String, v: Long): State = {
    val reader: ParquetReader[Group] = ParquetReader
      .builder(new GroupReadSupport(), checkpointFile(table, v))
      .withConf(hadoopConf).build()
    var schema: StructType = null
    var metaId: String = null
    val adds = Seq.newBuilder[(String, Long)]
    val info = Map.newBuilder[String, String]
    try {
      var g = reader.read()
      while (g != null) {
        if (g.getFieldRepetitionCount("metaData") > 0) {
          val md = g.getGroup("metaData", 0)
          schema = DataType.fromJson(md.getString("schemaString", 0))
            .asInstanceOf[StructType]
          metaId = md.getString("id", 0)
        }
        if (g.getFieldRepetitionCount("add") > 0) {
          val add = g.getGroup("add", 0)
          val path = add.getString("path", 0)
          adds += ((path, add.getLong("size", 0)))
          // checkpoints cut before add.stats existed lack the field
          if (add.getType.containsField("stats") &&
              add.getFieldRepetitionCount("stats") > 0)
            info += path -> add.getString("stats", 0)
        }
        g = reader.read()
      }
    } finally reader.close()
    require(schema != null, s"checkpoint $v carries no metaData")
    State(v, schema, metaId, adds.result(), info.result())
  }

  /** State at `asOf` (default latest): seed from the newest checkpoint
    * ≤ `asOf`, then replay only the JSON commits after it. When the
    * `_last_checkpoint` pointer applies, the tail is found by probing
    * the CONTIGUOUS commit sequence forward from the pointer — no
    * directory listing at all, so resolution is O(tail) even when the
    * log directory holds 10⁵ files (delta's own readers use the
    * pointer + a listing that starts AFTER the checkpoint for the same
    * reason). The full listing survives only in the fallbacks: no
    * pointer yet, or time travel BEHIND the pointer (which then seeds
    * from an older checkpoint found by listing).
    */
  private[graft] def replayState(table: String,
                                 asOf: Option[Long]): State =
    replay(table, asOf).getOrElse(sys.error(s"$table has no _delta_log"))

  /** State at the head of the log; None while the log has no entry. */
  private[graft] def latest(table: String): Option[State] = replay(table, None)

  private def replay(table: String, asOf: Option[Long]): Option[State] = {
    val f = fs(table)
    // a checkpoint seeds replay only if it reads back whole
    def seedAt(v: Long): Option[State] =
      try Some(loadCheckpoint(table, v)) catch { case NonFatal(_) => None }
    val fromPointer =
      lastCheckpoint(table).filter(v => asOf.forall(v <= _)).flatMap(seedAt)
    val (seed, upTo): (Option[State], Long) = fromPointer match {
      case Some(cp) =>
        val u = asOf match {
          case Some(u) =>
            require(u == cp.version || f.exists(commitFile(table, u)),
              s"version $u not in log")
            u
          case None => // pointer + contiguous tail, probed without a listing
            var u = cp.version
            while (f.exists(commitFile(table, u + 1))) u += 1
            u
        }
        (Some(cp), u)
      case None => // no usable pointer, or time travel behind it
        val vs = versions(table)
        val cps = checkpointVersions(table)
        if (vs.isEmpty && cps.isEmpty && asOf.isEmpty) return None
        require(vs.nonEmpty || cps.nonEmpty, s"$table has no _delta_log")
        val u = asOf.getOrElse((vs ++ cps).max)
        require(vs.contains(u) || cps.contains(u),
          s"version $u not in ${(vs ++ cps).distinct.sorted.mkString(",")}")
        (cps.filter(_ <= u).reverseIterator.flatMap(seedAt).nextOption(), u)
    }
    val live = scala.collection.mutable.LinkedHashMap[String, Long]()
    seed.foreach(_.adds.foreach { case (p, s) => live(p) = s })
    val info = scala.collection.mutable.Map[String, String]()
    seed.foreach(info ++= _.info)
    var schema: StructType = seed.map(_.schema).orNull
    var metaId: String = seed.map(_.metaId).orNull
    ((seed.fold(-1L)(_.version) + 1) to upTo).foreach { v =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        f.open(commitFile(table, v)), "UTF-8"))
      val added = Seq.newBuilder[String]
      var commitInfo: Option[String] = None
      var line = in.readLine()
      while (line != null) {
        if (line.nonEmpty) {
          val node = mapper.readTree(line)
          if (node.has("add")) {
            val a = node.get("add")
            live(a.get("path").asText()) = a.get("size").asLong
            added += a.get("path").asText()
          } else if (node.has("remove")) {
            live -= node.get("remove").get("path").asText()
            info -= node.get("remove").get("path").asText()
          } else if (node.has("metaData")) {
            val md = node.get("metaData")
            schema = DataType.fromJson(md.get("schemaString").asText())
              .asInstanceOf[StructType]
            metaId = md.get("id").asText()
          } else if (node.has("commitInfo"))
            commitInfo = Some(node.get("commitInfo").toString)
        }
        line = in.readLine()
      }
      in.close()
      commitInfo.foreach(c => added.result().foreach(info(_) = c))
    }
    require(schema != null, s"$table log carries no metaData")
    Some(State(upTo, schema, metaId, live.toSeq, info.toMap))
  }

  /** Snapshot read at `asOf` (default latest): the live files through
    * Spark's parquet reader under the log's declared schema. An empty
    * snapshot (everything removed) is the schema's empty frame.
    */
  def snapshot(spark: SparkSession, table: String,
               asOf: Option[Long] = None): DataFrame = {
    val st = replayState(table, asOf)
    read(spark, table, st.schema, st.adds.map(_._1))
  }

  /** The latest snapshot of an append-only table under the `schema` its
    * appends declare; while no entry is published yet, that schema's empty
    * frame, so an empty history and a one-run history read alike. A
    * directory of bare Parquet files is refused, never read as empty.
    */
  def history(spark: SparkSession, table: String,
              schema: StructType): DataFrame = latest(table) match {
    case Some(st) => read(spark, table, schema, st.adds.map(_._1))
    case None =>
      requireNoBareParquet(table)
      read(spark, table, schema, Nil)
  }

  /** Incremental read: rows in files ADDED in versions (`fromExclusive`,
    * `toInclusive`] — the protocol-level `read_changes`; `fromExclusive`
    * −1 reads from the first version on.
    */
  def readChanges(spark: SparkSession, table: String, fromExclusive: Long,
                  toInclusive: Long): DataFrame = {
    val before =
      if (fromExclusive < 0) Set.empty[String]
      else replayState(table, Some(fromExclusive)).adds.map(_._1).toSet
    val after = replayState(table, Some(toInclusive))
    read(spark, table, after.schema, after.adds.map(_._1).filterNot(before))
  }

  /** The rows of `files` (table-relative) under `schema`, through [[scan]];
    * no files is the schema's empty frame.
    */
  private def read(spark: SparkSession, table: String, schema: StructType,
                   files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema.toNullable)
    else scan(spark, table, files, schema, Map.empty)

  /** One client of Spark's file-status cache for every read of a table
    * of this log: a published data file or commit directory never
    * changes, so each is listed once per JVM.
    */
  @volatile private var listed: FileStatusCache = null

  private def listings(spark: SparkSession): FileStatusCache = {
    if (listed == null) synchronized {
      if (listed == null) listed = FileStatusCache.getOrCreate(spark)
    }
    listed
  }

  /** Spark's parquet scan of `paths` (table-relative data files or
    * directories) under `schema`: the relation
    * `spark.read.schema(schema).options(options).parquet(...)` builds, but
    * over [[listings]]. A path no read has listed yet is looked up on the
    * driver first, and a missing one fails there as the reader does; a
    * file goes into the cache from that lookup. Only directories are
    * listed, each once per JVM, so a read of many files starts no Spark
    * listing job (`spark.sql.sources.parallelPartitionDiscovery.threshold`
    * unlisted roots start one).
    */
  private[sources] def scan(spark: SparkSession, table: String,
                            paths: Seq[String], schema: StructType,
                            options: Map[String, String]): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, table, paths, schema, options))

  /** The relation [[scan]] reads. */
  private[sources] def relation(spark: SparkSession, table: String,
                                paths: Seq[String], schema: StructType,
                                options: Map[String, String]): HadoopFsRelation = {
    val f = fs(table)
    val cache = listings(spark)
    val base = f.makeQualified(new Path(table))
    val roots = paths.map(new Path(base, _))
    for (r <- roots if cache.getLeafFiles(r).isEmpty) {
      val st = f.getFileStatus(r)
      if (st.isFile) cache.putLeafFiles(r, Array(st))
    }
    val index = new InMemoryFileIndex(spark, roots, options, Some(schema), cache)
    val parts = index.partitionSchema
    val data = StructType(schema.filterNot(c =>
      parts.exists(p => SQLConf.get.resolver(p.name, c.name))))
    HadoopFsRelation(index, parts, data.toNullable, None, new ParquetFileFormat,
      options)(spark)
  }
}
