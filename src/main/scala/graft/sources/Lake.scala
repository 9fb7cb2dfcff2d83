package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.model.FeatureGroup
import graft.ops.KeyPrune
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{GraftKeyedIndex, GraftPointRead}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import scala.jdk.CollectionConverters._

/** Commit-logged lakehouse table: the engine's analog of the reference's
  * Hudi/Delta feature-group storage (python/hsfs/core/hudi_engine.py:85-274,
  * core/delta_engine.py:54-204).
  *
  * Layout under `root`:
  * {{{
  *   _delta_log/NNN.json, NNN.checkpoint.parquet   (the commit log, [[DeltaLite]])
  *   data/_tx=[uuid]/_commit_time=[epochMillis]/part-NNN.parquet
  * }}}
  *
  * The log is the only source of truth. Every commit (create, upsert,
  * delete, compact, cleanCommits) is ONE log entry — an `add` of its
  * commit directory, `remove`s of the commits it replaces, and a
  * `commitInfo` carrying its row counts — published through DeltaLite's
  * put-if-absent [[DeltaLite.commitWithRetry]]. Readers replay the log
  * (checkpoint + tail) and hand Spark one path per live commit, with
  * `basePath` so `_commit_time` comes from the directory name; a directory
  * no published entry adds is never read.
  *
  * Concurrency and crashes:
  *  - A commit stages into its own `_tx=` directory, so two writers never
  *    share an output path or its `_temporary` directory.
  *  - Commit times strictly increase with log version: a writer picks
  *    `max(now, head + 1)`, and one that loses the publish race to a newer
  *    commit renames its own `_commit_time=` directory above the new head
  *    before it retries. Data is never rewritten.
  *  - A crash before the publish leaves an unread `_tx=` directory; a crash
  *    after it leaves squashed directories that the log no longer names.
  *    Neither needs recovery: the next commit or compaction just runs.
  *
  * Design notes for scale:
  *  - Each commit is its own directory, so time-travel and incremental
  *    reads select directories from the log — a 100 TB table as-of t scans
  *    only commits ≤ t, and an incremental read only the (t0, t1] commits.
  *  - Writes are append-only (merge-on-read): upsert/delete append rows and
  *    tombstones, one per record key per commit; reads resolve the latest
  *    version per record key in one order (commit time, precombine), by
  *    one of three paths:
  *     1. a full read windows every record key — the same shuffle a
  *        MERGE INTO would need, but without rewriting existing files;
  *     2. a keyed read (`snapshot(..., keys)`, and the stats and tombstone
  *        reads of upsert/delete) prunes the commit rows to the requested
  *        keys BEFORE that window, so it windows only their versions;
  *     3. a keyed snapshot by a few driver-local keys is EAGER: the keys
  *        pick the commits (key filters, below), then the files whose
  *        footer statistics may hold them. When their row groups that may
  *        hold them total at most a fixed bound, Spark's Parquet reader
  *        reads them on the driver, in no Spark job, with the keys pushed
  *        into it: through each file's page index it decodes only the
  *        pages that may hold them, about [[PageRows]] rows per file of a
  *        sorted commit. Else one Spark job scans the commits with the
  *        keys pushed into the scan. Either way the versions resolve on
  *        the driver into a driver-local frame.
  *  - A keyed read by such keys (the `IN` form of [[KeyPrune]]) also
  *    skips whole commits. A commit written from a driver-local batch
  *    carries in its log entry one Bloom filter per record-key column over
  *    the batch's values, as Hudi's record-key Bloom index does per file;
  *    the read opens only the commits without a filter for the key column
  *    and those whose filter may hold a requested key (~1% false
  *    positives). A lookup's cost then grows with the commits holding its
  *    keys, not with history; when no commit may hold them it runs no
  *    Spark job. Each filter is decoded once per JVM.
  *  - A commit written from a batch that is not driver-local (a bulk load
  *    from files, a squash base) is range-partitioned on the record key
  *    before its versions settle, and a driver-local batch is sorted on it
  *    on the driver, so each file of a commit holds a contiguous, sorted
  *    key range, and a few-key read opens about one file of it. Every
  *    file is written in pages of at most [[PageRows]] rows, so within a
  *    sorted file the key pages hold disjoint ranges too.
  *  - Published commit directories never change, so each is listed once
  *    per JVM (a shared file-status cache): a read of n commits lists only
  *    the ones no read has listed, and starts no listing job however
  *    large n grows.
  *  - `compact()`/`cleanCommits()` squash old commits into one base commit
  *    to bound read amplification, mirroring Hudi compaction.
  *
  * Record identity = primary key + event time (hudi record-key semantics,
  * core/hudi_engine.py:122-145); duplicate versions resolved by
  * (_commit_time desc, precombine desc) — last writer wins, ties broken by
  * the precombine column (core/hudi_engine.py:141-149). A batch's own
  * duplicates are settled as it is written, as Hudi precombines before
  * a write: by precombine, then by a hash of the row's content.
  */
object Lake {

  val CommitCol = "_commit_time"
  val DeletedCol = "_deleted"
  /** Partition level that makes each commit's directory its own. */
  private val TxCol = "_tx"
  /** Columns a commit adds to its rows; [[resolve]] drops them. */
  private val MetaCols = Seq(CommitCol, DeletedCol, TxCol)

  final case class CommitMeta(
      commitTime: Long,
      operation: String,
      rowsInserted: Long,
      rowsUpdated: Long,
      rowsDeleted: Long)

  /** A live commit: its table-relative directory, its record, and the
    * JSON of its key filters ([[keyFilters]]) when it has any.
    */
  private final case class Commit(dir: String, meta: CommitMeta,
                                  filters: Option[JsonNode]) {
    def time: Long = meta.commitTime
  }

  /** Operations that publish a squashed base; once one has run, the
    * oldest live commit is the retention horizon.
    */
  private val BaseOps = Set("compact", "clean")

  private def commitDir(tx: String, t: Long) = s"data/$TxCol=$tx/$CommitCol=$t"

  private def recordKey(fg: FeatureGroup): Seq[String] =
    (fg.primaryKey ++ fg.eventTime).distinct

  /** A commit's `commitInfo`: its record and, when it has any, its key
    * filters under `keyFilters`.
    */
  private def commitInfo(m: CommitMeta, filters: Option[ObjectNode]): String = {
    val n = DeltaLite.mapper.createObjectNode()
    n.put("commitTime", m.commitTime)
    n.put("operation", m.operation)
    n.put("rowsInserted", m.rowsInserted)
    n.put("rowsUpdated", m.rowsUpdated)
    n.put("rowsDeleted", m.rowsDeleted)
    filters.foreach(n.set[JsonNode]("keyFilters", _))
    DeltaLite.mapper.writeValueAsString(n)
  }

  /** Live commits at the log head, oldest first (empty without a log). */
  private def liveCommits(root: String): Seq[Commit] =
    commits(DeltaLite.latest(root))

  private def commits(head: Option[DeltaLite.State]): Seq[Commit] =
    head.toSeq.flatMap { st =>
      st.adds.map { case (dir, _) =>
        val n = DeltaLite.mapper.readTree(st.info(dir))
        Commit(dir, CommitMeta(n.get("commitTime").asLong,
          n.get("operation").asText, n.get("rowsInserted").asLong,
          n.get("rowsUpdated").asLong, n.get("rowsDeleted").asLong),
          Option(n.get("keyFilters")))
      }
    }.sortBy(_.time)

  /** Commit times of the live commits, ascending. */
  def listCommits(spark: SparkSession, root: String): Seq[Long] =
    liveCommits(root).map(_.time)

  private def emptyFrame(spark: SparkSession, fg: FeatureGroup): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), fg.schema)

  /** The raw scan of the given (non-empty) commits: one path per commit
    * directory, `_commit_time` and `_tx` from the directory names
    * ([[resolve]] drops them). With a declared feature schema the read
    * passes it EXPLICITLY — no `mergeSchema` footer sweep over every file
    * on every read, and files predating an appended column surface it as
    * null exactly as the merged scan would (snapshot() then fills declared
    * defaults) — and lists only commits it has not listed before
    * ([[DeltaLite.scan]]). Only schema-less groups (fg.features empty)
    * still pay the merge and the listing (reference schema
    * reconciliation, core/hudi_engine.py:226-244).
    */
  private def rawData(spark: SparkSession, root: String, fg: FeatureGroup,
                      cs: Seq[Commit]): DataFrame =
    if (fg.features.isEmpty)
      spark.read.options(scanOptions(root)).option("mergeSchema", "true")
        .parquet(cs.map(c => s"$root/${c.dir}"): _*)
    else DeltaLite.scan(spark, root, cs.map(_.dir), rawSchema(fg), scanOptions(root))

  private def scanOptions(root: String) = Map("basePath" -> s"$root/data")

  /** A declared group's commit rows: its columns, then the commit's own. */
  private def rawSchema(fg: FeatureGroup): StructType =
    StructType(fg.schema.fields.toSeq ++ Seq(
      StructField(CommitCol, LongType), StructField(DeletedCol, BooleanType),
      StructField(TxCol, StringType)))

  /** Rows of the live commits `cs` that `keep` selects. Selecting none
    * reads the oldest commit under a false filter, which keeps the table's
    * columns and plans no scan.
    */
  private def window(spark: SparkSession, root: String, fg: FeatureGroup,
                     cs: Seq[Commit])(keep: Commit => Boolean): DataFrame = {
    val in = cs.filter(keep)
    if (in.nonEmpty) rawData(spark, root, fg, in)
    else rawData(spark, root, fg, cs.take(1)).filter(lit(false))
  }

  /** How a keyed read prunes the live commits `cs` up to `upTo` to the
    * rows whose `cols`, record-key columns, equal a row of `keys`
    * ([[KeyPrune.pruneToKeys]]): `Left`, the join form, as the rows of
    * every such commit semi-joined with the keys; `Right`, the `IN` form,
    * as its predicate and the commits that may hold a requested key
    * ([[mayHold]]). A declared group's scan has its declared types, so the
    * form is chosen without building a scan.
    */
  private def keyedRaw(spark: SparkSession, root: String, fg: FeatureGroup,
                       cs: Seq[Commit], upTo: Long, keys: DataFrame,
                       cols: Seq[String]): Either[DataFrame, (Seq[Commit], KeyPrune.InList)] = {
    lazy val all = window(spark, root, fg, cs)(_.time <= upTo)
    val schema = if (fg.features.isEmpty) all.schema else fg.schema
    val rk = recordKey(schema.fieldNames.toSeq, fg)
    require(cols.forall(rk.contains),
      s"keyed read on ${cols.mkString(", ")}: not all record-key " +
        s"columns (${rk.mkString(", ")})")
    KeyPrune.inPredicate(schema, keys, cols) match {
      case Some(p) =>
        val q = qualified(root)
        Right((cs.filter(c => c.time <= upTo &&
          mayHold(new Path(q, c.dir), c, cols.head, p)), p))
      case None => Left(KeyPrune.semiJoin(all, keys, cols))
    }
  }

  /** The rows [[keyedRaw]] selects, as a Spark scan. */
  private def keyedScan(spark: SparkSession, root: String, fg: FeatureGroup,
                        cs: Seq[Commit], upTo: Long, keys: DataFrame,
                        cols: Seq[String]): DataFrame =
    keyedRaw(spark, root, fg, cs, upTo, keys, cols).fold(identity, { case (in, p) =>
      window(spark, root, fg, cs)(in.contains).filter(p.predicate) })

  // -- point reads -------------------------------------------------------

  /** The most compressed bytes of row groups that may hold its keys a
    * keyed read reads on the driver. Read whole, the driver decodes ~1 MB
    * per 6–7 ms (a 25.6k-row, 1.8 MB file shaped like the benchmark's
    * 11-column base, in 1,000-row pages, in 11–13 ms on a 4-core box), so
    * this many bytes cost about what a Spark job's fixed cost does; a file
    * with a page index decodes only the pages that may hold the keys.
    */
  private val PointReadBytes = 4L << 20

  /** The most rows a data page of a commit's file holds
    * (`parquet.page.row.count.limit`): the rows a point read decodes per
    * key and file of a sorted commit. Smaller pages skip more finely but
    * make a file larger and slower to decode whole; measured choices are
    * in CHANGES.md. A fixed value, not a setting.
    */
  private[graft] val PageRows = 1000

  /** A published commit directory as point reads read it, under `key`
    * (the schema and session settings): the relation of that directory
    * alone (its file index) and the partition directories that hold its
    * files. A commit that wrote no rows under partition columns lists no
    * files, and so no partition columns either.
    */
  private final case class Listing(key: RelationKey, relation: HadoopFsRelation,
                                   files: Seq[PartitionDirectory])

  private final case class RelationKey(spark: SparkSession, schema: StructType,
                                       settings: Map[String, String])

  /** Point reads' listings of a table's live commit directories, by
    * qualified root, then qualified directory. A published directory
    * never changes, so it is listed once per schema and settings, by the
    * first point read of it under those, not once per lookup. Each lookup
    * keeps only its table's live directories, so a directory a squash
    * replaced goes by the table's next lookup at the latest, and a lookup
    * that misses drops the tables of a stopped session.
    */
  private val listings = new ConcurrentHashMap[Path, Map[Path, Listing]]()

  /** Footer facts of published data files, by qualified path
    * ([[GraftPointRead.Footer]]: row-group ranges and record-key
    * statistics). A published file never changes, so an entry never goes
    * stale; a squash drops the entries of the commits it replaces.
    */
  private val footers = new ConcurrentHashMap[Path, GraftPointRead.Footer]()

  /** The rows of commits `in` whose `column` holds one of the values of
    * `p`, read on the driver ([[GraftPointRead.read]]) when the row groups
    * whose footer statistics may hold them total at most
    * [[PointReadBytes]]: a driver-local frame of the scan's schema. `cs`
    * are the table's live commits. None for a group without a declared
    * schema, when no commit may hold the keys (the scan plans none) or none
    * of those has files, and over the bound.
    */
  private def pointRead(spark: SparkSession, root: String, fg: FeatureGroup,
                        cs: Seq[Commit], in: Seq[Commit], column: String,
                        p: KeyPrune.InList): Option[DataFrame] =
    if (fg.features.isEmpty || in.isEmpty) None
    else {
      val key = RelationKey(spark, rawSchema(fg), spark.sessionState.conf.getAllConfs)
      val q = qualified(root)
      val dirs = in.map(c => new Path(q, c.dir) -> c.dir)
      def listsAll(m: Map[Path, Listing]) =
        m != null && dirs.forall { case (d, _) => m.get(d).exists(_.key == key) }
      if (!listsAll(listings.get(q)))
        listings.values.removeIf(_.valuesIterator.exists(_.key.spark.sparkContext.isStopped))
      val live = cs.map(c => new Path(q, c.dir)).toSet
      val listed = listings.compute(q, (_, m) =>
        if (listsAll(m) && m.keysIterator.forall(live)) m
        else {
          val kept = Option(m).fold(Map.empty[Path, Listing])(_.filter { case (d, l) =>
            l.key == key && live(d) })
          kept ++ dirs.filterNot(d => kept.contains(d._1)).map { case (d, dir) =>
            val r = DeltaLite.relation(spark, root, Seq(dir), key.schema, scanOptions(root))
            d -> Listing(key, r, r.location.listFiles(Nil, Nil).filter(_.files.nonEmpty))
          }
        })
      val withFiles = dirs.map(d => listed(d._1)).filter(_.files.nonEmpty)
      // the commits with files share the group's partition columns; should
      // they not, the Spark scan, which infers them over all, reads them
      withFiles.map(_.relation.partitionSchema).distinct match {
        case Seq(_) =>
          val rel = withFiles.head.relation
          GraftPointRead.read(rel, withFiles.flatMap(_.files), column, p.dataType, p.values,
            PointReadBytes, st => footers.computeIfAbsent(st.getPath, _ =>
              GraftPointRead.footer(rel, st, recordKey(fg))))
        case _ => None
      }
    }

  // -- key filters -------------------------------------------------------

  /** The key filters of a commit of `batch`: when its rows are on the
    * driver, a Bloom filter ([[KeyPrune.keyFilter]]) per declared
    * record-key column of a [[KeyPrune.filterable]] type, as
    * `{column: {"type": catalog type, "bloom": base64 of its serialized
    * form}}` (1,624 characters for 1k keys). A batch that is not
    * driver-local (a bulk load from files, a squash base, a micro-batch
    * of a file or Kafka stream, the tombstones of a delete) gets none, and
    * its commit is always read: building them would cost a pass over the
    * batch.
    */
  private def keyFilters(batch: DataFrame, fg: FeatureGroup): Option[ObjectNode] =
    GraftKeyedIndex.localRows(batch).flatMap { case (schema, rows) =>
      val cols = recordKey(fg).filter(c => schema.fieldNames.contains(c) &&
        KeyPrune.filterable(schema(c).dataType))
      Option.when(cols.nonEmpty) {
        val n = DeltaLite.mapper.createObjectNode()
        cols.foreach { c =>
          val i = schema.fieldIndex(c)
          val t = schema(i).dataType
          val out = new java.io.ByteArrayOutputStream()
          KeyPrune.keyFilter(rows.map(_.get(i, t))).writeTo(out)
          n.putObject(c).put("type", t.catalogString)
            .put("bloom", Base64.getEncoder.encodeToString(out.toByteArray))
        }
        n
      }
    }

  /** Decoded key filters (column -> (type, filter)) by qualified commit
    * directory. A published commit directory never changes, so an entry
    * never goes stale; a squash drops the entries of the commits it
    * replaces.
    */
  private val decoded =
    new ConcurrentHashMap[Path, Map[String, (String, BloomFilter)]]()

  private def qualified(root: String): Path =
    DeltaLite.fs(root).makeQualified(new Path(root))

  /** Whether commit `c` (at qualified directory `dir`) may hold a row
    * whose `column` equals one of the values of `p`: it has no filter for
    * the column, or one built for another type (a key column whose
    * declared type was widened since hashes differently), or its filter
    * may contain one of them.
    */
  private def mayHold(dir: Path, c: Commit, column: String,
                      p: KeyPrune.InList): Boolean =
    c.filters.forall(js => decoded.computeIfAbsent(dir, _ =>
      js.properties.asScala.map { e =>
        e.getKey -> (e.getValue.get("type").asText,
          BloomFilter.readFrom(Base64.getDecoder.decode(e.getValue.get("bloom").asText)))
      }.toMap
    ).get(column).forall { case (t, f) =>
      t != p.dataType.catalogString || p.values.exists(KeyPrune.mightContain(f, _))
    })

  /** The winning live row per record key, tombstones applied, in the
    * declared schema. `fillDefaults` is the read-path safety net for
    * tables created before a column was declared: appended columns
    * surface as null for pre-append commits and fill their declared
    * defaults here. `onDriver` resolves the versions on the driver
    * instead of in a window: `raw` is collected in one Spark action and
    * the result is a driver-local frame (its projections run no job).
    */
  private def resolve(raw: DataFrame, fg: FeatureGroup,
                      fillDefaults: Boolean = false,
                      onDriver: Boolean = false): DataFrame = {
    val order = latestFirst(raw, fg)
    val latest =
      if (onDriver) GraftKeyedIndex.latest(raw, recordKey(raw.columns.toSeq, fg), order, "keyedRead")
      else dedupLatest(raw, fg, order)
    val winners = latest.filter(!col(DeletedCol)).drop(MetaCols: _*)
    restoreTypes(
      if (fillDefaults && fg.features.nonEmpty)
        graft.ops.SchemaOps.alignToFeatures(winners, fg.features,
          fillNullDefaults = true)
      else winners, fg)
  }

  /** Append one commit of rows, as tombstones when `deleted`. */
  private def writeCommit(
      spark: SparkSession,
      root: String,
      fg: FeatureGroup,
      rows: DataFrame,
      deleted: Boolean,
      operation: String,
      computeStats: Boolean = true): CommitMeta = {
    // one log replay serves the commit-time choice, the first-commit check
    // and the stats scan below
    val cs = liveCommits(root)
    // schema evolution at write time: a batch missing declared columns
    // gets them appended with their declared defaults (feature_group.py:853,
    // engine/spark.py:1251-1265) so every commit carries the full schema
    val aligned =
      if (fg.features.nonEmpty)
        graft.ops.SchemaOps.alignToFeatures(rows, fg.features)
      else rows
    // tombstones come from a resolved read, one per record key already
    val batch = if (deleted) aligned else oneRowPerKey(aligned, fg)

    // Classify the commit for metadata parity with Hudi commit stats
    // (core/hudi_engine.py:246-274): ONE action — left join against current
    // snapshot keys, counting total and matched together. `computeStats =
    // false` skips the snapshot scan entirely (high-frequency streaming
    // commits shouldn't rescan the table per micro-batch). A first commit
    // needs no scan: its row count rides the write as an `observe` metric.
    // Counts classify against the head this writer read.
    val keys = recordKey(fg)
    val pre =
      if (!computeStats || cs.isEmpty) None
      else {
        // incremental stats: resolve current state ONLY for the incoming
        // keys — prune the commit log to the batch's keys before the
        // latest-version window, so an upsert of k keys into a 100 TB
        // table windows O(k · versions) rows, never the whole snapshot
        val current = resolve(
            keyedScan(spark, root, fg, cs, Long.MaxValue, batch, keys), fg)
          .select(keys.map(col): _*).withColumn("_m", lit(1))
        val r = batch.select(keys.map(col): _*)
          .join(current, keys, "left")
          .agg(count(lit(1)).as("n"), sum(col("_m")).as("m"))
          .collect().head
        val total = r.getLong(0)
        val matched = if (r.isNullAt(1)) 0L else r.getLong(1)
        Some(if (deleted) (0L, 0L, matched) else (total - matched, matched, 0L))
      }
    val t0 = math.max(System.currentTimeMillis(),
      cs.lastOption.fold(0L)(_.time) + 1)
    commit(root, fg, batch.withColumn(DeletedCol, lit(deleted)), t0,
        squashed = Nil, keyFilters(batch, fg)) { (t, n) =>
      val (ins, upd, del) =
        if (!computeStats) (-1L, -1L, -1L)
        else pre.getOrElse(if (deleted) (0L, 0L, n) else (n, 0L, 0L))
      CommitMeta(t, operation, ins, upd, del)
    }
  }

  /** Stage `df` in a new commit directory at time `t0`, then publish one
    * log entry that adds it, with its key `filters`, and removes
    * `squashed`, then delete the squashed directories. `meta(t, n)` builds
    * the record from the final commit time and the row count observed on
    * the write.
    *
    * A new commit (nothing squashed) must sit above the head: if it loses
    * the publish race to a commit at or above its time, it renames its own
    * directory to `max(now, head + 1)` and retries. A squashed base keeps
    * the newest squashed time, which is below the head by construction;
    * it aborts if a concurrent squash already replaced its commits.
    */
  private def commit(root: String, fg: FeatureGroup, df: DataFrame,
                     t0: Long, squashed: Seq[Commit],
                     filters: Option[ObjectNode] = None)
                    (meta: (Long, Long) => CommitMeta): CommitMeta = {
    val fs = DeltaLite.fs(root)
    val tx = java.util.UUID.randomUUID.toString
    val obs = org.apache.spark.sql.Observation()
    // declared partition keys below the commit directory: query-predicate
    // pruning (reference partitionBy(partition_key), engine/spark.py:501-505,
    // hudi partition path hudi_engine.py:131-140)
    df.observe(obs, count(lit(1)).as("n")).write
      .option("parquet.page.row.count.limit", PageRows.toLong)
      .partitionBy(fg.partitionKey.filter(df.columns.contains): _*)
      .parquet(s"$root/${commitDir(tx, t0)}")
    val n = obs.get("n") match {
      case l: java.lang.Long => l.longValue()
      case other => other.toString.toLong
    }
    val bytes = fs.getContentSummary(new Path(root, s"data/$TxCol=$tx")).getLength
    var t = t0
    var out: CommitMeta = null
    DeltaLite.commitWithRetry(root) { head =>
      val cs = commits(head)
      if (!squashed.forall(s => cs.exists(_.dir == s.dir)))
        throw new java.util.ConcurrentModificationException(
          s"$root: the commits being squashed were replaced concurrently")
      if (squashed.isEmpty && cs.lastOption.exists(_.time >= t)) {
        val moved = math.max(System.currentTimeMillis(), cs.last.time + 1)
        if (!fs.rename(new Path(root, commitDir(tx, t)),
            new Path(root, commitDir(tx, moved))))
          throw new java.io.IOException(s"$root: cannot move $tx to $moved")
        t = moved
      }
      out = meta(t, n)
      val header = if (head.isEmpty) DeltaLite.header(df.schema) else Nil
      header ++ squashed.map(c => DeltaLite.removeAction(c.dir)) ++ Seq(
        DeltaLite.addAction(commitDir(tx, t), bytes),
        s"""{"commitInfo":${commitInfo(out, filters)}}""")
    }
    // each commit owns its `_tx=` directory outright
    squashed.foreach { c =>
      fs.delete(new Path(root, c.dir).getParent, true)
      val dir = new Path(qualified(root), c.dir)
      decoded.remove(dir)
      listings.computeIfPresent(qualified(root), (_, m) => m - dir)
      footers.keySet.removeIf(_.toString.startsWith(s"$dir/"))
    }
    out
  }

  /** First write / bulk insert. */
  def create(spark: SparkSession, root: String, fg: FeatureGroup,
             df: DataFrame): CommitMeta =
    writeCommit(spark, root, fg, df, deleted = false, operation = "bulk_insert")

  /** Upsert: append-new-version semantics; snapshot read resolves the
    * winner (hudi upsert, core/hudi_engine.py:85-169).
    */
  def upsert(spark: SparkSession, root: String, fg: FeatureGroup,
             df: DataFrame, computeStats: Boolean = true): CommitMeta =
    writeCommit(spark, root, fg, df, deleted = false, operation = "upsert",
      computeStats = computeStats)

  /** Delete by key: tombstone append (EmptyHoodieRecordPayload analog,
    * core/hudi_engine.py:94-100).
    */
  def delete(spark: SparkSession, root: String, fg: FeatureGroup,
             keysDf: DataFrame): CommitMeta = {
    // a tombstone row carries the record key's current state; prune the
    // commit log to the deleted keys BEFORE the latest-version window so
    // deleting k keys never windows the full table
    val cs = liveCommits(root)
    val full =
      if (cs.isEmpty) emptyFrame(spark, fg)
      else resolve(keyedScan(spark, root, fg, cs, Long.MaxValue, keysDf,
        recordKey(fg)), fg)
    writeCommit(spark, root, fg, full, deleted = true, operation = "delete")
  }

  /** Latest-state (or as-of) read. `asOf` in epoch millis, inclusive —
    * hudi `as.of.instant` semantics (core/hudi_engine.py:180-192).
    *
    * The keyed read: with `keys`, only the records whose key columns equal
    * a row of `keys` — the rows `snapshot(...).join(keys, cols,
    * "left_semi")` keeps. The key columns must be record-key columns, so
    * the commit rows are pruned to them before versions are resolved
    * ([[graft.ops.KeyPrune.pruneToKeys]]): a lookup of k keys resolves
    * O(k · versions) rows. When the prune is an `IN` list (a few
    * driver-local keys), the read is EAGER: the pruned commit rows are
    * read here, on the driver without a Spark job when the row groups
    * that may hold them are small enough ([[pointRead]]), else in one
    * Spark action (a Parquet scan with the predicate pushed into it, no
    * shuffle); the versions are resolved on the driver, and the result is
    * a driver-local frame. Otherwise the prune is a semi-join below the
    * latest-version window, as a lazy plan.
    */
  def snapshot(spark: SparkSession, root: String, fg: FeatureGroup,
               asOf: Option[Long],
               keys: Option[DataFrame] = None): DataFrame = {
    val cs = liveCommits(root)
    // schema-only table (no log yet): the declared schema's empty frame
    if (cs.isEmpty) return emptyFrame(spark, fg)
    for (h <- horizon(cs); t <- asOf; if t < h)
      throw new IllegalArgumentException(
        s"as_of $t predates the retained commit horizon $h " +
          "(older commits were cleaned; see cleanCommits)")
    val upTo = asOf.getOrElse(Long.MaxValue)
    keys.fold(resolve(window(spark, root, fg, cs)(_.time <= upTo), fg,
        fillDefaults = true)) { k =>
      keyedRaw(spark, root, fg, cs, upTo, k, k.columns.toSeq) match {
        case Left(raw) => resolve(raw, fg, fillDefaults = true)
        case Right((in, p)) =>
          resolve(pointRead(spark, root, fg, cs, in, k.columns.head, p).getOrElse(
            window(spark, root, fg, cs)(in.contains).filter(p.predicate)),
            fg, fillDefaults = true, onDriver = true)
      }
    }
  }

  /** Partition-column values come back through directory inference with
    * possibly narrowed types (e.g. long → int) and reordered to the end;
    * cast and reorder back to the declared feature-group schema, keeping
    * any undeclared extra columns. Only types are cast: a scan reads every
    * column as nullable, and Spark will not cast a map or array of
    * nullable values to one of non-null values.
    */
  private def restoreTypes(df: DataFrame, fg: FeatureGroup): DataFrame =
    if (fg.features.isEmpty) df
    else {
      val declared = fg.schema.fields.filter(f => df.columns.contains(f.name))
      val extras = df.columns.filterNot(fg.schema.fieldNames.contains)
      df.select(declared.toIndexedSeq.map { f =>
        if (DataTypeUtils.equalsIgnoreNullability(df.schema(f.name).dataType, f.dataType))
          col(f.name)
        else col(f.name).cast(f.dataType).as(f.name)
      } ++ extras.map(col(_)): _*)
    }

  /** Incremental read: latest state of records changed in (t0, t1]
    * (hudi incremental query, core/hudi_engine.py:193-219).
    */
  def readChanges(spark: SparkSession, root: String, fg: FeatureGroup,
                  exclusiveStart: Long, inclusiveEnd: Long): DataFrame = {
    val cs = liveCommits(root)
    if (cs.isEmpty) return emptyFrame(spark, fg)
    // the squashed base commit sits at the horizon time: any range whose
    // start would include it is not a true incremental read
    for (h <- horizon(cs); if exclusiveStart < h)
      throw new IllegalArgumentException(
        s"incremental read from $exclusiveStart predates the retained " +
          s"commit horizon $h (older commits were cleaned)")
    resolve(window(spark, root, fg, cs)(c =>
      c.time > exclusiveStart && c.time <= inclusiveEnd), fg)
  }

  private def byPrecombine(df: DataFrame, fg: FeatureGroup): Seq[Column] =
    fg.effectivePrecombine.filter(df.columns.contains).map(col(_).desc).toSeq

  /** The versions of one record key, newest first: greatest
    * (_commit_time, precombine). Both resolvers use it. No two versions
    * tie on it, because a commit holds one row per record key
    * ([[oneRowPerKey]]).
    */
  private def latestFirst(df: DataFrame, fg: FeatureGroup): Seq[Column] =
    col(CommitCol).desc +: byPrecombine(df, fg)

  /** The batch `df` with one row per record key: the greatest precombine,
    * then the greatest hash of the row's content, so rows that tie resolve
    * to the same row whatever their order or partitioning. A driver-local
    * batch is settled on the driver, without a Spark job, and sorted on
    * its record key there, so each file written from it holds one key
    * range, as a range-clustered batch's does.
    */
  private def oneRowPerKey(df: DataFrame, fg: FeatureGroup): DataFrame = {
    val order = byPrecombine(df, fg) :+
      graft.ops.Dedup.contentHash(df, df.columns.toSeq).desc
    val keys = recordKey(df.columns.toSeq, fg)
    if (GraftKeyedIndex.localRows(df).isEmpty) dedupLatest(rangeClustered(df, fg), fg, order)
    else GraftKeyedIndex.sorted(GraftKeyedIndex.latest(df, keys, order, "commitBatch"), keys)
  }

  /** `df` range-partitioned on its record key. The window that settles
    * its versions is clustered by that partitioning, so it still shuffles
    * once (plus Spark's range-sampling job), and each file of a commit
    * written from it holds a contiguous, sorted key range: a keyed read's
    * footer statistics then skip every file that cannot hold its keys.
    */
  private def rangeClustered(df: DataFrame, fg: FeatureGroup): DataFrame =
    df.repartitionByRange(recordKey(df.columns.toSeq, fg).map(col): _*)

  /** Resolve one winning row per record key in a window, first in
    * `order`. The read path's only shuffle (commit selection has already
    * bounded its input); a commit of a batch that is not driver-local pays
    * one too.
    */
  private def dedupLatest(df: DataFrame, fg: FeatureGroup,
                          order: Seq[Column]): DataFrame = {
    val keys = recordKey(df.columns.toSeq, fg)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** The record key among `columns`: the declared one, or every column
    * but the commit's own when none of it is present.
    */
  private def recordKey(columns: Seq[String], fg: FeatureGroup): Seq[String] = {
    val k = recordKey(fg).filter(columns.contains)
    if (k.nonEmpty) k else columns.filterNot(MetaCols.contains)
  }

  /** Squash every live commit but the newest `keep` into one base commit
    * at the newest squashed time: the resolved state as of that time,
    * published as one entry that replaces the squashed commits. Reads at
    * or after the base time are unchanged. None when nothing is squashed.
    */
  private def squash(spark: SparkSession, root: String, fg: FeatureGroup,
                     keep: Int, operation: String): Option[CommitMeta] = {
    val squashed = liveCommits(root).dropRight(keep)
    squashed.lastOption.map { last =>
      val base = resolve(rangeClustered(rawData(spark, root, fg, squashed), fg), fg,
        fillDefaults = true).withColumn(DeletedCol, lit(false))
      commit(root, fg, base, last.time, squashed) { (t, n) =>
        CommitMeta(t, operation, n, 0L, 0L)
      }
    }
  }

  /** Rewrite the current snapshot as a single base commit — bounds
    * merge-on-read amplification (Hudi compaction analog). Time travel
    * before the base fails fast afterwards, as after cleanCommits.
    */
  def compact(spark: SparkSession, root: String, fg: FeatureGroup): CommitMeta =
    squash(spark, root, fg, keep = 0, "compact").getOrElse(
      throw new IllegalStateException(s"$root has no commits to compact"))

  // -- commit retention ------------------------------------------------------

  private def horizon(cs: Seq[Commit]): Option[Long] =
    cs.headOption.filter(c => BaseOps(c.meta.operation)).map(_.time)

  /** Oldest commit time still valid for time travel, if retention has ever
    * run (None = full history available).
    */
  def commitHorizon(spark: SparkSession, root: String): Option[Long] =
    horizon(liveCommits(root))

  /** Bound the active timeline to the last `keepLast` commits (the
    * reference keeps a bounded Hudi active timeline — commits beyond it
    * are archived; constructor/query.py:367-372). Everything older is
    * squashed into a single base commit at the newest archived commit
    * time, so snapshots/as-of/incremental reads at or after the horizon
    * are unchanged while the commit count (and merge-on-read
    * amplification) stays bounded. Time travel BEFORE the horizon fails
    * fast with a clear error instead of returning partial state.
    * Returns the retained commits.
    */
  def cleanCommits(spark: SparkSession, root: String, fg: FeatureGroup,
                   keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    squash(spark, root, fg, keepLast, "clean")
    listCommits(spark, root)
  }

  private val detailsSchema = StructType(Seq(
    StructField("commitTime", LongType), StructField("operation", StringType),
    StructField("rowsDeleted", LongType), StructField("rowsInserted", LongType),
    StructField("rowsUpdated", LongType)))

  /** Commit metadata of the live commits, oldest first (rows
    * inserted/updated/deleted per commit — core/hudi_engine.py:246-274
    * parity). Columns in the order a JSON read of the records infers.
    */
  def commitDetails(spark: SparkSession, root: String): DataFrame = {
    val rows = liveCommits(root).map { case Commit(_, m, _) =>
      Row(m.commitTime, m.operation, m.rowsDeleted, m.rowsInserted, m.rowsUpdated)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), detailsSchema)
  }
}
