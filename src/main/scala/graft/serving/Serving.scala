package graft.serving

import graft.ir.JoinSpec
import graft.model.FeatureGroup
import graft.ops.{KeyPrune, Transformations}
import graft.planner.QueryPlanner
import graft.view.FeatureView
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.execution.GraftKeyedIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Batch serving analog of the reference's online feature-vector path
  * (python/hsfs/core/vector_server.py:486-554 assembly,
  * core/online_store_sql_engine.py per-FG prepared statements).
  *
  * One lookup per feature group, results merged on the serving keys,
  * missing features null (vector_server missing-feature policy :509-534).
  * On-demand transformations compute from request-time columns;
  * model-dependent ones bind precomputed statistics (vector_server
  * :924-978). Three assembly paths:
  *  - online (materializeOnline(), or cacheSnapshots = true for a lazy
  *    build on the first driver-local lookup): each group's
  *    latest-per-key snapshot is computed once and held on the driver as
  *    a keyed index — Spark's own broadcast-join build structure — the
  *    analog of the reference's online key-value store. Lookups are
  *    answered on the driver: keys whose plan is driver-local (a
  *    getFeatureVector map, a list of entries) collect without a Spark
  *    job; other key frames are collected first, in one job;
  *  - default, driver-local keys: the same assembly on the driver, over
  *    indexes built per request from each group's keyed read — the
  *    reference's one key-value read per feature group. Such a lookup is
  *    EAGER: the reads run inside getFeatureVector(s), and the returned
  *    frame is driver-local. A lake group read by a few keys is one Spark
  *    job (a Parquet scan with the keys pushed into it; versions resolve
  *    on the driver), so a single-group lake lookup runs one job;
  *  - default, other key frames: a Spark query that prunes every group to
  *    the requested keys, then broadcast-joins the hits onto the keys. The
  *    left group is pruned inside its read (a lake group below the lake's
  *    latest-version window); a right group is pruned below serving's
  *    latest-per-key window but, on a lake, above the lake's own.
  * Key types that do not widen losslessly to an index's key types take
  * the last path, which compares them as a SQL join does. Until the lazy
  * build has run, non-local key frames take it too.
  * The online state lives on the driver heap: each group's snapshot is
  * collected once, bounded by `spark.driver.maxResultSize` (an over-size
  * group fails materializeOnline() with Spark's error and leaves no
  * index), and then by driver memory. close() drops it for the garbage
  * collector.
  */
final class FeatureVectorServer(
    spark: SparkSession,
    view: FeatureView,
    stats: Map[String, Transformations.FeatureStatistics] = Map(),
    cacheSnapshots: Boolean = false) {

  private val lf = view.query.leftFeatureGroup

  /** Left-side columns a join looks its right group up by. */
  private def joinKeysOf(j: JoinSpec): Seq[String] =
    if (j.on.nonEmpty) j.on
    else if (j.leftOn.nonEmpty) j.leftOn
    else lf.primaryKey.filter(j.right.leftFeatureGroup.primaryKey.contains)

  /** The keys a [[getFeatureVectors]] caller interacts with — the
    * reference's serving-key surface (serving_key.py:26-47,
    * feature_view.py serving_keys): the left group's primary-key columns
    * are REQUIRED (every lookup is driven off them); each join's right
    * key is derived from the left lookup through `joinOn`, so it is
    * informational (required=false) — the caller never passes it.
    */
  def servingKeys: Seq[FeatureVectorServer.ServingKey] = {
    val required = lf.primaryKey.map(k =>
      FeatureVectorServer.ServingKey(k, lf.name, required = true))
    val derived = joins.zipWithIndex.flatMap { case (j, i) =>
      j.rightKeys.zip(j.leftKeys).map { case (rk, lk) =>
        FeatureVectorServer.ServingKey(rk, j.fg.name, required = false,
          prefix = j.prefix, joinIndex = i + 1, joinOn = Seq(lk))
      }
    }
    required ++ derived
  }

  /** One join of the view, resolved for serving. */
  private final class Lookup(spec: JoinSpec) {
    val fg: FeatureGroup = spec.right.leftFeatureGroup
    val leftKeys: Seq[String] = joinKeysOf(spec)
    val rightKeys: Seq[String] =
      if (spec.rightOn.nonEmpty) spec.rightOn else leftKeys
    val wanted: Seq[String] =
      if (spec.right.features.isEmpty) fg.featureNames
      else spec.right.features.map(_.name)
    val prefix: String = spec.prefix.getOrElse("")
    /** Whether a key set on the right keys may prune the group below its
      * latest-per-key window: the right keys are primary-key columns, so
      * the prune keeps or drops whole window partitions.
      */
    val keyed: Boolean = rightKeys.nonEmpty && rightKeys.forall(fg.primaryKey.contains)
    /** The right query's rows, filters applied, before latest-per-key;
      * with `keys` (on the right keys), only the rows they find.
      */
    def base(keys: Option[DataFrame] = None): DataFrame =
      QueryPlanner.plan(spark, spec.right.copy(features = Nil), keys)
    /** [[hitColumns]] of the latest row per key; with `keys`, only the
      * rows they find: a keyed read resolved on the driver when the group
      * is [[keyed]], else the whole window, then a semi-join.
      */
    def hits(keys: Option[DataFrame]): DataFrame = keys match {
      case Some(_) if keyed => hitColumns(latestPerKey(fg, base(keys), onDriver = true))
      case Some(k) => KeyPrune.semiJoin(hitColumns(latestPerKey(fg, base())), k, rightKeys)
      case None => hitColumns(latestPerKey(fg, base()))
    }
    /** Right keys, then the wanted features under their prefixed names. */
    def hitColumns(snap: DataFrame): DataFrame = {
      val projected = snap.select(
        (rightKeys ++ wanted.filterNot(rightKeys.contains)).distinct.map(col): _*)
      wanted.filterNot(rightKeys.contains).foldLeft(projected) {
        (d, c) => d.withColumnRenamed(c, prefix + c)
      }
    }
    /** Right keys a left outer join with the hits drops again. */
    val dropped: Seq[String] =
      rightKeys.filterNot(k => leftKeys.contains(k) && wanted.contains(k))
  }

  private val joins = view.query.joins.map(new Lookup(_))

  // join keys of downstream lookups must ride along even if unselected
  private val leftWanted: Seq[String] = {
    val selected =
      if (view.query.features.isEmpty) lf.featureNames
      else view.query.features.map(_.name)
    selected ++ joins.flatMap(_.leftKeys).distinct.filterNot(selected.contains)
  }

  // The DEFAULT lookup path reads every group keyed by the requested
  // keys: a 10-key lookup against a 100 TB lake group resolves only the
  // matching keys' versions. Materializing the full latest-per-key state
  // (the analog of the reference's online store being a materialized
  // latest-version table) is a real cost that must be opt-in and named:
  // call materializeOnline() — or construct with cacheSnapshots=true to
  // materialize lazily on the first driver-local lookup. close() releases.
  //
  // The online state: one index per lookup — the left group on its
  // primary key, then each join's right group on its right keys — built
  // all at once under the server's lock, published only when complete.
  @volatile private var online: Seq[GraftKeyedIndex] = null

  /** Eagerly build the online state: each group's latest-per-key snapshot
    * (one full-table window each, paid ONCE, here, by explicit request)
    * collected into a driver-resident keyed index. Subsequent lookups
    * probe it — the "online store" serving mode.
    */
  def materializeOnline(): this.type = { onlineIndexes(); this }

  private def onlineIndexes(): Seq[GraftKeyedIndex] = {
    val built = online
    if (built != null) built
    else synchronized {
      if (online == null) online = buildIndexes()
      online
    }
  }

  private def buildIndexes(): Seq[GraftKeyedIndex] =
    (0 to joins.size).map(buildIndex(_, None))

  /** The index of lookup `i` (0: the left group on its primary key, then
    * each join's right group on its right keys) over the whole group, or
    * with `keys` over the rows those keys find: the online state's build
    * and the default mode's per-request one.
    */
  private def buildIndex(i: Int, keys: Option[DataFrame]): GraftKeyedIndex =
    if (i == 0) GraftKeyedIndex.build(
      latestPerKey(lf, QueryPlanner.materialize(spark, lf, None, keys),
        onDriver = keys.nonEmpty)
        .select((lf.primaryKey ++ leftWanted).distinct.map(col): _*),
      lf.primaryKey.size)
    else GraftKeyedIndex.build(joins(i - 1).hits(keys), joins(i - 1).rightKeys.size)

  /** Release the online state; later lookups take the default path (or,
    * with cacheSnapshots = true, build it again). Lookups already probing
    * keep their reference, so its memory goes when they finish.
    */
  def close(): Unit = synchronized { online = null }

  /** Latest row per primary key — the online store holds only the newest
    * version of each key (reference online path semantics; offline history
    * keeps every (pk, event_time) record). `onDriver` resolves it on the
    * driver over one collect of `df` (a keyed read's few rows).
    */
  private def latestPerKey(fg: FeatureGroup, df: DataFrame,
                           onDriver: Boolean = false): DataFrame =
    fg.eventTime.filter(df.columns.contains) match {
      case Some(et) if fg.primaryKey.nonEmpty =>
        // ties on (pk, event_time) pick a deterministic winner: precombine
        // columns desc (mirrors Lake.dedupLatest), then a content hash so
        // the choice never depends on partition scan order
        val order = col(et).desc +:
          fg.effectivePrecombine.filter(df.columns.contains)
            .filterNot(_ == et).map(col(_).desc).toSeq :+
          graft.ops.Dedup.contentHash(df, df.columns.toSeq).desc
        if (onDriver) GraftKeyedIndex.latest(df, fg.primaryKey, order, "keyedRead")
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(fg.primaryKey.map(col): _*).orderBy(order: _*)
          df.withColumn("_sv_rn", row_number().over(w))
            .filter(col("_sv_rn") === 1).drop("_sv_rn")
        }
      case _ => df
    }

  /** Broadcast-lookup of a small key set against a huge snapshot (the
    * default path for key frames that are not driver-local).
    *
    * A LEFT-OUTER join can only broadcast its non-preserved side
    * (BuildRight), so `broadcast(keys).join(snap, _, "left")` silently
    * drops the hint and sort-merge-shuffles the full snapshot. The
    * scale-correct shape is a keyed read, then a broadcast of the hits:
    *   1. the keyed read prunes the group to the key set inside its read
    *      ([[QueryPlanner.materialize]] with the keys hinted for
    *      broadcast: an `IN` list for a few driver-local keys, else a
    *      broadcast LEFT-SEMI join) — on a lake
    *      group below the lake's latest-version window, and always below
    *      the latest-per-key window here (valid because serving joinKeys ⊆
    *      primary key ⊆ record key, so the prune keeps/drops whole window
    *      partitions); the 100 TB side is scanned once, never shuffled
    *      whole;
    *   2. LEFT-OUTER join the keys against the (≤ |keys|) hit set with
    *      the hits as build side (LeftOuter + BuildRight).
    */
  private def lookupOne(keys: DataFrame, fg: FeatureGroup,
                        wanted: Seq[String], joinKeys: Seq[String],
                        prefix: String): DataFrame = {
    val snap = latestPerKey(fg, QueryPlanner.materialize(spark, fg, None,
      Some(broadcast(keys.select(joinKeys.map(col): _*)))))
    val projected = snap.select((joinKeys ++ wanted).distinct.map(col): _*)
    val renamed = wanted.filterNot(joinKeys.contains).foldLeft(projected) {
      (d, c) => d.withColumnRenamed(c, prefix + c)
    }
    keys.join(broadcast(renamed), joinKeys, "left")
  }

  /** The default assembly for key frames that are not driver-local (or
    * whose key types do not widen to an index's): every group pruned to
    * the keys in Spark.
    */
  private def assemblePruned(keys: DataFrame): DataFrame = {
    var out = lookupOne(keys, lf,
      leftWanted.filterNot(keys.columns.contains), lf.primaryKey, "")
    joins.foreach { j =>
      val baseSnap = j.base()
      val probe = out.select(j.leftKeys.map(col): _*).distinct()
      // two broadcasts of the small side: prune below serving's window
      // only when the join keys are primary-key columns; a lake group's
      // own latest-version window still runs on the whole group
      val snap =
        if (j.keyed) {
          val pc = j.rightKeys.zip(j.leftKeys)
            .map { case (rk, lk) => baseSnap(rk) === probe(lk) }
            .reduce(_ && _)
          latestPerKey(j.fg, baseSnap.join(broadcast(probe), pc, "left_semi"))
        } else latestPerKey(j.fg, baseSnap)
      val renamed = j.hitColumns(snap)
      val hits =
        if (j.keyed) renamed
        else {
          val sc = j.rightKeys.zip(j.leftKeys)
            .map { case (rk, lk) => renamed(rk) === probe(lk) }
            .reduce(_ && _)
          renamed.join(broadcast(probe), sc, "left_semi")
        }
      val cond = j.leftKeys.zip(j.rightKeys)
        .map { case (lk, rk) => out(lk) === hits(rk) }.reduce(_ && _)
      out = j.dropped.foldLeft(out.join(broadcast(hits), cond, "left")) {
        (d, k) => d.drop(hits(k))
      }
    }
    out
  }

  /** Assembly on the driver for driver-local keys: the same left outer
    * joins, row by row against one index per lookup, as a driver-local
    * frame. The indexes are the `online` state's or, without it, built
    * per request from each lookup's keyed read: the left group's by the
    * requested keys, each right group's by the join-key values the rows
    * so far carry. None when a key column is missing or its type does not
    * widen losslessly to the index's key type; the default assembly
    * handles those. Without the online state the caller has checked the
    * key types first ([[widens]]), so no keyed read runs for keys that
    * take the default assembly.
    */
  private def assembleOnDriver(online: Option[Seq[GraftKeyedIndex]],
                               keySchema: StructType,
                               keyRows: Seq[InternalRow]): Option[DataFrame] = {
    def index(i: Int, keys: => DataFrame): GraftKeyedIndex =
      online.fold(buildIndex(i, Some(broadcast(keys))))(_(i))
    // a USING join puts the keys first, then the other key columns
    val pk = lf.primaryKey.flatMap(indexOf(keySchema, _))
    val order = pk ++ keySchema.fields.indices.filterNot(pk.contains)
    val wanted = leftWanted.filterNot(keySchema.fieldNames.contains).distinct
    val first =
      if (pk.size != lf.primaryKey.size) None
      else probeRows(keySchema, keyRows, order, lf.primaryKey,
        index(0, keyFrame(keySchema, keyRows, lf.primaryKey, lf.primaryKey)), wanted)
    joins.zipWithIndex.foldLeft(first) { case (acc, (j, i)) =>
      acc.flatMap { case (schema, rows) =>
        val x = index(i + 1, keyFrame(schema, rows, j.leftKeys, j.rightKeys))
        probeRows(schema, rows, schema.fields.indices, j.leftKeys, x,
          x.schema.fieldNames.toSeq.filterNot(j.dropped.contains))
      }
    }.map { case (schema, rows) =>
      GraftKeyedIndex.localFrame(spark, schema, rows)
    }
  }

  private def indexOf(schema: StructType, name: String): Option[Int] =
    Some(schema.fieldNames.indexOf(name)).filter(_ >= 0)

  /** Whether driver-local keys of `keySchema` can be assembled on the
    * driver over per-request indexes: decided from the schemas, before any
    * keyed read runs. Each lookup's probe columns (the requested keys for
    * the left group; the key frame's column, else the left group's, for a
    * join) must widen losslessly to the group's declared key types. A
    * column a schema does not declare passes here; [[probeRows]] checks it
    * against the built index.
    */
  private def widens(keySchema: StructType): Boolean = {
    def declared(s: StructType, c: String) = s.find(_.name == c).map(_.dataType)
    val probes = lf.primaryKey.map(c => declared(keySchema, c) -> declared(lf.schema, c)) ++
      joins.flatMap(j => j.leftKeys.zip(j.rightKeys).map { case (lk, rk) =>
        declared(keySchema, lk).orElse(declared(lf.schema, lk)) -> declared(j.fg.schema, rk)
      })
    probes.forall {
      case (Some(p), Some(k)) => GraftKeyedIndex.widens(p, k)
      case _ => true
    }
  }

  /** The distinct values of the `cols` of `rows`, named `as`, as a
    * driver-local key frame.
    */
  private def keyFrame(schema: StructType, rows: Seq[InternalRow],
                       cols: Seq[String], as: Seq[String]): DataFrame = {
    val at = cols.map(schema.fieldIndex)
    GraftKeyedIndex.localFrame(spark,
      StructType(at.zip(as).map { case (i, a) => schema(i).copy(name = a) }),
      rows.map(r => new GenericInternalRow(
        at.map(i => r.get(i, schema(i).dataType)).toArray): InternalRow).distinct)
  }

  /** One left outer join on the driver: each row's `order` columns, then
    * the index's `take` columns of every match (nulls when none).
    */
  private def probeRows(schema: StructType, rows: Seq[InternalRow],
                        order: Seq[Int], leftKeys: Seq[String],
                        x: GraftKeyedIndex, take: Seq[String])
      : Option[(StructType, Seq[InternalRow])] = {
    val probe = leftKeys.flatMap(k =>
      indexOf(schema, k).map(i => (i, schema(i).dataType)))
    if (probe.size != leftKeys.size || !x.exact(probe.map(_._2))) None
    else {
      val lookup = x.lookup(probe)
      val left = order.map(i => (i, schema(i).dataType))
      val right = take.map(c => (x.schema.fieldIndex(c), x.schema(c).dataType))
      val misses = Seq.fill(right.size)(null)
      val out = rows.flatMap { r =>
        val l = left.map { case (i, t) => r.get(i, t) }
        val hits = lookup(r)
        if (hits.isEmpty) Seq(new GenericInternalRow((l ++ misses).toArray))
        else hits.map(h => new GenericInternalRow(
          (l ++ right.map { case (i, t) => h.get(i, t) }).toArray))
      }
      val fields = order.map(schema(_)) ++
        take.map(c => x.schema(c).copy(nullable = true))
      Some((StructType(fields), out))
    }
  }

  /** Assemble feature vectors for a DataFrame of serving keys. Without
    * the online state, driver-local keys are looked up here, eagerly, and
    * other key frames return a lazy plan.
    *
    * @param requestParameters scalar request-time parameters, added as
    *   literal columns before transformation so ON_DEMAND transformations
    *   can consume them (reference core/vector_server.py:924-948); per-row
    *   request context rides in as extra columns of `keys`.
    */
  def getFeatureVectors(keys: DataFrame,
                        requestParameters: Map[String, Any] = Map()): DataFrame =
    finish(assemble(keys, GraftKeyedIndex.localRows(keys)), requestParameters)

  /** Vectors for `keys`, whose rows are `local` when they are driver-local:
    * on the driver for local keys, and for any keys once the online
    * state exists (collected first, in one job); else [[assemblePruned]].
    */
  private def assemble(keys: => DataFrame,
                       local: Option[(StructType, Seq[InternalRow])]): DataFrame = {
    val ix = Option(online).orElse(
      if (cacheSnapshots && local.nonEmpty) Some(onlineIndexes()) else None)
    val rows =
      if (ix.isEmpty) local
      else local.orElse(Some((keys.schema,
        GraftKeyedIndex.collect(keys, "serveKeys").toSeq)))
    rows.filter { case (schema, _) => ix.nonEmpty || widens(schema) }
      .flatMap { case (schema, r) => assembleOnDriver(ix, schema, r) }
      .getOrElse(assemblePruned(keys))
  }

  /** Request parameters become literal columns, then one wide select
    * applies on-demand + model-dependent transformations together.
    */
  private def finish(vectors: DataFrame,
                     requestParameters: Map[String, Any]): DataFrame = {
    val out = requestParameters.foldLeft(vectors) {
      case (d, (k, v)) => d.withColumn(k, lit(v)) }
    if (view.transformations.nonEmpty)
      Transformations.applyAll(out, view.transformations, stats)
    else out
  }

  /** Single-vector convenience over a one-row driver-local key frame; like
    * every driver-local lookup without the online state, it reads the
    * groups here, eagerly. A primary-key value that widens losslessly to
    * the left group's key type is cast to it (an `Int` probes a bigint
    * key); any other value keeps its literal type and is compared as a
    * SQL join compares it (a `Double` 1.5 never finds key 1).
    */
  def getFeatureVector(key: Map[String, Any]): DataFrame = {
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val (fields, values) = key.toSeq.map { case (k, v) =>
      val value = Literal(v)
      val dt = lf.schema.find(f => lf.primaryKey.contains(k) && f.name == k)
        .map(_.dataType).filter(Cast.canUpCast(value.dataType, _))
        .getOrElse(value.dataType)
      (StructField(k, dt), Cast(value, dt, tz).eval())
    }.unzip
    val schema = StructType(fields)
    val rows = Seq(new GenericInternalRow(values.toArray))
    // the key frame is only built for the default assembly
    finish(assemble(GraftKeyedIndex.localFrame(spark, schema, rows),
      Some((schema, rows))), Map())
  }
}

/** Feature logging: append served vectors (± predictions) to a lake-backed
  * log table; read back with time filters
  * (reference core/feature_view_engine.py:971-1107, core/feature_logging.py).
  */
object FeatureVectorServer {
  /** One serving-key descriptor (serving_key.py:26-47): which column a
    * caller passes (or which is derived), from which group, under which
    * join prefix, and which left-side column feeds it (`joinOn`).
    */
  final case class ServingKey(
      featureName: String,
      featureGroup: String,
      required: Boolean,
      prefix: String = "",
      joinIndex: Int = 0,
      joinOn: Seq[String] = Nil)
}

object FeatureLogging {
  import graft.sources.Lake

  def log(spark: SparkSession, root: String, fg: FeatureGroup,
          vectors: DataFrame,
          logTimeMillis: Option[Long] = None): Lake.CommitMeta = {
    val stamped = vectors.withColumn("_log_time",
      lit(logTimeMillis.getOrElse(System.currentTimeMillis())))
    if (Lake.listCommits(spark, root).isEmpty)
      Lake.create(spark, root, fg, stamped)
    else Lake.upsert(spark, root, fg, stamped)
  }

  def read(spark: SparkSession, root: String, fg: FeatureGroup,
           startMillis: Option[Long] = None,
           endMillis: Option[Long] = None): DataFrame = {
    val df = Lake.snapshot(spark, root, fg, None)
    val lower = startMillis.map(col("_log_time") >= _).getOrElse(lit(true))
    val upper = endMillis.map(col("_log_time") < _).getOrElse(lit(true))
    df.filter(lower && upper)
  }
}
