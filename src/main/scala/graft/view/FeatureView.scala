package graft.view

import graft.ir._
import graft.model.FeatureGroup
import graft.ops.{PointInTimeJoin, Splits, Statistics, Transformations}
import graft.planner.QueryPlanner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature view: a named, versioned query + transformation functions +
  * label/helper markers — the entry point for training data and batch
  * serving (reference: python/hsfs/feature_view.py:187-3930,
  * core/feature_view_engine.py).
  */
final case class FeatureView(
    name: String,
    version: Int,
    query: Query,
    labels: Seq[String] = Nil,
    inferenceHelperColumns: Seq[String] = Nil,
    trainingHelperColumns: Seq[String] = Nil,
    transformations: Seq[Transformations.Transformation] = Nil) {

  /** Batch query with `[start, end)` event-time bounds on the left
    * feature group's event time (core/feature_view_engine.py:187-244);
    * bounds in epoch millis.
    */
  def batchQuery(spark: SparkSession,
                 startTime: Option[Long] = None,
                 endTime: Option[Long] = None,
                 spine: Option[DataFrame] = None): DataFrame = {
    val effective = spine match {
      case Some(df) =>
        // spine substitution: schema-checked caller DataFrame replaces the
        // left relation (core/feature_view_engine.py:218-234)
        val lf = query.leftFeatureGroup
        val missing = (lf.primaryKey ++ lf.eventTime)
          .filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"spine is missing key/event-time columns: ${missing.mkString(", ")}")
        query.copy(leftFeatureGroup =
          FeatureGroup.spine(lf.name, df, lf.primaryKey, lf.eventTime))
      case None => query
    }
    val df = QueryPlanner.plan(spark, effective)
    val et = query.leftFeatureGroup.eventTime
    (startTime, endTime) match {
      case (None, None) => df
      case _ =>
        val etCol = et.getOrElse(throw new IllegalArgumentException(
          s"feature view $name has no event-time column for time bounds"))
        val ms = Splits.eventTimeMillisCol(df, etCol)
        val lower = startTime.map(ms >= _).getOrElse(lit(true))
        val upper = endTime.map(ms < _).getOrElse(lit(true))
        df.filter(lower && upper)
    }
  }

  /** Point-in-time-correct training dataframe: spine (or the left FG) rows
    * enriched with, per event-time feature group joined, the latest row at
    * or before the spine event time (SURVEY §2.4 PIT join; selected
    * automatically when event-time FGs are joined —
    * python/hsfs/constructor/query.py:602-607).
    */
  def pitTrainingFrame(spark: SparkSession, spine: DataFrame): DataFrame = {
    val lf = query.leftFeatureGroup
    val spineEt = lf.eventTime.getOrElse(throw new IllegalArgumentException(
      "PIT training data needs an event-time column on the left group"))
    query.joins.foldLeft(spine) { (acc, j) =>
      val rfg = j.right.leftFeatureGroup
      val right = QueryPlanner.plan(spark, j.right)
      val rightEt = rfg.eventTime.getOrElse(throw new IllegalArgumentException(
        s"PIT join target ${rfg.name} has no event time"))
      val keys =
        if (j.on.nonEmpty) j.on
        else if (j.leftOn.nonEmpty) j.leftOn
        else lf.primaryKey.filter(rfg.primaryKey.contains)
      val rightKeys =
        if (j.rightOn.nonEmpty) j.rightOn else keys
      PointInTimeJoin.asOf(acc, spineEt, right, rightEt,
        keys, rightKeys, prefix = j.prefix.getOrElse(""),
        tieBreak = rfg.precombineKey)
    }
  }

  def labelSplit(df: DataFrame): (DataFrame, DataFrame) =
    Splits.splitLabels(df, labels)

  def dropHelperColumns(df: DataFrame, forInference: Boolean): DataFrame = {
    val drop = if (forInference) inferenceHelperColumns else trainingHelperColumns
    df.drop(drop: _*)
  }
}

/** Materialized training dataset: splits + per-split statistics + file
  * writes (reference: python/hsfs/training_dataset.py,
  * engine/spark.py:865-919 writers, :699-712 split statistics).
  */
object TrainingDataset {

  final case class Result(
      splits: Map[String, DataFrame],
      statistics: Map[String, Seq[Statistics.ColumnProfile]],
      /** Train-split-fitted transformation statistics — persist these
        * (FeatureStore.saveTrainingStatistics) and bind them at serving
        * so online transformations use the TRAINING distribution.
        */
      transformationStatistics:
        Map[String, Transformations.FeatureStatistics] = Map())

  /** Build training data from a feature view: batch/PIT frame → split →
    * fit transformations on the TRAIN split only (engine/spark.py:704-712)
    * → apply to every split → per-split statistics.
    */
  def build(spark: SparkSession, view: FeatureView,
            frame: DataFrame,
            randomWeights: Map[String, Double] = Map(),
            timeBounds: Map[String, (Long, Long)] = Map(),
            seed: Long = 42L,
            statsColumns: Seq[String] = Nil,
            exactSizes: Boolean = false,
            groupSplit: Option[Splits.GroupSplit] = None): Result = {
    val splits: Map[String, DataFrame] =
      if (timeBounds.nonEmpty) {
        val et = view.query.leftFeatureGroup.eventTime.get
        Splits.timeSeries(frame, et, timeBounds)
      } else if (groupSplit.nonEmpty) {
        // leakage-safe: whole groups (e.g. near-dup clusters) land in one
        // split, assignment reproducible from the persisted spec alone
        Splits.grouped(frame, groupSplit.get)
      } else if (randomWeights.nonEmpty) {
        // exactSizes = the python engine's exact-proportion variant
        // (weights must sum to 1); default is the Bernoulli randomSplit
        if (exactSizes) Splits.exactRandom(frame, randomWeights, seed)
        else Splits.random(frame, randomWeights, seed)
      } else Map("train" -> frame)

    // splits are cached before stats + transform + write
    // (engine/spark.py:699-703)
    val cached = splits.map { case (k, v) => k -> v.cache() }
    val train = cached.getOrElse("train", cached.values.head)

    // fit ONCE on the train split, apply everywhere (a per-split
    // fitApply would rescan the train split per split)
    val fitted =
      if (view.transformations.isEmpty)
        Map.empty[String, Transformations.FeatureStatistics]
      else Transformations.fitStats(train, view.transformations)
    val transformed =
      if (view.transformations.isEmpty) cached
      else cached.map { case (k, v) =>
        k -> Transformations.applyAll(v, view.transformations, fitted)
      }

    val stats = transformed.map { case (k, v) =>
      k -> (if (statsColumns.nonEmpty) Statistics.profile(v, statsColumns)
            else Seq.empty[Statistics.ColumnProfile])
    }
    Result(transformed, stats, fitted)
  }

  private val formatAliases = Map("tsv" -> "csv")

  /** Per-split file write: format ∈ {csv, tsv, parquet, orc, json, avro,
    * tfrecord}, per-split subdirectories, overwrite/append, optional
    * coalesce(1) (engine/spark.py:865-919 + default write options
    * :1111-1127). Every format is one `df.write.format(...)` call: avro
    * and tfrecord are this engine's own file sources
    * ([[graft.sources.AvroFiles]], [[graft.sources.TfRecordFiles]]).
    */
  def write(result: Result, path: String, format: String = "parquet",
            mode: String = "overwrite", coalesce: Boolean = false,
            options: Map[String, String] = Map()): Unit = {
    val fmt = formatAliases.getOrElse(format, format)
    val defaultOpts: Map[String, String] = fmt match {
      case "csv" if format == "tsv" =>
        Map("header" -> "true", "delimiter" -> "\t")
      case "csv" => Map("header" -> "true", "delimiter" -> ",")
      case _     => Map.empty
    }
    result.splits.foreach { case (name, df) =>
      val out = if (result.splits.size == 1) path else s"$path/$name"
      val d = if (coalesce) df.coalesce(1) else df
      d.write.format(fmt).options(defaultOpts ++ options).mode(mode).save(out)
    }
  }

  /** Read back a written training dataset (engine/spark.py:921-949).
    * tfrecord carries no schema in the files — pass the declared one
    * (the reference's connector requires the same).
    */
  def read(spark: SparkSession, path: String, format: String = "parquet",
           options: Map[String, String] = Map(),
           schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val fmt = formatAliases.getOrElse(format, format)
    val defaultOpts: Map[String, String] = fmt match {
      case "csv" => Map("header" -> "true", "inferSchema" -> "true") ++
        (if (format == "tsv") Map("delimiter" -> "\t") else Map())
      case _ => Map.empty
    }
    val reader = spark.read.format(fmt).options(defaultOpts ++ options)
    schema.fold(reader)(reader.schema).load(path)
  }
}
