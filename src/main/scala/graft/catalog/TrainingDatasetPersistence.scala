package graft.catalog

import graft.catalog.JsonDocs._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.JsonDSL._

/** Training-dataset VERSION metadata CRUD, persisted as JSON under
  * `warehouseDir/_training_datasets/<view>_<viewVersion>_<tdVersion>.json`
  * — the reference materializes versioned training datasets with
  * server-side metadata (python/hsfs/training_dataset.py,
  * core/feature_view_engine.py:229-320 create_training_dataset); here the
  * descriptor is one JSON file next to the split files, so a restarted
  * session can locate and read the exact materialized artifact.
  */
object TrainingDatasetPersistence {

  /** Persisted descriptor of one materialized training-dataset version. */
  final case class TrainingDatasetMeta(
      viewName: String, viewVersion: Int, version: Int,
      format: String, path: String,
      randomWeights: Map[String, Double] = Map(),
      timeBounds: Map[String, (Long, Long)] = Map(),
      seed: Long = 42L, exactSizes: Boolean = false,
      createdMillis: Long = 0L,
      groupSplit: Option[graft.ops.Splits.GroupSplit] = None,
      /** Persisted so recreate reproduces the original file layout. */
      coalesce: Boolean = false,
      /** The schema the splits were written with, so a format whose files
        * carry none (tfrecord) reads back; absent in descriptors written
        * before it was kept.
        */
      schema: Option[StructType] = None) {
    /** Split names in their deterministic (sorted) order; a dataset built
      * with no split spec is the single `train` split.
      */
    def splitNames: Seq[String] =
      if (groupSplit.nonEmpty) groupSplit.get.weights.map(_._1)
      else if (randomWeights.nonEmpty) randomWeights.keys.toSeq.sorted
      else if (timeBounds.nonEmpty) timeBounds.keys.toSeq.sorted
      else Seq("train")
  }

  private def docs(spark: SparkSession, warehouseDir: String) =
    JsonDocs(spark, s"$warehouseDir/_training_datasets")
  private def idOf(view: String, viewVersion: Int, version: Int) =
    s"${view}_${viewVersion}_$version"

  def save(spark: SparkSession, warehouseDir: String,
           meta: TrainingDatasetMeta): Unit =
    docs(spark, warehouseDir).put(
      idOf(meta.viewName, meta.viewVersion, meta.version),
      ("viewName" -> meta.viewName) ~
        ("viewVersion" -> meta.viewVersion) ~
        ("version" -> meta.version) ~
        ("format" -> meta.format) ~
        ("path" -> meta.path) ~
        ("randomWeights" -> meta.randomWeights) ~
        ("timeBounds" -> meta.timeBounds.map { case (k, (lo, hi)) =>
          k -> List(lo, hi) }) ~
        ("seed" -> meta.seed) ~
        ("exactSizes" -> meta.exactSizes) ~
        ("coalesce" -> meta.coalesce) ~
        ("createdMillis" -> meta.createdMillis) ~
        ("groupSplit" -> meta.groupSplit.map(g =>
          ("groupCol" -> g.groupCol) ~
            ("salt" -> g.salt) ~
            ("weights" -> g.weights.map { case (k, w) =>
              ("name" -> k) ~ ("w" -> w): JValue }))) ~
        ("schema" -> meta.schema.map(_.json)))

  def load(spark: SparkSession, warehouseDir: String, viewName: String,
           viewVersion: Int, version: Int): Option[TrainingDatasetMeta] =
    docs(spark, warehouseDir).get(idOf(viewName, viewVersion, version)).map {
      j =>
        def num(v: JValue): Long = lng(v).getOrElse(0L)
        TrainingDatasetMeta(
          viewName = str(j \ "viewName").getOrElse(""),
          viewVersion = num(j \ "viewVersion").toInt,
          version = num(j \ "version").toInt,
          format = str(j \ "format").getOrElse(""),
          path = str(j \ "path").getOrElse(""),
          randomWeights = (j \ "randomWeights") match {
            case JObject(fields) =>
              fields.flatMap { case (k, w) => dbl(w).map(k -> _) }.toMap
            case _ => Map.empty
          },
          timeBounds = (j \ "timeBounds") match {
            case JObject(fields) => fields.collect {
              case JField(k, JArray(List(lo, hi))) => k -> (num(lo), num(hi))
            }.toMap
            case _ => Map.empty
          },
          seed = num(j \ "seed"),
          exactSizes = bool(j \ "exactSizes").getOrElse(false),
          coalesce = bool(j \ "coalesce").getOrElse(false),
          createdMillis = num(j \ "createdMillis"),
          // absent in descriptors written before grouped splits existed
          groupSplit = (j \ "groupSplit") match {
            case g @ JObject(_) =>
              val ws = (g \ "weights") match {
                case JArray(items) => items.collect { case item @ JObject(_) =>
                  str(item \ "name").getOrElse("") ->
                    dbl(item \ "w").getOrElse(0.0)
                }
                case _ => Nil
              }
              Some(graft.ops.Splits.GroupSplit(
                str(g \ "groupCol").getOrElse(""), ws,
                str(g \ "salt").getOrElse("")))
            case _ => None
          },
          schema = str(j \ "schema").map(DataType.fromJson(_).asInstanceOf[StructType]))
    }

  /** Every persisted version of a view's training datasets. */
  def list(spark: SparkSession, warehouseDir: String, viewName: String,
           viewVersion: Int): Seq[Int] = {
    val prefix = s"${viewName}_${viewVersion}_"
    docs(spark, warehouseDir).ids.filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toIntOption).sorted
  }

  def delete(spark: SparkSession, warehouseDir: String, viewName: String,
             viewVersion: Int, version: Int): Unit =
    docs(spark, warehouseDir).remove(idOf(viewName, viewVersion, version))
}
