package graft.catalog

import graft.catalog.JsonDocs._
import graft.model._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType}
import org.json4s._
import org.json4s.JsonDSL._

/** JSON persistence for feature-group definitions — one file per group
  * under `warehouseDir/_catalog/<name>_<version>.json`, accessed through
  * the Hadoop FileSystem so the catalog lives wherever the warehouse does
  * (reference durability contract: server-side metadata,
  * python/hsfs/feature_store.py; the lake data already survives restarts,
  * this makes the definitions survive too).
  *
  * DataFrame-backed (spine) and unbound groups are session-scoped by
  * nature and are not persisted.
  */
object CatalogPersistence {

  private def docs(spark: SparkSession, warehouseDir: String) =
    JsonDocs(spark, s"$warehouseDir/_catalog")

  /** Coerce a parsed JSON default back to the feature's declared type so
    * write-path fills (`lit(default)`) stay type-correct after a reload.
    */
  private def defaultFromJson(j: JValue, dt: DataType): Option[Any] = j match {
    case JNothing | JNull => None
    case _ => Some((valueFrom(j), dt) match {
      case (i: Long, IntegerType)  => i.toInt
      case (i: Long, DoubleType)   => i.toDouble
      case (i: Long, FloatType)    => i.toFloat
      case (d: Double, FloatType)  => d.toFloat
      case (v, _)                  => v
    })
  }

  private def sourceToJson(src: FgSource): Option[JValue] = src match {
    case ParquetSource(path) => Some(("type" -> "parquet") ~ ("path" -> path))
    case LakeSource(root)    => Some(("type" -> "lake") ~ ("path" -> root))
    case ViewSource(table)   => Some(("type" -> "view") ~ ("path" -> table))
    case ConnectorSource(format, options, conf, path) =>
      // full pushdown contract persists: options carry e.g. the jdbc
      // "query"; a reloaded catalog plans the identical external read
      Some(("type" -> "connector") ~ ("format" -> format) ~
        ("options" -> options) ~ ("hadoopConf" -> conf) ~
        ("loadPath" -> path))
    case _                   => None // DataFrame/unbound: session-scoped
  }

  private def sourceFromJson(j: JValue): FgSource = {
    val path = str(j \ "path").getOrElse("")
    str(j \ "type") match {
      case Some("parquet") => ParquetSource(path)
      case Some("lake")    => LakeSource(path)
      case Some("view")    => ViewSource(path)
      case Some("connector") => ConnectorSource(
        format = str(j \ "format").getOrElse(""),
        options = strMap(j \ "options"),
        hadoopConf = strMap(j \ "hadoopConf"),
        path = str(j \ "loadPath"))
      case _               => UnboundSource
    }
  }

  private[catalog] def toJson(fg: FeatureGroup): Option[JValue] =
    sourceToJson(fg.source).map { src =>
      ("name" -> fg.name) ~
        ("version" -> fg.version) ~
        ("primaryKey" -> fg.primaryKey) ~
        ("partitionKey" -> fg.partitionKey) ~
        ("eventTime" -> fg.eventTime) ~
        ("precombineKey" -> fg.precombineKey) ~
        ("online" -> fg.online) ~
        ("statisticsConfig" -> (
          ("enabled" -> fg.statisticsConfig.enabled) ~
            ("correlations" -> fg.statisticsConfig.correlations) ~
            ("histograms" -> fg.statisticsConfig.histograms) ~
            ("exactUniqueness" -> fg.statisticsConfig.exactUniqueness) ~
            ("columns" -> fg.statisticsConfig.columns))) ~
        ("source" -> src) ~
        ("features" -> fg.features.map { f =>
          ("name" -> f.name) ~
            ("dataType" -> f.dataType.json) ~
            ("primary" -> f.primary) ~
            ("partition" -> f.partition) ~
            ("nullable" -> f.nullable) ~
            ("description" -> f.description) ~
            ("default" -> f.defaultValue.map(valueJson))
        })
    }

  private[catalog] def fromJson(j: JValue): FeatureGroup = {
    val features = (j \ "features") match {
      case JArray(fs) => fs.map { f =>
        val dt = DataType.fromJson(str(f \ "dataType").getOrElse("\"string\""))
        Feature(
          name = str(f \ "name").getOrElse(""),
          dataType = dt,
          primary = bool(f \ "primary").getOrElse(false),
          partition = bool(f \ "partition").getOrElse(false),
          nullable = bool(f \ "nullable").getOrElse(true),
          description = str(f \ "description"),
          defaultValue = defaultFromJson(f \ "default", dt))
      }
      case _ => Nil
    }
    val stats = j \ "statisticsConfig"
    FeatureGroup(
      name = str(j \ "name").getOrElse(""),
      version = lng(j \ "version").fold(1)(_.toInt),
      features = features,
      primaryKey = strs(j \ "primaryKey"),
      partitionKey = strs(j \ "partitionKey"),
      eventTime = str(j \ "eventTime"),
      precombineKey = str(j \ "precombineKey"),
      source = sourceFromJson(j \ "source"),
      online = bool(j \ "online").getOrElse(false),
      // absent in pre-upgrade catalogs → reference defaults
      statisticsConfig = StatisticsConfig(
        enabled = bool(stats \ "enabled").getOrElse(true),
        correlations = bool(stats \ "correlations").getOrElse(false),
        histograms = bool(stats \ "histograms").getOrElse(false),
        exactUniqueness = bool(stats \ "exactUniqueness").getOrElse(false),
        columns = strs(stats \ "columns")))
  }

  def save(spark: SparkSession, warehouseDir: String, fg: FeatureGroup): Unit =
    toJson(fg).foreach(docs(spark, warehouseDir).put(fg.id, _))

  def load(spark: SparkSession, warehouseDir: String): Seq[FeatureGroup] = {
    val d = docs(spark, warehouseDir)
    d.ids.flatMap(d.get).map(fromJson)
  }
}
