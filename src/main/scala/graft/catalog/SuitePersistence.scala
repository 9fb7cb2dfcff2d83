package graft.catalog

import graft.catalog.JsonDocs._
import graft.ops.Validation._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._

/** Expectation-suite metadata CRUD, persisted as JSON under
  * `warehouseDir/_suites/<fg_id>.json` — the reference's suite metadata
  * service (python/hsfs/expectation_suite.py, 619 LoC of CRUD) collapsed
  * to one file per feature group over the Hadoop FileSystem.
  */
object SuitePersistence {

  private def docs(spark: SparkSession, warehouseDir: String) =
    JsonDocs(spark, s"$warehouseDir/_suites")

  private def specJson(s: ExpectationSpec): JValue = s match {
    case NotNullSpec(c) => ("kind" -> "not_null") ~ ("column" -> c)
    case BetweenSpec(c, lo, hi) =>
      ("kind" -> "between") ~ ("column" -> c) ~ ("min" -> lo) ~ ("max" -> hi)
    case InSetSpec(c, vs) =>
      ("kind" -> "in_set") ~ ("column" -> c) ~ ("values" -> vs)
    case RegexSpec(c, r) =>
      ("kind" -> "regex") ~ ("column" -> c) ~ ("regex" -> r)
    case UniqueSpec(c) => ("kind" -> "unique") ~ ("column" -> c)
  }

  private def specFrom(j: JValue): Option[ExpectationSpec] = {
    val c = str(j \ "column").getOrElse("")
    str(j \ "kind").collect {
      case "not_null" => NotNullSpec(c)
      case "between" => BetweenSpec(c,
        dbl(j \ "min").getOrElse(Double.NegativeInfinity),
        dbl(j \ "max").getOrElse(Double.PositiveInfinity))
      case "in_set" => InSetSpec(c, strs(j \ "values"))
      case "regex" => RegexSpec(c, str(j \ "regex").getOrElse(".*"))
      case "unique" => UniqueSpec(c)
    }
  }

  def save(spark: SparkSession, warehouseDir: String, fgId: String,
           suite: SuiteDef): Unit =
    docs(spark, warehouseDir).put(fgId,
      ("name" -> suite.name) ~ ("policy" -> suite.policy) ~
        ("expectations" -> suite.specs.map(specJson)))

  def load(spark: SparkSession, warehouseDir: String,
           fgId: String): Option[SuiteDef] =
    docs(spark, warehouseDir).get(fgId).map { j =>
      SuiteDef(
        name = str(j \ "name").getOrElse(""),
        specs = (j \ "expectations") match {
          case JArray(xs) => xs.flatMap(specFrom); case _ => Nil },
        policy = str(j \ "policy").filter(_.nonEmpty).getOrElse(Policy.Strict))
    }

  def delete(spark: SparkSession, warehouseDir: String, fgId: String): Unit =
    docs(spark, warehouseDir).remove(fgId)
}
