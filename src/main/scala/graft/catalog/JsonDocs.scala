package graft.catalog

import graft.sources.DeltaLite
import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The catalog's one document store: each entity of a kind is one UTF-8
  * compact-JSON file `<id>.json` under `dir` (`<warehouse>/_<kind>/`),
  * on the warehouse's Hadoop FileSystem — the in-process stand-in for
  * the reference's metadata REST service (python/hsfs/feature_store.py).
  * Each store keeps only its codec and its id scheme.
  *
  * Writes are atomic where the filesystem's rename is: [[put]] stages the
  * document in a hidden file beside the target and renames it over the
  * target ([[graft.sources.DeltaLite.publishStaged]], the commit log's
  * own staged publish), so a write that fails part-way leaves the
  * previous document whole.
  */
final class JsonDocs(spark: SparkSession, dir: String) {
  private val root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def file(id: String) = new Path(root, s"$id.json")

  def put(id: String, doc: JValue): Unit = {
    val fs = this.fs
    DeltaLite.publishStaged(fs, file(id)) { staged =>
      val out = fs.create(staged, true)
      try out.write(JsonMethods.compact(JsonMethods.render(doc)).getBytes(UTF_8))
      finally out.close()
    }
  }

  def get(id: String): Option[JValue] =
    try {
      val in = fs.open(file(id))
      try Some(JsonMethods.parse(new String(in.readAllBytes, UTF_8)))
      finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Ids of every stored document, sorted (a staged write ends `.tmp`). */
  def ids: Seq[String] =
    try fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).sorted
    catch { case _: FileNotFoundException => Nil }

  def remove(id: String): Unit = { fs.delete(file(id), false); () }
}

/** Typed field readers and the scalar value codec every store shares. */
object JsonDocs {
  def apply(spark: SparkSession, dir: String): JsonDocs = new JsonDocs(spark, dir)

  def str(v: JValue): Option[String] = v match {
    case JString(s) => Some(s); case _ => None }
  def strs(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.flatMap(str); case _ => Nil }
  def strMap(v: JValue): Map[String, String] = v match {
    case JObject(fields) =>
      fields.collect { case JField(k, JString(s)) => k -> s }.toMap
    case _ => Map.empty }
  def dbl(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble)
    case _ => None }
  def lng(v: JValue): Option[Long] = v match {
    case JInt(i) => Some(i.toLong); case JLong(l) => Some(l)
    case JDouble(d) => Some(d.toLong); case _ => None }
  def bool(v: JValue): Option[Boolean] = v match {
    case JBool(b) => Some(b); case _ => None }

  /** A scalar (or a sequence of scalars, e.g. an IN filter's values) as
    * JSON; anything else as its string form.
    */
  def valueJson(v: Any): JValue = v match {
    case s: String  => JString(s)
    case i: Int     => JInt(i)
    case l: Long    => JInt(l)
    case d: Double  => JDouble(d)
    case f: Float   => JDouble(f.toDouble)
    case b: Boolean => JBool(b)
    case xs: Seq[_] => JArray(xs.map(valueJson).toList)
    case other      => JString(other.toString)
  }

  /** Inverse of [[valueJson]]: integers read back as Long. */
  def valueFrom(j: JValue): Any = j match {
    case JString(s) => s
    case JInt(i)    => i.toLong
    case JDouble(d) => d
    case JBool(b)   => b
    case JArray(xs) => xs.map(valueFrom)
    case other      => JsonMethods.compact(JsonMethods.render(other))
  }
}
