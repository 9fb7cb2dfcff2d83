package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. Every value is a pure function of the seed and its
  * position, so a check recomputes what the engine should return instead
  * of keeping a copy, and the same seed always gives the same files.
  */
object Data {

  /** The reference benchmark's `locust_fg` schema (FIXTURES.md §5):
    * bigint key `ip` and 10 features.
    */
  val LocustSchema: StructType = StructType(Seq(
    StructField("ip", LongType),
    StructField("rand_ts_1", TimestampType),
    StructField("rand_ts_2", TimestampType),
    StructField("rand_int_1", LongType),
    StructField("rand_int_2", LongType),
    StructField("rand_float_1", DoubleType),
    StructField("rand_float_2", DoubleType),
    StructField("rand_string_1", StringType),
    StructField("rand_string_2", StringType),
    StructField("rand_string_3", StringType),
    StructField("rand_string_4", StringType)))

  private val Epoch2024 = 1704067200000L

  private def rng(seed: Long, stream: Long, i: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xD1B54A32D192ED03L ^
      i * 0xBF58476D1CE4E5B9L)

  private def word(r: SplittableRandom): String = {
    val c = new Array[Char](5)
    c.indices.foreach(i => c(i) = ('a' + r.nextInt(26)).toChar)
    new String(c)
  }

  /** Version `version` of row `ip` (version 0 = the initial load). */
  def locustRow(seed: Long, ip: Long, version: Int): Row = {
    val r = rng(seed, version.toLong, ip)
    Row(ip,
      new Timestamp(Epoch2024 + r.nextLong(365L * 86400000L)),
      new Timestamp(Epoch2024 + r.nextLong(365L * 86400000L)),
      r.nextLong(100001L), r.nextLong(100001L),
      r.nextDouble(), r.nextDouble(),
      word(r), word(r), word(r), word(r))
  }

  def locustFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), LocustSchema)

  /** Column-by-column equality of a served row against the generator. */
  def diff(got: Row, want: Row): Option[String] = {
    val bad = LocustSchema.fieldNames.filter { f =>
      got.getAs[Any](f) != want.get(LocustSchema.fieldIndex(f))
    }
    Option.when(bad.nonEmpty)(s"ip=${want.getLong(0)} differs in " +
      s"${bad.mkString(",")}: got $got want $want")
  }

  /** Where the generator leaves one workload's inputs for one seed. */
  def dir(root: Path, workload: String, seed: Long, size: Long): Path =
    root.resolve(s"$workload-s$seed-n$size")

  def file(dir: Path, name: String): String = {
    val p = dir.resolve(s"$name.parquet")
    require(Files.exists(p), s"missing generated input $p")
    p.toString
  }
}
