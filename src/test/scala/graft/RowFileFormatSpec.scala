package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What the two row-codec file sources get from Spark's file-source API,
  * for each of `avro` and `tfrecord`: a write job that fails commits
  * nothing, and files are opened through the session's Hadoop settings.
  */
class RowFileFormatSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def read(format: String, path: String): DataFrame =
    spark.read.format(format).schema(schema).load(path)

  /** The non-hidden files of `dir`: what a reader scans. */
  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  private val failOn39 = udf { (id: Long) =>
    if (id == 39L) throw new IllegalStateException("no row 39")
    id
  }

  Seq("avro", "tfrecord").foreach { format =>
    test(s"$format: an append whose job fails part-way leaves the " +
      "dataset reading exactly its earlier rows") {
      val path = tempDir(s"graft_rowfile_$format").toString + "/td"
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
        .write.format(format).save(path)
      val before = dataFiles(path)
      // 4 partitions of 10 rows; the last row of the last one fails
      val failing = spark.range(0, 40, 1, 4)
        .select(failOn39(col("id")).as("id"), col("id").cast("string").as("v"))
      intercept[SparkException] {
        failing.write.format(format).mode("append").save(path)
      }
      assert(dataFiles(path) === before)
      assert(read(format, path).as[(Long, String)].collect().sorted.toSeq ===
        Seq((1L, "a"), (2L, "b")))
    }

    test(s"$format: a round trip under a filesystem scheme that only the " +
      "session's Hadoop settings register") {
      spark.sparkContext.hadoopConfiguration
        .set(s"fs.${FailingFs.Scheme}.impl", classOf[FailingFs].getName)
      val path = s"${FailingFs.Scheme}://${tempDir(s"graft_rowfile_fs_$format")}/td"
      val df = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "v")
        .repartition(2)
      df.write.format(format).save(path)
      assert(read(format, path).orderBy("id").collect().toSeq ===
        df.orderBy("id").collect().toSeq)
    }
  }
}
