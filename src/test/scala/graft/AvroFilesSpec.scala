package graft

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** Avro container-file training-dataset format: distributed write/read
  * round trip, stock-Avro interoperability (the files must open with
  * plain `DataFileReader` — no graft code in the loop), schema recovery
  * from the container header, and the FeatureView format hook.
  */
class AvroFilesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft_avro_files").toString +
      "/td"

  test("write → read round trip preserves rows, types, and nulls") {
    val df = Seq(
      (1L, Some(2.5), Some("ab"), Some(java.sql.Timestamp.valueOf(
        "2024-03-04 05:06:07.000123"))),
      (2L, None, Some("x"), None),
      (3L, Some(-1.25), None, Some(java.sql.Timestamp.valueOf(
        "2020-01-01 00:00:00"))))
      .toDF("id", "score", "name", "ts").repartition(3)
    val path = tmp()
    df.write.format("avro").save(path)
    val back = spark.read.format("avro").load(path)
    assert(back.schema == df.schema ||
      back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)),
      s"schema drifted: ${back.schema} vs ${df.schema}")
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("files are stock-readable Avro containers, one part per task") {
    val df = spark.range(100).select(col("id"),
      (col("id") * 2).cast("double").as("v")).repartition(4)
    val path = tmp()
    df.write.format("avro").option("codec", "null").save(path)
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(parts.length == 4, s"expected 4 part files, got ${parts.length}")
    // open with plain Avro — no graft code in the read path
    var n = 0L
    parts.foreach { f =>
      val r = new DataFileReader[GenericRecord](
        new FsInput(new Path(f.getAbsolutePath), new Configuration()),
        new GenericDatumReader[GenericRecord]())
      while (r.hasNext) { r.next(); n += 1 }
      r.close()
    }
    assert(n == 100L)
  }

  test("overwrite replaces; errorifexists refuses; append adds") {
    val path = tmp()
    def write(df: DataFrame, mode: String): Unit =
      df.write.format("avro").mode(mode).save(path)
    def ids = spark.read.format("avro").load(path).collect().map(_.getLong(0))
    write(Seq((1L, "a")).toDF("id", "v").coalesce(1), "overwrite")
    write(Seq((2L, "b")).toDF("id", "v").coalesce(1), "overwrite")
    assert(ids.toSeq == Seq(2L))
    write(Seq((3L, "c")).toDF("id", "v").coalesce(1), "append")
    assert(ids.sorted.toSeq == Seq(2L, 3L))
    intercept[AnalysisException] {
      write(Seq((4L, "d")).toDF("id", "v"), "errorifexists")
    }
  }

  test("decimal and array columns survive the container round trip " +
    "with their logical types in the header schema") {
    val df = Seq(
      (1L, new java.math.BigDecimal("12.50"), Seq(1L, 2L)),
      (2L, new java.math.BigDecimal("-3.07"), Seq.empty[Long]))
      .toDF("id", "price", "xs")
      .select(col("id"), col("price").cast("decimal(10,2)").as("price"),
        col("xs"))
    val path = tmp()
    df.write.format("avro").save(path)
    val back = spark.read.format("avro").load(path)
    assert(back.schema("price").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    assert(back.schema("xs").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType])
    val rows = back.orderBy("id").collect()
    assert(rows(0).getDecimal(1)
      .compareTo(new java.math.BigDecimal("12.50")) == 0)
    assert(rows(1).getDecimal(1)
      .compareTo(new java.math.BigDecimal("-3.07")) == 0)
    assert(rows(0).getAs[scala.collection.Seq[Long]]("xs").toSeq ==
      Seq(1L, 2L))
    assert(rows(1).getAs[scala.collection.Seq[Long]]("xs").isEmpty)
  }

  test("appended files with a REORDERED writer schema resolve by name") {
    // ADVICE r9 #2: the read must pass the first file's schema as the
    // reader schema so Avro resolves fields by NAME per file — a second
    // file written with columns swapped must still land values in the
    // right columns, not positionally mis-assign them.
    val path = tmp()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.format("avro").save(path)
    Seq(("b", 2L)).toDF("v", "id").coalesce(1).write.format("avro")
      .mode("append").save(path)
    val back = spark.read.format("avro").load(path).orderBy("id").collect()
    assert(back.map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
      .toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("FeatureView write/read hook routes format=avro end to end") {
    val df = Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v")
    val result = graft.view.TrainingDataset.Result(
      Map("train" -> df), Map(), Map())
    val path = tmp()
    graft.view.TrainingDataset.write(result, path, format = "avro")
    val back = graft.view.TrainingDataset.read(spark, path, format = "avro")
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }
}
