package graft

import graft.ops.SchemaOps
import graft.sources.Connectors
import org.apache.spark.sql.types._

class ConnectorSchemaSpec extends SparkSpec {
  import spark.implicits._

  test("connector option assembly: jdbc query pushdown, snowflake, s3 conf") {
    val j = Connectors.Jdbc("jdbc:mysql://h/db", "u", "p",
      query = Some("SELECT 1"))
    assert(j.format === "jdbc")
    assert(j.options("query") === "SELECT 1" && j.options("url").startsWith("jdbc:"))

    val sf = Connectors.Snowflake("acct.snowflakecomputing.com", "u", "p",
      "DB", "SCHEMA", warehouse = Some("WH"), table = Some("T"))
    assert(sf.options("sfWarehouse") === "WH" && sf.options("dbtable") === "T")

    val s3 = Connectors.S3("bucket", accessKey = Some("AK"),
      secretKey = Some("SK"), sessionToken = Some("TOK"))
    assert(s3.hadoopConf("fs.s3a.access.key") === "AK")
    assert(s3.hadoopConf("fs.s3a.aws.credentials.provider").contains("Temporary"))
    assert(s3.path("x/y.parquet") === "s3a://bucket/x/y.parquet")

    val k = Connectors.Kafka("b:9092", "topic")
    assert(k.options("subscribe") === "topic")

    // reader() injects hadoop conf for real
    Connectors.reader(spark, s3)
    assert(spark.sparkContext.hadoopConfiguration.get("fs.s3a.access.key") === "AK")
  }

  test("external feature group registration exposes a temp view") {
    val local = Connectors.Generic("parquet")
    val df = Connectors.registerExternal(spark, local, "ext_nation",
      path = Some(s"$sfDir/nation.parquet"))
    assert(spark.table("ext_nation").count() === df.count())
    assert(df.count() === 25)
  }

  test("insertStream writes a checkpointed file sink") {
    import graft.streaming.Streaming
    val tmp = tempDir("graft_sink").toString
    val src = s"$tmp/src"; new java.io.File(src).mkdirs()
    import spark.implicits._
    val data = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    data.write.parquet(s"$src/b1")
    val stream = Streaming.readStream(spark, "parquet", Some(s"$src/*"),
      schema = Some(data.schema))
    val q = Streaming.insertStream(stream, "parquet", s"$tmp/ckpt",
      queryName = Some("graft_sink_test"), path = Some(s"$tmp/out"))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(s"$tmp/out").count() === 2)
  }

  test("sanitize names lowercases and underscores illegal characters") {
    val df = Seq((1, 2)).toDF("My Col", "OK_name")
    assert(SchemaOps.sanitizeNames(df).columns.toSeq === Seq("my_col", "ok_name"))
  }

  test("cast and align to a declared schema") {
    val df = Seq(("1", "2.5")).toDF("a", "b")
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType),
      StructField("c", StringType)))
    val out = SchemaOps.alignToSchema(df, schema)
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Seq(("a", LongType), ("b", DoubleType), ("c", StringType)))
    val r = out.collect().head
    assert(r.getLong(0) === 1L && r.getDouble(1) === 2.5 && r.isNullAt(2))
  }

  test("kafka wire encode: sorted-PK key, JSON value, headers") {
    val df = Seq((2L, 1L, "x")).toDF("b_key", "a_key", "v")
    val wire = SchemaOps.toKafkaWire(df, Seq("b_key", "a_key"),
      headers = Map("h1" -> "v1"))
    val row = wire.collect().head
    // keys sorted by name: a_key value first
    assert(row.getAs[String]("key") === "12")
    assert(row.getAs[String]("value").contains("\"v\":\"x\""))
    val hdrs = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("headers")
    assert(hdrs.head.getAs[String]("key") === "h1")

    val back = SchemaOps.fromKafkaWire(wire, df.schema)
    assert(back.collect().head.getAs[String]("v") === "x")
  }

  test("align honors declared feature default values") {
    import graft.model.Feature
    import org.apache.spark.sql.types._
    val df = Seq((1L, "x")).toDF("id", "v")
    val feats = Seq(
      Feature("id", LongType), Feature("v", StringType),
      Feature("score", DoubleType, defaultValue = Some(0.5)),
      Feature("note", StringType))
    val out = SchemaOps.alignToFeatures(df, feats).collect().head
    assert(out.getAs[Double]("score") === 0.5)
    assert(out.isNullAt(out.fieldIndex("note")))
  }

  test("profile of an empty frame reports zero counts, no stats") {
    val empty = spark.read.parquet(s"$sfDir/nation.parquet").limit(0)
    val p = graft.ops.Statistics.profile(empty)
    assert(p.nonEmpty && p.forall(c => c.count === 0 && c.min.isEmpty))
  }

  test("complex features round-trip through binary wire encoding") {
    val df = Seq((1L, Seq(1.0f, 2.0f), Map("a" -> 1)))
      .toDF("id", "vec", "m")
    val encoded = SchemaOps.encodeComplexFeatures(df)
    import org.apache.spark.sql.types._
    assert(encoded.schema("vec").dataType === BinaryType)
    assert(encoded.schema("m").dataType === BinaryType)
    val decoded = SchemaOps.decodeComplexFeatures(encoded, df.schema)
    val row = decoded.collect().head
    assert(row.getAs[scala.collection.Seq[Float]]("vec") === Seq(1.0f, 2.0f))
    assert(row.getAs[Map[String, Int]]("m") === Map("a" -> 1))
  }

  test("preview and empty-frame helpers") {
    val df = spark.read.parquet(s"$sfDir/nation.parquet")
    assert(SchemaOps.preview(df, 3).count() === 3)
    val empty = SchemaOps.emptyFrame(df)
    assert(empty.count() === 0 && empty.schema === df.schema)
  }
}
