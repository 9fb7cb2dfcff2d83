package graft

import graft.sources.TfRecordFiles
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** TFRecord format: golden-byte protobuf encoding (hand-computed from
  * the tf.train.Example spec), the published CRC32C test vector through
  * the TFRecord mask, frame integrity, and the distributed round trip —
  * the byte-level verification stock TensorFlow would provide if it
  * were installable here.
  */
class TfRecordFilesSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", FloatType),
    StructField("name", StringType)))

  test("example bytes match the hand-computed tf.train.Example layout") {
    val row = Row(5L, 1.5f, "ab")
    val got = TfRecordFiles.exampleBytes(row, schema.fields)
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // Feature{int64_list{value:[5]}}  = 1a 03 0a 01 05
    // Feature{float_list{value:[1.5]}} = 12 06 0a 04 00 00 c0 3f
    // Feature{bytes_list{value:["ab"]}} = 0a 04 0a 02 61 62
    // map entries keyed "id"/"v"/"name", Features at field 1, Example at 1
    val expected =
      b(0x0a, 0x2c,
        0x0a, 0x0b, 0x0a, 0x02, 'i', 'd', 0x12, 0x05,
          0x1a, 0x03, 0x0a, 0x01, 0x05,
        0x0a, 0x0d, 0x0a, 0x01, 'v', 0x12, 0x08,
          0x12, 0x06, 0x0a, 0x04, 0x00, 0x00, 0xc0, 0x3f,
        0x0a, 0x0e, 0x0a, 0x04, 'n', 'a', 'm', 'e', 0x12, 0x06,
          0x0a, 0x04, 0x0a, 0x02, 'a', 'b')
    assert(got.toSeq == expected.toSeq,
      s"got ${got.map("%02x".format(_)).mkString(" ")}")
    // and the parser inverts it
    val parsed = TfRecordFiles.parseExample(got)
    assert(parsed("id") == 5L)
    assert(parsed("v") == 1.5f)
    assert(new String(parsed("name").asInstanceOf[Array[Byte]], "UTF-8")
      == "ab")
  }

  test("masked CRC32C matches the published Castagnoli vector") {
    // crc32c("123456789") = 0xE3069283 (published test vector); the
    // TFRecord mask is ((c >>> 15) | (c << 17)) + 0xa282ead8
    val c = 0xE3069283
    val expected = ((c >>> 15) | (c << 17)) + 0xa282ead8
    assert(TfRecordFiles.maskedCrc("123456789".getBytes("UTF-8"))
      == expected)
  }

  test("frame layout: LE length, masked length crc, payload, payload crc") {
    val payload = Array[Byte](1, 2, 3)
    val f = TfRecordFiles.frame(payload)
    assert(f.length == 8 + 4 + 3 + 4)
    val bb = java.nio.ByteBuffer.wrap(f)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getLong == 3L)
    val lenLe = java.util.Arrays.copyOfRange(f, 0, 8)
    assert(bb.getInt == TfRecordFiles.maskedCrc(lenLe))
    val body = new Array[Byte](3); bb.get(body)
    assert(body.toSeq == payload.toSeq)
    assert(bb.getInt == TfRecordFiles.maskedCrc(payload))
  }

  test("distributed round trip with nulls, booleans, doubles-as-float32") {
    val df = Seq(
      (1L, Some(2.5d), Some("ab"), Some(true)),
      (2L, None, Some("x"), Some(false)),
      (3L, Some(-0.75d), None, None))
      .toDF("id", "score", "name", "flag").repartition(2)
    val path = tempDir("graft_tfr").toString + "/td"
    df.write.format("tfrecord").save(path)
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".tfrecord"))
    assert(parts.length == 2)
    val back = spark.read.format("tfrecord").schema(df.schema).load(path)
      .orderBy("id").collect()
    assert(back.toSeq == df.orderBy("id").collect().toSeq,
      "float32-exact doubles and nulls must survive the round trip")
  }

  test("sequence-example bytes match the hand-computed " +
    "tf.train.SequenceExample layout") {
    // SequenceExample{context: Features = 1, feature_lists = 2};
    // FeatureLists{map entry = 1}; FeatureList{repeated Feature = 1}
    val row = Row(5L, Seq(7L, 9L))
    val got = TfRecordFiles.sequenceExampleBytes(row,
      context = Seq((StructField("id", LongType), 0)),
      seqs = Seq((StructField("xs", ArrayType(LongType, false)), 1)))
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def feat(v: Int) = b(0x1a, 0x03, 0x0a, 0x01, v) // Feature{Int64List}
    val ctxEntry = b(0x0a, 0x02, 'i', 'd', 0x12, 0x05) ++ feat(5)
    val ctx = b(0x0a, ctxEntry.length) ++ ctxEntry           // Features
    val listMsg = b(0x0a, 0x05) ++ feat(7) ++
      b(0x0a, 0x05) ++ feat(9)                               // FeatureList
    val listEntry = b(0x0a, 0x02, 'x', 's', 0x12, listMsg.length) ++ listMsg
    val lists = b(0x0a, listEntry.length) ++ listEntry       // FeatureLists
    val expected = b(0x0a, ctx.length) ++ ctx ++
      b(0x12, lists.length) ++ lists
    assert(got.toSeq == expected.toSeq,
      s"got ${got.map("%02x".format(_)).mkString(" ")}")
  }

  test("sequence round trip: context scalars + feature lists, null " +
    "arrays, null elements, empty lists") {
    val df = Seq(
      (1L, "a", Some(Seq(Some(1L), None, Some(3L))), Some(Seq(0.5f, 1.5f))),
      (2L, "b", Some(Seq.empty[Option[Long]]), None),
      (3L, null.asInstanceOf[String], None, Some(Seq.empty[Float])))
      .toDF("id", "tag", "xs", "ws").repartition(2)
    val path = tempDir("graft_tfr_seq").toString + "/td"
    df.write.format("tfrecord").option("recordType", "SequenceExample")
      .save(path)
    val back = spark.read.format("tfrecord")
      .option("recordType", "SequenceExample").schema(df.schema).load(path)
      .orderBy("id").collect()
    val orig = df.orderBy("id").collect()
    assert(back.toSeq == orig.toSeq,
      s"got ${back.toSeq} want ${orig.toSeq}")
    // and SequenceExample refuses a frame with no sequence column
    intercept[IllegalArgumentException] {
      Seq((1L, "x")).toDF("id", "v").write.format("tfrecord")
        .option("recordType", "SequenceExample").save(path + "_bad")
    }
  }

  test("corrupted payload fails the crc check loudly") {
    val path = tempDir("graft_tfr_bad").toString + "/td"
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.format("tfrecord")
      .save(path)
    val part = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".tfrecord")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    bytes(bytes.length - 6) = (bytes(bytes.length - 6) ^ 0x7f).toByte
    java.nio.file.Files.write(part.toPath, bytes)
    // drop Hadoop's LocalFileSystem .crc sidecar so ITS checksum doesn't
    // fire first — the point is exercising the TFRecord-level crc
    new java.io.File(part.getParent, s".${part.getName}.crc").delete()
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("tfrecord")
        .schema(StructType(Seq(StructField("id", LongType),
          StructField("v", StringType)))).load(path).collect()
    }
    assert(ex.getMessage.contains("crc") ||
      Option(ex.getCause).exists(_.getMessage.contains("crc")))
  }

  test("a file cut inside its last record fails to read; whole and empty files read") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    def write(rows: Seq[(Long, String)]): (String, java.io.File) = {
      val path = tempDir("graft_tfr_cut").toString + "/td"
      rows.toDF("id", "v").coalesce(1).write.format("tfrecord").save(path)
      (path, new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".tfrecord")).head)
    }
    def count(path: String) = scala.util.Try(
      spark.read.format("tfrecord").schema(schema).load(path).count())

    val (whole, _) = write(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(count(whole) === scala.util.Success(3L))
    val (empty, _) = write(Nil)
    assert(count(empty) === scala.util.Success(0L))

    val (cut, part) = write(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    java.nio.file.Files.write(part.toPath, bytes.dropRight(6))
    // Hadoop's .crc sidecar would fail the cut file first
    new java.io.File(part.getParent, s".${part.getName}.crc").delete()
    val failed = count(cut)
    assert(failed.isFailure, failed)
    val causes = Iterator.iterate(failed.failed.get)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(e => e.isInstanceOf[java.io.IOException] &&
      e.getMessage.contains(part.getName)), failed)
  }
}
