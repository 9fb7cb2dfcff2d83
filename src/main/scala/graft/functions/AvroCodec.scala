package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._

/** Binary-Avro wire codec for the online/Kafka path — the reference's
  * `to_avro(struct(features), encoded_schema)` value and
  * `to_avro(concat(sorted primary key))` key (engine/spark.py:551-580;
  * decode contract `DeltaStreamerAvroDeserializer.java:75-130`), built on
  * Apache Avro core (present on the Spark classpath) rather than the
  * spark-avro DATASOURCE connector (absent in this environment — the
  * codec is the same `GenericDatumWriter`/binary-encoder spark-avro wraps,
  * so the bytes are canonical binary Avro, verifiable reader-side by any
  * stock Avro consumer).
  *
  * Schema contract mirrors the reference's encoded feature-group schema:
  * a flat record whose every field is the nullable union
  * `["null", <type>]` with null at branch 0 (matching Avro's canonical
  * nullable form and the reference's `_get_encoded_avro_schema`).
  * Timestamps encode as `timestamp-micros` logical longs; dates as
  * epoch-day ints.
  *
  * Scale shape: encode/decode run in `mapPartitions` — one row-local
  * JVM pass with a per-partition reused encoder and record buffer, no
  * shuffle, applied before the Kafka write's own partitioning (the same
  * justified-binary-codec shape as [[graft.ops.Multimodal]]). Binary
  * Avro for a given schema is a canonical encoding (no blocking in flat
  * records, zigzag varints are unique), so encodings are byte-stable
  * across partitions, executors, and runs — safe to fingerprint.
  */
object AvroCodec {

  /** Avro schema JSON for a flat Spark schema, every field nullable.
    * Public so tests and external consumers can parse the exact writer
    * schema with stock Avro.
    */
  def avroSchemaJson(schema: StructType, recordName: String): String = {
    def leaf(dt: DataType): String = dt match {
      case LongType => "\"long\""
      case IntegerType | ShortType | ByteType => "\"int\""
      case DoubleType => "\"double\""
      case FloatType => "\"float\""
      case BooleanType => "\"boolean\""
      case StringType => "\"string\""
      case BinaryType => "\"bytes\""
      case TimestampType =>
        "{\"type\":\"long\",\"logicalType\":\"timestamp-micros\"}"
      case DateType => "{\"type\":\"int\",\"logicalType\":\"date\"}"
      case d: DecimalType =>
        s"""{"type":"bytes","logicalType":"decimal",""" +
          s""""precision":${d.precision},"scale":${d.scale}}"""
      case ArrayType(elem, containsNull) =>
        // array of primitives (or decimals/timestamps) — items carry
        // their own nullable union only when Spark says they can be null
        if (containsNull) s"""{"type":"array","items":["null",${leaf(elem)}]}"""
        else s"""{"type":"array","items":${leaf(elem)}}"""
      case other => throw new IllegalArgumentException(
        s"AvroCodec supports flat and array-of-primitive schemas; " +
          s"got $other — encode struct/map features to binary first " +
          "(SchemaOps.encodeComplexFeatures)")
    }
    val fields = schema.fields.map { f =>
      s"""{"name":"${f.name}","type":["null",${leaf(f.dataType)}],""" +
        s""""default":null}"""
    }.mkString(",")
    s"""{"type":"record","name":"$recordName","fields":[$fields]}"""
  }

  private def parse(json: String): Schema = new Schema.Parser().parse(json)

  /** Row value → Avro datum for the union branch of `dt`. */
  private[graft] def toDatum(v: Any, dt: DataType): AnyRef = (v, dt) match {
    case (null, _) => null
    case (x: Long, TimestampType) => java.lang.Long.valueOf(x)
    case (t: java.sql.Timestamp, TimestampType) =>
      java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case (t: java.time.Instant, TimestampType) =>
      java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case (d: java.sql.Date, DateType) =>
      java.lang.Integer.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case (d: java.time.LocalDate, DateType) =>
      java.lang.Integer.valueOf(d.toEpochDay.toInt)
    case (x: Short, _) => java.lang.Integer.valueOf(x.toInt)
    case (x: Byte, _) => java.lang.Integer.valueOf(x.toInt)
    case (b: Array[Byte], BinaryType) => java.nio.ByteBuffer.wrap(b)
    case (s: String, StringType) => new Utf8(s)
    case (d: java.math.BigDecimal, dt: DecimalType) =>
      // avro decimal: big-endian two's-complement unscaled value
      java.nio.ByteBuffer.wrap(
        d.setScale(dt.scale).unscaledValue().toByteArray)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      val list = new java.util.ArrayList[AnyRef](s.length)
      s.foreach(x => list.add(toDatum(x, et)))
      list
    case (x, _) => x.asInstanceOf[AnyRef]
  }

  /** Avro datum → Spark row value for `dt`. */
  private[graft] def fromDatum(v: AnyRef, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: Utf8, StringType) => u.toString
    case (s: CharSequence, StringType) => s.toString
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
    case (b: java.nio.ByteBuffer, dt: DecimalType) =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out)
      new java.math.BigDecimal(new java.math.BigInteger(out), dt.scale)
    case (l: java.util.Collection[_], ArrayType(et, _)) =>
      import scala.jdk.CollectionConverters._
      l.asScala.toSeq.map(x => fromDatum(x.asInstanceOf[AnyRef], et))
    case (x: java.lang.Long, TimestampType) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(x)
    case (x: java.lang.Integer, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.toLong))
    case (x, _) => x
  }

  /** Encode every row of `df` to the Kafka wire triple: `key` = binary
    * Avro of the sorted-primary-key concat under the nullable union
    * `["null","string"]` (the schema `to_avro` infers from a nullable
    * concat column — so the bytes carry the union branch prefix, and a
    * null pk component nulls the whole concat, hence a null key, exactly
    * like SQL `concat`), `value` = binary Avro record of all columns
    * (nullable unions), `headers` = constant metadata entries —
    * byte-compatible with the reference's `_online_fg_to_avro` + header
    * attach (engine/spark.py:507-533).
    */
  def toAvroWire(df: DataFrame, primaryKey: Seq[String],
                 headers: Map[String, String] = Map(),
                 recordName: String = "feature_group",
                 keepCols: Seq[String] = Nil): DataFrame = {
    require(primaryKey.nonEmpty, "avro wire key needs a primary key")
    val inSchema = df.schema
    val valueJson = avroSchemaJson(inSchema, recordName)
    val pkIdx = primaryKey.sorted.map(inSchema.fieldIndex)
    val keepIdx = keepCols.map(inSchema.fieldIndex)
    val fieldTypes = inSchema.fields.map(_.dataType)
    val hdrs = headers.toSeq.sortBy(_._1)

    val outFields = keepCols.map(inSchema(_)) ++
      Seq(StructField("key", BinaryType),
        StructField("value", BinaryType)) ++
      (if (hdrs.isEmpty) Nil else Seq(StructField("headers",
        ArrayType(StructType(Seq(StructField("key", StringType),
          StructField("value", BinaryType)))))))
    val outSchema = StructType(outFields)
    val enc = RowEncoder.encoderFor(outSchema)
    val hdrRows: Seq[Row] = hdrs.map { case (k, v) =>
      Row(k, v.getBytes("UTF-8"))
    }

    df.mapPartitions { rows =>
      val valueSchema = parse(valueJson)
      val keySchema = parse("""["null","string"]""")
      val valueWriter = new GenericDatumWriter[GenericRecord](valueSchema)
      val keyWriter = new GenericDatumWriter[AnyRef](keySchema)
      val buf = new ByteArrayOutputStream(256)
      var encoder = EncoderFactory.get().binaryEncoder(buf, null)
      def write[T](w: GenericDatumWriter[T], datum: T): Array[Byte] = {
        buf.reset()
        encoder = EncoderFactory.get().binaryEncoder(buf, encoder)
        w.write(datum, encoder)
        encoder.flush()
        buf.toByteArray
      }
      rows.map { row =>
        val rec = new GenericData.Record(valueSchema)
        var i = 0
        while (i < fieldTypes.length) {
          rec.put(i, toDatum(row.get(i), fieldTypes(i)))
          i += 1
        }
        // concat semantics: any null component nulls the whole key
        val pkVals = pkIdx.map(row.get)
        val keyDatum: AnyRef =
          if (pkVals.contains(null)) null
          else new Utf8(pkVals.mkString(""))
        val keyBytes = write(keyWriter, keyDatum)
        val valueBytes = write(valueWriter, rec)
        val kept = keepIdx.map(row.get)
        if (hdrRows.isEmpty) Row.fromSeq(kept ++ Seq(keyBytes, valueBytes))
        else Row.fromSeq(kept ++ Seq(keyBytes, valueBytes, hdrRows))
      }
    }(enc)
  }

  /** Decode the wire `value` column back to `declared` columns — the
    * consumer half (`DeltaStreamerAvroDeserializer.deserialize`). Rows
    * whose payload fails to decode become all-null rows of the declared
    * schema (poison-pill tolerance; the reference logs and skips).
    * `keepCols` carries consumer-side metadata columns (Kafka offset,
    * partition, a precomputed length) through the decode, ahead of the
    * declared columns.
    */
  def fromAvroWire(df: DataFrame, declared: StructType,
                   valueCol: String = "value",
                   recordName: String = "feature_group",
                   keepCols: Seq[String] = Nil): DataFrame = {
    val json = avroSchemaJson(declared, recordName)
    val idx = df.schema.fieldIndex(valueCol)
    val keepIdx = keepCols.map(df.schema.fieldIndex)
    val fieldTypes = declared.fields.map(_.dataType)
    val outSchema = StructType(
      keepCols.map(df.schema(_)) ++ declared.fields)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      val schema = parse(json)
      val reader = new GenericDatumReader[GenericRecord](schema)
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val kept = keepIdx.map(row.get)
        val decoded =
          try {
            val dec = DecoderFactory.get().binaryDecoder(bytes, null)
            val rec = reader.read(null, dec)
            fieldTypes.indices.map(i => fromDatum(rec.get(i), fieldTypes(i)))
          } catch {
            case scala.util.control.NonFatal(_) =>
              Seq.fill[Any](fieldTypes.length)(null)
          }
        Row.fromSeq(kept ++ decoded)
      }
    }(enc)
  }
}
