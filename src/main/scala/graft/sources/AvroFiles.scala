package graft.sources

import java.io.OutputStream

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.functions.AvroCodec

/** Avro CONTAINER-FILE training-dataset format, `format("avro")`
  * (engine/spark.py:921-949) without the spark-avro datasource jar: the
  * Object Container File layout — magic, schema JSON in the header,
  * sync-marker-delimited blocks — comes from Avro core's own
  * `DataFileWriter`/`DataFileReader`, which IS what the datasource wraps,
  * so the files interoperate with any stock Avro consumer and the schema
  * travels inside the file. Spark's side (task files, commit, session
  * settings, projection) is [[RowFileFormat]]'s.
  *
  * Write option `codec` ∈ {null, deflate, snappy}; deflate by default.
  * Row conversion reuses [[AvroCodec]]'s datum mapping, so the type
  * contract (nullable unions, timestamp-micros, date, decimal) is
  * identical to the wire codec's.
  *
  * Read: the schema is the first file's (by sorted path) embedded writer
  * schema — the container format's point — so no declared schema is
  * needed. Each file is decoded against the reader schema of the columns
  * the query needs, and Avro's schema resolution matches fields by NAME
  * per file: a directory appended with a reordered writer schema decodes
  * correctly instead of mis-assigning columns by position (ADVICE r9 #2).
  */
class AvroFiles extends RowFileFormat {
  override def shortName(): String = "avro"
  override protected def extension: String = ".avro"

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] =
    files.map(_.getPath).sortBy(_.toString).headOption.map { first =>
      val in = new DataFileReader[GenericRecord](
        new FsInput(first, spark.sessionState.newHadoopConfWithOptions(options)),
        new GenericDatumReader[GenericRecord]())
      try AvroFiles.sparkSchema(in.getSchema) finally in.close()
    }

  override protected def encoder(schema: StructType,
                                 options: Map[String, String])
      : OutputStream => RowFileFormat.Sink = {
    val schemaJson = AvroCodec.avroSchemaJson(schema, AvroFiles.RecordName)
    val fieldTypes = schema.fields.map(_.dataType)
    val codec = options.getOrElse("codec", "deflate")
    out => {
      val avroSchema = new Schema.Parser().parse(schemaJson)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSchema))
      writer.setCodec(codec match {
        case "null" => CodecFactory.nullCodec()
        case "snappy" => CodecFactory.snappyCodec()
        case _ => CodecFactory.deflateCodec(6)
      })
      writer.create(avroSchema, out)
      new RowFileFormat.Sink {
        def write(row: Row): Unit = {
          val rec = new GenericData.Record(avroSchema)
          var i = 0
          while (i < fieldTypes.length) {
            rec.put(i, AvroCodec.toDatum(row.get(i), fieldTypes(i)))
            i += 1
          }
          writer.append(rec)
        }
        def close(): Unit = writer.close()
      }
    }
  }

  override protected def decoder(required: StructType,
                                 options: Map[String, String])
      : (Path, Configuration) => RowFileFormat.Source = {
    val readerJson = AvroCodec.avroSchemaJson(required, AvroFiles.RecordName)
    val fieldTypes = required.fields.map(_.dataType)
    (file, conf) => {
      val reader = new DataFileReader[GenericRecord](new FsInput(file, conf),
        new GenericDatumReader[GenericRecord](
          new Schema.Parser().parse(readerJson)))
      new RowFileFormat.Source {
        def hasNext: Boolean = reader.hasNext
        def next(): Row = {
          val rec = reader.next()
          Row.fromSeq(fieldTypes.indices.map(i =>
            AvroCodec.fromDatum(rec.get(i), fieldTypes(i))))
        }
        def close(): Unit = reader.close()
      }
    }
  }
}

object AvroFiles {
  private val RecordName = "training_dataset"

  /** Avro writer schema (as [[AvroFiles]] writes it: flat nullable
    * unions, logical timestamp-micros/date/decimal) → Spark schema.
    */
  private[graft] def sparkSchema(schema: Schema): StructType = {
    def leaf(s: Schema): DataType = s.getType match {
      case Schema.Type.LONG =>
        if (s.getLogicalType != null &&
          s.getLogicalType.getName.startsWith("timestamp")) TimestampType
        else LongType
      case Schema.Type.INT =>
        if (s.getLogicalType != null && s.getLogicalType.getName == "date")
          DateType
        else IntegerType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.STRING => StringType
      case Schema.Type.BYTES =>
        s.getLogicalType match {
          case d: org.apache.avro.LogicalTypes.Decimal =>
            DecimalType(d.getPrecision, d.getScale)
          case _ => BinaryType
        }
      case Schema.Type.ARRAY =>
        import scala.jdk.CollectionConverters._
        val item = s.getElementType
        if (item.getType == Schema.Type.UNION)
          ArrayType(leaf(item.getTypes.asScala
            .find(_.getType != Schema.Type.NULL).get), containsNull = true)
        else ArrayType(leaf(item), containsNull = false)
      case other => throw new IllegalArgumentException(
        s"unsupported avro leaf type $other")
    }
    import scala.jdk.CollectionConverters._
    StructType(schema.getFields.asScala.map { f =>
      val t = f.schema()
      val dt = t.getType match {
        case Schema.Type.UNION =>
          leaf(t.getTypes.asScala.find(_.getType != Schema.Type.NULL).get)
        case _ => leaf(t)
      }
      StructField(f.name(), dt)
    }.toSeq)
  }
}
