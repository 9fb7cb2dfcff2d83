package graft.sources

import java.io.{DataInputStream, EOFException, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** TFRecord training-dataset format, `format("tfrecord")`
  * (engine/spark.py:921-949 writes it via the spark-tensorflow-connector
  * jar, absent here), hand-built from the two PUBLIC specs it stacks:
  *
  *  - TFRecord framing: per record `length:uint64le,
  *    masked_crc32c(length):uint32le, payload, masked_crc32c(payload)`
  *    with `mask(c) = ((c >>> 15) | (c << 17)) + 0xa282ead8` over
  *    CRC32C (Castagnoli — `java.util.zip.CRC32C`, JDK 9+).
  *  - Payload: a `tf.train.Example` protobuf — `Example{features:
  *    Features}` (field 1), `Features{feature: map<string, Feature>}`
  *    (field 1), `Feature` a oneof of `BytesList`(1) / `FloatList`(2) /
  *    `Int64List`(3), each with repeated `value` at field 1 (floats and
  *    int64s packed) — or, with the connector's option
  *    `recordType` = `SequenceExample`, a `tf.train.SequenceExample`
  *    (see [[TfRecordFiles.sequenceExampleBytes]]). `Example` is the
  *    default.
  *
  * Type mapping matches the connector's: integral/boolean → int64_list,
  * float/double → float_list (Example has no double list — doubles are
  * narrowed to float32, the connector's documented lossiness; use
  * parquet/avro when full double precision matters), string/binary →
  * bytes_list. A NULL value omits the feature from the Example (the
  * proto3-idiomatic encoding of absence); reads surface missing
  * features as null.
  *
  * The files carry no schema, so a read needs a declared one
  * (`spark.read.format("tfrecord").schema(s)`), as the connector does;
  * CRCs are verified per record, and a mismatch fails the read. Spark's
  * side (task files, commit, session settings, projection) is
  * [[RowFileFormat]]'s. Byte-level correctness is spec-verified (golden
  * framing + protobuf bytes in TfRecordFilesSpec) since no TensorFlow
  * reader exists in this environment.
  */
class TfRecordFiles extends RowFileFormat {
  import TfRecordFiles._

  override def shortName(): String = "tfrecord"
  override protected def extension: String = ".tfrecord"

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = None

  override protected def encoder(schema: StructType,
                                 options: Map[String, String])
      : OutputStream => RowFileFormat.Sink = {
    val encode: Row => Array[Byte] =
      if (!sequence(options)) {
        val fields = schema.fields
        row => exampleBytes(row, fields)
      } else {
        // every ARRAY column becomes a FeatureList, the rest is context
        val (seqs, context) = schema.fields.toSeq.zipWithIndex
          .partition(_._1.dataType.isInstanceOf[ArrayType])
        require(seqs.nonEmpty,
          "recordType SequenceExample needs ≥1 array column (else use Example)")
        row => sequenceExampleBytes(row, context, seqs)
      }
    out => new RowFileFormat.Sink {
      def write(row: Row): Unit = out.write(frame(encode(row)))
      def close(): Unit = out.close()
    }
  }

  override protected def decoder(required: StructType,
                                 options: Map[String, String])
      : (Path, Configuration) => RowFileFormat.Source = {
    val fields = required.fields.toIndexedSeq
    val decode: Array[Byte] => Row =
      if (!sequence(options)) { payload =>
        val feats = parseExample(payload)
        Row.fromSeq(fields.map { fld =>
          feats.get(fld.name).map(coerce(_, fld.dataType)).orNull
        })
      } else { payload =>
        // ARRAY columns come from feature_lists, the rest from context
        val (ctx, lists) = parseSequenceExample(payload)
        Row.fromSeq(fields.map { fld =>
          fld.dataType match {
            case ArrayType(et, _) => lists.get(fld.name)
              .map(_.map(e => if (e == null) null else coerce(e, et))).orNull
            case dt => ctx.get(fld.name).map(coerce(_, dt)).orNull
          }
        })
      }
    (file, conf) => new Frames(file, conf, decode)
  }
}

object TfRecordFiles {

  // ------------------------------------------------------------------
  // protobuf primitives (writer)
  // ------------------------------------------------------------------

  private final class Buf(initial: Int = 256) {
    var arr = new Array[Byte](initial)
    var len = 0
    def ensure(n: Int): Unit =
      if (len + n > arr.length) {
        val na = new Array[Byte](math.max(arr.length * 2, len + n))
        System.arraycopy(arr, 0, na, 0, len); arr = na
      }
    def byte(b: Int): Unit = { ensure(1); arr(len) = b.toByte; len += 1 }
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { byte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      byte(v.toInt)
    }
    def bytes(b: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(b, off, arr, len, n); len += n
    }
    def bytes(b: Array[Byte]): Unit = bytes(b, 0, b.length)
    def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)
  }

  private def lenDelimited(b: Buf, field: Int, payload: Array[Byte]): Unit = {
    b.varint((field << 3) | 2); b.varint(payload.length.toLong); b.bytes(payload)
  }

  /** Feature message for one non-null Spark value. */
  private def featureBytes(v: Any, dt: DataType): Array[Byte] = {
    val inner = new Buf(32)
    val (oneofField, listBytes) = dt match {
      case LongType | IntegerType | ShortType | ByteType | BooleanType =>
        val x = v match {
          case b: Boolean => if (b) 1L else 0L
          case n: Number => n.longValue()
        }
        val l = new Buf(16)
        // Int64List.value = packed repeated int64 (field 1)
        val packed = new Buf(12); packed.varint(x)
        lenDelimited(l, 1, packed.toArray)
        (3, l.toArray)
      case FloatType | DoubleType =>
        val f = v match { case n: Number => n.floatValue() }
        val l = new Buf(16)
        val packed = new Buf(4)
        val le = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putFloat(f).array()
        packed.bytes(le)
        lenDelimited(l, 1, packed.toArray)
        (2, l.toArray)
      case StringType =>
        val l = new Buf(32)
        lenDelimited(l, 1, v.toString.getBytes("UTF-8"))
        (1, l.toArray)
      case BinaryType =>
        val l = new Buf(32)
        lenDelimited(l, 1, v.asInstanceOf[Array[Byte]])
        (1, l.toArray)
      case other => throw new IllegalArgumentException(
        s"tfrecord supports flat primitive schemas; got $other")
    }
    lenDelimited(inner, oneofField, listBytes)
    inner.toArray
  }

  /** Serialized `Features` message (the `map<string, Feature>`) for the
    * given (field, row-index) pairs. Features are emitted in SCHEMA
    * ORDER (deterministic bytes — map order is unspecified in proto, so
    * fixing it costs nothing and makes encodings stable).
    */
  private def featuresMsgBytes(row: Row,
                               fields: Seq[(StructField, Int)])
      : Array[Byte] = {
    val featuresMsg = new Buf(128)
    fields.foreach { case (f, i) =>
      val v = row.get(i)
      if (v != null) {
        val entry = new Buf(64)
        lenDelimited(entry, 1, f.name.getBytes("UTF-8"))
        lenDelimited(entry, 2, featureBytes(v, f.dataType))
        lenDelimited(featuresMsg, 1, entry.toArray) // map entry
      }
    }
    featuresMsg.toArray
  }

  /** Serialized tf.train.Example for one row. */
  private[graft] def exampleBytes(row: Row, fields: Array[StructField])
      : Array[Byte] = {
    val example = new Buf(160)
    lenDelimited(example, 1,
      featuresMsgBytes(row, fields.toSeq.zipWithIndex))
    example.toArray
  }

  /** Serialized tf.train.SequenceExample for one row:
    * `SequenceExample{context: Features = 1, feature_lists:
    * FeatureLists = 2}`, `FeatureLists{feature_list: map<string,
    * FeatureList> = 1}`, `FeatureList{feature: repeated Feature = 1}` —
    * the second record type the reference's tfrecord connector handles
    * (engine/spark.py:921-949 via the connector's `recordType` option).
    * Scalar columns land in `context`, each ARRAY column becomes one
    * FeatureList with one Feature per element; a null array omits its
    * feature_list entry, a null ELEMENT becomes an empty Feature (no
    * oneof set — proto's own encoding of absence) and reads back null.
    */
  private[graft] def sequenceExampleBytes(row: Row,
                                          context: Seq[(StructField, Int)],
                                          seqs: Seq[(StructField, Int)])
      : Array[Byte] = {
    val out = new Buf(256)
    lenDelimited(out, 1, featuresMsgBytes(row, context))
    val lists = new Buf(128)
    seqs.foreach { case (f, i) =>
      if (!row.isNullAt(i)) {
        val elemType = f.dataType.asInstanceOf[ArrayType].elementType
        val listMsg = new Buf(64)
        row.getAs[scala.collection.Seq[Any]](i).foreach { e =>
          lenDelimited(listMsg, 1,
            if (e == null) Array.empty[Byte] else featureBytes(e, elemType))
        }
        val entry = new Buf(64)
        lenDelimited(entry, 1, f.name.getBytes("UTF-8"))
        lenDelimited(entry, 2, listMsg.toArray)
        lenDelimited(lists, 1, entry.toArray) // map entry
      }
    }
    lenDelimited(out, 2, lists.toArray)
    out.toArray
  }

  // ------------------------------------------------------------------
  // TFRecord framing
  // ------------------------------------------------------------------

  private[graft] def maskedCrc(bytes: Array[Byte]): Int = {
    val c = new CRC32C()
    c.update(bytes, 0, bytes.length)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  private[graft] def frame(payload: Array[Byte]): Array[Byte] = {
    val lenLe = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(payload.length.toLong).array()
    val out = ByteBuffer.allocate(8 + 4 + payload.length + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put(lenLe).putInt(maskedCrc(lenLe)).put(payload)
      .putInt(maskedCrc(payload))
    out.array()
  }

  // ------------------------------------------------------------------
  // protobuf primitives (reader)
  // ------------------------------------------------------------------

  private final class Reader(val a: Array[Byte], var p: Int, val end: Int) {
    def hasMore: Boolean = p < end
    // every read is bounded at the enclosing sub-message's `end` — a
    // malformed varint or an over-long length-delimited field fails
    // loudly instead of reading a sibling message's bytes (ADVICE r9 #3)
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (p < end) {
        val b = a(p); p += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        if (shift > 63) throw new IllegalArgumentException(
          "malformed protobuf varint: more than 10 bytes")
      }
      throw new IllegalArgumentException(
        "malformed protobuf varint: ran past message end")
    }
    def sub(): Reader = {
      val n = varint().toInt
      require(n >= 0 && p + n <= end,
        s"length-delimited field of $n bytes overruns message end")
      val r = new Reader(a, p, p + n); p += n; r
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 =>
        require(p + 8 <= end, "skipped fixed64 overruns message end")
        p += 8
      case 2 => val n = varint().toInt
        require(n >= 0 && p + n <= end,
          s"skipped field of $n bytes overruns message end")
        p += n
      case 5 =>
        require(p + 4 <= end, "skipped fixed32 overruns message end")
        p += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }

  /** Parse a `Features` message (map entries at field 1) into
    * (featureName → raw value).
    */
  private def parseFeatures(feats: Reader,
                            out: scala.collection.mutable.Map[String, Any])
      : Unit =
    while (feats.hasMore) {
      val ft = feats.varint().toInt
      if ((ft >> 3) == 1 && (ft & 7) == 2) { // map entry
        val entry = feats.sub()
        var key: String = null; var value: Any = null
        while (entry.hasMore) {
          val et = entry.varint().toInt
          (et >> 3, et & 7) match {
            case (1, 2) =>
              val k = entry.sub()
              key = new String(k.a, k.p, k.end - k.p, "UTF-8")
            case (2, 2) => value = parseFeature(entry.sub())
            case (_, w) => entry.skip(w)
          }
        }
        if (key != null) out(key) = value
      } else feats.skip(ft & 7)
    }

  /** Parse one Example payload into (featureName → raw value). */
  private[graft] def parseExample(payload: Array[Byte]): Map[String, Any] = {
    val out = scala.collection.mutable.Map[String, Any]()
    val ex = new Reader(payload, 0, payload.length)
    while (ex.hasMore) {
      val tag = ex.varint().toInt
      if ((tag >> 3) == 1 && (tag & 7) == 2) parseFeatures(ex.sub(), out)
      else ex.skip(tag & 7)
    }
    out.toMap
  }

  /** Parse one SequenceExample payload into (context featureName → raw
    * value, feature_list name → element values; empty Features → null
    * elements).
    */
  private[graft] def parseSequenceExample(payload: Array[Byte])
      : (Map[String, Any], Map[String, Seq[Any]]) = {
    val context = scala.collection.mutable.Map[String, Any]()
    val lists = scala.collection.mutable.Map[String, Seq[Any]]()
    val ex = new Reader(payload, 0, payload.length)
    while (ex.hasMore) {
      val tag = ex.varint().toInt
      (tag >> 3, tag & 7) match {
        case (1, 2) => parseFeatures(ex.sub(), context)
        case (2, 2) => // FeatureLists
          val fl = ex.sub()
          while (fl.hasMore) {
            val ft = fl.varint().toInt
            if ((ft >> 3) == 1 && (ft & 7) == 2) { // map entry
              val entry = fl.sub()
              var key: String = null
              val vals = Seq.newBuilder[Any]
              while (entry.hasMore) {
                val et = entry.varint().toInt
                (et >> 3, et & 7) match {
                  case (1, 2) =>
                    val k = entry.sub()
                    key = new String(k.a, k.p, k.end - k.p, "UTF-8")
                  case (2, 2) => // FeatureList: repeated Feature
                    val listMsg = entry.sub()
                    while (listMsg.hasMore) {
                      val lt = listMsg.varint().toInt
                      if ((lt >> 3) == 1 && (lt & 7) == 2)
                        vals += parseFeature(listMsg.sub())
                      else listMsg.skip(lt & 7)
                    }
                  case (_, w) => entry.skip(w)
                }
              }
              if (key != null) lists(key) = vals.result()
            } else fl.skip(ft & 7)
          }
        case (_, w) => ex.skip(w)
      }
    }
    (context.toMap, lists.toMap)
  }

  /** Feature → first value of whichever list is present (flat schemas
    * write single-element lists). Accepts both packed (wire type 2 at
    * field 1) and unpacked (per-element wire type 0/5) list encodings —
    * writers differ, the spec allows either.
    */
  private def parseFeature(f: Reader): Any = {
    var result: Any = null
    while (f.hasMore) {
      val tag = f.varint().toInt
      (tag >> 3, tag & 7) match {
        case (1, 2) => // BytesList
          val l = f.sub()
          while (l.hasMore) {
            val lt = l.varint().toInt
            if ((lt >> 3) == 1 && (lt & 7) == 2) {
              val b = l.sub()
              if (result == null)
                result = java.util.Arrays.copyOfRange(b.a, b.p, b.end)
            } else l.skip(lt & 7)
          }
        case (2, 2) => // FloatList
          val l = f.sub()
          while (l.hasMore) {
            val lt = l.varint().toInt
            (lt >> 3, lt & 7) match {
              case (1, 2) => // packed fixed32s
                val b = l.sub()
                if (result == null && b.end - b.p >= 4)
                  result = ByteBuffer.wrap(b.a, b.p, 4)
                    .order(ByteOrder.LITTLE_ENDIAN).getFloat
              case (1, 5) => // unpacked fixed32
                if (result == null)
                  result = ByteBuffer.wrap(l.a, l.p, 4)
                    .order(ByteOrder.LITTLE_ENDIAN).getFloat
                l.p += 4
              case (_, w) => l.skip(w)
            }
          }
        case (3, 2) => // Int64List
          val l = f.sub()
          while (l.hasMore) {
            val lt = l.varint().toInt
            (lt >> 3, lt & 7) match {
              case (1, 2) => // packed varints
                val b = l.sub()
                if (result == null && b.hasMore) result = b.varint()
              case (1, 0) => // unpacked varint
                val v = l.varint()
                if (result == null) result = v
              case (_, w) => l.skip(w)
            }
          }
        case (_, w) => f.skip(w)
      }
    }
    result
  }

  // ------------------------------------------------------------------
  // record type, file read
  // ------------------------------------------------------------------

  private def sequence(options: Map[String, String]): Boolean =
    options.getOrElse("recordType", "Example") match {
      case "Example" => false
      case "SequenceExample" => true
      case other => throw new IllegalArgumentException(
        s"recordType must be Example or SequenceExample, not $other")
    }

  /** The records of one tfrecord file, each CRC-checked and decoded. */
  private final class Frames(file: Path, conf: Configuration,
                             decode: Array[Byte] => Row)
      extends RowFileFormat.Source {
    private val in = new DataInputStream(file.getFileSystem(conf).open(file))
    private var pending: Array[Byte] = _
    private var fetched = false

    /** The next frame's payload; null at a clean end of file, which is
      * only an end before a frame's first byte. A file that ends inside
      * a frame was cut, and reading it fails.
      */
    private def advance(): Array[Byte] = {
      val first = in.read()
      if (first < 0) return null
      try {
        val lenLe = new Array[Byte](8)
        lenLe(0) = first.toByte
        in.readFully(lenLe, 1, 7)
        val lenCrc = java.lang.Integer.reverseBytes(in.readInt())
        require(lenCrc == maskedCrc(lenLe),
          s"tfrecord length crc mismatch in $file")
        val n = ByteBuffer.wrap(lenLe)
          .order(ByteOrder.LITTLE_ENDIAN).getLong.toInt
        val payload = new Array[Byte](n)
        in.readFully(payload)
        val dataCrc = java.lang.Integer.reverseBytes(in.readInt())
        require(dataCrc == maskedCrc(payload),
          s"tfrecord payload crc mismatch in $file")
        payload
      } catch {
        case e: EOFException =>
          throw new java.io.IOException(s"tfrecord file $file ends inside a record", e)
      }
    }

    def hasNext: Boolean = {
      if (!fetched) { pending = advance(); fetched = true }
      pending != null
    }
    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException(s"end of $file")
      fetched = false
      decode(pending)
    }
    def close(): Unit = in.close()
  }

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (x: Long, LongType) => x
    case (x: Long, IntegerType) => x.toInt
    case (x: Long, ShortType) => x.toShort
    case (x: Long, ByteType) => x.toByte
    case (x: Long, BooleanType) => x != 0L
    case (x: Float, FloatType) => x
    case (x: Float, DoubleType) => x.toDouble
    case (b: Array[Byte], StringType) => new String(b, "UTF-8")
    case (b: Array[Byte], BinaryType) => b
    case (x, other) => throw new IllegalArgumentException(
      s"cannot coerce ${x.getClass.getSimpleName} to $other")
  }
}
