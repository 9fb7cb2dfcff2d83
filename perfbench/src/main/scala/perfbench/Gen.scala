package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Input generator, run in its own JVM before the benchmark so that the
  * benchmark JVM starts equally cold whether or not inputs were cached.
  * Writes parquet with the plain parquet writer (no Spark session), once
  * per (workload, seed, size); a cached set is reused.
  *
  *   perfbench.Gen --workload serve --seed 1 --data perfbench/.data
  */
object Gen {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val root = Paths.get(opts("data"))
    workload match {
      case "serve" | "ingest" =>
        write(Data.dir(root, workload, seed, Online.Rows), "locust",
          Data.LocustSchema, Online.Rows, Data.locustRow(seed, _, 0))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** Rows `0 until n` of `row` as `dir/name.parquet/part-0.parquet`, written
    * under a temporary name and renamed, so no reader sees half a file.
    */
  private def write(dir: Path, name: String, schema: StructType, n: Long,
                    row: Long => Row): Unit = {
    val target = dir.resolve(s"$name.parquet")
    if (Files.exists(target)) return
    val tmp = dir.resolve(s".$name.tmp-${ProcessHandle.current().pid()}")
    Files.createDirectories(tmp)
    val fields = schema.fields.map { f =>
      f.dataType match {
        case LongType      => s"optional int64 ${f.name};"
        case DoubleType    => s"optional double ${f.name};"
        case StringType    => s"optional binary ${f.name} (STRING);"
        case TimestampType => s"optional int64 ${f.name} (TIMESTAMP(MICROS,true));"
        case other => throw new IllegalArgumentException(s"no parquet type for $other")
      }
    }
    val mt = MessageTypeParser.parseMessageType(
      s"message $name { ${fields.mkString(" ")} }")
    val groups = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(tmp.resolve("part-0.parquet").toUri))
      .withType(mt).withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try {
      var i = 0L
      while (i < n) {
        val r = row(i)
        val g = groups.newGroup()
        schema.fields.indices.foreach { c =>
          if (!r.isNullAt(c)) r.get(c) match {
            case v: java.lang.Long    => g.add(c, v.longValue)
            case v: java.lang.Double  => g.add(c, v.doubleValue)
            case v: String            => g.add(c, v)
            case v: java.sql.Timestamp => g.add(c, v.getTime * 1000L)
            case v => throw new IllegalArgumentException(s"unexpected $v")
          }
        }
        w.write(g)
        i += 1
      }
    } finally w.close()
    Files.move(tmp, target)
  }
}
