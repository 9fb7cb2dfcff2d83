package graft.sources

import java.io.{Closeable, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter,
  OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The Spark file-source plumbing of a format whose codec works on
  * external `Row`s ([[AvroFiles]], [[TfRecordFiles]]), registered by short
  * name in `META-INF/services`, so `df.write.format(name)` and
  * `spark.read.format(name)` reach it as they reach parquet:
  *
  *  - a write runs through Spark's file writer: each task writes its
  *    part file under the job's `_temporary` directory, and the job
  *    commits all of them or, when it fails, aborts and leaves none;
  *  - both sides open files through the session's Hadoop settings
  *    (`hadoopConfiguration` plus the call's options);
  *  - a read scans each file whole in a task, decodes only the columns
  *    the query needs, and closes the file at task completion.
  *
  * A subclass supplies only its codec, built on the driver (where it can
  * refuse a schema or option before any job starts) and run on the tasks.
  * It must do no work when constructed: Spark builds every registered
  * source on each format lookup, parquet's included.
  */
abstract class RowFileFormat extends FileFormat with DataSourceRegister
    with Serializable {

  /** Part-file extension, with its dot. */
  protected def extension: String

  /** The encoder of `schema` rows: given a new part file's stream, the
    * sink that writes the file and closes the stream. Spark passes the
    * options here and to [[decoder]] as a case-insensitive map.
    */
  protected def encoder(schema: StructType, options: Map[String, String])
      : OutputStream => RowFileFormat.Sink

  /** The decoder of one file into rows of `required`, in its field order. */
  protected def decoder(required: StructType, options: Map[String, String])
      : (Path, Configuration) => RowFileFormat.Source

  override def prepareWrite(spark: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val encode = encoder(dataSchema, options)
    val ext = extension
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ext
      override def newInstance(file: String, schema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new OutputWriter {
          private val target = new Path(file)
          private val sink = encode(
            target.getFileSystem(context.getConfiguration).create(target, false))
          private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
          override def write(row: InternalRow): Unit =
            sink.write(toRow(row).asInstanceOf[Row])
          override def close(): Unit = sink.close()
          override def path(): String = file
        }
    }
  }

  override def buildReader(spark: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType,
                           requiredSchema: StructType, filters: Seq[Filter],
                           options: Map[String, String],
                           hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf))
    val decode = decoder(requiredSchema, options)
    file => {
      val rows = decode(file.toPath, conf.value.value)
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => rows.close()))
      val toInternal =
        CatalystTypeConverters.createToCatalystConverter(requiredSchema)
      rows.map(r => toInternal(r).asInstanceOf[InternalRow])
    }
  }

  override def toString: String = shortName()
  override def equals(other: Any): Boolean =
    other != null && other.getClass == getClass
  override def hashCode(): Int = getClass.hashCode
}

object RowFileFormat {

  /** The rows of one written file; `close` ends the file and its stream. */
  trait Sink extends Closeable {
    def write(row: Row): Unit
  }

  /** The rows of one read file; `close` releases the file. */
  abstract class Source extends Iterator[Row] with Closeable
}
