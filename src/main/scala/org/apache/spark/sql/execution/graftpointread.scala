package org.apache.spark.sql.execution

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.SparkContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InSet}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Bridge to Spark's Parquet reader for point reads on the driver: the
  * rows of a Parquet relation whose one column holds one of a few values,
  * read without a Spark job from only the row groups that may hold them.
  *
  * The row groups are chosen by the check a scan task makes: Spark's
  * Parquet filter for `column IN (values)` over each row group's footer
  * statistics of the column. A file that lacks the column, or whose
  * statistics cannot be compared with the values, keeps every row group,
  * as in a scan. The rows are read by the reader a scan task runs
  * (`ParquetFileFormat.buildReaderWithPartitionValues`), under the
  * session's settings, so a declared column a file lacks reads as null.
  */
object GraftPointRead {

  /** What a point read needs of one Parquet file's footer: the schema of
    * its key columns, each row group's byte range, row count and
    * key-column statistics, and the file's datetime rebase mode.
    */
  final class Footer private[GraftPointRead] (
      private[GraftPointRead] val keySchema: MessageType,
      private[GraftPointRead] val groups: Seq[RowGroup],
      private[GraftPointRead] val rebase: RebaseSpec)

  private[GraftPointRead] final case class RowGroup(start: Long, length: Long,
                                                    keyStats: BlockMetaData)

  /** A read's footprint, posted on the listener bus after each point read:
    * the relation's files (`listed`), the files it opened, its row groups
    * and their compressed bytes, the rows it decoded and the rows the
    * predicate kept.
    */
  final case class Read(listed: Seq[String], opened: Seq[String], rowGroups: Int,
                        bytes: Long, rowsDecoded: Long, rowsKept: Long)
      extends SparkListenerEvent

  /** The footer facts of `status` for its top-level `keys` columns. */
  def footer(relation: HadoopFsRelation, status: FileStatus, keys: Seq[String]): Footer = {
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status,
      relation.sparkSession.sparkContext.hadoopConfiguration), ParquetMetadataConverter.NO_FILTER)
    val file = meta.getFileMetaData
    val kept = file.getSchema.getFields.asScala.filter(f => f.isPrimitive && keys.contains(f.getName))
    val groups = meta.getBlocks.asScala.toSeq.map { b =>
      val stats = new BlockMetaData()
      stats.setRowCount(b.getRowCount)
      b.getColumns.asScala.filter(c => c.getPath.size == 1 &&
        kept.exists(_.getName == c.getPath.toArray.head)).foreach(stats.addColumn)
      RowGroup(b.getStartingPos, b.getCompressedSize, stats)
    }
    val mode = relation.sparkSession.sessionState.conf
      .getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString
    new Footer(new MessageType(file.getSchema.getName, kept.asJava), groups,
      DataSourceUtils.datetimeRebaseSpec(file.getKeyValueMetaData.get, mode))
  }

  /** The row groups of `f` that may hold a row whose `column` equals one
    * of `values` (external values), as a scan task keeps them.
    */
  private def mayHold(conf: SQLConf, f: Footer, column: String,
                      values: Array[Any]): Seq[RowGroup] = {
    val filter =
      if (!conf.parquetFilterPushDown) None
      else new ParquetFilters(f.keySchema, conf.parquetFilterPushDownDate,
        conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
        conf.parquetFilterPushDownStringPredicate,
        conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
        f.rebase).createFilter(sources.In(column, values))
    filter.fold(f.groups) { p =>
      val kept = RowGroupFilter.filterRowGroups(FilterCompat.get(p),
        f.groups.map(_.keyStats).asJava, f.keySchema).asScala
      f.groups.filter(g => kept.exists(_ eq g.keyStats))
    }
  }

  /** The rows of `relation` whose `column`, of type `dataType`, holds one of
    * `values` (Catalyst values of that type), read on the driver from the
    * row groups that may hold them, when those total at most `maxBytes`
    * compressed; None when they total more. The rows come back as a
    * driver-local frame of the relation's schema. `footerOf` supplies each
    * data file's [[Footer]] (its caller caches them).
    */
  def read(relation: HadoopFsRelation, column: String, dataType: DataType,
           values: Seq[Any], maxBytes: Long,
           footerOf: FileStatus => Footer): Option[DataFrame] = {
    val spark = relation.sparkSession
    val conf = spark.sessionState.conf
    val ordinal = relation.schema.fieldNames.indexOf(column)
    require(ordinal >= 0, s"$column is not a column of $relation")
    val partitionColumn = relation.partitionSchema.fieldNames.indexOf(column)
    val external = values.map(CatalystTypeConverters.convertToScala(_, dataType)).toArray
    val keep = InSet(BoundReference(ordinal, dataType, nullable = true), values.toSet)
    val dirs = relation.location.listFiles(Nil, Nil)
    val splits = dirs.flatMap { dir =>
      if (partitionColumn >= 0 && !values.contains(dir.values.get(partitionColumn, dataType))) Nil
      else dir.files.flatMap { fm =>
        val f = footerOf(fm.fileStatus)
        val kept = if (partitionColumn >= 0) f.groups else mayHold(conf, f, column, external)
        val path = SparkPath.fromFileStatus(fm.fileStatus)
        val size = fm.fileStatus.getLen
        // a whole file reads as one split; a part of it, one per row group
        if (kept.size == f.groups.size && kept.nonEmpty)
          Seq((PartitionedFile(dir.values, path, 0, size, Array.empty, fm.fileStatus.getModificationTime, size),
            kept))
        else kept.map(g => (PartitionedFile(dir.values, path, g.start, g.length, Array.empty,
          fm.fileStatus.getModificationTime, size), Seq(g)))
      }
    }
    val bytes = splits.map(_._2.map(_.length).sum).sum
    Option.when(bytes <= maxBytes) {
      val reader = readerOf(relation)
      val rows = Seq.newBuilder[InternalRow]
      splits.foreach { case (file, _) =>
        val it = reader(file)
        try it.foreach(r => if (keep.eval(r) == true) rows += r.copy())
        finally it match {
          case c: java.io.Closeable => c.close()
          case _ =>
        }
      }
      val out = rows.result()
      spark.sparkContext.listenerBus.post(Read(
        dirs.flatMap(_.files.map(_.getPath.toString)), splits.map(_._1.toPath.toString).distinct,
        splits.map(_._2.size).sum, bytes, splits.flatMap(_._2).map(_.keyStats.getRowCount).sum,
        out.size))
      GraftKeyedIndex.localFrame(spark, relation.schema, out)
    }
  }

  /** A reader of one relation's files under the session's settings:
    * building one broadcasts the Hadoop configuration, so it is built once
    * per schema, options and settings, never once per read.
    */
  private final case class ReaderKey(sc: SparkContext, data: StructType,
                                     partition: StructType, options: Map[String, String],
                                     settings: Map[String, String], hadoopSettings: Int)

  private val readers =
    new ConcurrentHashMap[ReaderKey, PartitionedFile => Iterator[InternalRow]]()

  private def readerOf(relation: HadoopFsRelation): PartitionedFile => Iterator[InternalRow] = {
    val spark = relation.sparkSession
    val key = ReaderKey(spark.sparkContext, relation.dataSchema, relation.partitionSchema,
      relation.options, spark.sessionState.conf.getAllConfs,
      spark.sparkContext.hadoopConfiguration.size)
    Option(readers.get(key)).getOrElse {
      // a stopped context's readers can serve no read
      readers.keySet.removeIf(_.sc.isStopped)
      readers.computeIfAbsent(key, k =>
        relation.fileFormat.buildReaderWithPartitionValues(spark, k.data, k.partition, k.data,
          Nil, k.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
          relation.getHadoopConf(spark, k.options)))
    }
  }
}
