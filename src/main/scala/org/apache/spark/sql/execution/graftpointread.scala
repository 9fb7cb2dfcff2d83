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
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, HadoopFsRelation, PartitionDirectory, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetFooterReader}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** Bridge to Spark's Parquet reader for point reads on the driver: the
  * rows of a Parquet relation whose one column holds one of a few values,
  * read without a Spark job from only the pages that may hold them.
  *
  * The files are chosen by the check a scan task makes: Spark's Parquet
  * filter for `column IN (values)` over each row group's footer
  * statistics of the column. A file that lacks the column, or whose
  * statistics cannot be compared with the values, keeps every row group,
  * as in a scan. Each kept file is read by the reader a scan task runs
  * (Spark's `ParquetPartitionReaderFactory`), under the session's
  * settings, with the same `IN` pushed into it: the reader skips the row
  * groups and, through the file's page index, the pages that cannot hold
  * the values, and a declared column a file lacks reads as null.
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

  private[GraftPointRead] final case class RowGroup(length: Long, keyStats: BlockMetaData)

  /** A read's footprint, posted on the listener bus after each point read:
    * the files listed to it (`listed`), the files it opened, its row groups
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
      RowGroup(b.getCompressedSize, stats)
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

  /** The rows of files `dirs`, listed under the partition columns of
    * `relation`, whose `column`, of type `dataType`, holds one of `values`
    * (Catalyst values of that type), read on the driver from the files
    * with a row group that may hold them, when those row groups total at
    * most `maxBytes` compressed; None when they total more. Each such file
    * is read by a reader with `column IN (values)` pushed into it, so
    * Parquet's page index (its column and offset indexes) limits the rows
    * it decodes to the pages whose statistics may hold the values; a file
    * without a page index reads its kept row groups whole. The rows come
    * back as a driver-local frame of the relation's schema. `footerOf`
    * supplies each data file's [[Footer]] (its caller caches them).
    */
  def read(relation: HadoopFsRelation, dirs: Seq[PartitionDirectory], column: String,
           dataType: DataType, values: Seq[Any], maxBytes: Long,
           footerOf: FileStatus => Footer): Option[DataFrame] = {
    val spark = relation.sparkSession
    val conf = spark.sessionState.conf
    val ordinal = relation.schema.fieldNames.indexOf(column)
    require(ordinal >= 0, s"$column is not a column of $relation")
    val partitionColumn = relation.partitionSchema.fieldNames.indexOf(column)
    val external = values.map(CatalystTypeConverters.convertToScala(_, dataType)).toArray
    val keep = InSet(BoundReference(ordinal, dataType, nullable = true), values.toSet)
    val files = dirs.flatMap { dir =>
      if (partitionColumn >= 0 && !values.contains(dir.values.get(partitionColumn, dataType))) Nil
      else dir.files.flatMap { fm =>
        val f = footerOf(fm.fileStatus)
        val kept = if (partitionColumn >= 0) f.groups else mayHold(conf, f, column, external)
        val size = fm.fileStatus.getLen
        Option.when(kept.nonEmpty)((PartitionedFile(dir.values,
          SparkPath.fromFileStatus(fm.fileStatus), 0, size, Array.empty,
          fm.fileStatus.getModificationTime, size), kept))
      }
    }
    val bytes = files.map(_._2.map(_.length).sum).sum
    Option.when(bytes <= maxBytes) {
      // a partition column's values come from the directory, not the file
      val reader = readerOf(relation).copy(filters =
        if (partitionColumn >= 0) Array.empty else Array(sources.In(column, external)))
      val rows = Seq.newBuilder[InternalRow]
      var decoded = 0L
      def kept(r: InternalRow): Unit = {
        decoded += 1
        if (keep.eval(r) == true) rows += r.copy()
      }
      // a vectorized reader's batches carry the partition values already;
      // its rows would be projected one by one
      val batches = reader.supportColumnarReads(null)
      files.foreach { case (file, _) =>
        if (batches) {
          val it = reader.buildColumnarReader(file)
          try while (it.next()) it.get().rowIterator().forEachRemaining(kept(_))
          finally it.close()
        } else {
          val it = reader.buildReader(file)
          try while (it.next()) kept(it.get())
          finally it.close()
        }
      }
      val out = rows.result()
      spark.sparkContext.listenerBus.post(Read(
        dirs.flatMap(_.files.map(_.getPath.toString)), files.map(_._1.toPath.toString),
        files.map(_._2.size).sum, bytes, decoded, out.size))
      GraftKeyedIndex.localFrame(spark, relation.schema, out)
    }
  }

  /** A reader of one relation's files under the session's settings, with
    * no filter: a read copies it with its own. Preparing one broadcasts
    * the Hadoop configuration, so it is prepared once per schema, options
    * and settings, never once per read.
    */
  private final case class ReaderKey(sc: SparkContext, data: StructType,
                                     partition: StructType, options: Map[String, String],
                                     settings: Map[String, String], hadoopSettings: Int)

  private val readers = new ConcurrentHashMap[ReaderKey, ParquetPartitionReaderFactory]()

  private def readerOf(relation: HadoopFsRelation): ParquetPartitionReaderFactory = {
    val spark = relation.sparkSession
    val key = ReaderKey(spark.sparkContext, relation.dataSchema, relation.partitionSchema,
      relation.options, spark.sessionState.conf.getAllConfs,
      spark.sparkContext.hadoopConfiguration.size)
    Option(readers.get(key)).getOrElse {
      // a stopped context's readers can serve no read
      readers.keySet.removeIf(_.sc.isStopped)
      readers.computeIfAbsent(key, k =>
        // Spark's own scan prepares the configuration its reader reads
        ParquetScan(spark, relation.getHadoopConf(spark, k.options),
          relation.location.asInstanceOf[PartitioningAwareFileIndex], k.data, k.data,
          k.partition, Array.empty, new CaseInsensitiveStringMap(k.options.asJava))
          .createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory])
    }
  }
}
