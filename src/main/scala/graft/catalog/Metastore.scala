package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Metastore-backed table storage — the reference's "save feature group
  * to the Hive metastore / read via `spark.table`" path
  * (engine/spark.py:160-163, and the managed-table registration
  * `_save_offline_dataframe` drives). Backed by a REAL
  * HiveExternalCatalog (embedded Derby; jars ship with this Spark), so
  * tables survive session AND process restarts — proven across forked
  * JVMs by `MetastoreSpec` (through its probe `graft.tools.MetastoreCheck`,
  * which lives beside the specs), not just within a session.
  *
  * The catalog stores table metadata (schema, partitioning, location);
  * the data itself is parquet under the warehouse dir — identical file
  * layout to a path-based write, so every scan optimization (pushdown,
  * pruning, partition pruning on `partitionBy` columns) applies
  * unchanged. On a cluster the same four calls run against the shared
  * metastore service; nothing here is local-mode-specific.
  */
object Metastore {

  /** Save `df` as a MANAGED table (data + metadata owned by the
    * catalog). `partitionBy` columns become hive partitions — the
    * coarse pruning axis for time/category scans.
    */
  def saveManaged(df: DataFrame, table: String,
                  partitionBy: Seq[String] = Nil,
                  mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .saveAsTable(table)
  }

  /** Register an EXTERNAL table over existing parquet files — metadata
    * in the catalog, data left in place (the external-feature-group
    * shape).
    */
  def saveExternal(spark: SparkSession, table: String, path: String): Unit =
    spark.catalog.createTable(table, path, "parquet")

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  def listTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq

  def dropTable(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")
}
