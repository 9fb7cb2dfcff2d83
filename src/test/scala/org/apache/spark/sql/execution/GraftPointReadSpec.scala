package org.apache.spark.sql.execution

import graft.SparkSpec
import graft.catalog.FeatureStore
import graft.model.LakeSource
import graft.sources.Lake
import org.apache.spark.SparkEnv

class GraftPointReadSpec extends SparkSpec {
  import spark.implicits._

  /** Broadcast blocks the driver's block manager holds. */
  private def broadcasts(): Set[org.apache.spark.storage.BlockId] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast).toSet

  test("driver point reads with distinct keys create no broadcast") {
    val fs = new FeatureStore(spark, warehouseDir = tempDir("graft_pointread").toString)
    val fg = fs.createFeatureGroup("tbcast",
      spark.range(0, 5000).selectExpr("id", "concat('b', id) AS v").repartition(2),
      primaryKey = Seq("id"))
    fs.insert(fg, (4000L until 5500L).map(k => (k, s"u$k")).toDF("id", "v"))
    val root = fg.source.asInstanceOf[LakeSource].root
    def lookup(key: Long) = Lake.snapshot(spark, root, fg, None, Some(Seq(key).toDF("id")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def expected(key: Long) = Map(key -> (if (key >= 4000L) s"u$key" else s"b$key"))
    // they run no Spark job, so no task binary is broadcast either
    val (_, jobs, reads) = pointReads(Seq(1L, 4001L).map(lookup))
    assert(jobs === 0 && reads.size === 2, reads)
    // the first read prepared the reader, which broadcast its configuration
    val before = broadcasts()
    val keys = (0 until 20).map(250L * _ + 7)
    assert(keys.map(lookup) === keys.map(expected))
    assert(broadcasts() -- before === Set.empty)
  }
}
