package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._

import graft.catalog.FeatureStore
import graft.model.{Feature, FeatureGroup, LakeSource}
import graft.sources.{DeltaLite, Lake}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{LongType, StringType}

/** The lake's commit log: which filesystem it resolves, what a read costs
  * in I/O, and what concurrent writers leave behind.
  */
class LakeLogSpec extends SparkSpec {
  import spark.implicits._

  private def register(): Unit = spark.sparkContext.hadoopConfiguration
    .set(s"fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)

  private def countfsDir(prefix: String): String =
    s"${CountingFs.Scheme}://${Files.createTempDirectory(prefix)}"

  private def group(root: String): FeatureGroup = FeatureGroup("c",
    features = Seq(Feature("id", LongType, primary = true),
      Feature("v", StringType)),
    primaryKey = Seq("id"), source = LakeSource(root))

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Root paths the scan of `df` hands Spark's file index. */
  private def rootPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths }
      .flatten.map(_.toUri.getPath)

  test("log and lake resolve a scheme registered only on the session") {
    register()
    val dir = countfsDir("graft_countfs")
    // DeltaLite first: once Lake has resolved the scheme, Hadoop's
    // FileSystem cache would hand the log that instance whatever
    // configuration the log passed
    val t = s"$dir/delta"
    DeltaLite.create(Seq((1L, "a")).toDF("id", "v"), t)
    DeltaLite.append(Seq((2L, "b")).toDF("id", "v"), t)
    assert(DeltaLite.snapshot(spark, t).count() === 2)

    val fg = group(s"$dir/lake")
    val root = s"$dir/lake"
    Lake.create(spark, root, fg, Seq((1L, "a")).toDF("id", "v"))
    Lake.upsert(spark, root, fg, Seq((1L, "b"), (2L, "c")).toDF("id", "v"))
    assert(rows(Lake.snapshot(spark, root, fg, None)) ===
      Map(1L -> "b", 2L -> "c"))
    assert(CountingFs.opened.asScala.exists(p =>
      p.contains("/lake/_delta_log/") && p.endsWith(".json")))
  }

  test("a latest snapshot after 25 upserts: log tail only, one path a commit") {
    register()
    val root = s"${countfsDir("graft_countfs_io")}/lake"
    val fg = group(root)
    Lake.create(spark, root, fg, Seq((0L, "v0")).toDF("id", "v"))
    (1 to 25).foreach { i =>
      Lake.upsert(spark, root, fg, Seq((0L, s"v$i"), (i.toLong, "x")).toDF("id", "v"))
    }
    val live = Lake.listCommits(spark, root)
    assert(live.size === 26)

    CountingFs.reset()
    val snap = Lake.snapshot(spark, root, fg, None)
    val data = new org.apache.hadoop.fs.Path(s"$root/data").toUri.getPath
    val listed = CountingFs.listed.asScala.toSeq
    val jsonOpened = CountingFs.opened.asScala.count(_.endsWith(".json"))
    val roots = rootPaths(snap)
    info(s"${listed.size} listings (${listed.count(_.startsWith(data))} under data/), " +
      s"$jsonOpened log JSON opens, ${roots.size} root paths")

    // commits resolve from the log: data/ itself and its `_tx=` level are
    // never listed; Spark's file index lists only the live commit
    // directories it was handed (and below)
    assert(!listed.contains(data), listed)
    assert(listed.filter(_.startsWith(data)).forall(p =>
      roots.exists(r => p == r || p.startsWith(r + "/"))), listed)
    assert(jsonOpened <= DeltaLite.CheckpointInterval, CountingFs.opened)
    assert(roots.size === live.size && roots.distinct.size === live.size)
    assert(roots.size <
      spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
    assert(rows(snap) === ((1 to 25).map(i => i.toLong -> "x").toMap +
      (0L -> "v25")))
  }

  test("concurrent writers: distinct ordered commits, model snapshot") {
    val fs = new FeatureStore(spark,
      warehouseDir = Files.createTempDirectory("graft_lake_conc").toString)
    val fg = fs.createFeatureGroup("conc",
      (0L until 10L).map(k => (k, "init")).toDF("id", "v"), Seq("id"))
    val root = fg.source.asInstanceOf[LakeSource].root
    val t0 = Lake.listCommits(spark, root).head

    // every batch rewrites the shared keys 0..9 and adds one key of its own
    def batch(w: Int, r: Int): Seq[(Long, String)] =
      (0L until 10L).map(k => (k, s"w$w-r$r")) :+ ((100L * (w + 1) + r, s"w$w-r$r"))
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val acked = try {
      val futures = (0 until 4).map { w =>
        pool.submit(new Callable[Seq[(Lake.CommitMeta, Seq[(Long, String)])]] {
          def call() = {
            start.await()
            (0 until 5).map(r => fs.insert(fg, batch(w, r).toDF("id", "v")) -> batch(w, r))
          }
        })
      }
      start.countDown()
      futures.flatMap(_.get())
    } finally pool.shutdown()

    val listed = Lake.listCommits(spark, root)
    assert(listed.size === 21 && listed.distinct.size === 21)
    assert(listed === listed.sorted)
    assert(acked.forall { case (m, _) => listed.contains(m.commitTime) })
    assert(acked.forall { case (m, b) => m.rowsInserted + m.rowsUpdated == b.size })

    // each commit has its own directory: one `_tx=` per live commit
    val txDirs = new java.io.File(s"$root/data").listFiles()
    assert(txDirs.length === 21)
    assert(txDirs.forall(_.listFiles().count(_.getName.startsWith("_commit_time=")) == 1))

    // the model applies the batches in commit-time order; every
    // acknowledged commit reads back as of its own time
    val models = acked.sortBy(_._1.commitTime).scanLeft(
      t0 -> (0L until 10L).map(k => k -> "init").toMap) {
      case ((_, m), (meta, b)) => meta.commitTime -> (m ++ b)
    }
    assert(rows(Lake.snapshot(spark, root, fg, None)) === models.last._2)
    models.foreach { case (t, m) =>
      assert(rows(Lake.snapshot(spark, root, fg, Some(t))) === m, s"as of $t")
    }
  }
}
