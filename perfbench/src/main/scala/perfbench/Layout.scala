package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.model.{FeatureGroup, LakeSource}
import graft.sources.Lake

/** What a lake table leaves on disk. */
object Layout {

  def lakeRoot(fg: FeatureGroup): String = fg.source match {
    case LakeSource(root) => root
    case other => throw new IllegalArgumentException(s"not a lake group: $other")
  }

  /** (regular files, bytes) under `dir`. */
  def files(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L))((a, p) => (a._1 + 1, a._2 + Files.size(p)))
    finally s.close()
  }

  /** Commit count, files and bytes of the given lake roots. */
  def recordLake(ctx: Ctx, roots: Seq[String]): Unit = {
    val commits = roots.map(r => Lake.listCommits(ctx.spark, r).size).sum
    val (n, bytes) = roots.map(r => files(Paths.get(r)))
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    ctx.extras("lake.commits") = (commits.toDouble, "count")
    ctx.extras("lake.files_written") = (n.toDouble, "count")
    ctx.extras("lake.bytes_written") = (bytes.toDouble, "bytes")
  }

  /** Bytes under the lake root over the bytes of its live snapshot
    * written once as parquet.
    */
  def spaceAmp(ctx: Ctx, fg: FeatureGroup): Double = {
    val root = lakeRoot(fg)
    val once = ctx.work("space_probe").resolve("snapshot")
    Lake.snapshot(ctx.spark, root, fg, None).write.parquet(once.toString)
    files(Paths.get(root))._2.toDouble / files(once)._2
  }
}
