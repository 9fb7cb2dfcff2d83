package graft

import java.io.IOException
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.catalog.{FeatureStore, JsonDocs}
import graft.model.{Feature, FeatureGroup, ParquetSource}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.json4s._

/** Catalog documents are replaced whole or not at all: a write the
  * filesystem cuts short leaves the previous document readable and the
  * warehouse openable.
  */
class CatalogWriteSpec extends SparkSpec {

  /** Runs `body` on a fresh `failfs://` directory, deleted afterwards. */
  private def withFailfsDir[T](prefix: String)(body: String => T): T = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${FailingFs.Scheme}.impl", classOf[FailingFs].getName)
    val dir = tempDir(prefix)
    try body(s"${FailingFs.Scheme}://$dir") finally Bench.deleteRecursively(dir)
  }

  /** Runs `body` with every non-checksum file write cut after `bytes`. */
  private def cutAfter[T](bytes: Long)(body: => T): T = {
    FailingFs.failAfter.set(bytes)
    try body finally FailingFs.failAfter.set(-1L)
  }

  private val group = FeatureGroup("atomic",
    features = Seq(Feature("id", LongType, primary = true)),
    primaryKey = Seq("id"), source = ParquetSource("/data/atomic"))

  test("a failed group write keeps the first definition; the warehouse opens") {
    withFailfsDir("graft_failfs") { wh =>
      new FeatureStore(spark, warehouseDir = wh).register(group)
      val store = new FeatureStore(spark, warehouseDir = wh)
      intercept[IOException] {
        cutAfter(16) {
          store.register(group.copy(
            features = group.features :+ Feature("x", DoubleType)))
        }
      }
      assert(store.getFeatureGroup("atomic") === group)
      val reopened = new FeatureStore(spark, warehouseDir = wh)
      assert(reopened.featureGroups === Seq(group))
    }
  }

  test("JsonDocs: a cut put keeps the old document and leaves no staged file") {
    withFailfsDir("graft_failfs_docs") { root =>
      val dir = s"$root/_kind"
      val local = Paths.get(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
      def files = {
        val ls = Files.list(local)
        try ls.iterator().asScala.map(_.getFileName.toString).toSet
        finally ls.close()
      }
      val docs = JsonDocs(spark, dir)
      val v1 = JObject("v" -> JInt(1))
      val v2 = JObject("v" -> JInt(2))
      assert(docs.ids === Nil)
      assert(docs.get("a") === None)
      docs.put("a", v1)
      intercept[IOException](cutAfter(3)(docs.put("a", v2)))
      assert(docs.get("a") === Some(v1))
      assert(files === Set("a.json", ".a.json.crc"))

      // a staged write a crashed process left behind is not a document
      Files.write(local.resolve(".b.json.0000.tmp"), "{\"v\"".getBytes("UTF-8"))
      assert(docs.ids === Seq("a"))

      docs.put("a", v2)
      docs.put("c", v1)
      assert(docs.get("a") === Some(v2))
      assert(docs.ids === Seq("a", "c"))
      docs.remove("a")
      assert(docs.get("a") === None)
      assert(docs.ids === Seq("c"))
    }
  }
}
