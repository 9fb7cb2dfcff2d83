package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** `SparkSessions.local` against an already running session: Spark keeps
  * only runtime SQL settings, and the factory names every requested
  * setting that did not take effect.
  */
class SparkSessionsSpec extends SparkSpec {

  test("a warm session names the SPARK_GRAFT_SPARK_CONF keys it ignored") {
    val running = spark
    val partitions = running.conf.get("spark.sql.shuffle.partitions")
    // a warm getOrCreate copies the builder's non-static keys into the
    // shared session's settings; put them back for the suites after this one
    val sqlConf = running.sessionState.conf
    val before = sqlConf.getAllConfs
    val metastore = Files.createTempDirectory("graft_warm_metastore")
    try {
      val warnings = scala.collection.mutable.Buffer.empty[String]
      val s = SparkSessions.local(partitions, "graft-warm", Some(metastore.toString),
        Seq("spark.driver.maxResultSize" -> "7m",
          "spark.sql.shuffle.partitions" -> partitions),
        warnings += _)
      assert(s eq running, "getOrCreate returned the running session")
      assert(warnings.size === 1, warnings)
      assert(warnings.head.contains("spark.driver.maxResultSize"), warnings)
      assert(!warnings.head.contains("spark.sql.shuffle.partitions"),
        "a runtime SQL setting takes effect on a running session")
      assert(s.sparkContext.getConf.get("spark.driver.maxResultSize", "") != "7m")
      // nothing requested, nothing to report
      warnings.clear()
      SparkSessions.local(partitions, "graft-warm", Some(metastore.toString), Nil,
        warnings += _)
      assert(warnings.isEmpty)
    } finally {
      sqlConf.getAllConfs.keys.filterNot(before.contains).foreach(sqlConf.unsetConf)
      before.foreach { case (k, v) =>
        if (sqlConf.getConfString(k, null) != v) sqlConf.setConfString(k, v)
      }
      Files.walk(metastore).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
    assert(sqlConf.getAllConfs === before)
    assert(!Files.exists(metastore))
  }
}
