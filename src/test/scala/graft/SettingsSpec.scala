package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Every `SPARK_GRAFT_*` name and every `spark.graft.*` session setting
  * the program reads is listed in README's settings list, and the list
  * names nothing the program no longer reads: a new knob needs a line in
  * the README.
  */
class SettingsSpec extends AnyFunSuite {
  private val Knob = "SPARK_GRAFT_[A-Z_]+".r
  private val SessionKey = "spark\\.graft(\\.[a-zA-Z]+)+".r

  private def inCode(names: Regex): Set[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => names.findAllIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
      .toSet
    finally walk.close()
  }

  private def listed(names: Regex): Set[String] = {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    try readme.getLines()
      .dropWhile(_.trim != "### Settings").drop(1)
      .takeWhile(!_.startsWith("#"))
      .flatMap(names.findAllIn).toSet
    finally readme.close()
  }

  test("the SPARK_GRAFT_* names in src/main/scala are README's settings list") {
    assert(listed(Knob).size === 6)
    assert(inCode(Knob) === listed(Knob))
  }

  test("the spark.graft.* keys in src/main/scala are README's settings list") {
    assert(listed(SessionKey) === Set("spark.graft.materialize.mode"))
    assert(inCode(SessionKey) === listed(SessionKey))
  }
}
