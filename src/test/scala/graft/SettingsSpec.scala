package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `SPARK_GRAFT_*` name the program reads is listed in README's
  * settings list, and the list names nothing the program no longer
  * reads: a new knob needs a doc line a reviewer sees.
  */
class SettingsSpec extends AnyFunSuite {
  private val Knob = "SPARK_GRAFT_[A-Z_]+".r

  test("the SPARK_GRAFT_* names in src/main/scala are README's settings list") {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val inCode = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Knob.findAllIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
      .toSet
    finally walk.close()
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val listed = try readme.getLines()
      .dropWhile(_.trim != "### Settings").drop(1)
      .takeWhile(!_.startsWith("#"))
      .flatMap(Knob.findAllIn).toSet
    finally readme.close()
    assert(listed.size === 6)
    assert(inCode === listed)
  }
}
