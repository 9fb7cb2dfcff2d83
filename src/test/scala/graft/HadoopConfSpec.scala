package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library takes its Hadoop settings from the session
  * (`sparkContext.hadoopConfiguration`, or the configuration Spark hands
  * a file source), never from a fresh `Configuration`, which sees none of
  * the session's filesystems, credentials or options.
  */
class HadoopConfSpec extends AnyFunSuite {
  test("src/main/scala builds no Hadoop Configuration of its own") {
    val fresh = "new\\s+(org\\.apache\\.hadoop\\.conf\\.)?Configuration\\s*\\(\\s*\\)".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sites =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          fresh.findAllIn(text).map(_ => p.toString)
        }.toList
      finally walk.close()
    assert(sites === Nil)
  }
}
