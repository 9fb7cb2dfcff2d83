package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library takes its Hadoop settings from the session
  * (`sparkContext.hadoopConfiguration`, or the configuration Spark hands
  * a file source), never from a fresh `Configuration`, which sees none of
  * the session's filesystems, credentials or options. A fresh one also
  * re-parses Hadoop's default resources, ~10 ms a time.
  */
class HadoopConfSpec extends AnyFunSuite {

  /** Each `src/main/scala` source file with its text. */
  private def sources: List[(String, String)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toList
    finally walk.close()
  }

  /** The argument lists of every call to `callee` in `text`, each split at
    * its top-level commas.
    */
  private def calls(text: String, callee: String): Iterator[Seq[String]] =
    s"${java.util.regex.Pattern.quote(callee)}\\s*\\(".r.findAllMatchIn(text).map { m =>
      var depth = 1
      var i = m.end
      val args = Seq.newBuilder[String]
      var from = i
      while (depth > 0 && i < text.length) {
        text(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 1 => args += text.substring(from, i); from = i + 1
          case _ =>
        }
        i += 1
      }
      (args += text.substring(from, i - 1)).result().map(_.trim).filter(_.nonEmpty)
    }

  test("src/main/scala builds no Hadoop Configuration of its own") {
    val fresh = "new\\s+(org\\.apache\\.hadoop\\.conf\\.)?Configuration\\s*\\(\\s*\\)".r
    val sites = sources.flatMap { case (p, text) => fresh.findAllIn(text).map(_ => p) }
    assert(sites === Nil)
  }

  test("src/main/scala opens no Parquet file through read options it builds without one") {
    // `ParquetFileReader.open(file)` and `ParquetReadOptions.builder()`
    // each build a fresh Configuration inside parquet-hadoop
    val sites = sources.flatMap { case (p, text) =>
      calls(text, "ParquetFileReader.open").filter(_.size < 2).map(a => s"$p: open(${a.mkString})") ++
        calls(text, "ParquetReadOptions.builder").filter(_.isEmpty).map(_ => s"$p: builder()")
    }
    assert(sites === Nil)
  }

  test("the Parquet guard finds the calls it rejects and passes the ones with options") {
    val text = """ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
                 |ParquetFileReader.open(file, options)
                 |ParquetReadOptions.builder()
                 |ParquetReadOptions.builder(conf)""".stripMargin
    assert(calls(text, "ParquetFileReader.open").map(_.size).toList === List(1, 2))
    assert(calls(text, "ParquetReadOptions.builder").map(_.size).toList === List(0, 1))
  }
}
