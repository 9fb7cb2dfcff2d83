package graft

import scala.jdk.CollectionConverters._

/** Metastore persistence across REAL process restarts: fork
  * MetastoreCheck twice (write-phase JVM, then a fresh read-phase JVM
  * against the same Derby dir) and assert the catalog alone brings the
  * managed + external tables back. Forked because Derby is
  * one-JVM-per-database — which is exactly what makes the second phase
  * an honest restart rather than a same-process cache hit.
  */
class MetastoreSpec extends SparkSpec {

  private def fork(args: Seq[String]): Seq[String] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(javaBin, "-Xmx2g", "-cp", cp,
      "graft.tools.MetastoreCheck") ++ args
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().toList
    val rc = proc.waitFor()
    assert(rc == 0, s"MetastoreCheck ${args.head} failed:\n" +
      out.takeRight(30).mkString("\n"))
    out
  }

  test("managed + external tables survive a process restart") {
    val msDir = tempDir("graft_ms_spec").toString
    val w = fork(Seq("write", msDir, sfDir))
    val wLine = w.find(_.startsWith("GRAFT_MS_WRITE")).getOrElse(
      fail(s"no write marker in:\n${w.takeRight(20).mkString("\n")}"))
    assert(wLine.contains("managed=25") && wLine.contains("external=5"),
      wLine)
    val r = fork(Seq("read", msDir))
    val rLine = r.find(_.startsWith("GRAFT_MS_READ")).getOrElse(
      fail(s"no read marker in:\n${r.takeRight(20).mkString("\n")}"))
    assert(rLine.contains("graft_ms_nation") &&
      rLine.contains("graft_ms_region"), rLine)
    assert(rLine.contains("managed=25") && rLine.contains("joined=25"),
      rLine)
    assert(rLine.contains("src=managed"), rLine)
  }
}
