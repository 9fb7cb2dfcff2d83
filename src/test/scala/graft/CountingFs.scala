package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local filesystem under the `countfs` scheme, recording every path
  * it lists or opens. Register it with
  * `hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)`.
  */
class CountingFs extends LocalFileSystem(new CountingFs.Raw) {
  override def getScheme: String = CountingFs.Scheme
}

object CountingFs {
  val Scheme = "countfs"
  val listed = new ConcurrentLinkedQueue[String]()
  val opened = new ConcurrentLinkedQueue[String]()

  def reset(): Unit = { listed.clear(); opened.clear() }

  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def listStatus(f: Path): Array[FileStatus] = {
      listed.add(f.toUri.getPath)
      super.listStatus(f)
    }
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      opened.add(f.toUri.getPath)
      super.open(f, bufferSize)
    }
  }
}
