package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `failfs` scheme, whose output streams
  * fail once [[FailingFs.failAfter]] bytes have been written to a file
  * (checksum files excepted): the bytes before that point reach the disk,
  * as in a write cut short by a full disk or a crash. Negative = never
  * fail. Register it with
  * `hadoopConfiguration.set("fs.failfs.impl", classOf[FailingFs].getName)`.
  */
class FailingFs extends LocalFileSystem(new FailingFs.Raw) {
  override def getScheme: String = FailingFs.Scheme
}

object FailingFs {
  val Scheme = "failfs"
  val failAfter = new AtomicLong(-1L)

  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")

    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream =
      cut(f, super.create(f, overwrite, bufferSize, replication, blockSize,
        progress))

    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream =
      cut(f, super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress))

    private def cut(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
      val budget = failAfter.get
      if (budget < 0 || f.getName.endsWith(".crc")) out
      else new FSDataOutputStream(new OutputStream {
        private var written = 0L
        override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          val room = math.min(math.max(0L, budget - written), len.toLong).toInt
          out.write(b, off, room)
          written += room
          if (room < len) {
            out.flush()
            throw new IOException(s"failfs: write cut at $budget bytes")
          }
        }
        override def flush(): Unit = out.flush()
        override def close(): Unit = out.close()
      }, null)
    }
  }
}
