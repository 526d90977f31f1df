package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path, RawLocalFileSystem}
import scala.jdk.CollectionConverters._

/** The local filesystem under the `countfs` scheme, counting every file
  * it opens in its Hadoop statistics' `readOps` (the local filesystem
  * itself counts no read ops). A spec reads a local dir through it as
  * `countfs://<absolute path>` after [[OpenCountingFs.install]].
  */
class OpenCountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${OpenCountingFs.Scheme}:///")
  override def getScheme: String = OpenCountingFs.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    statistics.incrementReadOps(1)
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val Scheme = "countfs"

  def install(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[OpenCountingFs].getName)

  /** Files opened through the scheme so far. */
  def readOps: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == Scheme).map(_.getReadOps.toLong).sum
}
