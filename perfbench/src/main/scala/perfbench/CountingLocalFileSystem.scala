package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting the metadata calls the engine's
  * commit protocols make. Installed as `fs.file.impl` in traced runs
  * only; behaviour is LocalFileSystem's. Checksum side files go through
  * the raw filesystem underneath and are not counted. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    val n = f.getName
    if (!n.startsWith("_") && !n.startsWith(".")) dataCreates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mkdirCalls.incrementAndGet()
    super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingLocalFileSystem {
  val creates = new AtomicLong
  val dataCreates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val mkdirCalls = new AtomicLong
  val lists = new AtomicLong

  def snapshot(): Map[String, Long] = Map(
    "creates" -> creates.get, "files_written" -> dataCreates.get,
    "renames" -> renames.get, "deletes" -> deletes.get,
    "mkdirs" -> mkdirCalls.get, "list_calls" -> lists.get)
}
