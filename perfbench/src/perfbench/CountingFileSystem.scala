package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with call counters, registered for `file:` in
  * traced runs (`spark.hadoop.fs.file.impl`). Counts are JVM-wide. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(p: Path): Array[FileStatus] = {
    calls("list").incrementAndGet(); super.listStatus(p)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    calls("rename").incrementAndGet(); super.rename(src, dst)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    calls("create").incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    calls("delete").incrementAndGet(); super.delete(f, recursive)
  }
  override def exists(f: Path): Boolean = {
    calls("exists").incrementAndGet(); super.exists(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    calls("open").incrementAndGet()
    if (f.getName.endsWith(".parquet")) opened.put(f.toUri.getPath, java.lang.Boolean.TRUE)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val kinds: Seq[String] = Seq("list", "rename", "create", "delete", "exists", "open")
  val calls: Map[String, AtomicLong] = kinds.map(_ -> new AtomicLong).toMap
  /** Distinct parquet files opened since the last [[takeOpened]]. */
  private val opened = new ConcurrentHashMap[String, java.lang.Boolean]()

  def snapshot(): Map[String, Long] = calls.map { case (k, v) => k -> v.get }
  def takeOpened(): Set[String] = {
    val s = opened.keySet().toArray.map(_.toString).toSet
    opened.clear()
    s
  }
}
