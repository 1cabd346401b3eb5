package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** The local `file` FileSystem, counting and timing every call that goes
  * through it. The traced run installs it with `spark.hadoop.fs.file.impl`
  * and disables the FileSystem cache for the scheme, so every
  * `Path.getFileSystem` (table scans, the shard store, Parquet writes and
  * commits) gets an instance of this class. Each call is kept as an `fs`
  * span; `task` marks calls made from inside a Spark task. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.timed

  override def listStatus(p: Path): Array[FileStatus] = timed("list")(super.listStatus(p))
  override def getFileStatus(p: Path): FileStatus = timed("status")(super.getFileStatus(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    timed("open")(super.open(p, bufferSize))
  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    timed("create")(super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = timed("rename")(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean = timed("delete")(super.delete(p, recursive))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    timed("mkdirs")(super.mkdirs(p, permission))
}

object CountingFileSystem {
  private val calls = new ConcurrentLinkedQueue[Span]()

  // a call made inside another (rename checking its target, say) is
  // already covered by the outer call's interval: keep the outermost only
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def timed[T](kind: String)(body: => T): T = {
    val outer = depth.get == 0
    depth.set(depth.get + 1)
    val t0 = Clock.nowMs
    try body
    finally {
      depth.set(depth.get - 1)
      if (outer)
        calls.add(Span("fs", kind, -1, t0, Clock.nowMs, Map("task" -> (TaskContext.get() != null))))
    }
  }

  /** Bytes read and written through every `file`-scheme FileSystem so far. */
  def bytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Removes and returns every call recorded so far. */
  def drain(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = calls.poll()
    while (s != null) { out += s; s = calls.poll() }
    out.result()
  }
}
