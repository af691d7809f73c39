package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop FileSystem with per-call counters, installed for the
  * `file` scheme in traced runs. Only paths under [[CountingFs.scope]] (the
  * lake roots and gate scratch directories, not the generated inputs) are
  * counted. Code that bypasses Hadoop (`java.nio`, `java.io.File`) is not
  * seen.
  */
final class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def counted(p: Path, c: AtomicLong): Unit = if (inScope(p)) { c.incrementAndGet(); () }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    counted(f, opens); super.open(f, bufferSize)
  }

  override protected def openFileWithOptions(path: Path, parameters: OpenFileParameters)
      : java.util.concurrent.CompletableFuture[FSDataInputStream] = {
    counted(path, opens); super.openFileWithOptions(path, parameters)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    wrap(f, super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    wrap(f, super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    if (inScope(dst)) {
      renames.incrementAndGet()
      if (ok && VersionDir.pattern.matcher(dst.getName).matches()) commits.incrementAndGet()
    }
    ok
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    counted(f, deletes); super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    counted(f, lists); super.listStatus(f)
  }

  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    counted(p, lists); super.listStatusIterator(p)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    counted(f, lists); super.listLocatedStatus(f)
  }

  private def wrap(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!inScope(f)) out
    else {
      creates.incrementAndGet()
      if (f.getName.endsWith(".parquet")) filesWritten.incrementAndGet()
      new FSDataOutputStream(out, bytes)
    }
}

object CountingFs {
  private val VersionDir = raw"version=v\d+".r

  val opens = new AtomicLong
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val lists = new AtomicLong
  val commits = new AtomicLong
  val filesWritten = new AtomicLong
  /** Bytes written through counted output streams. */
  val bytes = new FileSystem.Statistics("perfbench")

  @volatile var scope: Seq[String] = Nil

  def inScope(p: Path): Boolean = {
    val s = p.toUri.getPath
    s != null && scope.exists(s.startsWith)
  }

  /** Make this class the cached FileSystem for `file:` before Spark starts,
    * so every `FileSystem.get` in the JVM (drivers and local executors)
    * returns it.
    */
  def install(): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[CountingFs].getName)
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    require(fs.isInstanceOf[CountingFs], s"file: resolved to ${fs.getClass}")
  }

  def snapshot(): Map[String, Double] = Map(
    "lake.fs_list" -> lists.get.toDouble,
    "lake.fs_create" -> creates.get.toDouble,
    "lake.fs_rename" -> renames.get.toDouble,
    "lake.fs_delete" -> deletes.get.toDouble,
    "lake.fs_open" -> opens.get.toDouble,
    "lake.files_written" -> filesWritten.get.toDouble,
    "lake.bytes_written" -> bytes.getBytesWritten.toDouble,
    "lake.commits" -> commits.get.toDouble)
}
