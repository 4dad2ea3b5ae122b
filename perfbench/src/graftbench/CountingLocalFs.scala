package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocatedFileStatus, LocalFileSystem, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Operation counters for [[CountingLocalFs]]. Static, so the driver's
  * and the local executors' filesystem instances add into one set. Only
  * top-level calls count: the local filesystem's methods call each other
  * (open stats the file, delete lists the directory), while a store bills
  * one round trip per API call. */
object CountingLocalFs {
  val Ops: Seq[String] =
    Seq("create", "open", "rename", "delete", "list", "stat", "mkdirs")

  private val ops = new ConcurrentHashMap[String, LongAdder]()
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  private[graftbench] def counted[A](op: String)(body: => A): A = {
    val d = depth.get
    depth.set(d + 1)
    try {
      if (d == 0) ops.computeIfAbsent(op, _ => new LongAdder).increment()
      body
    } finally depth.set(d)
  }

  def snapshot(): Map[String, Long] =
    Ops.map(k => k -> Option(ops.get(k)).map(_.sum()).getOrElse(0L)).toMap
}

/** The `file` scheme's own filesystem (checksummed local fs) with every
  * top-level metadata and data call counted. It keeps the scheme `file`,
  * so the table format picks the same store adapter and commit road as an
  * uncounted run; a separate scheme would send commits down the generic
  * rename road. Installed for traced runs only, through `fs.file.impl`
  * in a `core-site.xml` on the classpath. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.counted

  override def create(
      p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create") {
      super.create(p, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }
  override def create(
      p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create") {
      super.create(p, overwrite, bufferSize, replication, blockSize, progress)
    }
  override def createNonRecursive(
      p: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create") {
      super.createNonRecursive(p, permission, flags, bufferSize, replication,
        blockSize, progress)
    }
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    counted("open") { super.open(p, bufferSize) }
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename") { super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted("delete") { super.delete(p, recursive) }
  override def listStatus(p: Path): Array[FileStatus] =
    counted("list") { super.listStatus(p) }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
    counted("list") { super.listLocatedStatus(p) }
  override def getFileStatus(p: Path): FileStatus =
    counted("stat") { super.getFileStatus(p) }
  override def mkdirs(p: Path): Boolean =
    counted("mkdirs") { super.mkdirs(p) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    counted("mkdirs") { super.mkdirs(p, permission) }
}
