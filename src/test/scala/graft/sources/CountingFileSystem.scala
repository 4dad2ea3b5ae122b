package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only `cnt://` filesystem: a local fs that COUNTS every metadata
  * and data operation the engine issues — the object-store cost model
  * made measurable. On S3-class stores each of these ops is one HTTPS
  * round trip (~10–50 ms), so "ops per commit" here IS the latency
  * budget a micro-batch commit pays at 100 TB; the local-fs bench hides
  * it behind ~µs syscalls. Counters are static (Spark's executor-side
  * instances aggregate into the same JVM under local[n]); resolving
  * through [[StoreAdapter]] takes the generic RENAME road (not the
  * local fast path), exactly what a portable object store would run. */
object CountingFileSystem {
  private val ops = new ConcurrentHashMap[String, LongAdder]()
  // RawLocal's API calls nest (open() stats internally, delete lists) —
  // an object store bills the TOP-LEVEL call as one round trip, so only
  // depth-0 entries count
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  def enter(): Boolean = { val d = depth.get; depth.set(d + 1); d == 0 }
  def exit(): Unit = depth.set(depth.get - 1)
  // the path of every counted create, open, list and stat, for specs
  // that count how often one table's files are written, read or probed
  private val paths =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[String]]()
  def reset(): Unit = { ops.clear(); paths.clear() }
  def pathsOf(op: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Option(paths.get(op)).map(_.asScala.toSeq).getOrElse(Nil)
  }
  def openedPaths(): Seq[String] = pathsOf("open")
  def recordPath(op: String, p: String): Unit =
    paths.computeIfAbsent(op,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]()).add(p)
  def add(op: String): Unit =
    ops.computeIfAbsent(op, _ => new LongAdder).increment()
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    ops.asScala.map { case (k, v) => k -> v.sum() }.toMap
  }
  def total(): Long = snapshot().values.sum
}

class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem.{add, enter, exit}
  override def getScheme: String = "cnt"
  override def getUri: java.net.URI = java.net.URI.create("cnt:///")

  private def counted[A](op: String, path: Option[Path] = None)(body: => A): A = {
    val top = enter()
    try {
      if (top) { add(op); path.foreach(p => CountingFileSystem.recordPath(op, p.toString)) }
      body
    } finally exit()
  }

  override def create(
      p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", Some(p)) {
      super.create(p, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }
  // RawLocal's permission-less create chain does NOT funnel through the
  // permission overload (FileSystem.create(Path, boolean) resolves
  // here) — divert both, or writes go uncounted
  override def create(
      p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create", Some(p)) {
      super.create(p, overwrite, bufferSize, replication, blockSize, progress)
    }
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    counted("open", Some(p)) { super.open(p, bufferSize) }
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename") { super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted("delete") { super.delete(p, recursive) }
  override def listStatus(p: Path): Array[FileStatus] =
    counted("list", Some(p)) { super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus =
    counted("stat", Some(p)) { super.getFileStatus(p) }
  // RawLocal answers exists() without getFileStatus; on a store it is
  // the same one-request stat
  override def exists(p: Path): Boolean =
    counted("stat", Some(p)) { super.exists(p) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    counted("mkdirs") { super.mkdirs(p, permission) }
}
