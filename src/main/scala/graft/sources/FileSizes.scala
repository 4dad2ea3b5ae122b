package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Per-file BYTE SIZES recorded with each commit — the `AddFile.size`
  * half of the Delta log entry shape, on this format's sidecar layout
  * (a `_sizes/sizes.tsv` beside `_stats`, invisible to snapshot scans).
  *
  * WHY a recorded size table exists at all: [[VersionedTable]]'s
  * maintenance policy ([[VersionedTable.maintenanceReport]]) and the
  * compact/optimize file-count targets need every data file's length.
  * Resolving those from the filesystem costs one `getFileStatus` per
  * file — at 100 TB / 128 MiB files that is ~800k serial metadata RPCs
  * on the driver per maintenance tick, which is exactly the walk Delta
  * avoids by recording `size` per AddFile at commit time. Here the
  * commit lists its staged files once (the listing that also keys their
  * footer stats), and that listing's `FileStatus` rows carry the lengths:
  * no per-file stat. Manifest commits carry kept files' rows forward the
  * same way the stats table does, through the one record writer
  * (`VersionedTable.recordFiles`) that writes this table.
  *
  * A version whose table write failed (the commit never blocks on it)
  * resolves missing entries through ONE distributed `getFileStatus` job
  * ([[statRefs]] — the [[TableStats]] distributed-footer pattern), so
  * the driver never loops over O(files) metadata I/O on any road.
  *
  * Keys are root-relative refs (`vNNNNNNNN/rel`, or fs-qualified
  * absolute for a shallow clone or CONVERT), exactly the strings
  * [[VersionedTable.dataFileRefs]] returns — the key of every in-memory
  * file record (only a plain version's stats table keeps dir-relative
  * keys on disk). */
object FileSizes {

  private val SizesDirName = "_sizes"

  /** Refs at or below this resolve missing sizes on the driver — a
    * three-file table must not pay a Spark-job launch. Above it,
    * one job stats the refs in parallel (one task per slice). */
  private val DriverStatBudget = 64

  private def sizesFile(dir: Path) = new Path(new Path(dir, SizesDirName), "sizes.tsv")

  /** Overwrite the size table under `dir/_sizes`. Refs are URL-encoded so
    * names containing tabs/newlines round-trip (the stats-table rule). */
  def write(f: FileSystem, dir: Path, rows: Seq[(String, Long)]): Unit = {
    val out = f.create(sizesFile(dir), true)
    try out.write(rows.map { case (ref, len) =>
      s"${java.net.URLEncoder.encode(ref, "UTF-8")}\t$len"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The recorded table, empty when absent (its write failed).
    *
    * DRIVER-MEMORY BUDGET: materializes one (ref, len) entry per data
    * file — ~100 bytes/entry, so ~80 MB at 800k files (100 TB /
    * 128 MiB) — the same O(files) driver-state class as Delta's
    * snapshot AddFile list, and strictly smaller than the stats table
    * loaded beside it. Grows with FILE COUNT, never bytes; compaction
    * keeps it bounded. */
  def load(f: FileSystem, dir: Path): Map[String, Long] =
    // one direct open: an absent table reads empty
    VersionedTable.readTextIfExists(f, sizesFile(dir)).map { text =>
      text.split('\n').filter(_.nonEmpty).toSeq.map { line =>
        val a = line.split('\t')
        java.net.URLDecoder.decode(a(0), "UTF-8") -> a(1).toLong
      }.toMap
    }.getOrElse(Map.empty)

  /** Resolve refs' byte sizes from the filesystem — the fallback for
    * files no commit recorded. Driver-side below [[DriverStatBudget]];
    * beyond it a Spark job stats one slice of refs per task and only the
    * O(files) (ref, len) pairs return to the driver. Refs resolve
    * against `root` exactly as every read site does
    * (`new Path(root, ref)` — absolute refs pass through unchanged),
    * but each ref's FILESYSTEM resolves from the ref's own resolved
    * path, not root's: a shallow clone's absolute ref can live on a
    * different scheme/authority than the clone itself (root's FS would
    * throw Wrong-FS). `FileSystem.get` caches per (scheme, authority,
    * ugi), so same-store refs — the overwhelming case — pay one lookup.
    * A ref whose size can't be stat'ed (store gone, permission) degrades
    * to ABSENT rather than failing the whole maintenance tick — callers
    * already treat missing entries as unsized. */
  def statRefs(spark: SparkSession, root: String, refs: Seq[String]): Map[String, Long] = {
    def statOne(conf: org.apache.hadoop.conf.Configuration)(r: String): Option[(String, Long)] = {
      val p = new Path(root, r)
      try Some(r -> p.getFileSystem(conf).getFileStatus(p).getLen)
      catch { case _: java.io.IOException | _: IllegalArgumentException => None }
    }
    if (refs.isEmpty) Map.empty
    else if (refs.size <= DriverStatBudget) {
      val conf = spark.sparkContext.hadoopConfiguration
      refs.flatMap(statOne(conf)).toMap
    } else {
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val slices = math.min(refs.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(refs, slices)
        .mapPartitions(it => it.flatMap(statOne(hconf.value)))
        .collect().toMap
    }
  }
}
