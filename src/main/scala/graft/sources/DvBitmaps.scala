package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-FILE deletion-vector bitmaps — the scan-integrated form of the
  * `_dv` sidecar (the Delta deletion-vector file idea: one compact
  * position set per data file, applied file-locally by whichever task
  * reads that file, with ZERO exchange on the data side).
  *
  * The row-level `_dv` parquet (file, pos) stays the source of truth —
  * oracle-checkable, join-able, size-gated for the broadcast fast path.
  * These bitmaps are a DERIVED index written in the same staging dir at
  * commit time, so they publish/travel/vacuum atomically with their
  * version. Above the broadcast threshold the masked read consults them
  * through [[graft.plans.DvContains]] instead of shuffling the entire
  * data side on (file, pos) — a 100 TB read between a large MOR delete
  * and compaction pays a per-task sidecar lookup, not a full sort-merge
  * exchange.
  *
  * Layout: `<version>/_dv/_bitmaps/<sha1hex(fileRef)>.bin` + a `_DONE`
  * marker after the last bitmap. One object per masked data file, named
  * by the hash of its root-relative ref — each scan task reads exactly
  * its own file's bitmap, O(own mask) bytes. (Delta additionally packs
  * multiple vectors into shared objects with offsets; one-object-per-file
  * keeps the lookup trivially addressable and is metadata-scale — the
  * bitmap count is bounded by the MASKED file count.) An absent bitmap
  * under a `_DONE`-marked dir means "no deletions in that file".
  *
  * Encoding per bitmap (magic 'D', then one encoding byte):
  *  - 0 SPARSE: count n, then n positions as big-endian longs, ascending
  *    (binary-searched at probe time);
  *  - 1 DENSE: maxPos, then a bitset of ceil((maxPos+1)/8) bytes
  *    (bit-tested at probe time).
  * The writer picks whichever is smaller — a 30%-deleted 1M-row file
  * costs 125 KB dense vs 2.4 MB sparse; a 10-row GDPR delete costs 90
  * bytes sparse. */
object DvBitmaps {
  val DirName = "_bitmaps"
  val DoneMarker = "_DONE"
  private val Magic: Byte = 'D'.toByte

  private[sources] def sha1hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  /** Bitmap object name for a data file's root-relative ref. */
  def binName(fileRef: String): String = sha1hex(fileRef) + ".bin"

  // ---- encoding -----------------------------------------------------------

  /** One file's mask fits neither encoding inside a single byte array
    * (sparse needs > 2 GiB of longs AND the dense bitset would too).
    * Derivation for the VERSION is then skipped — an absent `_DONE`
    * leaves the distributed-join road, which is correct at any size. */
  final class BitmapTooLargeException(n: Long, maxPos: Long)
    extends RuntimeException(
      s"deletion-vector bitmap too large to encode: $n positions, max $maxPos")

  /** Encode ascending positions, picking the smaller of sparse/dense.
    * Overflow-guarded on BOTH branches: a mask whose sparse form exceeds
    * `Int.MaxValue` bytes (≈268M positions) falls back to dense when the
    * dense bitset fits, and throws [[BitmapTooLargeException]] when
    * neither fits — a truncated `toInt` allocation would otherwise fail
    * the commit with an opaque negative-size error. */
  private[sources] def encode(sorted: Array[Long]): Array[Byte] = {
    val n = sorted.length
    require(n > 0, "empty bitmap: the writer must skip unmasked files")
    val maxPos = sorted(n - 1)
    val sparseBytes = 2 + 8 + 8L * n
    val denseBytes = 2 + 8 + (maxPos / 8 + 1)
    val denseFits = denseBytes <= Int.MaxValue.toLong
    val sparseFits = sparseBytes <= Int.MaxValue.toLong
    val buf =
      if (denseFits && (denseBytes < sparseBytes || !sparseFits)) {
        val b = java.nio.ByteBuffer.allocate(denseBytes.toInt)
        b.put(Magic).put(1: Byte).putLong(maxPos)
        val bits = new Array[Byte]((maxPos / 8 + 1).toInt)
        var i = 0
        while (i < n) {
          val p = sorted(i)
          bits((p >> 3).toInt) = (bits((p >> 3).toInt) | (1 << (p & 7)).toByte).toByte
          i += 1
        }
        b.put(bits)
        b
      } else if (sparseFits) {
        val b = java.nio.ByteBuffer.allocate(sparseBytes.toInt)
        b.put(Magic).put(0: Byte).putLong(n.toLong)
        var i = 0
        while (i < n) { b.putLong(sorted(i)); i += 1 }
        b
      } else throw new BitmapTooLargeException(n.toLong, maxPos)
    buf.array()
  }

  /** Probe a decoded bitmap. The byte array is probed in place — no
    * deserialization step, so a cached bitmap costs its own bytes once. */
  private[sources] def contains(bytes: Array[Byte], pos: Long): Boolean = {
    if (bytes.length < 2 || bytes(0) != Magic) return false
    val b = java.nio.ByteBuffer.wrap(bytes)
    b.position(2)
    bytes(1) match {
      case 0 => // sparse: binary search the sorted long block
        val n = b.getLong.toInt
        var lo = 0; var hi = n - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val v = b.getLong(10 + 8 * mid)
          if (v == pos) return true
          else if (v < pos) lo = mid + 1
          else hi = mid - 1
        }
        false
      case 1 => // dense: bit test
        val maxPos = b.getLong
        if (pos < 0 || pos > maxPos) false
        else (bytes(10 + (pos >> 3).toInt) & (1 << (pos & 7))) != 0
      case _ => false
    }
  }

  // ---- write side ---------------------------------------------------------

  /** Derive the per-file bitmaps from `<dvDir>` (the staged `_dv`
    * parquet) into `<dvDir>/_bitmaps`. One Spark job, O(mask) work: the
    * mask shuffles once on `file` (every position of one file lands in
    * one task), each task streams its sorted run and flushes one bitmap
    * per file boundary. Heap per task is bounded by the largest single
    * file's mask (a fully-deleted 128 MiB/1M-row file buffers 8 MB).
    * Runs BEFORE publish, inside the staging dir — crash leaves invisible
    * garbage, never a half-indexed published version.
    *
    * Returns true when the index fully derived (`_DONE` written). The
    * bitmaps are a DERIVED OPTIMIZATION, never correctness: on failure —
    * a single file's mask that fits neither encoding
    * ([[BitmapTooLargeException]]), or any store error — the half-built
    * dir is removed, no `_DONE` lands, reads keep the distributed-join
    * road, and the COMMIT proceeds (the same never-block-the-commit rule
    * as the stats and size records). */
  def write(spark: SparkSession, dvDir: Path): Boolean = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val outDir = new Path(dvDir, DirName)
    val fsc = dvDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsc.exists(outDir)) fsc.delete(outDir, true) // re-derive idempotently
    fsc.mkdirs(outDir)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val outStr = outDir.toString
    try {
      // the mask's part files, not the `_`-prefixed dir: Spark would log
      // a hidden root path as ignored
      val parts = fsc.listStatus(dvDir).map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .map(_.toString)
      spark.read.parquet(parts.toSeq: _*)
        .select(col("file").cast("string"), col("pos").cast("long"))
        .repartition(col("file"))
        .sortWithinPartitions("file", "pos")
        .as[(String, Long)]
        .foreachPartition { it: Iterator[(String, Long)] =>
          val f = new Path(outStr).getFileSystem(hconf.value)
          var curFile: String = null
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          def flush(): Unit = if (curFile != null && buf.nonEmpty) {
            // distinct within a file: commitCowInternal dedupes the union,
            // but a defensive dedupe here keeps the encoding's ascending
            // contract under any caller
            val sorted = buf.distinct.toArray
            java.util.Arrays.sort(sorted)
            val out = f.create(new Path(outStr, binName(curFile)), true)
            try out.write(encode(sorted)) finally out.close()
            buf.clear()
          }
          it.foreach { case (file, pos) =>
            if (file != curFile) { flush(); curFile = file }
            buf += pos
          }
          flush()
        }
      // the marker makes "fully derived" a single existence probe — and
      // distinguishes bitmap-carrying versions from pre-bitmap ones
      fsc.create(new Path(outDir, DoneMarker), true).close()
      true
    } catch {
      case e: Exception =>
        try fsc.delete(outDir, true) catch { case _: Exception => () }
        // a CANCELLED derivation (killed commit, interrupted driver) must
        // surface, not masquerade as a benign skip — the commit it belongs
        // to is being torn down and "proceed without bitmaps" would be the
        // wrong outcome; only genuine derivation failures downgrade to the
        // distributed-join road
        if (isCancellation(e)) throw e
        log.warn(s"dv bitmap derivation skipped for $dvDir; reads above " +
          "the broadcast threshold fall back to the distributed-join road", e)
        false
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Spark's own job-kill message shapes (DAGScheduler's "Job N
    * cancelled ...", "... cancelled as part of cancellation of all
    * jobs", stage/job-group cancellation) — matched ONLY on
    * SparkException, never on arbitrary causes: an upstream failure
    * whose message happens to contain the word "cancelled" is a genuine
    * derivation failure and must abort the commit, not downgrade to the
    * distributed-join road. */
  private val SparkCancelMsg =
    """(?is).*\b(job(\s+\d+)?\s+cancelled|stage(\s+\d+)?\s+cancelled|cancellation of all jobs|job group\s+\S+\s+cancelled).*""".r

  /** True when `e`'s cause chain carries an interruption/cancellation —
    * Spark wraps a killed job's InterruptedException in SparkException
    * layers, and the thread's interrupt flag survives some unwinds. */
  private def isCancellation(e: Throwable): Boolean = {
    if (Thread.currentThread().isInterrupted) return true
    var t: Throwable = e
    val seen = scala.collection.mutable.Set.empty[Throwable]
    while (t != null && seen.add(t)) {
      t match {
        case _: InterruptedException => return true
        case _: java.io.InterruptedIOException => return true
        case s: org.apache.spark.SparkException
            if s.getMessage != null &&
              SparkCancelMsg.pattern.matcher(s.getMessage).matches() =>
          return true
        case _ =>
      }
      t = t.getCause
    }
    false
  }

  // ---- read side (executor-local) ----------------------------------------

  /** Single-entry per-thread bitmap cache: a scan task reads one file
    * (or a handful of splits of one file), so consecutive probes hit the
    * same (dirs, identity, file) key — the load cost is paid once per
    * task, not per row. `identity` is the version's COMMIT-MARKER mtime,
    * baked into the plan by the driver ([[graft.plans.DvMasked]]): a
    * table deleted and recreated at the same root/version changes
    * identity, so a long-lived executor thread can never serve the dead
    * incarnation's bitmaps (the executor-side twin of the driver-side
    * marker-mtime memo keys). `bytes(i) == null` = known-absent bitmap
    * at chain level i (no deletions of that file at that level). The
    * cached UTF8String is a CLONE: unsafe-row strings can point into
    * reused scan buffers. `dirs` compares by REFERENCE first (the plan
    * bakes one Seq instance per task) with an equals fallback, so the
    * per-row hot path costs one pointer compare. */
  private final class Entry(
      val dirs: Seq[String],
      val identity: Long,
      val file: org.apache.spark.unsafe.types.UTF8String,
      val bytes: Array[Array[Byte]])
  private val cache = new ThreadLocal[Entry]()

  private def load(
      dir: String, file: String,
      conf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    val p = new Path(dir, binName(file))
    val f = p.getFileSystem(conf)
    if (!f.exists(p)) {
      // absent bitmap is only "no deletions of this file at this level"
      // while the level's index still EXISTS: the plan verified `_DONE`
      // at bake time, but vacuum's materialization can delete a chain
      // level's whole `_dvdelta` under an in-flight reader. Without this
      // re-probe that race would silently RESURRECT the level's deleted
      // rows (the distributed-join road fails loudly on the same race —
      // the bitmap road must too).
      if (!f.exists(new Path(dir, DoneMarker)))
        throw new java.io.IOException(
          s"dv bitmap index at $dir vanished mid-read (concurrent vacuum " +
            "materialization?) — rerun the query against the current version")
      null
    } else {
      val st = f.getFileStatus(p)
      val arr = new Array[Byte](st.getLen.toInt)
      val in = f.open(p)
      try in.readFully(0L, arr) finally in.close()
      arr
    }
  }

  /** Executor-side probe: is (file, pos) masked at ANY level of the
    * version's bitmap-dir chain? `dirs` are the absolute `_bitmaps`
    * URIs baked into the plan by the driver (one for a full-form mask,
    * ≤ fold-interval under the DV delta chain — each level holds only
    * its own commit's deletions, so the probe ORs them); `file` compares
    * byte-wise against the cached key, so the per-row hot path allocates
    * nothing. `hconf` is the DRIVER'S Hadoop conf serialized into the
    * plan ([[graft.plans.DvMasked]] carries it) — executor-classpath
    * defaults would lack per-store settings such as object-store
    * credentials. */
  def lookup(
      dirs: Seq[String], identity: Long,
      file: org.apache.spark.unsafe.types.UTF8String,
      pos: Long,
      hconf: org.apache.spark.util.SerializableConfiguration): Boolean = {
    var e = cache.get()
    if (e == null || e.identity != identity ||
        ((e.dirs ne dirs) && e.dirs != dirs) || !e.file.equals(file)) {
      val fileStr = file.toString
      val loaded = new Array[Array[Byte]](dirs.size)
      var i = 0
      dirs.foreach { d => loaded(i) = load(d, fileStr, hconf.value); i += 1 }
      e = new Entry(dirs, identity, file.clone(), loaded)
      cache.set(e)
    }
    var i = 0
    while (i < e.bytes.length) {
      val b = e.bytes(i)
      if (b != null && contains(b, pos)) return true
      i += 1
    }
    false
  }

  /** String-keyed convenience (tests, driver-side probes). */
  def lookup(
      dirs: Seq[String], identity: Long, file: String, pos: Long,
      hconf: org.apache.spark.util.SerializableConfiguration): Boolean =
    lookup(dirs, identity,
      org.apache.spark.unsafe.types.UTF8String.fromString(file), pos, hconf)
}
