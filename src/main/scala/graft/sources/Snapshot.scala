package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** One committed version of a table, resolved ONCE from its commit
  * marker — Delta's `Snapshot` on this format. The marker's
  * [[FileStatus]] proves the version is committed and gives its
  * IDENTITY (the marker's mtime: a table deleted and recreated at the
  * same root mints new markers, so a cached value of the old table can
  * never answer for the new one); the marker's two lines name the data
  * dir (line 1) and the in-commit timestamp (line 2).
  *
  * Everything else a reader needs — grouped metadata, schema, folded
  * refs/stats/sizes, sidecar listings, the COPY-ledger kind — is
  * derived lazily by [[VersionedTable]] into this value's slots
  * ([[memo]]). A slot may
  * only hold content that stays the same for one marker identity: a
  * published version's sidecars are immutable, and vacuum's in-place
  * materialization rewrites a version's FORM (delta chain → full form)
  * but not its folded content. Structure that materialization changes —
  * the DV chain, a delta record's base pointer — is resolved per
  * operation and never held here; only a delta record's ABSENCE, which
  * no later write undoes, is. A computation that throws fills no
  * slot, so a refusal or an unreadable sidecar is re-probed next time. */
final class Snapshot private (
    val root: String, val version: Long, val identity: Long,
    val dirName: String, val commitTime: Long) {

  /** The version's data directory — the marker's, never the claim's. */
  def dir: Path = new Path(root, dirName)

  private val slots = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  // guarded by the Snapshot object's lock (the cache's budget)
  private var weight = 1L

  /** The slot `key`, computed on first use. Racing first uses may both
    * compute; every caller gets the one value that landed, so a slot is
    * stable BY INSTANCE for the snapshot's lifetime. A null result fills
    * no slot (for facts that may still appear, like an absent sidecar). */
  private[sources] def memo[T](key: String)(compute: => T): T = {
    val got = slots.get(key)
    if (got != null) got.asInstanceOf[T]
    else {
      val v = compute.asInstanceOf[AnyRef]
      val prev = if (v == null) null else slots.putIfAbsent(key, v)
      if (prev != null) prev.asInstanceOf[T]
      else {
        if (v != null) Snapshot.charge(this, Snapshot.weigh(v))
        v.asInstanceOf[T]
      }
    }
  }
}

object Snapshot {
  /** The bound of the one snapshot cache: entries, and entries' summed
    * weight (one unit per ref, stats cell or size — the O(files) slots).
    * A long-lived streaming driver mints a version per micro-batch, so
    * an unbounded cache would grow forever; eviction is least-recently-
    * used and only costs a re-read, never a wrong answer. */
  private val MaxEntries = 4096
  private val MaxWeight = 1L << 21

  private val cache =
    new java.util.LinkedHashMap[(String, Long), Snapshot](256, 0.75f, true)
  private var totalWeight = 0L

  private def weigh(v: Any): Long = v match {
    case Some(x) => weigh(x)
    case m: scala.collection.Map[_, _] =>
      m.valuesIterator.map {
        case inner: scala.collection.Map[_, _] => inner.size.toLong
        case _ => 1L
      }.sum
    case s: scala.collection.Iterable[_] => s.size.toLong
    case _ => 0L
  }

  private def charge(s: Snapshot, w: Long): Unit = synchronized {
    s.weight += w
    if (cache.get((s.root, s.version)) eq s) {
      totalWeight += w
      evict()
    }
  }

  private def evict(): Unit = {
    val it = cache.values.iterator
    while ((cache.size > MaxEntries || totalWeight > MaxWeight) && it.hasNext) {
      totalWeight -= it.next().weight
      it.remove()
    }
  }

  /** The snapshot of the version whose commit marker is `marker` — from
    * the cache when the cached entry has the marker's identity, else
    * built from one read of the marker. `marker` comes from a listing of
    * `_commits` or a `stat` of the marker the caller already made. */
  private[sources] def of(f: FileSystem, root: String, marker: FileStatus): Snapshot = {
    val v = marker.getPath.getName.toLong
    val id = marker.getModificationTime
    val hit = synchronized(cache.get((root, v)))
    if (hit != null && hit.identity == id) hit
    else {
      val in = f.open(marker.getPath)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      // line 1 names the data dir, line 2 is the in-commit timestamp;
      // an empty or one-line marker is a retired vintage
      val ict = lines.drop(1).headOption.flatMap(_.toLongOption).getOrElse(
        throw VersionedTable.retiredForm(root, v, "a commit marker without its timestamp line"))
      val s = new Snapshot(root, v, id, lines.head, ict)
      synchronized {
        val old = cache.put((root, v), s)
        if (old != null) totalWeight -= old.weight
        totalWeight += s.weight
        evict()
      }
      s
    }
  }
}
