package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Wall-clock decomposition of the commit path — which sidecar write,
  * metadata read, or Spark job owns a version's publish latency.
  *
  * The format family's cost is commits, not compute (a micro-batch MV
  * refresh runs sub-second aggregation inside ~1 s of commit motions),
  * and at 100 TB the same decomposition is object-store round trips per
  * micro-batch. This profiler answers "where does one commit's second
  * go" empirically: Bench's profile pass ([[graft.Bench.profile]])
  * enables it around each query key and writes the per-phase totals into
  * the bench JSON, and perfbench's traced run reads it at every span
  * boundary, so optimization targets the measured term, not a guess.
  *
  * DISABLED by default and free when disabled (one volatile read per
  * phase); phases nest (a `commit_total` span contains its parts), so
  * the report reads as a tree, not a partition. Thread-safe: adders
  * keyed by phase name, concurrent commits accumulate. */
object CommitProfiler {

  @volatile private var on = false
  private val nanos = new ConcurrentHashMap[String, LongAdder]()
  private val hits = new ConcurrentHashMap[String, LongAdder]()

  def enable(): Unit = { on = true }
  def disable(): Unit = { on = false }
  def enabled: Boolean = on
  def reset(): Unit = { nanos.clear(); hits.clear() }

  /** Time `body` under `name` when enabled; transparent otherwise. */
  def phase[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally add(name, System.nanoTime() - t0)
    }

  def add(name: String, ns: Long): Unit = if (on) {
    nanos.computeIfAbsent(name, _ => new LongAdder).add(ns)
    hits.computeIfAbsent(name, _ => new LongAdder).increment()
  }

  /** (phase, total seconds, hit count), widest first. */
  def snapshot(): Seq[(String, Double, Long)] = {
    import scala.jdk.CollectionConverters._
    nanos.asScala.toSeq.map { case (k, v) =>
      (k, v.sum() / 1e9, Option(hits.get(k)).map(_.sum()).getOrElse(0L))
    }.sortBy(-_._2)
  }
}
