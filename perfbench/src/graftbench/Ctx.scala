package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, hash, lit, sum, xxhash64}

import graft.plans.GraftSql

/** What every workload gets: the session, the span recorder, the seed,
  * its own work directory under the checkout, and the measured loop. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val work: String, val seconds: Int) {

  val checks: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  val sizes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val setupS: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  /** A statement through the SQL face; counted in `plans.statements`. */
  def sql(text: String): DataFrame = {
    rec.statements += 1
    GraftSql.execute(spark, text)
  }

  /** A statement run to completion. */
  def exec(text: String): Array[Row] = sql(text).collect()

  /** A SELECT through the SQL face in three spans: resolve (the call that
    * returns the frame), plan (traced runs: forcing `executedPlan`), and
    * execute (the action). */
  def select(text: String): Array[Row] = {
    val df = rec.span("resolve", "plan") { _ => sql(text) }
    if (rec.traced) rec.span("plan", "plan") { _ => df.queryExecution.executedPlan }
    rec.span("execute", "execute") { _ => df.collect() }
  }

  /** Record a correctness check; a failed one counts as a failed op. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    rec.attempted += 1
    if (!ok) {
      rec.failed += 1
      System.err.println(s"[perfbench] check $name FAILED $detail")
    }
  }

  /** Run independent tasks on `threads` threads at once (Spark takes
    * jobs from several threads) and wait for all of them; results in
    * order. No span is recorded inside a task: the recorder is
    * driver-thread only. */
  def inParallel[A](tasks: Seq[() => A], threads: Int = 4): Seq[scala.util.Try[A]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = t()
      }))
      fs.map(f => scala.util.Try(f.get()).recoverWith {
        case e: java.util.concurrent.ExecutionException => scala.util.Failure(e.getCause)
      })
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  def checkSafely(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try rec.span(name, "check")(_ => body)
      catch { case t: Throwable => (false, s"threw: $t") }
    check(name, ok, detail)
  }

  /** Closed loop, one client: start blocks until `seconds` have passed
    * since the first began; a started block runs to its end. Each block
    * is one top-level span of kind `block`; `after` runs between blocks,
    * outside their spans (the harness's own measurements). Returns the
    * number of blocks. */
  def loop(block: => Unit)(after: Int => Unit): Int = {
    firstTimedSpan = rec.spans.size + 1
    timed = true
    val cpu0 = Ctx.hostCpu()
    val t0 = System.nanoTime()
    var n = 0
    try while ((System.nanoTime() - t0) / 1e9 < seconds) {
      n += 1
      rec.span(s"block-$n", "block")(_ => block)
      after(n)
    } finally timed = false
    extra("blocks") = n
    // share of the host's CPU time the hypervisor gave to other guests
    // while the loop ran: the noise a shared host adds to every timing
    for ((steal0, total0) <- cpu0; (steal1, total1) <- Ctx.hostCpu() if total1 > total0)
      extra("host_steal_frac") = (steal1 - steal0).toDouble / (total1 - total0)
    n
  }

  /** True inside the timed loop. */
  var timed = false

  def path(rel: String): String = s"$work/$rel"

  /** Id of the first span of the timed loop. */
  var firstTimedSpan = Int.MaxValue

  /** One repetition of the workload's set-up, timed. */
  def timedSetup(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    rec.span(name, "setup")(_ => body)
    setupS += (System.nanoTime() - t0) / 1e9
  }

  /** The untimed warm-up that follows set-up; its time is part of
    * `setup_s`. */
  var warmupS = 0.0
  def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    rec.span("warmup", "setup") { _ =>
      body
      Ctx.drainJit()
    }
    warmupS = (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after full collections, MB, taken once the timed phase
    * has ended. */
  def heap(): Unit = rec.span("heap_after_gc", "check") { _ =>
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // the context cleaner frees cached blocks of collected frames only
    // after a collection, so collect, give it a moment, and collect again
    val mb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }
    extra("heap_after_gc_mb") = mb.last
  }
}

object Ctx {

  /** Wait, at most `capMs`, until the JIT compilers have been idle for a
    * quarter second: the warm-up leaves methods queued for compilation,
    * and a timed block that starts while they compile shares the cores
    * with them by chance. */
  def drainJit(capMs: Long = 8000L): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val end = System.currentTimeMillis() + capMs
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.currentTimeMillis() < end) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 10
      last = now
    }
  }

  /** (steal, total) CPU ticks of the host so far, from /proc/stat; None
    * where it is not there. */
  def hostCpu(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val ticks = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      Some((if (ticks.length > 7) ticks(7) else 0L, ticks.sum))
    } catch { case _: Exception => None }

  /** Equal as multisets of rows (columns matched by name): same row count
    * and the same sums of two independent row hashes; on a mismatch the
    * detail counts the rows only one side has. */
  def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    val cols = a.columns.map(col)
    def sig(df: DataFrame) = df.select(cols: _*).agg(count(lit(1)),
      sum(xxhash64(cols: _*) % lit(1000000007L)), sum(hash(cols: _*).cast("long")))
      .head().toSeq
    val (sa, sb) = (sig(a), sig(b.select(cols: _*)))
    if (sa == sb) (true, s"rows=${sa.head}")
    else {
      val ab = a.exceptAll(b.select(cols: _*)).count()
      val ba = b.select(cols: _*).exceptAll(a).count()
      (false, s"rows only left=$ab only right=$ba")
    }
  }

  /** Canonical text of a small result, for comparing repeated runs. */
  def digest(rows: Array[Row]): String =
    rows.map(_.toSeq.map(v => String.valueOf(v)).mkString("\u0001")).sorted
      .mkString("\n")

  /** Files and bytes under `root`, by path. */
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map((f: Path) => f.toString -> Files.size(f)).toMap
      } finally s.close()
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      } finally s.close()
    }
  }
}

/** Bytes that appeared under a set of table roots, to relate the bytes a
  * workload wrote to the bytes it staged. A file counts once, when first
  * seen (or again if its size changed). */
final class WriteMeter(roots: Seq[String]) {
  private val seen = mutable.HashMap.empty[String, Long]
  /** Bytes that appeared so far. */
  var bytes = 0L
  /** (files, bytes) that appeared since the last call. */
  def observe(): (Long, Long) = {
    var nb = 0L
    var nf = 0L
    roots.foreach(r => Ctx.files(r).foreach { case (f, sz) =>
      if (!seen.get(f).contains(sz)) { seen(f) = sz; nb += sz; nf += 1 }
    })
    bytes += nb
    (nf, nb)
  }
}
