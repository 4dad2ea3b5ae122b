package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.sources.CommitProfiler

/** One call at a layer boundary: name, kind (the op type the metrics
  * group by), start and end in seconds since the run began, the span
  * that caused it (0 = none), and counts taken at the same boundary. */
final class Span(val id: Int, val parent: Int, val name: String,
    val kind: String, val t0: Double) {
  var t1: Double = t0
  var ok: Boolean = true
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "kind" -> kind, "t0" -> t0, "t1" -> t1, "ok" -> ok,
    "attrs" -> attrs)
}

/** Spans kept in memory and written out when the run ends. Every run
  * records spans around the calls into the program (that is how op
  * latencies are timed, from outside). A traced run also snapshots the
  * filesystem counters and the commit profiler at each span boundary and
  * runs the extra probes the per-layer metrics need; an untraced run
  * does none of that. Driver-thread only. */
final class Recorder(val traced: Boolean) {
  private val nano0 = System.nanoTime()
  val wall0Ms: Long = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e9
  def rel(wallMs: Long): Double = (wallMs - wall0Ms) / 1e3

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack = List.empty[Span]
  var attempted = 0L
  var failed = 0L
  /** Statements sent through the SQL face so far. */
  var statements = 0L

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** (JIT compile ms, GC ms, process CPU ms) so far. */
  private def jvm(): (Long, Long, Long) = {
    var gc = 0L
    gcs.forEach(g => gc += math.max(0L, g.getCollectionTime))
    (jit.getTotalCompilationTime, gc, os.getProcessCpuTime / 1000000L)
  }

  private def phases(): Map[String, (Double, Long)] =
    CommitProfiler.snapshot().map { case (n, s, h) => n -> (s, h) }.toMap

  def span[A](name: String, kind: String)(body: Span => A): A = {
    val s = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
      name, kind, now())
    spans += s
    stack = s :: stack
    val fs0 = if (traced) CountingLocalFs.snapshot() else null
    val cp0 = if (traced) phases() else null
    val st0 = statements
    val jvm0 = if (s.parent == 0) jvm() else null
    try body(s)
    catch {
      case t: Throwable =>
        s.ok = false
        s.attrs("error") = String.valueOf(t.getMessage).take(300)
        throw t
    } finally {
      s.t1 = now()
      stack = stack.tail
      if (statements > st0) s.attrs("statements") = statements - st0
      if (jvm0 != null) {
        val (j1, g1, c1) = jvm()
        s.attrs("jvm.jit_ms") = j1 - jvm0._1
        s.attrs("jvm.gc_ms") = g1 - jvm0._2
        s.attrs("jvm.cpu_ms") = c1 - jvm0._3
      }
      if (traced) {
        val fs1 = CountingLocalFs.snapshot()
        fs1.foreach { case (k, v) => s.attrs("fs." + k) = v - fs0(k) }
        phases().foreach { case (k, (sec, n)) =>
          val (s0, n0) = cp0.getOrElse(k, (0.0, 0L))
          if (n > n0) {
            s.attrs("cp." + k) = sec - s0
            s.attrs("cp." + k + ".n") = n - n0
          }
        }
      }
    }
  }

  /** One attempted operation of the workload's mix: counted in
    * `attempted`; a throw counts in `failed`, is logged, and yields None,
    * so the op records no latency (its span carries ok = false). */
  def op[A](name: String, kind: String)(body: Span => A): Option[A] = {
    attempted += 1
    try Some(span(name, kind)(body))
    catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] op $name failed: $t")
        None
    }
  }
}

/** Spark execution below every layer: jobs, stages, tasks and SQL
  * executions with their times, for the traced run's per-layer numbers.
  * Stages keep per-stage sums plus the max and median task run time
  * (skew); individual tasks are not kept. */
final class ExecListener(rec: Recorder) extends SparkListener {
  val jobs: ArrayBuffer[Map[String, Any]] = ArrayBuffer.empty
  val stages: ArrayBuffer[Map[String, Any]] = ArrayBuffer.empty
  val sqlExecs: ArrayBuffer[Map[String, Any]] = ArrayBuffer.empty
  private val jobStart = mutable.Map.empty[Int, Long]
  private val sqlStart = mutable.Map.empty[Long, Long]
  private final class StageAcc {
    var tasks = 0L; var busyMs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleW = 0L; var spill = 0L; var bytesRead = 0L
    val runMs: ArrayBuffer[Long] = ArrayBuffer.empty
  }
  private val acc = mutable.Map.empty[(Int, Int), StageAcc]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
    jobs += Map("id" -> e.jobId, "t0" -> rec.rel(t0), "t1" -> rec.rel(e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    val info = e.taskInfo
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.busyMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
      a.runMs += m.executorRunTime
      if (info != null && info.finishTime > 0) {
        val dur = info.finishTime - info.launchTime
        a.schedMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = acc.remove((si.stageId, si.attemptNumber())).getOrElse(new StageAcc)
    val sorted = a.runMs.sorted
    val med = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    val end = si.completionTime.getOrElse(rec.wall0Ms)
    stages += Map("id" -> si.stageId,
      "t0" -> rec.rel(si.submissionTime.getOrElse(end)), "t1" -> rec.rel(end),
      "tasks" -> a.tasks, "busy_s" -> a.busyMs / 1e3, "gc_s" -> a.gcMs / 1e3,
      "sched_s" -> a.schedMs / 1e3, "shuffle_write" -> a.shuffleW,
      "spill" -> a.spill, "bytes_read" -> a.bytesRead,
      "max_s" -> sorted.lastOption.getOrElse(0L) / 1e3, "median_s" -> med / 1e3)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStart(s.executionId) = s.time
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      val t0 = sqlStart.remove(s.executionId).getOrElse(s.time)
      sqlExecs += Map("id" -> s.executionId, "t0" -> rec.rel(t0),
        "t1" -> rec.rel(s.time))
    }
    case _ => ()
  }
}
