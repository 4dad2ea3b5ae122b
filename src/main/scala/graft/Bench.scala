package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.CommitProfiler

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line of per-query wall times.
  *
  * Each query is forced through the `noop` sink — full computation of every
  * output column, no disk cost — because `count()` would let Catalyst prune
  * the very work being measured (projections, scores, hashes).
  *
  * After the timed passes, every selected key runs once more, untimed,
  * under [[profile]]; the full JSON line carries each key's layer record
  * under `profile`.
  */
object Bench {

  /** Run `body` once with [[CommitProfiler]] on and Spark's execution,
    * job, stage and task events counted, and return the layer record:
    * the body's wall time; `spark.sql_executions` (successful Dataset
    * actions), `spark.jobs`, `spark.stages`, `spark.tasks` and
    * `spark.task_busy_s` (executor run time), named as in perfbench's
    * traced run; the hottest stage (most summed task time, launch to
    * finish; `index` counts from the first stage the body's jobs
    * submitted, so two runs compare) with its max and median task
    * time; the widest three SQL
    * executions (root plan node, wall, jobs); `jvm.jit_s` (the JVM's
    * JIT compilation time, whole process) and `codegen.compiles` (Spark's
    * Janino compiles of generated code, a cache miss each) during the
    * body; and every commit phase with its seconds and hits. The listener bus is drained after the clock
    * stops, so every event is counted and none of the wait is timed.
    * The profiler is off again when this returns or throws. */
  def profile(spark: SparkSession)(body: => Unit): Map[String, Any] = {
    val sc = spark.sparkContext
    val events = new ProfileListener
    val executions = new AtomicInteger(0)
    val actions = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(events)
    spark.listenerManager.register(actions)
    CommitProfiler.reset()
    CommitProfiler.enable()
    val jit = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
    def jitMs: Long = jit.map(_.getTotalCompilationTime).getOrElse(0L)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    try {
      val jit0 = jitMs
      val compiles0 = compiles.getCount
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val jitS = (jitMs - jit0) / 1e3
      val compilesN = compiles.getCount - compiles0
      CommitProfiler.disable()
      ListenerBusBridge.drain(sc)
      val phases = CommitProfiler.snapshot().map { case (name, s, hits) =>
        name -> ListMap("s" -> s, "hits" -> hits)
      }
      ListMap("wall_s" -> wall, "spark.sql_executions" -> executions.get) ++
        events.record ++ ListMap("jvm.jit_s" -> jitS, "codegen.compiles" -> compilesN,
          "commit_phases" -> ListMap(phases: _*))
    } finally {
      CommitProfiler.disable()
      spark.listenerManager.unregister(actions)
      sc.removeSparkListener(events)
    }
  }

  /** The Spark side of [[profile]]: counts, per-stage task times and the
    * SQL executions' walls, root nodes and jobs. */
  private final class ProfileListener extends SparkListener {
    private var jobs = 0
    private var stages = 0
    private var tasks = 0
    private var busyMs = 0L
    private var firstStage = Int.MaxValue
    private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    private val execStart = mutable.Map.empty[Long, (String, Long)]
    private val execs = mutable.ArrayBuffer.empty[(Long, String, Long)]
    private val execJobs = mutable.Map.empty[Long, Int].withDefaultValue(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      e.stageInfos.foreach(si => firstStage = math.min(firstStage, si.stageId))
      Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .foreach(id => execJobs(id.toLong) += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskMetrics != null) busyMs += e.taskMetrics.executorRunTime
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        // name the plan under AQE's wrapper, which roots every query
        val root = Iterator.iterate(s.sparkPlanInfo)(_.children.head)
          .find(p => p.nodeName != "AdaptiveSparkPlan" || p.children.isEmpty).get
        execStart(s.executionId) = (root.nodeName, s.time)
      }
      case s: SparkListenerSQLExecutionEnd => synchronized {
        execStart.remove(s.executionId).foreach { case (root, t0) =>
          execs += ((s.executionId, root, s.time - t0))
        }
      }
      case _ => ()
    }

    def record: ListMap[String, Any] = synchronized {
      val hot = taskMs.maxByOption(_._2.sum).map { case (id, ms) =>
        val sorted = ms.sorted
        val (max, med) = (sorted.last, sorted(sorted.size / 2))
        ListMap("index" -> (id - firstStage), "tasks" -> sorted.size, "task_s" -> sorted.sum / 1e3,
          "max_s" -> max / 1e3, "median_s" -> med / 1e3,
          "max_over_median" -> (if (med > 0) Some(max.toDouble / med) else None))
      }
      ListMap("spark.jobs" -> jobs, "spark.stages" -> stages,
        "spark.tasks" -> tasks, "spark.task_busy_s" -> busyMs / 1e3,
        "hot_stage" -> hot,
        "widest_sql" -> execs.sortBy(-_._3).take(3).map { case (id, root, ms) =>
          ListMap("root" -> root, "wall_s" -> ms / 1e3, "jobs" -> execJobs(id))
        }.toSeq)
    }
  }

  /** JSON text of a record built from maps, sequences, options, strings,
    * booleans and numbers. */
  private def json(v: Any): String = v match {
    case None | null => "null"
    case Some(x) => json(x)
    case s: String => s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  /** The checkout's HEAD commit id, read from `.git` in the working
    * directory; None outside a git checkout. */
  private def gitHead(): Option[String] = {
    def read(rel: String): Option[String] = {
      val f = Paths.get(".git", rel)
      if (Files.isRegularFile(f)) Some(new String(Files.readAllBytes(f), UTF_8).trim)
      else None
    }
    read("HEAD").flatMap { head =>
      if (!head.startsWith("ref: ")) Some(head)
      else {
        val ref = head.stripPrefix("ref: ")
        read(ref).orElse(read("packed-refs").flatMap(_.linesIterator
          .collectFirst { case l if l.endsWith(" " + ref) => l.takeWhile(_ != ' ') }))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    // ad-hoc runtime conf overrides for bench experiments, e.g.
    // SPARK_GRAFT_BENCH_CONF="spark.sql.adaptive.enabled=false,spark.sql.shuffle.partitions=8"
    val confOverrides = sys.env.get("SPARK_GRAFT_BENCH_CONF").toSeq
      .flatMap(_.split(',')).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }
    confOverrides.foreach { case (k, v) => spark.conf.set(k, v) }
    // untimed warmup: JIT, codegen, shuffle infra — so per-query numbers
    // measure the operator, not first-query JVM startup
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // HOST CALIBRATION (r14 ask #5): a fixed CPU-bound workload timed at
    // bench start and end — 1.2G xxhash64 folds across the same thread
    // count every round, independent of tables and planning. Cross-round
    // readers normalize totals by the calibration ratio instead of
    // re-running old code in a worktree to separate host drift from code
    // drift; start vs end also exposes in-run drift (a noisy neighbor
    // arriving mid-bench). Best-of-3: the calibration must not itself be
    // a steal victim.
    def calibrate(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 1200000000L, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id))").collect() // xor: ANSI-overflow-free
      (System.nanoTime() - t0) / 1e9
    }.min
    // optional comma-separated allowlist for focused A/B runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').map(_.trim).toSet)
    // calibration serves CROSS-ROUND comparison of full runs; focused
    // A/B iterations (BENCH_ONLY) skip its ~2 s so the edit loop stays
    // tight (their comparisons are same-host same-minute by design)
    val calibStart = if (only.isEmpty) calibrate() else 0.0
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    // best-of-N per query (reported in the JSON): the VM's host-level CPU
    // steal makes single shots vary ±2x (r2 saw a 3.4x outlier survive
    // best-of-2 on a 1.1s-steady-state query); 3 samples is the floor that
    // keeps one steal burst from defining a number
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "3").toInt.max(1)
    // INTERLEAVED best-of-N (r19 ask #1): run the FULL key list `repeat`
    // times and take per-key minima ACROSS passes, instead of N
    // consecutive trials per key. Consecutive trials all fit inside one
    // host steal burst (~1 min), so one bad minute used to write a 2.4x
    // outlier into the official artifact (r19's q41: 16.9 s vs 7.2 s
    // same-HEAD steady state); with passes ~5 min apart a burst degrades
    // at most one of a key's three trials. Timing methodology per trial
    // is unchanged: noop sink, per-key cache/GC isolation after each key.
    val keys = selected.toSeq.sortBy(_._1)
    val best = scala.collection.mutable.Map.empty[String, Double]
    val failedKeys = scala.collection.mutable.Set.empty[String]
    for (_ <- 1 to repeat; (name, fn) <- keys) {
      val t0 = System.nanoTime()
      // a FAILED trial must not become the key's official number (a
      // fast failure under min-across-passes reads as a speedup — the
      // r20 advice): record only successful trials; a key with zero
      // successes lands a loud sentinel + a failed_keys entry below
      var ok = true
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        ok = false
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val sec =
        if (ok) (System.nanoTime() - t0) / 1e9 else Double.MaxValue
      // release per-key executor state before the next key is timed:
      // cached tables unpersist via the catalog; localCheckpoint RDD
      // blocks are freed by the ContextCleaner only after their frames
      // are GARBAGE-COLLECTED — and a ~100 s run never triggers a full
      // GC on its own, so block-manager memory otherwise ratchets up
      // across 67 keys × N repeats and later keys evict/spill (measured
      // 2–4× inflation on late keys vs the same key run in isolation)
      spark.catalog.clearCache()
      System.gc()
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
    }
    keys.foreach { case (name, _) =>
      if (best(name) == Double.MaxValue) {
        failedKeys += name
        best(name) = 9999.0 // loud, JSON-parsable, never reads as a win
      }
    }
    val results = keys.map { case (name, _) => name -> best(name) }
    // PROFILE PASS: each key once more, untimed, so the layer records
    // never touch a reported time (~1/repeat of the run's cost)
    val profiles = keys.map { case (name, fn) =>
      val rec =
        try profile(spark)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed in the profile pass: ${e.getMessage}")
          ListMap("failed" -> true)
        }
      spark.catalog.clearCache()
      System.gc()
      name -> rec
    }
    // REAL micro-batch runs (file source over the same parquet,
    // AvailableNow trigger): the st1–st4 transforms executed as actual
    // Structured Streaming queries, timed next to their batch-equivalent
    // numbers above, with the stream output checked row-equal to the
    // batch result the driver verifies. Skipped when BENCH_ONLY narrows
    // to non-streaming keys.
    val doStream = only.forall(_.exists(_.startsWith("st")))
    val streamJson = if (!doStream) "" else {
      // the file stream source needs a DIRECTORY: stage the events file
      // into a temp dir (link, no copy) — the cloud analog is the landing
      // prefix new files drop into
      val stage = java.nio.file.Files.createTempDirectory("graft_bench_stream")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$sfDir/events.parquet"))
      def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.collect().map(_.toString).toSet
      // batches actually executed — with a fresh checkpoint AvailableNow
      // numbers batches from 0, so lastProgress.batchId + 1 is the count;
      // s_per_batch = total/n is the per-micro-batch overhead attribution
      // the totals alone can't give (r5 ask)
      def nBatchesOf(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
        Option(q.lastProgress).map(_.batchId + 1).getOrElse(
          q.recentProgress.lastOption.map(_.batchId + 1L).getOrElse(0L))
      // free the memory-sink table + executor state before the NEXT stream
      // is timed: complete-mode sinks pin their whole result in the block
      // manager, and (same leak class the main loop fixed in r5) nothing
      // GCs on its own inside a multi-minute bench — without this the
      // later stream keys absorb the earlier keys' memory pressure
      // (st5's unexplained r6 2.7x regression ran right after st3's
      // complete-mode sink)
      def mbDone(table: String): Unit = {
        spark.catalog.dropTempView(table)
        spark.catalog.clearCache()
        System.gc()
      }
      // state partitions sized to the stream's per-batch rate, not the
      // batch engine's core count: every stateful operator commits one
      // state store PER shuffle partition PER micro-batch, so the batch
      // setting (32) puts a ~4-7x pure-overhead floor under these 100k-row
      // batches (measured: st6 15.5 -> 2.2 s/batch at 32 -> 8)
      val statePars = Some(
        sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8").toInt)
      // st1: tumbling-window agg, complete mode — final table IS the agg
      val t1 = System.nanoTime()
      val q1 = graft.streaming.EventStream
        .start(spark, stage.toString, "bench_mb_st1", availableNow = true,
          statePartitions = statePars)
      q1.awaitTermination()
      val st1Sec = (System.nanoTime() - t1) / 1e9
      val st1N = nBatchesOf(q1)
      val st1Eq = rowsOf(spark.table("bench_mb_st1")) ==
        rowsOf(SparkEntry.queries("st1_stream_window")(spark, sfDir))
      mbDone("bench_mb_st1")
      // st4: update-mode entity state — final state per id = the row from
      // the last micro-batch that touched it: max updated_at (monotone
      // nondecreasing), then min created_at (monotone nonincreasing)
      val t4 = System.nanoTime()
      val q4 = graft.streaming.StateStream
        .start(spark, stage.toString, "bench_mb_st4", "purchase",
          availableNow = true, statePartitions = statePars)
      q4.awaitTermination()
      val st4Sec = (System.nanoTime() - t4) / 1e9
      val st4N = nBatchesOf(q4)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
        .orderBy(org.apache.spark.sql.functions.col("updated_at").desc,
          org.apache.spark.sql.functions.col("created_at").asc)
      val st4Final = spark.table("bench_mb_st4")
        .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter("__rn = 1").drop("__rn")
      val st4Eq = rowsOf(st4Final) ==
        rowsOf(SparkEntry.queries("st4_stream_state")(spark, sfDir))
      mbDone("bench_mb_st4")
      // st2: the flatMapGroupsWithState sessionizer under a real
      // AvailableNow trigger. Row equality is the WATERMARK SANDWICH
      // (SessionStreamSpec's invariant): every session the final
      // watermark closed must be streamed, and nothing may be streamed
      // that the batch operator doesn't produce — the boundary session
      // per key is legitimately still open when the stream ends.
      import org.apache.spark.sql.functions.{col, max, unix_micros}
      val t2 = System.nanoTime()
      val q2 = graft.streaming.SessionStream
        .start(spark, stage.toString, "bench_mb_st2", 7200L, availableNow = true,
          statePartitions = statePars)
      q2.awaitTermination()
      val st2Sec = (System.nanoTime() - t2) / 1e9
      val st2N = nBatchesOf(q2)
      val events = graft.sources.Tables.events(spark, sfDir)
      val maxTsUs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val batchSessions = graft.operators.Sessionize
        .sessions(events, "user_id", "ts", "event_id", 7200L, "value")
        .select(col("id"), unix_micros(col("session_start")).as("s"),
          unix_micros(col("session_end")).as("e"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val closedSet = batchSessions
        .filter { case (_, _, e, _) => e + 7200L * 1000000L + 1000L <= maxTsUs }.toSet
      val streamedSet = spark.table("bench_mb_st2")
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val st2Eq = closedSet.subsetOf(streamedSet) &&
        streamedSet.subsetOf(batchSessions.toSet)
      mbDone("bench_mb_st2")
      // st3: stream-static enrichment (broadcast dim join + windowed agg)
      // in complete mode — final table equals the batch key exactly
      val t3 = System.nanoTime()
      val q3 = graft.streaming.EventStream
        .startEnriched(spark, stage.toString,
          graft.sources.Tables.customer(spark, sfDir),
          "c_custkey", "c_mktsegment", "bench_mb_st3", availableNow = true,
          statePartitions = statePars)
      q3.awaitTermination()
      val st3Sec = (System.nanoTime() - t3) / 1e9
      val st3N = nBatchesOf(q3)
      val st3Eq = rowsOf(spark.table("bench_mb_st3")) ==
        rowsOf(SparkEntry.queries("st3_stream_enrich")(spark, sfDir))
      mbDone("bench_mb_st3")
      // st5: watermark-bounded streaming dedup of the at-least-once
      // replayed feed, append mode — redelivered events are identical
      // payloads, so the streamed rows equal the batch distinct exactly
      val t5 = System.nanoTime()
      val q5 = graft.streaming.EventStream
        .startDedupReplay(spark, stage.toString, "bench_mb_st5",
          graft.queries.TextQueries.ReplayFrom,
          graft.queries.TextQueries.ReplayTo, availableNow = true,
          statePartitions = statePars)
      q5.awaitTermination()
      val st5Sec = (System.nanoTime() - t5) / 1e9
      val st5N = nBatchesOf(q5)
      val st5Eq = rowsOf(spark.table("bench_mb_st5")) ==
        rowsOf(SparkEntry.queries("st5_stream_dedup")(spark, sfDir))
      mbDone("bench_mb_st5")
      // st6: watermarked stream-stream interval join, append mode — inner
      // joins emit eagerly, so the streamed pairs equal the batch join
      val t6 = System.nanoTime()
      val q6 = graft.streaming.EventStream
        .startAttribution(spark, stage.toString, "bench_mb_st6",
          availableNow = true, statePartitions = statePars)
      q6.awaitTermination()
      val st6Sec = (System.nanoTime() - t6) / 1e9
      val st6N = nBatchesOf(q6)
      val st6Eq = rowsOf(spark.table("bench_mb_st6")) ==
        rowsOf(SparkEntry.queries("st6_stream_join")(spark, sfDir))
      mbDone("bench_mb_st6")
      // per-key (total, n_batches, s_per_batch, equals_batch): the
      // attribution that separates "the plan got slower" from "the
      // harness ran more/slower micro-batches"
      def mbJson(key: String, sec: Double, n: Long, eq: Boolean): String = {
        val per = if (n > 0) sec / n else 0.0
        s""""$key":$sec,"${key}_n_batches":$n,"${key}_s_per_batch":$per,"${key}_equals_batch":$eq"""
      }
      "," + "\"microbatch\":{" + Seq(
        mbJson("st1_stream_window", st1Sec, st1N, st1Eq),
        mbJson("st2_stream_session", st2Sec, st2N, st2Eq),
        mbJson("st3_stream_enrich", st3Sec, st3N, st3Eq),
        mbJson("st4_stream_state", st4Sec, st4N, st4Eq),
        mbJson("st5_stream_dedup", st5Sec, st5N, st5Eq),
        mbJson("st6_stream_join", st6Sec, st6N, st6Eq)).mkString(",") + "}"
    }
    // AMORTIZED-INDEX runs: the s3/d6/d10 production split — one-time
    // index/codebook build vs the per-run probe that reuses it. The main
    // per-query numbers above keep the self-contained train-in-query form
    // (what the correctness oracle re-derives); these are the numbers a
    // standing deployment sees per batch. Full runs only.
    val amortJson = if (only.isDefined) "" else {
      import graft.queries.DedupQueries
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      // the SAME per-entry isolation the main loop got in r5: the builds'
      // k-means trainings localCheckpoint per iteration, and those RDD
      // blocks free only when a GC runs the ContextCleaner — by this
      // point in a full bench nothing has GC'd for minutes, so without
      // this the later builds absorb every earlier entry's leaked state
      // (r6 measured d10_build 15x and s5_build 8x their isolated cost)
      def isolate(): Unit = { spark.catalog.clearCache(); System.gc() }
      val tmp = java.nio.file.Files.createTempDirectory("graft_bench_amort")
      isolate()
      val s3b = timed(DedupQueries.s3Build(spark, sfDir, "bench_amort_ivf", s"$tmp/ivf"))
      isolate()
      val s3p = (1 to repeat)
        .map(_ => timed(noop(DedupQueries.s3Probe(spark, sfDir, "bench_amort_ivf")))).min
      isolate()
      var cent: org.apache.spark.sql.DataFrame = null
      val d6t = timed { cent = DedupQueries.d6Train(spark, sfDir) }
      isolate()
      val d6p = (1 to repeat)
        .map(_ => timed(noop(DedupQueries.d6Probe(spark, sfDir, cent)))).min
      cent = null
      isolate()
      val d10b = timed(DedupQueries.d10Build(spark, sfDir, s"$tmp/didx"))
      isolate()
      val d10p = (1 to repeat)
        .map(_ => timed(noop(DedupQueries.d10Probe(spark, sfDir, s"$tmp/didx")))).min
      isolate()
      val s4b = timed(DedupQueries.s4Build(spark, sfDir, "bench_amort_pq", s"$tmp/pq"))
      isolate()
      val s4p = (1 to repeat)
        .map(_ => timed(noop(DedupQueries.s4Probe(spark, sfDir, "bench_amort_pq")))).min
      isolate()
      val s5b = timed(DedupQueries.s5Build(spark, sfDir, "bench_amort_ivfpq", s"$tmp/ivfpq"))
      isolate()
      val s5p = (1 to repeat)
        .map(_ => timed(noop(DedupQueries.s5Probe(spark, sfDir, "bench_amort_ivfpq")))).min
      isolate()
      // t11 split: training is the once-per-corpus cost (rounds of
      // vocabulary-sized aggregations), application the per-run one
      var bpeMerges: Seq[(String, String)] = null
      val t11t = timed { bpeMerges = graft.queries.TextQueries.t11Train(spark, sfDir) }
      isolate()
      val t11a = (1 to repeat)
        .map(_ => timed(noop(graft.queries.TextQueries.t11Apply(spark, sfDir, bpeMerges)))).min
      bpeMerges = null
      isolate()
      // MV lifecycle split (r17 ask): qNN_create (scratch build) vs
      // qNN_refresh (one O(changes) fold over a standing view) — the
      // main q40–q44 keys price the WHOLE lifecycle; these rows price
      // the maintenance a deployed view actually pays per epoch
      val mvRows = graft.queries.FormatQueries.mvAmortized(spark, sfDir)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s""","amortized":{"s3_build":$s3b,"s3_probe":$s3p,"d6_train":$d6t,"d6_probe":$d6p,"d10_index_build":$d10b,"d10_probe":$d10p,"s4_build":$s4b,"s4_probe":$s4p,"s5_build":$s5b,"s5_probe":$s5p,"t11_train":$t11t,"t11_apply":$t11a,$mvRows}"""
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val calibEnd = if (only.isEmpty) calibrate() else 0.0
    val failedJson =
      if (failedKeys.isEmpty) ""
      else failedKeys.toSeq.sorted.map("\"" + _ + "\"")
        .mkString(""","failed_keys":[""", ",", "]")
    val provenance = json(ListMap("cpus" -> cpus, "head" -> gitHead(),
      "conf" -> ListMap(confOverrides: _*))).stripPrefix("{").stripSuffix("}")
    val profileJson = ",\"profile\":" + json(ListMap(profiles: _*))
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","best_of":$repeat,$provenance,"calib_start_s":$calibStart,"calib_end_s":$calibEnd$failedJson$streamJson$amortJson$profileJson}"""
    println(line)
    // also land the line on disk: harness stdout capture truncates long
    // runs mid-JSON (r7 lost 27 per-key numbers to a cut tail), and the
    // full key set must survive for round-over-round comparison
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(outFile), "UTF-8")
      try w.println(line) finally w.close()
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // COMPACT line LAST: the harness keeps only a ~2000-char stdout TAIL
    // and parses the trailing JSON it finds there; the full line above
    // never fit (r1–r9 all recorded parsed:null) and sbt appends ~80
    // chars of its own after us. Values at 3 decimals; the per-key map
    // drops the cheapest keys first if the line would still overflow the
    // window (full fidelity is one line up and in the file either way).
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    def compact(keep: Int): String = {
      val kept = results.sortBy(-_._2).take(keep).sortBy(_._1)
      val cq = kept.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","best_of":$repeat,"n_queries":${results.size},"queries_kept":${kept.size},"full":"$outFile","queries":$cq}"""
    }
    var keep = results.size
    var compactLine = compact(keep)
    while (compactLine.length > 1800 && keep > 5) {
      keep -= 5
      compactLine = compact(keep)
    }
    println(compactLine)
    spark.stop()
  }
}
