package graftbench

import java.nio.file.{Files, Paths}

import graft.sources.CommitProfiler

/** One benchmark run in its own JVM:
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  * <record file> [k=v spark conf ...]`. Sets up the workload, runs its
  * closed loop for `seconds`, checks the outputs, and writes the raw
  * record (set-up times, spans, Spark execution events, checks, sizes)
  * as one JSON file. `perfbench/run.py` builds and launches this and
  * turns the record into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args.take(6)
    val confs = args.drop(6).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }.toSeq
    val traced = traceS == "1"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(Paths.get(work))
    val rec = new Recorder(traced)
    val t0 = System.nanoTime()
    val b = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = new ExecListener(rec)
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      CommitProfiler.enable()
    }
    val ctx = new Ctx(spark, rec, seedS.toLong, s"$work/tables", secondsS.toInt)
    var error: String = null
    try workload match {
      case "etl_hourly" => EtlHourly.run(ctx)
      case "corpus_curation" => CorpusCuration.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        error = t.toString
    }
    if (traced) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val record = Map(
      "workload" -> workload, "seed" -> seedS.toLong, "seconds" -> secondsS.toInt,
      "traced" -> traced, "error" -> error,
      "provenance" -> Map(
        "cores" -> Runtime.getRuntime.availableProcessors(),
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", null),
        "master" -> spark.sparkContext.master,
        "jvm" -> (System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version")),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "conf_overrides" -> confs.map { case (k, v) => s"$k=$v" }),
      "session_s" -> sessionS,
      "setup_s" -> ctx.setupS,
      "warmup_s" -> ctx.warmupS,
      "first_timed_span" -> ctx.firstTimedSpan,
      "sizes" -> ctx.sizes,
      "extra" -> ctx.extra,
      "checks" -> ctx.checks,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "spans" -> rec.spans.map(_.toMap),
      "jobs" -> (if (traced) listener.jobs else Nil),
      "stages" -> (if (traced) listener.stages else Nil),
      "sql_execs" -> (if (traced) listener.sqlExecs else Nil),
      "commit_profile" -> CommitProfiler.snapshot().map { case (n, s, h) =>
        Map("phase" -> n, "s" -> s, "n" -> h) })
    Files.write(Paths.get(out), Json(record).getBytes("UTF-8"))
    spark.stop()
    if (error != null) sys.exit(2)
  }
}
