package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder (SURVEY.md §4): UTC, AQE on, graft SQL
  * functions registered via extensions, sized shuffle parallelism. The
  * same configuration scales from local[n] testing to a cluster by
  * swapping master/partitions — no code change in the operators.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Timestamps go to parquet as INT64 micros, session-wide: Spark's
      // INT96 default carries no usable min/max in the footer, which
      // would blind the format's stats collection ([[sources.TableStats]]).
      // Pinned HERE, immutably, rather than set/restored around each
      // commit: a save/set/restore of session conf is not thread-safe,
      // and concurrent commits (cube fan-out creates, sibling MV
      // refreshes) interleaving the restore can permanently poison the
      // session's writer conf (round-18 regression).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // no _SUCCESS markers: nothing reads them (the table format's
      // atomicity is claim -> rename -> marker), and each one is a
      // PUT-class round trip per write job on an object store
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
        "false")
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE plan CACHED frames too (upstream default is false for
      // output-partitioning stability, which nothing here relies on):
      // without it every `.persist()` of a group-sized frame — the MV
      // maintenance deltas, the flagged extrema sets — materializes at
      // the static shuffle parallelism, and every downstream stage over
      // the cache launches that many tasks; a refreshed 155-row view was
      // measured writing 137 parquet files through that fan-out. Scale-
      // independent: AQE right-sizes caches from bytes at any sf.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // the upstream 100-entry codegen cache thrashes under a workload
      // of 100+ distinct query shapes per session (this engine's bench
      // and any multi-query deployment): every re-run then pays Janino
      // recompilation (~0.1-0.3 s/query). Entries are compiled classes —
      // thousands are megabytes, not gigabytes.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")

  /** Core count for the measurement mains: `SPARK_GRAFT_CPUS`, else the
    * host's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** local[cpus] session with shuffle parallelism = cpus. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
