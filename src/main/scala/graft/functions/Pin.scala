package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialize-once pins for iterative / multi-consumer frames (k-means
  * rounds, posting lists, tokenized corpora). `localCheckpoint` is the
  * cheapest lineage cut in local mode, but its blocks are NOT
  * fault-tolerant: on a real cluster an executor loss or a
  * dynamic-allocation decommission kills the query instead of
  * recomputing (the r20 advice). Conf-gated so cluster deployments opt
  * out to a `MEMORY_AND_DISK` persist of the frame's rows — same
  * single-materialization shape, lineage retained for recovery. Both
  * forms cut the LOGICAL plan at the pin (the persist form rebuilds the
  * frame over its persisted rows): an iterative caller that re-pins
  * each round's output would otherwise nest every earlier round's plan
  * into the next, and the driver runs out of heap analyzing it. Either
  * form's blocks are freed by the ContextCleaner once the frame is
  * unreachable (the bench clears cache + GCs per key). */
object Pin {
  val ConfKey = "spark.graft.localCheckpoint.enabled"

  private def enabled(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ConfKey, "true").toBoolean

  private def persisted(df: DataFrame) =
    df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)

  /** Lazy pin: materializes on first consumer, reused by the rest. */
  def lazily(df: DataFrame): DataFrame =
    if (enabled(df)) df.localCheckpoint(eager = false)
    else org.apache.spark.sql.graft.PlanBridge.overRdd(df, persisted(df))

  /** Eager pin: materializes NOW (iteration rounds that must not stack
    * lineage). The persist form forces with one count over the
    * persisted rows — same job shape as the eager checkpoint. */
  def eagerly(df: DataFrame): DataFrame =
    if (enabled(df)) df.localCheckpoint(eager = true)
    else {
      val rows = persisted(df)
      rows.count()
      org.apache.spark.sql.graft.PlanBridge.overRdd(df, rows)
    }

  /** Free a frame's pinned blocks now rather than at the ContextCleaner's
    * next pass: the rows behind a pin of either form (a frame this object
    * returned), or a plain `persist()`. The frame must not be read after. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case pinned: org.apache.spark.sql.execution.LogicalRDD =>
      pinned.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
