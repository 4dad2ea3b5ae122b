package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Snapshots
import graft.sources.{Sinks, VersionedTable}

/** STREAMING transactional upsert: the hourly merge pipeline run
  * continuously, each micro-batch landing as ONE metadata-only snapshot
  * commit of the [[graft.sources.VersionedTable]] — the streaming lakehouse
  * sink (Delta/Iceberg streaming write) built from this repo's own parts:
  * `foreachBatch` → state-of-batch staging → `Sinks.upsertByKeyVersioned`
  * (merge + change feed, atomic commit).
  *
  * EXACTLY-ONCE: Structured Streaming's `foreachBatch` is at-least-once —
  * a crash between sink success and checkpoint write replays the batch.
  * Each commit therefore carries a `txn` extra `(app_id, batch_id)` inside
  * the same atomic snapshot, and [[upsertBatch]] consults
  * [[VersionedTable.lastTxn]] first: a replayed batch is detected and
  * SKIPPED (Delta's txnAppId/txnVersion idempotent-sink pattern). Because
  * the stamp publishes atomically with the data, there is no window where
  * the data landed but the stamp didn't.
  *
  * CONTRACT: one live writer per `(tableRoot, appId)` — the Delta
  * txnAppId contract. The high-water check is additionally RE-VALIDATED
  * inside the commit itself (after the version claim, before publish), so
  * a zombie writer that lost a long pause between its first check and its
  * commit — executor failover, GC stall — aborts instead of double-
  * applying the batch. DIFFERENT appIds sharing one tableRoot are handled
  * by [[Sinks.upsertByKeyVersioned]]'s optimistic concurrency: the merge
  * is pinned to the target version it read, the commit re-validates that
  * version is still current after the claim, and a conflict re-reads and
  * re-merges — so two apps interleaving read→publish no longer drop each
  * other's merged rows. The residual race (a publish landing between the
  * re-check and this writer's publish) is the metadata-latency window
  * Delta's OCC accepts too; within one appId the txn stamp makes retries
  * idempotent regardless.
  *
  * Scale: each micro-batch pays one delta-sized merge (or the COW form
  * for clustered tables) + a metadata commit; state lives in the table,
  * not the stream — the query itself is stateless, so no watermark or
  * state store is involved and restart cost is O(1).
  */
object UpsertStream {

  /** One micro-batch → one transactional snapshot (or a no-op if this
    * `(appId, batchId)` already committed). Returns the version, None on
    * replay-skip. The batch collapses to latest-state-per-key first —
    * the merge's staging contract. */
  def upsertBatch(
      spark: SparkSession,
      tableRoot: String,
      batch: DataFrame,
      batchId: Long,
      appId: String,
      runTs: org.apache.spark.sql.Column,
      doneValue: String): Option[Long] = {
    if (VersionedTable.lastTxn(spark, tableRoot, appId).exists(_ >= batchId)) None
    else {
      import spark.implicits._
      val staging = Snapshots.stateAsOf(batch, "user_id", "ts", "event_type",
        "event_id", None)
      try Some(Sinks.upsertByKeyVersioned(spark, tableRoot, staging, "id", runTs,
        "last_status", doneValue,
        extraTables = Map("txn" -> Seq((appId, batchId)).toDF("app_id", "batch_id")),
        preCommit = _ =>
          // zombie defense: a commit stamping >= batchId landed since the
          // gate above (we stalled mid-batch and a replacement writer ran)
          if (VersionedTable.lastTxn(spark, tableRoot, appId).exists(_ >= batchId))
            throw new StaleBatchException(appId, batchId)))
      catch { case _: StaleBatchException => None }
    }
  }

  /** Thrown inside the commit when the batch's txn stamp is already at or
    * below the published high-water mark — the batch was applied by
    * another (replacement) writer while this one stalled. */
  final class StaleBatchException(appId: String, batchId: Long)
    extends RuntimeException(
      s"batch $batchId for app $appId already committed — aborting stale commit")

  /** Run the event file stream into the versioned table. One snapshot per
    * micro-batch; idempotent under replay via the txn stamp. */
  def start(
      spark: SparkSession,
      dir: String,
      tableRoot: String,
      appId: String,
      runTs: org.apache.spark.sql.Column,
      doneValue: String = "purchase",
      availableNow: Boolean = false): StreamingQuery = {
    // per-appId checkpoint: two apps writing one tableRoot must not share
    // stream progress state
    val checkpoint = tableRoot + "_checkpoint_" + appId
    val w = EventStream.readEvents(spark, dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(spark, tableRoot, batch, batchId, appId, runTs, doneValue)
        ()
      }
      .option("checkpointLocation", checkpoint)
    (if (availableNow)
       w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else w).start()
  }
}
