package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.VersionedTable

/** Streaming transactional upsert: one snapshot per micro-batch,
  * exactly-once under foreachBatch replay via the atomic txn stamp. */
class UpsertStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val runTs = lit("2024-02-01 00:00:00").cast("timestamp")

  test("two micro-batches land as two snapshots; final state = batch merge of the feed") {
    val root = java.nio.file.Files.createTempDirectory("graft_ups").toString + "/t"
    val stage = java.nio.file.Files.createTempDirectory("graft_ups_src")
    // batch 1: events before Jan 10; batch 2: the rest — landed as two
    // separate files so the file source yields two micro-batches
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.schema(EventStream.eventSchema)
      .parquet(s"$dir/events.parquet")
    val cut = lit("2024-01-10 00:00:00")
      .cast(org.apache.spark.sql.types.TimestampNTZType)
    raw.filter(col("ts") < cut).coalesce(1)
      .write.parquet(stage.resolve("b1").toString)

    val q1 = UpsertStream.start(spark, stage.toString + "/*", root, "app1",
      runTs, availableNow = true)
    q1.awaitTermination()
    val vAfter1 = VersionedTable.currentVersion(spark, root).get

    raw.filter(col("ts") >= cut).coalesce(1)
      .write.parquet(stage.resolve("b2").toString)
    val q2 = UpsertStream.start(spark, stage.toString + "/*", root, "app1",
      runTs, availableNow = true)
    q2.awaitTermination()
    val vAfter2 = VersionedTable.currentVersion(spark, root).get
    assert(vAfter2 > vAfter1)

    // final table state: every user at their latest event, soft deletes on
    // purchase — the same result as running the q3-style merge over the
    // accumulated feed batch-wise
    val got = VersionedTable.read(spark, root)
      .select("id", "last_status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = graft.operators.Snapshots
      .stateAsOf(graft.sources.Tables.events(spark, dir),
        "user_id", "ts", "event_type", "event_id", None)
      .select("id", "last_status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want)
    // both snapshots carry the app's txn stamp; the mark is the last batch
    assert(VersionedTable.lastTxn(spark, root, "app1").nonEmpty)
    assert(VersionedTable.lastTxn(spark, root, "other-app").isEmpty)
  }

  test("a replayed batch id is skipped; a new one commits (exactly-once)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ups2").toString + "/t"
    def ev(id: Long, t: String, typ: String) =
      (id, java.sql.Timestamp.valueOf(t), id, typ, 1.0, "{}")
    val b0 = Seq(ev(1, "2024-01-01 00:00:00", "view"),
        ev(2, "2024-01-02 00:00:00", "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    assert(UpsertStream.upsertBatch(spark, root, b0, 0L, "app", runTs, "purchase").nonEmpty)
    val v1 = VersionedTable.currentVersion(spark, root).get
    // at-least-once delivery: the SAME batch id arrives again → no-op
    assert(UpsertStream.upsertBatch(spark, root, b0, 0L, "app", runTs, "purchase").isEmpty)
    assert(VersionedTable.currentVersion(spark, root).get == v1)
    // the next batch id commits
    assert(UpsertStream.upsertBatch(spark, root, b0, 1L, "app", runTs, "purchase").nonEmpty)
    assert(VersionedTable.currentVersion(spark, root).get > v1)
    assert(VersionedTable.lastTxn(spark, root, "app").contains(1L))
  }

  test("zombie writer: a commit racing a newer high-water mark aborts inside the claim") {
    // simulate the stall shape: the zombie passes the pre-check gate, then
    // a replacement writer commits the same batch BEFORE the zombie's
    // commit — the in-commit re-validation must abort it, leaving the
    // table at the replacement's version
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ups3").toString + "/t"
    def ev(id: Long, t: String, typ: String) =
      (id, java.sql.Timestamp.valueOf(t), id, typ, 1.0, "{}")
    val b = Seq(ev(1, "2024-01-01 00:00:00", "view"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(UpsertStream.upsertBatch(spark, root, b, 0L, "app", runTs, "purchase").nonEmpty)
    val vBefore = VersionedTable.currentVersion(spark, root).get
    // drive the zombie's commit directly with a preCommit that simulates a
    // gate passed BEFORE the replacement's commit landed: by commit time
    // the mark is already >= batchId, so it must throw
    val staging = graft.operators.Snapshots.stateAsOf(b, "user_id", "ts",
      "event_type", "event_id", None)
    intercept[UpsertStream.StaleBatchException] {
      graft.sources.Sinks.upsertByKeyVersioned(spark, root, staging, "id",
        runTs, "last_status", "purchase",
        extraTables = Map("txn" -> Seq(("app", 0L)).toDF("app_id", "batch_id")),
        preCommit = _ =>
          if (VersionedTable.lastTxn(spark, root, "app").exists(_ >= 0L))
            throw new UpsertStream.StaleBatchException("app", 0L))
    }
    // the aborted commit published nothing
    assert(VersionedTable.currentVersion(spark, root).get == vBefore)
    assert(VersionedTable.lastTxn(spark, root, "app").contains(0L))
    // and upsertBatch's own path swallows the abort as a replay-skip
    assert(UpsertStream.upsertBatch(spark, root, b, 0L, "app", runTs, "purchase").isEmpty)
  }

  test("a pre-per-appId deployment is refused, not adopted") {
    import spark.implicits._
    // a deployment from before per-appId checkpoints kept its progress in
    // <root>_checkpoint, and its table predates the grouped metadata
    // record. No stream adopts that dir: the restarted app streams from
    // its own per-app dir and its first batch is refused at the table
    val stage = java.nio.file.Files.createTempDirectory("graft_ups_cp_src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.schema(EventStream.eventSchema)
      .parquet(s"$dir/events.parquet").limit(50).coalesce(1)
      .write.parquet(stage.resolve("b1").toString)
    val f = new org.apache.hadoop.fs.Path(stage.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    val root1 = java.nio.file.Files.createTempDirectory("graft_ups_cp1").toString + "/t"
    UpsertStream.start(spark, stage.toString + "/*", root1, "appX", runTs,
      availableNow = true).awaitTermination()
    // rewrite it into the old deployment's form: the shared checkpoint
    // dir, versions without _meta, a bare-version table checkpoint
    assert(f.rename(p(root1 + "_checkpoint_appX"), p(root1 + "_checkpoint")))
    val versions = VersionedTable.versions(spark, root1)
    versions.foreach { v =>
      f.delete(p(root1 + "/" + VersionedTable.snapshotAt(spark, root1, v).dirName + "/_meta"), true)
      f.setTimes(p(f"$root1/_commits/$v%08d"), System.currentTimeMillis() + 1000L, -1)
    }
    val ck = f.create(p(root1 + "/_checkpoint/ckpt.tsv"), true)
    try ck.write(s"${versions.last}\nappX\t0\n".getBytes("UTF-8")) finally ck.close()

    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      UpsertStream.start(spark, stage.toString + "/*", root1, "appX", runTs,
        availableNow = true).awaitTermination()
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[VersionedTable.ProtocolException]), s"$err")
    assert(VersionedTable.versions(spark, root1) == versions, "the refused batch landed")
    assert(f.exists(p(root1 + "_checkpoint/offsets")), "the old progress dir was touched")

    // a fresh deployment streams from its per-app dir
    val root2 = java.nio.file.Files.createTempDirectory("graft_ups_cp2").toString + "/t"
    UpsertStream.start(spark, stage.toString + "/*", root2, "appX", runTs,
      availableNow = true).awaitTermination()
    assert(f.exists(p(root2 + "_checkpoint_appX/offsets")))
  }
}
