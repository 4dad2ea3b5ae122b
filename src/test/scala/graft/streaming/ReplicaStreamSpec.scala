package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.{ChangeReplica, VersionedTable}

/** Continuous APPLY CHANGES ([[ReplicaStream]]): the change-feed
  * streaming source composed with the net-effect apply, each batch
  * stamped `(app_id, batch_id)` inside its own commit — kill/resume at
  * any point converges the replica to exactly the batch-poll
  * [[ChangeReplica.applyChanges]] state, each source version applied
  * once (replays skip on the stamp before any work). */
class ReplicaStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def seedSource(root: String): Unit = {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "x")
    VersionedTable.commit(df, root, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    VersionedTable.commitAppend(Seq((3L, "c")).toDF("id", "x"), root,
      changeFeed = true)
    VersionedTable.updateWhere(spark, root, col("id") === 2L,
      Map("x" -> lit("b2")))
    VersionedTable.deleteWhere(spark, root, col("id") === 1L)
  }

  private def state(root: String): Seq[(Long, String)] =
    VersionedTable.read(spark, root).select(col("id"), col("x"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("stream converges to the batch-poll replica; kill/resume + replay stay exactly-once") {
    val src = freshDir("graft_rs_src") + "/t"
    val dstStream = freshDir("graft_rs_dst") + "/t"
    val dstPoll = freshDir("graft_rs_poll") + "/t"
    val ck = freshDir("graft_rs_ck")
    val ckPoll = freshDir("graft_rs_ckp")
    val appId = "rs-test"
    seedSource(src)

    // phase 1: drain the stream (one source version per micro-batch —
    // a continuous trigger drained to exhaustion, since availableNow
    // would snapshot the first rate-limited offset and stop there)
    val q1 = ReplicaStream.start(spark, src, dstStream, Seq("id"), ck, appId,
      maxVersionsPerBatch = Some(1))
    q1.processAllAvailable(); q1.stop()
    ChangeReplica.applyChanges(spark, src, dstPoll, Seq("id"), ckPoll)
    assert(state(dstStream) == state(dstPoll),
      s"stream replica ${state(dstStream)} != poll replica ${state(dstPoll)}")
    assert(state(dstStream) == Seq((2L, "b2"), (3L, "c")))

    // phase 2: simulate the at-least-once crash window — the apply
    // committed but the engine checkpoint was lost, so the SAME batchId
    // is delivered again. The txn stamp must skip it before any work:
    // no new version, state unchanged.
    val stamped = VersionedTable.lastTxn(spark, dstStream, appId).get
    val nV = VersionedTable.versions(spark, dstStream).size
    val replayed = VersionedTable.readChanges(spark, src, 1L,
      VersionedTable.currentVersion(spark, src).get)
    assert(!ReplicaStream.applyBatchTxn(spark, dstStream, Seq("id"),
      replayed, appId, stamped), "replayed batchId must skip")
    assert(!ReplicaStream.applyBatchTxn(spark, dstStream, Seq("id"),
      replayed, appId, stamped - 1), "older batchId (zombie) must skip")
    assert(VersionedTable.versions(spark, dstStream).size == nV,
      "a replay skip must publish nothing")
    assert(state(dstStream) == Seq((2L, "b2"), (3L, "c")))

    // phase 3: kill happened above (availableNow stream terminated);
    // more source commits, then RESUME from the same checkpoint — only
    // the new versions apply, and both replicas converge again
    VersionedTable.commitAppend(Seq((4L, "d")).toDF("id", "x"), src,
      changeFeed = true)
    VersionedTable.updateWhere(spark, src, col("id") === 3L,
      Map("x" -> lit("c2")))
    val q2 = ReplicaStream.start(spark, src, dstStream, Seq("id"), ck, appId,
      maxVersionsPerBatch = Some(1))
    q2.processAllAvailable(); q2.stop()
    ChangeReplica.applyChanges(spark, src, dstPoll, Seq("id"), ckPoll)
    assert(state(dstStream) == state(dstPoll))
    assert(state(dstStream) == Seq((2L, "b2"), (3L, "c2"), (4L, "d")))
    // exactly-once at the version level: the resume applied the two new
    // source versions as two stamped commits, nothing re-applied
    assert(VersionedTable.versions(spark, dstStream).size == nV + 2,
      "resume must apply exactly the new versions")
    assert(VersionedTable.lastTxn(spark, dstStream, appId).get > stamped)
  }

  test("the replica's own feed chains: a replica OF the streaming replica matches") {
    val src = freshDir("graft_rs2_src") + "/t"
    val dst = freshDir("graft_rs2_dst") + "/t"
    val dst2 = freshDir("graft_rs2_dst2") + "/t"
    val ck = freshDir("graft_rs2_ck")
    val ck2 = freshDir("graft_rs2_ck2")
    seedSource(src)
    ReplicaStream.start(spark, src, dst, Seq("id"), ck, "rs-chain",
      availableNow = true).awaitTermination()
    // the stamped merge commits carry change feeds like every graft
    // writer, so a second-hop replica can follow the first
    ChangeReplica.applyChanges(spark, dst, dst2, Seq("id"), ck2)
    assert(state(dst2) == state(dst))
  }
}
