package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Every write path carries a change feed: DML (COW delete, MOR delete,
  * update, SQL MERGE) emits its delete/update/insert images, and
  * layout-only commits (compact, optimize, evolveSchema) emit a ZERO-ROW
  * feed — so an incremental consumer (readChanges / the streaming
  * source) never hits a feed gap on a table that mixes upserts with DML
  * and maintenance. */
class DmlChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_dmlfeed").toString + "/t"

  private def seed(root: String): Unit =
    VersionedTable.commit(
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "x"), root,
      extras = Map("changes" ->
        (1L to 10L).map(i => (i, s"r$i", "insert")).toDF("id", "x", "_change_type")))

  private def feedOf(root: String, v: Long) =
    // the flat `_changes` sidecar or VIRTUAL (append/bootstrap feeds are
    // commit-info markers synthesized at read time) — the same fallback
    // chain readChanges applies
    VersionedTable.readExtra(spark, root, v, "changes")
      .orElse(VersionedTable.syntheticChanges(spark, root, v)).get
      .select("id", "x", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("COW delete and MOR delete emit delete images") {
    val root = freshRoot(); seed(root)
    val v2 = VersionedTable.deleteWhere(spark, root, col("id") <= 2)
    assert(feedOf(root, v2) == Set((1L, "r1", "delete"), (2L, "r2", "delete")))
    val v3 = VersionedTable.deleteWhere(spark, root, col("id") === 5, mor = true)
    assert(feedOf(root, v3) == Set((5L, "r5", "delete")))
    // a second MOR delete hitting an already-masked row does not re-feed it
    val v4 = VersionedTable.deleteWhere(spark, root, col("id") <= 5, mor = true)
    assert(feedOf(root, v4) == Set((3L, "r3", "delete"), (4L, "r4", "delete")))
  }

  test("update emits pre/post image pairs") {
    val root = freshRoot(); seed(root)
    val v2 = VersionedTable.updateWhere(spark, root, col("id") === 7,
      Map("x" -> lit("new")))
    assert(feedOf(root, v2) ==
      Set((7L, "r7", "update_preimage"), (7L, "new", "update_postimage")))
  }

  test("layout-only and metadata-only commits carry a zero-row feed; ranges stay readable") {
    val root = freshRoot(); seed(root)
    VersionedTable.deleteWhere(spark, root, col("id") === 1)     // v2
    VersionedTable.compact(spark, root)                          // v3: empty feed
    VersionedTable.optimize(spark, root, Seq("id"))              // v4: empty feed
    VersionedTable.evolveSchema(spark, root,
      org.apache.spark.sql.types.StructType(
        VersionedTable.read(spark, root).schema.fields :+
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType)))             // v5: empty feed
    // the whole range reads as one feed — no gap raise, rows only from
    // the seed + the delete
    val feed = VersionedTable.readChanges(spark, root, 1L, 5L)
    assert(feed.count() == 11) // 10 inserts + 1 delete
    assert(feed.where(col("_commit_version") >= 3).count() == 0)
  }

  test("SQL MERGE emits delete/update-pair/insert images") {
    val root = freshRoot(); seed(root)
    Seq((2L, "DEL"), (3L, "three"), (42L, "answer")).toDF("id", "x")
      .createOrReplaceTempView("feed_merge_src")
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING feed_merge_src s ON t.id = s.id
         |WHEN MATCHED AND s.x = 'DEL' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET x = s.x
         |WHEN NOT MATCHED THEN INSERT (id, x) VALUES (s.id, s.x)
         |""".stripMargin)
    val v = VersionedTable.currentVersion(spark, root).get
    assert(feedOf(root, v) == Set(
      (2L, "r2", "delete"),
      (3L, "r3", "update_preimage"), (3L, "three", "update_postimage"),
      (42L, "answer", "insert")))
  }

  test("commitAppend's opt-in insert feed; the stream survives a mixed history") {
    val root = freshRoot(); seed(root)
    VersionedTable.commitAppend(
      Seq((11L, "r11")).toDF("id", "x"), root, changeFeed = true) // v2
    VersionedTable.deleteWhere(spark, root, col("id") === 11)     // v3
    VersionedTable.compact(spark, root)                           // v4
    assert(feedOf(root, 2L) == Set((11L, "r11", "insert")))
    // the streaming source drains the whole mixed history without a gap
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dmlfeed_ck").toString
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = graft.streaming.ChangeFeedStream.read(spark, root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows.synchronized {
          rows ++= df.select(col("id"), col("_change_type"), col("_commit_version"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        }
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(rows.count(_._2 == "insert") == 11)
    assert(rows.count(_._2 == "delete") == 1)
    assert(rows.count(_._3 == 4L) == 0) // compaction contributed nothing
  }

  test("virtual feeds: insertAll appends and 'none' layout commits serve " +
      "through readChanges with no sidecar written") {
    val root = freshRoot(); seed(root)
    val v2 = VersionedTable.commitAppend(
      Seq((21L, "r21")).toDF("id", "x"), root, changeFeed = true)
    val v3 = VersionedTable.compact(spark, root)
    // no sidecar dirs exist...
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def changesDir(v: Long) = new org.apache.hadoop.fs.Path(
      f"$root/v$v%08d/_changes")
    assert(!f.exists(changesDir(v2)), "append must not write a feed sidecar")
    assert(!f.exists(changesDir(v3)), "layout commit must not write a feed sidecar")
    // ...yet the feed contract holds exactly
    assert(VersionedTable.hasChangeFeed(spark, root, v2))
    assert(VersionedTable.hasChangeFeed(spark, root, v3))
    assert(feedOf(root, v2) == Set((21L, "r21", "insert")))
    assert(feedOf(root, v3) == Set.empty)
    val range = VersionedTable.readChanges(spark, root, v2, v3)
      .select("id", "x", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(range == Set((21L, "r21", "insert", v2)))
    // a virtual-feed version is protocol-gated for pre-virtual readers
    assert(VersionedTable.protocolOf(spark, root, v2)._1
      .contains("virtual-change-feed"))
  }
}
