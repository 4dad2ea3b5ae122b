package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.{Sinks, VersionedTable}

/** The change feed as a Structured Streaming source: versions arrive as
  * micro-batches, the engine's offset log is the consumer checkpoint
  * (restart resumes after the last committed version, no duplicates),
  * and maxVersionsPerBatch rate-limits deep-history catch-up. */
class ChangeFeedStreamSpec extends SparkSpec {
  import spark.implicits._

  private val runTs = lit("2024-06-01 00:00:00").cast("timestamp")

  private def stg(rows: Seq[(Long, String, String)]) =
    rows.toDF("id", "last_status", "c")
      .withColumn("created_at", col("c").cast("timestamp")).drop("c")

  private def upsert(root: String, rows: (Long, String, String)*): Unit =
    Sinks.upsertByKeyVersioned(spark, root, stg(rows), "id", runTs,
      "last_status", "DONE")

  /** Run the stream to exhaustion into a collecting sink; returns
    * (rows, batch count). */
  private def drain(root: String, ckpt: String,
      maxPerBatch: Option[Int] = None): (Seq[(Long, Long)], Int) = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = ChangeFeedStream.read(spark, root, maxPerBatch)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val got = df.select(col("id"), col("_commit_version"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        rows.synchronized { if (got.nonEmpty) { batches += id; rows ++= got } }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    (rows.toSeq, batches.size)
  }

  test("stream over N upserts == union of readChanges; restart delivers only the new") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfs").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfs_ck").toString
    upsert(root, (1L, "OPEN", "2024-05-30 10:00:00"))
    upsert(root, (2L, "OPEN", "2024-05-30 11:00:00"))
    upsert(root, (1L, "DONE", "2024-05-30 10:00:00"))
    val cur = VersionedTable.currentVersion(spark, root).get

    val (got1, _) = drain(root, ckpt)
    val want = VersionedTable.readChanges(spark, root, 1L, cur)
      .select(col("id"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got1.sorted == want.sorted,
      s"stream != readChanges: ${got1.sorted} vs ${want.sorted}")

    // two more versions; a RESTART from the same checkpoint must deliver
    // exactly those (replay-safe: nothing from v1..cur repeats)
    upsert(root, (3L, "OPEN", "2024-05-31 09:00:00"))
    upsert(root, (2L, "DONE", "2024-05-30 11:00:00"))
    val cur2 = VersionedTable.currentVersion(spark, root).get
    val (got2, _) = drain(root, ckpt)
    val want2 = VersionedTable.readChanges(spark, root, cur + 1, cur2)
      .select(col("id"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2.sorted == want2.sorted,
      s"restart replayed or skipped: ${got2.sorted} vs ${want2.sorted}")

    // third drain with nothing new: zero rows
    assert(drain(root, ckpt)._1.isEmpty)
  }

  test("every SQL write verb feeds the stream: INSERT, COPY INTO, MERGE, DV DELETE") {
    import graft.plans.GraftSql
    val root = java.nio.file.Files.createTempDirectory("graft_cfs3").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfs3_ck").toString
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root) // v1 (no feed)
    GraftSql.execute(spark, s"INSERT INTO `$root` VALUES (3, 'c')")       // v2
    val landing = java.nio.file.Files.createTempDirectory("graft_cfs3_l").toString
    Seq((4L, "d")).toDF("id", "x").coalesce(1).write.mode("append").parquet(landing)
    GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")          // v3
    Seq((2L, "B2"), (5L, "e")).toDF("id", "x").createOrReplaceTempView("cfs3_src")
    GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING cfs3_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)                  // v4
    VersionedTable.setProperties(spark, root,
      Map("graft.enableDeletionVectors" -> "true"))                       // v5 (zero-row)
    GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id = 1")          // v6 (DV)

    val (got, _) = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      val q = ChangeFeedStream.read(spark, root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          rows.synchronized { rows ++= df
            .select(col("id"), col("_change_type"), col("_commit_version"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))) }
          ()
        }.start()
      q.processAllAvailable(); q.stop()
      (rows.toSeq, ())
    }
    val byVersion = got.groupBy(_._3)
    assert(byVersion(2L).map(t => (t._1, t._2)) == Seq((3L, "insert")))
    assert(byVersion(3L).map(t => (t._1, t._2)) == Seq((4L, "insert")))
    assert(byVersion(4L).map(t => (t._1, t._2)).sorted ==
      Seq((2L, "update_postimage"), (2L, "update_preimage"), (5L, "insert")))
    assert(byVersion(6L).map(t => (t._1, t._2)) == Seq((1L, "delete")))
    assert(!byVersion.contains(5L) || byVersion(5L).isEmpty) // metadata-only
  }

  test("deep catch-up (100 versions, maxVersionsPerBatch=10) killed and " +
    "resumed mid-way equals the batch union, rate limit held throughout") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfs4").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfs4_ck").toString
    // 100 fed versions, one insert image each — the long-history table a
    // fresh AvailableNow-style consumer must catch up on
    (1 to 100).foreach { i =>
      VersionedTable.commit(Seq((i.toLong, s"r$i")).toDF("id", "x"), root,
        collectStats = false,
        extras = Map("changes" ->
          Seq((i.toLong, s"r$i")).toDF("id", "x")
            .withColumn("_change_type", lit("insert"))))
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val spans = scala.collection.mutable.ArrayBuffer.empty[Int]
    def run(killAfter: Int): Boolean = {
      var n = 0
      val q = ChangeFeedStream.read(spark, root, Some(10))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = df.select(col("id"), col("_commit_version"))
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          rows.synchronized {
            n += 1
            // the killed batch records NOTHING — its offset is never
            // committed, so the restart must re-deliver it in full
            if (n > killAfter) throw new RuntimeException("kill mid-catch-up")
            if (got.nonEmpty) {
              rows ++= got
              spans += got.map(_._2).distinct.size
            }
          }
          ()
        }.start()
      try { q.processAllAvailable(); q.stop(); false }
      catch { case _: Throwable => scala.util.Try(q.stop()); true }
    }
    assert(run(killAfter = 4), "the mid-catch-up kill did not fire")
    assert(!run(killAfter = Int.MaxValue), "the resumed drain failed")
    // exactly the batch union: every version once, no replays, no holes
    assert(rows.map(_._2).sorted == (1L to 100L),
      s"resume lost or replayed versions: got ${rows.size} rows")
    assert(rows.map(_._1).sorted == (1L to 100L))
    // the offset log held the rate limit across the kill/resume boundary
    assert(spans.forall(_ <= 10),
      s"a batch spanned ${spans.max} versions (limit 10)")
    assert(spans.size == 10, s"expected 10 ten-version batches, got ${spans.size}")
  }

  test("initialSnapshot: first batch is the masked logical snapshot; the tail " +
    "starts at the next version; feed-less history still streams") {
    import graft.plans.GraftSql
    val root = java.nio.file.Files.createTempDirectory("graft_cfs5").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfs5_ck").toString
    // history a fresh consumer CANNOT replay: v1 is a full commit with no
    // feed, v3 is a DV delete whose mask must fold into the snapshot
    VersionedTable.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x"), root) // v1
    GraftSql.execute(spark, s"INSERT INTO `$root` VALUES (4, 'd')")                   // v2
    VersionedTable.setProperties(spark, root,
      Map("graft.enableDeletionVectors" -> "true"))                                   // v3
    GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id = 2")                      // v4 (DV)
    val snapV = VersionedTable.currentVersion(spark, root).get

    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def drainSnap(): Unit = {
      val q = ChangeFeedStream.read(spark, root, initialSnapshot = true)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          rows.synchronized { rows ++= df
            .select(col("id"), col("_change_type"), col("_commit_version"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))) }
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    drainSnap()
    // one snapshot batch: the logical table at snapV (DV mask folded — no
    // id=2), every row an insert stamped with the snapshot version
    assert(rows.toSeq.sorted == Seq(
      (1L, "insert", snapV), (3L, "insert", snapV), (4L, "insert", snapV)))

    // the tail: two more commits, restart from the same checkpoint —
    // ONLY the new versions arrive (no second snapshot, no replay)
    rows.clear()
    GraftSql.execute(spark, s"INSERT INTO `$root` VALUES (5, 'e')")                   // v5
    GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id = 1")                      // v6 (DV)
    drainSnap()
    assert(rows.toSeq.sorted == Seq(
      (1L, "delete", snapV + 2), (5L, "insert", snapV + 1)),
      s"tail after snapshot wrong: ${rows.toSeq.sorted}")

    // a table whose history carries NO feed at all (full-snapshot writers
    // only) still streams in snapshot mode — the non-snapshot source
    // refuses the same table loudly
    val root2 = java.nio.file.Files.createTempDirectory("graft_cfs6").toString + "/t"
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cfs6_ck").toString
    VersionedTable.commit(Seq((9L, "z")).toDF("id", "x"), root2)
    intercept[IllegalArgumentException] {
      ChangeFeedStream.read(spark, root2).writeStream
        .option("checkpointLocation", ckpt2 + "/no").foreachBatch {
          (_: org.apache.spark.sql.DataFrame, _: Long) => () }.start()
    }
    val got2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q2 = ChangeFeedStream.read(spark, root2, initialSnapshot = true)
      .writeStream.option("checkpointLocation", ckpt2)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got2.synchronized { got2 ++= df.select(col("id"), col("_commit_version"))
          .collect().map(r => (r.getLong(0), r.getLong(1))) }
        ()
      }.start()
    q2.processAllAvailable(); q2.stop()
    assert(got2.toSeq == Seq((9L, 1L)))
  }

  test("Trigger.AvailableNow drains a 100-version backlog at " +
      "maxVersionsPerBatch=10 in 10 batches and stops") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfs5").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfs5_ck").toString
    (1 to 100).foreach { i =>
      VersionedTable.commit(Seq((i.toLong, s"r$i")).toDF("id", "x"), root,
        collectStats = false,
        extras = Map("changes" ->
          Seq((i.toLong, s"r$i")).toDF("id", "x")
            .withColumn("_change_type", lit("insert"))))
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val spans = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = ChangeFeedStream.read(spark, root, Some(10))
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select(col("id"), col("_commit_version"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        rows.synchronized {
          if (got.nonEmpty) { rows ++= got; spans += got.map(_._2).distinct.size }
        }
        ()
      }.start()
    // AvailableNow TERMINATES ITSELF once the captured head is reached —
    // no stop() call; a hang here means the wrapper snapshotted the
    // first rate-limited offset (the V1-only gotcha this source's
    // SupportsAdmissionControl face exists to fix)
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    assert(rows.map(_._2).sorted == (1L to 100L),
      s"drain lost or replayed versions: ${rows.size} rows")
    assert(spans.size == 10 && spans.forall(_ <= 10),
      s"expected 10 rate-limited batches, got ${spans.size} spanning ${spans.toSeq}")
    // a SECOND AvailableNow run from the same checkpoint sees nothing
    // new and stops immediately with zero data batches
    val before = rows.size
    val q2 = ChangeFeedStream.read(spark, root, Some(10))
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.count()
        rows.synchronized { if (got > 0) rows += ((-1L, -1L)) }
        ()
      }.start()
    assert(q2.awaitTermination(120000), "caught-up AvailableNow run did not stop")
    assert(rows.size == before, "a caught-up AvailableNow run re-delivered data")
  }

  test("maxBytesPerBatch: a mixed-size backlog drains in byte-bounded " +
    "batches under AvailableNow and self-terminates") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfs6").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfs6_ck").toString
    // 12 versions, wildly non-uniform: 3 "rewrite-sized" feeds among
    // small appends — the version-count knob can't express a sane batch
    // here, bytes can
    def feed(rows: Int, tag: Int) = {
      val df = (1 to rows).map(i => (tag * 100000L + i, s"v$tag-$i"))
        .toDF("id", "x")
      VersionedTable.commit(df, root, collectStats = false,
        extras = Map("changes" ->
          df.withColumn("_change_type", lit("insert"))))
    }
    (1 to 12).foreach(i => feed(if (i % 4 == 3) 5000 else 1, i))
    val perVersion = (1L to 12L)
      .map(v => v -> VersionedTable.extraBytes(spark, root, v, "changes")).toMap
    val big = perVersion.values.max
    // budget: one big feed plus a little headroom — big versions ride
    // (mostly) alone, small ones pack together
    val budget = (big * 1.5).toLong
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = ChangeFeedStream.read(spark, root, maxBytesPerBatch = Some(budget))
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = df.select(col("_commit_version")).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        batches.synchronized { if (vs.nonEmpty) batches += vs }
        ()
      }.start()
    assert(q.awaitTermination(120000),
      "byte-bounded AvailableNow query did not self-terminate")
    // every version exactly once, in order, no holes
    assert(batches.flatten.toSeq == (1L to 12L),
      s"drain lost/replayed versions: ${batches.toSeq}")
    // the budget actually split the backlog AND packed small versions
    assert(batches.size > 1 && batches.size < 12,
      s"expected a byte-split, packed drain; got ${batches.size} batches")
    assert(batches.exists(_.size > 1), "no batch packed multiple versions")
    // the SOFT cap: every batch fits the budget, or is a single version
    // that alone exceeds it (progress over wedging, the Delta rule)
    batches.foreach { vs =>
      val bytes = vs.map(perVersion).sum
      assert(bytes <= budget || vs.size == 1,
        s"batch $vs carries $bytes bytes over budget $budget")
    }
  }

  test("maxVersionsPerBatch rate-limits catch-up to one version per micro-batch") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfs2").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfs2_ck").toString
    (1 to 4).foreach(i => upsert(root, (i.toLong, "OPEN", s"2024-05-30 0$i:00:00")))
    val (got, nBatches) = drain(root, ckpt, maxPerBatch = Some(1))
    assert(nBatches == 4, s"expected 4 rate-limited batches, got $nBatches")
    // every version arrived exactly once
    assert(got.map(_._2).sorted == Seq(1L, 2L, 3L, 4L))
  }

  // ---- mid-stream schema evolution (the Delta CDF contract) --------------

  /** A long-lived query into a collecting sink; caller drives it with
    * processAllAvailable between table mutations. */
  private def startCollecting(root: String, ckpt: String)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]) = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = ChangeFeedStream.read(spark, root)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.collect()
        rows.synchronized { rows ++= got }
        ()
      }
      .start()
    (q, rows)
  }

  private def feedAppend(root: String, df: org.apache.spark.sql.DataFrame): Unit =
    VersionedTable.commitAppend(df, root, changeFeed = true)

  test("mid-stream ADD COLUMN fails the batch loudly with a restart " +
    "instruction, never a silent projection") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfse1").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfse1_ck").toString
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    feedAppend(root, Seq((2L, "b")).toDF("id", "x"))
    val (q, rows) = startCollecting(root, ckpt)
    try {
      q.processAllAvailable()
      assert(rows.synchronized(rows.size) == 1)
      // evolve + feed a version carrying the NEW column mid-stream
      VersionedTable.addColumns(spark, root, org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.StringType))))
      feedAppend(root, Seq((3L, "c", "E")).toDF("id", "x", "extra"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = e.getCause.getMessage
      assert(msg.contains("extra") && msg.contains("added") &&
        msg.contains("restart the stream"), msg)
    } finally q.stop()
  }

  test("mid-stream RENAME serves correctly through column mapping: rows " +
    "keep arriving under the pinned name, values intact") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfse2").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfse2_ck").toString
    VersionedTable.commit(Seq((1L, "a1")).toDF("id", "x"), root)
    feedAppend(root, Seq((2L, "a2")).toDF("id", "x"))
    val (q, rows) = startCollecting(root, ckpt)
    try {
      q.processAllAvailable()
      VersionedTable.renameColumn(spark, root, "x", "y")
      feedAppend(root, Seq((3L, "a3")).toDF("id", "y"))
      q.processAllAvailable()
      val got = rows.synchronized(rows.toSeq)
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("x"))).sortBy(_._1)
      // the renamed column's values arrive under the PINNED name,
      // never null-backfilled (the pre-gate behavior)
      assert(got == Seq((2L, "a2"), (3L, "a3")), got.toString)
    } finally q.stop()
  }

  test("mid-stream type WIDEN fails loudly; a fresh stream then adopts it") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfse3").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfse3_ck").toString
    VersionedTable.commit(Seq((1, "a1")).toDF("n", "x"), root) // n: int
    feedAppend(root, Seq((2, "a2")).toDF("n", "x"))
    val (q, rows) = startCollecting(root, ckpt)
    try {
      q.processAllAvailable()
      assert(rows.synchronized(rows.size) == 1)
      VersionedTable.widenColumn(spark, root, "n",
        org.apache.spark.sql.types.LongType)
      feedAppend(root, Seq((3L, "a3")).toDF("n", "x"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = e.getCause.getMessage
      assert(msg.contains("changed type") && msg.contains("restart the stream"),
        msg)
    } finally q.stop()
    // restart re-pins: the evolved schema serves, history upcasts to it
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cfse3_ck2").toString
    val (q2, rows2) = startCollecting(root, ckpt2)
    try {
      q2.processAllAvailable()
      val got = rows2.synchronized(rows2.toSeq).map(_.getAs[Long]("n")).sorted
      assert(got == Seq(2L, 3L), got.toString)
    } finally q2.stop()
  }

  test("a rate-limited catch-up batch made entirely of pre-column-add " +
    "versions serves with null backfill, never an unresolved column") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfse5").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfse5_ck").toString
    VersionedTable.commit(Seq((1L, "a1")).toDF("id", "x"), root)
    feedAppend(root, Seq((2L, "a2")).toDF("id", "x"))   // v2: no column y
    feedAppend(root, Seq((3L, "a3")).toDF("id", "x"))   // v3: no column y
    VersionedTable.addColumns(spark, root, org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.StringType))))       // v4
    feedAppend(root, Seq((4L, "a4", "Y4")).toDF("id", "x", "y")) // v5: the pin
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[String])]
    // maxVersionsPerBatch=1 → the first batches hold ONLY pre-add feeds
    val q = ChangeFeedStream.read(spark, root, maxVersionsPerBatch = Some(1))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.collect().map(r =>
          (r.getAs[Long]("id"), Option(r.getAs[String]("y"))))
        rows.synchronized { rows ++= got }
        ()
      }.start()
    try {
      q.processAllAvailable()
      val got = rows.synchronized(rows.toSeq).sortBy(_._1)
      assert(got == Seq((2L, None), (3L, None), (4L, Some("Y4"))), got.toString)
    } finally q.stop()
  }

  test("a backlog spanning a HISTORICAL rename folds to the pinned (new) " +
    "name with values intact") {
    val root = java.nio.file.Files.createTempDirectory("graft_cfse4").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfse4_ck").toString
    VersionedTable.commit(Seq((1L, "a1")).toDF("id", "x"), root)
    feedAppend(root, Seq((2L, "a2")).toDF("id", "x")) // old name in history
    VersionedTable.renameColumn(spark, root, "x", "y")
    feedAppend(root, Seq((3L, "a3")).toDF("id", "y")) // new name at the pin
    val (q, rows) = startCollecting(root, ckpt)
    try {
      q.processAllAvailable()
      val got = rows.synchronized(rows.toSeq)
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("y"))).sortBy(_._1)
      assert(got == Seq((2L, "a2"), (3L, "a3")), got.toString)
    } finally q.stop()
  }
}
