package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read deletes (deletion vectors): `deleteWhere(mor = true)`
  * records (file, row position) masks in a `_dv` sidecar instead of
  * rewriting admitting files — bytes written scale with deleted rows,
  * not touched files — and every read path folds the masks so results
  * equal the copy-on-write form. Compaction folds masks into a clean
  * rewrite. */
class MorDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_mor").toString + "/t"

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bytes of data files physically inside version `v`'s own dir. */
  private def ownBytes(root: String, v: Long): Long = {
    val f = fsOf(root)
    val dir = new org.apache.hadoop.fs.Path(root, f"v$v%08d")
    f.listStatus(dir).filter(s => s.getPath.getName.startsWith("part-") &&
      s.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
  }

  /** A 3-file key-clustered table: ids 1-100 / 101-200 / 201-300. */
  private def seed(root: String): Unit = {
    VersionedTable.commit(
      (1L to 300L).map(i => (i, s"r$i")).toDF("id", "x")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      root)
  }

  test("mor delete == cow delete, with O(deleted rows) bytes written") {
    val rootM = freshRoot(); val rootC = freshRoot()
    seed(rootM); seed(rootC)
    val pred = col("id") % 100 === 7 // one row per file: touches all 3 files
    val vM = VersionedTable.deleteWhere(spark, rootM, pred, mor = true)
    val vC = VersionedTable.deleteWhere(spark, rootC, pred)
    val gotM = VersionedTable.read(spark, rootM).orderBy("id").collect().toSeq
    val gotC = VersionedTable.read(spark, rootC).orderBy("id").collect().toSeq
    assert(gotM == gotC)
    assert(gotM.size == 297)
    // COW rewrote all three admitting files; MOR wrote only the sidecar
    // (plus one empty footer-only part): orders of magnitude apart even
    // at this scale
    assert(VersionedTable.hasDeletionVectors(spark, rootM, vM))
    assert(!VersionedTable.hasDeletionVectors(spark, rootC, vC))
    assert(ownBytes(rootM, vM) < ownBytes(rootC, vC) / 2,
      s"mor wrote ${ownBytes(rootM, vM)} vs cow ${ownBytes(rootC, vC)}")
    // time travel still sees the pre-delete table
    assert(VersionedTable.readVersion(spark, rootM, 1L).count() == 300)
  }

  test("masks compose: second mor delete accumulates, readWhere prunes AND masks") {
    val root = freshRoot()
    seed(root)
    VersionedTable.deleteWhere(spark, root, col("id") === 5L, mor = true)
    VersionedTable.deleteWhere(spark, root, col("id") === 205L, mor = true)
    assert(VersionedTable.read(spark, root).count() == 298)
    // pruned read path (subset of files) also applies the masks
    val got = VersionedTable.readWhere(spark, root, col("id") < 10L)
      .collect().map(_.getLong(0)).toSet
    assert(got == (1L to 9L).toSet - 5L)
    // stats-only aggregation stands down while masks exist (counts would
    // include masked rows)
    assert(VersionedTable.statsAggregate(spark, root, Seq("id")).isEmpty)
  }

  test("compact folds the masks: sidecar gone, rows identical, stats re-enable") {
    val root = freshRoot()
    seed(root)
    VersionedTable.deleteWhere(spark, root, col("id") <= 10L, mor = true)
    val before = VersionedTable.read(spark, root).orderBy("id").collect().toSeq
    val vc = VersionedTable.compact(spark, root)
    assert(!VersionedTable.hasDeletionVectors(spark, root, vc))
    assert(VersionedTable.read(spark, root).orderBy("id").collect().toSeq == before)
    assert(VersionedTable.statsAggregate(spark, root, Seq("id"))
      .exists(_._1 == 290L))
  }

  test("cow rewrite on a dv table reads through masks and carries untouched masks") {
    val root = freshRoot()
    seed(root)
    // mask a row in file 1 (id 5) and file 3 (id 205)
    VersionedTable.deleteWhere(spark, root, col("id").isin(5L, 205L), mor = true)
    // cow-delete id 150 (file 2) — and, critically, a cow UPDATE touching
    // file 1 must not resurrect masked id 5
    VersionedTable.updateWhere(spark, root, col("id") === 7L,
      Map("x" -> lit("updated")))
    val rows = VersionedTable.read(spark, root)
    assert(rows.count() == 298)
    val ids = rows.select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L) && !ids.contains(205L), "rewrite resurrected masked rows")
    assert(rows.where(col("id") === 7L).select("x").collect()
      .head.getString(0) == "updated")
    // file 3 was untouched by the update: its mask must have carried
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.hasDeletionVectors(spark, root, cur))
  }

  test("mor no-op deletes publish nothing; already-deleted rows dedupe") {
    val root = freshRoot()
    seed(root)
    val v1 = VersionedTable.deleteWhere(spark, root, col("id") === 9L, mor = true)
    // no row matches: no new version
    assert(VersionedTable.deleteWhere(spark, root, col("id") === -1L, mor = true) == v1)
    // re-deleting the same row is idempotent (distinct in the carry)
    VersionedTable.deleteWhere(spark, root, col("id") <= 9L, mor = true)
    assert(VersionedTable.read(spark, root).count() == 291)
    val cur = VersionedTable.currentVersion(spark, root).get
    val dv = VersionedTable.readExtra(spark, root, cur, "dv").get
    assert(dv.count() == dv.distinct().count())
    assert(dv.count() == 9L)
  }

  test("versioned cow upsert on a dv table: masks honored and carried, no resurrection") {
    val root = freshRoot()
    val t0 = lit("2024-06-01 00:00:00").cast("timestamp")
    def stg(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "last_status", "c")
        .withColumn("created_at", col("c").cast("timestamp")).drop("c")
    Sinks.upsertByKeyVersioned(spark, root,
      stg(Seq((1L, "OPEN", "2024-05-30 10:00:00"), (2L, "OPEN", "2024-05-30 11:00:00"))),
      "id", t0, "last_status", "DONE")
    VersionedTable.deleteWhere(spark, root, col("id") === 2L, mor = true)
    // insert-only delta: no file is touched, so every file — and the
    // mask over the deleted row — carries forward by reference
    Sinks.upsertByKeyVersionedCow(spark, root,
      stg(Seq((3L, "OPEN", "2024-05-30 12:00:00"))), "id", t0, "last_status", "DONE")
    val ids = VersionedTable.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L), s"masked row resurrected or upsert lost: $ids")
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.hasDeletionVectors(spark, root, cur),
      "the carried mask should survive an untouched-file COW upsert")
    // a delta hitting the masked row's file: the slice reads through the
    // mask, so the deleted row neither matches nor resurrects — the
    // staging row lands as a fresh insert
    Sinks.upsertByKeyVersionedCow(spark, root,
      stg(Seq((2L, "REBORN", "2024-05-30 13:00:00"))), "id", t0, "last_status", "DONE")
    val got = VersionedTable.read(spark, root)
      .select("id", "last_status").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(2L) == "REBORN", "expected the fresh insert, not the masked row")
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize the physical plan
    df.queryExecution.executedPlan.toString
  }

  /** Remove version `v`'s derived bitmap index — simulates a PRE-BITMAP
    * (legacy) sidecar so the join roads stay testable. Must run before
    * the first above-threshold read (the dir probe memoizes). */
  private def dropBitmaps(root: String, v: Long): Unit = {
    val f = fsOf(root)
    val dir = new org.apache.hadoop.fs.Path(root,
      f"v$v%08d/_dv/${DvBitmaps.DirName}")
    assert(f.exists(dir), s"expected a derived bitmap index at $dir")
    f.delete(dir, true)
  }

  test("legacy dv (no bitmap index) above threshold: distributed anti-join, no BroadcastExchange, rows == cow") {
    val rootM = freshRoot(); val rootC = freshRoot()
    seed(rootM); seed(rootC)
    val pred = col("id") % 3 === 0 // 100 masked rows across all 3 files
    // derive the bitmap index despite the toy-scale mask (write-side
    // floor off), then drop it to simulate the pre-bitmap vintage
    spark.conf.set(VersionedTable.DvBitmapFloorKey, "0")
    val vM =
      try VersionedTable.deleteWhere(spark, rootM, pred, mor = true)
      finally spark.conf.unset(VersionedTable.DvBitmapFloorKey)
    VersionedTable.deleteWhere(spark, rootC, pred)
    dropBitmaps(rootM, vM)
    // below the (default 64 MiB) threshold the mask broadcasts — the
    // small-DV fast path must stay a broadcast anti-join
    assert(planOf(VersionedTable.read(spark, rootM))
      .contains("BroadcastExchange"), "small DV should broadcast")
    // force the sidecar over the threshold: without the bitmap index the
    // hint must flip to a sort-merge anti-join — nothing DV-sized ever
    // lands on the driver — and AQE must not re-broadcast past an
    // explicit merge hint
    spark.conf.set(VersionedTable.DvBroadcastThresholdKey, "0")
    try {
      val gated = VersionedTable.read(spark, rootM)
      val plan = planOf(gated)
      assert(!plan.contains("BroadcastExchange"),
        s"DV above threshold must not broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge anti-join above the threshold:\n$plan")
      assert(gated.orderBy("id").collect().toSeq ==
        VersionedTable.read(spark, rootC).orderBy("id").collect().toSeq,
        "gated MOR read must stay row-identical to COW")
      // the pruned-read and tagged (DML) paths ride the same gate
      assert(VersionedTable.readWhere(spark, rootM, col("id") < 50L)
        .select("id").collect().map(_.getLong(0)).toSet ==
        (1L until 50L).filterNot(_ % 3 == 0).toSet)
    } finally spark.conf.unset(VersionedTable.DvBroadcastThresholdKey)
  }

  test("dv above threshold with bitmap index: scan-integrated filter, ZERO exchanges, rows == cow") {
    val rootM = freshRoot(); val rootC = freshRoot()
    seed(rootM); seed(rootC)
    val pred = col("id") % 3 === 0
    // toy-scale above-gate simulation: zero BOTH knobs — the write-side
    // floor so these KB-sized masks derive their bitmap index at all,
    // and the read gate so the read takes the bitmap road. Everything
    // under try so a failing delete cannot leak the zeroed confs.
    spark.conf.set(VersionedTable.DvBitmapFloorKey, "0")
    spark.conf.set(VersionedTable.DvBroadcastThresholdKey, "0")
    try {
      VersionedTable.deleteWhere(spark, rootM, pred, mor = true)
      VersionedTable.deleteWhere(spark, rootC, pred)
      val gated = VersionedTable.read(spark, rootM)
      val plan = planOf(gated)
      // the scan-integrated road: the mask is applied per file INSIDE the
      // scan stage — no exchange of any kind, no join operator at all
      assert(!plan.contains("Exchange"),
        s"bitmap road must not exchange anything:\n$plan")
      assert(plan.contains("graft_dv_masked"),
        s"expected the scan-integrated DV filter in the plan:\n$plan")
      assert(gated.orderBy("id").collect().toSeq ==
        VersionedTable.read(spark, rootC).orderBy("id").collect().toSeq,
        "bitmap-road MOR read must stay row-identical to COW")
      // composition: a SECOND mor delete re-derives the index from the
      // cumulative mask; the read still folds both vintages exactly
      VersionedTable.deleteWhere(spark, rootM, col("id") === 10L, mor = true)
      VersionedTable.deleteWhere(spark, rootC, col("id") === 10L)
      assert(VersionedTable.read(spark, rootM).orderBy("id").collect().toSeq ==
        VersionedTable.read(spark, rootC).orderBy("id").collect().toSeq)
      // DML read paths (tagged slice) ride the same road: a mor UPDATE on
      // the bitmap-masked table matches only visible rows
      VersionedTable.updateWhere(spark, rootM, col("id") === 11L,
        Map("x" -> org.apache.spark.sql.functions.lit("upd")), mor = true)
      VersionedTable.updateWhere(spark, rootC, col("id") === 11L,
        Map("x" -> org.apache.spark.sql.functions.lit("upd")))
      assert(VersionedTable.read(spark, rootM).orderBy("id").collect().toSeq ==
        VersionedTable.read(spark, rootC).orderBy("id").collect().toSeq)
      // the pruned read composes with the bitmap road too
      assert(VersionedTable.readWhere(spark, rootM, col("id") < 50L)
        .select("id").collect().map(_.getLong(0)).toSet ==
        VersionedTable.readWhere(spark, rootC, col("id") < 50L)
          .select("id").collect().map(_.getLong(0)).toSet)
    } finally {
      spark.conf.unset(VersionedTable.DvBroadcastThresholdKey)
      spark.conf.unset(VersionedTable.DvBitmapFloorKey)
    }
  }

  test("a mask under the bitmap floor skips derivation; the crossing commit derives") {
    val rootM = freshRoot()
    seed(rootM)
    // default floor (1 MiB): a KB-sized mask must NOT pay the derivation
    // job — no bitmap dir, and the read (below the broadcast gate)
    // still folds exactly
    val v1 = VersionedTable.deleteWhere(spark, rootM, col("id") === 3L, mor = true)
    val f = new org.apache.hadoop.fs.Path(rootM)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bitmapDir(v: Long) = new org.apache.hadoop.fs.Path(
      s"$rootM/v${"%08d".format(v)}/_dv/${DvBitmaps.DirName}")
    assert(!f.exists(bitmapDir(v1)),
      "a below-floor mask must skip bitmap derivation")
    assert(!VersionedTable.read(spark, rootM).select("id")
      .collect().map(_.getLong(0)).contains(3L))
    // drop the floor: the next cumulative mask crosses it and derives
    spark.conf.set(VersionedTable.DvBitmapFloorKey, "0")
    try {
      val v2 = VersionedTable.deleteWhere(spark, rootM, col("id") === 6L, mor = true)
      assert(f.exists(new org.apache.hadoop.fs.Path(bitmapDir(v2),
        DvBitmaps.DoneMarker)),
        "the crossing commit must derive the full cumulative index")
      assert(VersionedTable.read(spark, rootM).select("id")
        .collect().map(_.getLong(0)).toSet
        .intersect(Set(3L, 6L)).isEmpty)
    } finally spark.conf.unset(VersionedTable.DvBitmapFloorKey)
  }

  test("bitmap encodings round-trip: sparse and dense, membership exact") {
    // sparse pick: few positions, large spread
    val sparse = Array(0L, 7L, 1000000L)
    val se = DvBitmaps.encode(sparse)
    assert(se(1) == 0, "expected sparse encoding for a wide sparse set")
    assert(sparse.forall(p => DvBitmaps.contains(se, p)))
    assert(!DvBitmaps.contains(se, 1L) && !DvBitmaps.contains(se, 999999L) &&
      !DvBitmaps.contains(se, 1000001L))
    // dense pick: >1/64 of the range set
    val dense = (0L until 1000L by 2L).toArray
    val de = DvBitmaps.encode(dense)
    assert(de(1) == 1, "expected dense encoding for a half-full range")
    assert(dense.forall(p => DvBitmaps.contains(de, p)))
    assert((1L until 1000L by 2L).forall(p => !DvBitmaps.contains(de, p)))
    assert(!DvBitmaps.contains(de, 1000L) && !DvBitmaps.contains(de, -1L))
  }

  test("sidecar size probe memoizes: one listing per version per JVM") {
    // through the counting `cnt://` scheme: the listings of the `_dv`
    // sidecar dir itself are the probe (Spark reads the mask's files)
    spark.sparkContext.hadoopConfiguration
      .set("fs.cnt.impl", classOf[CountingFileSystem].getName)
    val root = "cnt://" + freshRoot()
    seed(root)
    VersionedTable.deleteWhere(spark, root, col("id") === 5L, mor = true)
    def dvListings(): Int =
      CountingFileSystem.pathsOf("list").count(_.endsWith("/_dv"))
    CountingFileSystem.reset()
    VersionedTable.read(spark, root).count() // first masked read: lists
    val after1 = dvListings()
    VersionedTable.read(spark, root).count() // second: memo hit
    VersionedTable.read(spark, root).count()
    assert(dvListings() == after1,
      "repeat masked reads of one version must not re-list the sidecar")
  }
}
