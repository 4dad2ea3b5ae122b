package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** DELETION-VECTOR delta chain (the DV twin of the delta-manifest form):
  * a masked table committing in the delta-manifest form writes only its
  * OWN new deletions as a `_dvdelta` level — O(own deletions) bytes per
  * commit instead of a full cumulative-mask rewrite — and readers fold
  * the chain along the same base pointers the manifest deltas ride.
  * Every fold-interval barrier consolidates to a full `_dv`; vacuum
  * materializes a severed chain; reads must be INDISTINGUISHABLE from
  * the full form at every version. */
class DvDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_dvd").toString + "/t"

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delta-manifest form on (floor 0, small interval) + bitmap floor 0,
    * reset after. */
  private def withChain[A](interval: Int = 5)(body: => A): A = {
    spark.conf.set(VersionedTable.DeltaFloorKey, "0")
    spark.conf.set(VersionedTable.DeltaFoldIntervalKey, interval.toString)
    spark.conf.set(VersionedTable.DvBitmapFloorKey, "0")
    try body
    finally {
      spark.conf.unset(VersionedTable.DeltaFloorKey)
      spark.conf.unset(VersionedTable.DeltaFoldIntervalKey)
      spark.conf.unset(VersionedTable.DvBitmapFloorKey)
    }
  }

  /** A 3-file key-clustered table: ids 1-100 / 101-200 / 201-300. */
  private def seed(root: String): Unit =
    VersionedTable.commit(
      (1L to 300L).map(i => (i, s"r$i")).toDF("id", "x")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      root)

  private def hasSidecar(root: String, v: Long, name: String): Boolean =
    fsOf(root).exists(new org.apache.hadoop.fs.Path(
      s"$root/v${"%08d".format(v)}/$name"))

  test("steady mor delete stream: first mask full, then O(own) _dvdelta " +
    "levels, the interval barrier consolidates, every read equals full form") {
    val rootD = freshRoot(); val rootF = freshRoot()
    seed(rootD); seed(rootF)
    // same delete sequence under the chain (rootD) and the full form
    // (rootF — interval 0 disables the delta-manifest form entirely)
    val deletes = (1 to 6).map(i => col("id") % 50 === i)
    withChain(interval = 4) {
      deletes.foreach(p => VersionedTable.deleteWhere(spark, rootD, p, mor = true))
    }
    deletes.foreach(p => VersionedTable.deleteWhere(spark, rootF, p, mor = true))
    // v2 = first mask on a base with no mask → FULL _dv even though the
    // manifest itself rides the delta form from v3 on
    assert(hasSidecar(rootD, 2, "_dv") && !hasSidecar(rootD, 2, "_dvdelta"))
    // v3..v5 = chain levels: own deletions only
    (3L to 5L).foreach { v =>
      assert(hasSidecar(rootD, v, "_dvdelta") && !hasSidecar(rootD, v, "_dv"),
        s"v$v must be a DV delta level")
      // each level holds exactly its own commit's deletions (6 rows/delete)
      assert(spark.read.parquet(
        s"$rootD/v${"%08d".format(v)}/_dvdelta").count() == 6L, s"v$v")
      // and always derives its own bitmap index (floor-free)
      assert(fsOf(rootD).exists(new org.apache.hadoop.fs.Path(
        s"$rootD/v${"%08d".format(v)}/_dvdelta/${DvBitmaps.DirName}/${DvBitmaps.DoneMarker}")))
      // protocol: the chain-carried mask is a reader feature
      val feats = VersionedTable.protocolOf(spark, rootD, v)._1
      assert(feats.contains("dv-delta") && feats.contains("deletion-vectors"),
        s"v$v features: $feats")
    }
    // v6 = interval-th commit: the manifest folds AND the mask
    // consolidates into a full _dv (the chain always ends in a barrier)
    assert(hasSidecar(rootD, 6, "_dv") && !hasSidecar(rootD, 6, "_dvdelta"),
      "the fold barrier must consolidate the DV chain")
    // v7 chains off the new barrier
    assert(hasSidecar(rootD, 7, "_dvdelta") && !hasSidecar(rootD, 7, "_dv"))
    // reads: head and every time-travel point equal the full form
    (2L to 7L).foreach { v =>
      assert(VersionedTable.readVersion(spark, rootD, v).orderBy("id")
        .collect().toSeq ==
        VersionedTable.readVersion(spark, rootF, v).orderBy("id")
          .collect().toSeq, s"v$v content")
    }
    assert(VersionedTable.read(spark, rootD).count() == 300L - 36L)
    // hasDeletionVectors answers through the chain (carried-only too)
    (2L to 7L).foreach(v =>
      assert(VersionedTable.hasDeletionVectors(spark, rootD, v), s"v$v"))
    // DESCRIBE HISTORY's deletion_vectors column agrees with the
    // chain-aware accessors — delta levels and carried-only versions too
    val hist = VersionedTable.history(spark, rootD)
      .select("version", "deletion_vectors")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (2L to 7L).foreach(v => assert(hist(v), s"history must report v$v masked"))
    assert(!hist(1L), "the pre-mask version must stay unmasked in history")
  }

  test("above the broadcast gate the read rides the CHAIN bitmap road: " +
    "zero exchange, rows equal the full form") {
    val rootD = freshRoot(); val rootF = freshRoot()
    seed(rootD); seed(rootF)
    withChain(interval = 8) {
      spark.conf.set(VersionedTable.DvBroadcastThresholdKey, "0")
      try {
        (1 to 3).foreach { i =>
          VersionedTable.deleteWhere(spark, rootD, col("id") % 40 === i, mor = true)
          VersionedTable.deleteWhere(spark, rootF, col("id") % 40 === i)
        }
        val gated = VersionedTable.read(spark, rootD)
        gated.collect() // AQE-finalize
        val plan = gated.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"chain bitmap road must not exchange anything:\n$plan")
        assert(plan.contains("graft_dv_masked"),
          s"expected the scan-integrated DV filter:\n$plan")
        assert(gated.orderBy("id").collect().toSeq ==
          VersionedTable.read(spark, rootF).orderBy("id").collect().toSeq,
          "chain-road MOR read must stay row-identical to COW")
      } finally spark.conf.unset(VersionedTable.DvBroadcastThresholdKey)
    }
  }

  test("a COW rewrite mid-chain drops the rewritten file's mask through " +
    "the removed set — no resurrection, no stale mask rows") {
    val root = freshRoot()
    seed(root)
    withChain(interval = 10) {
      // mask rows in all three files (v2 full), then one more level (v3)
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 7, mor = true)
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 9, mor = true)
      // COW delete confined to file 1 (ids 1-100): rewrites it, v4's
      // manifest delta REMOVES the old ref — its mask rows must drop
      VersionedTable.deleteWhere(spark, root, col("id") === 50L)
      val got = VersionedTable.read(spark, root)
        .select("id").collect().map(_.getLong(0)).toSet
      val want = (1L to 300L).toSet --
        Set(7L, 107L, 207L, 9L, 109L, 209L, 50L)
      assert(got == want)
      // the folded mask holds ONLY rows keyed to live files: file 1 was
      // rewritten mask-free, so its old tail's rows are gone from the fold
      val fold = VersionedTable.dvOf(spark, root,
        VersionedTable.currentVersion(spark, root).get).get
      val liveTails = VersionedTable.dataFileRefs(spark, root,
        VersionedTable.currentVersion(spark, root).get)
        .map(_.split('/').last).toSet
      val foldFiles = fold.select("file").distinct()
        .collect().map(_.getString(0)).toSet
      assert(foldFiles.forall(t => liveTails.exists(_ == t.split('/').last)),
        s"stale mask rows survived the rewrite: $foldFiles vs $liveTails")
      // files 2 and 3 keep their masks (4 rows: 107,207,109,209)
      assert(fold.count() == 4L)
    }
  }

  test("vacuum severing the chain materializes the folded mask: full _dv " +
    "appears, the delta level goes, reads survive") {
    val root = freshRoot()
    seed(root)
    withChain(interval = 10) {
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 1, mor = true) // v2 full
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 2, mor = true) // v3 delta
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 3, mor = true) // v4 delta
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 4, mor = true) // v5 delta
      assert(hasSidecar(root, 4, "_dvdelta"))
      VersionedTable.vacuum(spark, root, keepLast = 2)
      // v4 (oldest retained, base dropped) materialized: full mask, no level
      assert(hasSidecar(root, 4, "_dv") && !hasSidecar(root, 4, "_dvdelta"),
        "vacuum must materialize the severed DV chain")
      // v5 still folds — through the materialized v4
      assert(hasSidecar(root, 5, "_dvdelta") && !hasSidecar(root, 5, "_dv"))
      assert(VersionedTable.readVersion(spark, root, 4).count() == 291L)
      assert(VersionedTable.read(spark, root).count() == 288L)
      assert(VersionedTable.read(spark, root)
        .where(col("id").isin(1L, 102L, 203L, 4L)).count() == 0L,
        "materialization must not resurrect any masked row")
    }
  }

  test("a vacuum from another process materializing the chain leaves " +
    "this process's warm reads exact") {
    // two spellings of one table: the symlinked one takes its own cached
    // snapshots, the way a second driver process would
    val base = java.nio.file.Files.createTempDirectory("graft_dvd_xp")
    val real = base.resolve("real")
    java.nio.file.Files.createDirectory(real)
    val link = base.resolve("link")
    java.nio.file.Files.createSymbolicLink(link, real)
    val rootA = real.toString + "/t"
    val rootB = link.toString + "/t"
    seed(rootA)
    withChain(interval = 10) {
      (1 to 4).foreach(i => VersionedTable.deleteWhere(spark, rootA,
        col("id") % 100 === i, mor = true)) // v2 full, v3-v5 delta levels
      assert(VersionedTable.readVersion(spark, rootA, 4).count() == 291L)
      assert(VersionedTable.readVersion(spark, rootA, 5).count() == 288L)
      VersionedTable.vacuum(spark, rootB, keepLast = 2)
      assert(hasSidecar(rootA, 4, "_dv") && !hasSidecar(rootA, 4, "_dvdelta"),
        "the other spelling's vacuum must materialize v4")
      assert(VersionedTable.readVersion(spark, rootA, 4).count() == 291L)
      assert(VersionedTable.readVersion(spark, rootA, 5).count() == 288L)
      assert(VersionedTable.read(spark, rootA).count() == 288L)
      assert(VersionedTable.read(spark, rootA)
        .where(col("id").isin(1L, 102L, 203L, 4L)).count() == 0L,
        "no cached value may point into the dropped base dirs")
    }
  }

  test("concurrent MOR deleters under the chain: each loser retries onto " +
    "the winner's level, every deletion lands, the fold stays whole") {
    val root = freshRoot()
    seed(root)
    withChain(interval = 12) {
      // v2: first mask (full form) — the chain's barrier
      VersionedTable.deleteWhere(spark, root, col("id") === 1L, mor = true)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // 4 concurrent MOR deletes of disjoint rows: OCC retries serialize
      // them into a chain of _dvdelta levels; no deletion may be lost
      // and no row may double-enter a level
      val writers = (0 until 4).map { w =>
        Future {
          VersionedTable.deleteWhere(spark, root,
            col("id") === (10L + w), mor = true)
        }
      }
      Await.result(Future.sequence(writers), 180.seconds)
      val cur = VersionedTable.currentVersion(spark, root).get
      assert(VersionedTable.read(spark, root)
        .where(col("id").isin(1L, 10L, 11L, 12L, 13L)).count() == 0L,
        "every concurrent deletion must land")
      assert(VersionedTable.read(spark, root).count() == 295L)
      // the folded mask is an exact set: 5 rows, no duplicates
      val fold = VersionedTable.dvOf(spark, root, cur).get
      assert(fold.count() == 5L, "fold must be exact — no lost or " +
        "duplicated mask rows across the contended levels")
      assert(fold.distinct().count() == 5L)
      // every level along the contended chain still folds
      (2L to cur).foreach(v =>
        assert(VersionedTable.readVersion(spark, root, v).count() >= 295L,
          s"v$v"))
    }
  }

  test("vacuum materializing an EMPTY fold still writes the sidecar: " +
    "later chain levels keep folding (the chain never loses its bottom)") {
    val root = freshRoot()
    seed(root)
    withChain(interval = 10) {
      // v2: mask confined to file 1 (ids 1-100)
      VersionedTable.deleteWhere(spark, root, col("id") === 50L, mor = true)
      // v3: COW delete in the SAME file — rewrites it, dropping its mask:
      // v3's fold is EMPTY (carried-only level, all masked files gone)
      VersionedTable.deleteWhere(spark, root, col("id") === 60L)
      assert(VersionedTable.dvOf(spark, root, 3L).get.count() == 0L)
      // v4: a new mask chains ON TOP of the empty-fold level
      VersionedTable.deleteWhere(spark, root, col("id") === 150L, mor = true)
      assert(hasSidecar(root, 4, "_dvdelta"))
      // vacuum drops v1/v2 and materializes v3: the EMPTY fold must still
      // land as a (zero-row) _dv — v4's chain bottoms out in it
      VersionedTable.vacuum(spark, root, keepLast = 2)
      assert(hasSidecar(root, 3, "_dv"),
        "an empty fold must materialize a zero-row sidecar, not nothing")
      assert(VersionedTable.dvOf(spark, root, 3L).get.count() == 0L)
      assert(VersionedTable.dvOf(spark, root, 4L).get.count() == 1L)
      assert(VersionedTable.read(spark, root)
        .where(col("id").isin(50L, 60L, 150L)).count() == 0L)
      assert(VersionedTable.read(spark, root).count() == 297L)
    }
  }

  test("a bitmap index VANISHING under an in-flight reader fails loudly — " +
    "an absent bin is 'no deletions' only while the level's _DONE survives") {
    val dir =
      java.nio.file.Files.createTempDirectory("graft_dvbm").toString + "/dv"
    Seq(("fileA", 3L), ("fileA", 9L)).toDF("file", "pos")
      .coalesce(1).write.parquet(dir)
    assert(DvBitmaps.write(spark, new org.apache.hadoop.fs.Path(dir)))
    val bm = s"$dir/${DvBitmaps.DirName}"
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // masked position hits; absent bin under a live _DONE = clean miss
    assert(DvBitmaps.lookup(Seq(bm), 1L, "fileA", 3L, hconf))
    assert(!DvBitmaps.lookup(Seq(bm), 1L, "fileA", 4L, hconf))
    assert(!DvBitmaps.lookup(Seq(bm), 1L, "fileB", 3L, hconf))
    // the index vanishes (vacuum materialization racing the reader):
    // the next cache fill must throw, never serve "no deletions"
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(bm), true)
    val e = intercept[java.io.IOException] {
      // a NEW file key forces a reload past the thread-local cache
      DvBitmaps.lookup(Seq(bm), 1L, "fileC", 3L, hconf)
    }
    assert(e.getMessage.contains("vanished"), e.getMessage)
  }

  test("clone and restore from mid-chain are self-contained (folded full mask)") {
    val root = freshRoot()
    seed(root)
    withChain(interval = 10) {
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 1, mor = true) // v2
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 2, mor = true) // v3 delta
      // shallow clone at the chain head: the clone's own sidecar is the
      // complete fold — its readers never walk the source's chain
      val dest = freshRoot()
      VersionedTable.shallowClone(spark, dest, root)
      assert(hasSidecar(dest, 1, "_dv") && !hasSidecar(dest, 1, "_dvdelta"))
      assert(VersionedTable.read(spark, dest).count() == 294L)
      // one more level, then restore to the mid-chain v3: the restore
      // commit re-records v3's folded mask as its own full sidecar
      VersionedTable.deleteWhere(spark, root, col("id") % 100 === 3, mor = true) // v4
      val rv = VersionedTable.restore(spark, root, 3L)
      assert(hasSidecar(root, rv, "_dv") && !hasSidecar(root, rv, "_dvdelta"))
      assert(VersionedTable.read(spark, root).orderBy("id").collect().toSeq ==
        VersionedTable.readVersion(spark, root, 3L).orderBy("id")
          .collect().toSeq)
    }
  }
}
