package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.GraftSql

/** Metadata ROUND TRIPS per read, measured ([[CountingFileSystem]]) —
  * the read-side twin of [[CommitRoundTripsSpec]]. A version resolves
  * ONCE into a [[Snapshot]] from the `_commits` listing, and everything
  * derived from it is held against the marker's identity, so a warm
  * repeat of a read on an unchanged table stats no commit marker and
  * probes no manifest sidecar. The ceilings pin the cost class; each
  * counted op is one request on an object store.
  *
  * Counts on the table below (stat/list/open; `exists` counts as a
  * stat, as on a store), before one snapshot per version → after:
  *   - warm second DESCRIBE HISTORY: 73/2/1 (34 marker stats, 19
  *     manifest probes) → 0/1/0;
  *   - warm point lookup on the latest version: 40/9/3 (16 marker
  *     stats, 7 manifest probes) → 11/9/2;
  *   - warm `readChanges` over the last three versions: 29/7/3 (15
  *     marker stats) → 9/7/4;
  *   - one MV refresh: 147/38/21 → 35/33/28.
  * The ceilings sit about 1.5x above the after-counts.
  *
  * A pruned read plans against a relation with the version's schema
  * and no files, where it used to resolve a listed frame of every data
  * file first, so it stats and lists none of the files pruning drops.
  * Listed frame → planning relation, on the same table:
  *   - warm point lookup: 11/9/2 (7 data-file stats and 7 lists for the
  *     plan alone, 6 of them on dropped files) → 4/2/2;
  *   - one MV refresh: 34/33/28 → 34/33/28 (its feed fold reads no
  *     pruned snapshot).
  *
  * Writers pin one snapshot per attempt ([[VersionedTable.occRetry]])
  * and read through it. Stats of the pinned base version's commit
  * marker, through `(spark, root, v)` faces → through the pinned
  * snapshot: a key-range COW upsert 5 → 0, a SQL COPY INTO 3 → 0 (one
  * of each parent count was the COW commit's own size carry, which now
  * reads the snapshot it was handed). */
class ReadRoundTripsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    "cnt://" + java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.cnt.impl", classOf[CountingFileSystem].getName)
  }

  /** A 6-version table: a seed with its feed, five appends with theirs. */
  private def sixVersions(tag: String): String = {
    val root = freshRoot(tag)
    val seed = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "grp", "v")
    VersionedTable.commit(seed, root, extras = Map("changes" ->
      seed.withColumn("_change_type", lit("insert"))))
    for (i <- 3 to 7)
      VersionedTable.commitAppend(
        Seq((i.toLong, "a", 10L * i)).toDF("id", "grp", "v"), root,
        changeFeed = true)
    root
  }

  /** Runs `read` once warm, then counts a second run. */
  private def counted(label: String)(read: => Unit): Map[String, Long] = {
    read
    CountingFileSystem.reset()
    read
    val ops = CountingFileSystem.snapshot()
    info(s"$label: " + Seq("stat", "list", "open")
      .map(k => s"$k=${ops.getOrElse(k, 0L)}").mkString(" "))
    ops
  }

  private def markerStats(): Seq[String] =
    CountingFileSystem.pathsOf("stat").filter(_.matches(".*/_commits/\\d+$"))

  private def manifestProbes(): Seq[String] =
    Seq("stat", "list", "open").flatMap(CountingFileSystem.pathsOf)
      .filter(_.contains("/_manifest"))

  private def assertSnapshotted(label: String): Unit = {
    assert(markerStats().isEmpty,
      s"$label stats commit markers: ${markerStats().mkString(", ")}")
    assert(manifestProbes().isEmpty,
      s"$label probes manifests: ${manifestProbes().mkString(", ")}")
  }

  test("a warm DESCRIBE HISTORY stats no commit marker and probes no manifest") {
    val root = sixVersions("graft_rr_hist")
    val ops = counted("history") {
      assert(VersionedTable.history(spark, root).collect().length == 6)
    }
    assertSnapshotted("history")
    assert(ops.getOrElse("stat", 0L) <= 4L)
    assert(ops.getOrElse("list", 0L) <= 2L)
    assert(ops.getOrElse("open", 0L) <= 2L)
  }

  test("a warm point lookup on the latest version stats no commit marker " +
    "and probes no manifest") {
    val root = sixVersions("graft_rr_point")
    val ops = counted("point lookup") {
      assert(VersionedTable.readWhere(spark, root, col("id") === 5L)
        .collect().map(_.getLong(0)).toSeq == Seq(5L))
    }
    assertSnapshotted("point lookup")
    assert(ops.getOrElse("stat", 0L) <= 6L)
    assert(ops.getOrElse("list", 0L) <= 3L)
    assert(ops.getOrElse("open", 0L) <= 3L)
  }

  test("a warm point lookup stats and lists no data file that pruning " +
    "dropped") {
    val root = sixVersions("graft_rr_pruned")
    val v = VersionedTable.currentVersion(spark, root).get
    val (kept, total) = VersionedTable.prunedFiles(spark, root, v, col("id") === 5L)
    val dropped = VersionedTable.dataFileRefs(spark, root, v)
      .map(r => r.substring(r.lastIndexOf('/') + 1))
      .filterNot(name => kept.exists(_.endsWith("/" + name)))
    assert(kept.size == 1 && dropped.size == total - 1 && total == 7,
      s"kept $kept of $total")
    counted("point lookup, pruned files") {
      assert(VersionedTable.readWhere(spark, root, col("id") === 5L).count() == 1L)
    }
    val touched = for {
      op <- Seq("stat", "list")
      p <- CountingFileSystem.pathsOf(op)
      if dropped.exists(name => p.endsWith("/" + name))
    } yield s"$op $p"
    assert(touched.isEmpty, touched.mkString("\n"))
  }

  test("a warm readChanges over the last three versions stats no commit " +
    "marker and probes no manifest") {
    val root = sixVersions("graft_rr_feed")
    val ops = counted("readChanges") {
      assert(VersionedTable.readChanges(spark, root, 4L, 6L).count() == 3L)
    }
    assertSnapshotted("readChanges")
    assert(ops.getOrElse("stat", 0L) <= 14L)
    assert(ops.getOrElse("list", 0L) <= 11L)
    assert(ops.getOrElse("open", 0L) <= 6L)
  }

  test("one MV refresh stays within its metadata budget") {
    val src = sixVersions("graft_rr_mv")
    val mv = src.stripSuffix("/t") + "/mv"
    AggReplica.createView(spark, mv, src, Seq("grp"), "v")
    VersionedTable.commitAppend(
      Seq((8L, "b", 80L)).toDF("id", "grp", "v"), src, changeFeed = true)
    CountingFileSystem.reset()
    AggReplica.refreshView(spark, mv)
    val ops = CountingFileSystem.snapshot()
    info("refresh: " + Seq("stat", "list", "open")
      .map(k => s"$k=${ops.getOrElse(k, 0L)}").mkString(" "))
    assert(ops.getOrElse("stat", 0L) <= 56L)
    assert(ops.getOrElse("list", 0L) <= 50L)
    assert(ops.getOrElse("open", 0L) <= 42L)
  }

  /** Counted stats of version `v`'s own commit marker. */
  private def markerStatsOf(v: Long): Seq[String] =
    markerStats().filter(_.endsWith(f"/_commits/$v%08d"))

  test("a key-range COW upsert stats its pinned base version's commit " +
    "marker at most once") {
    val ts = lit("2024-06-01 00:00:00").cast("timestamp")
    def staging(ids: Seq[Long], status: String) =
      ids.map(i => (i, status, s"p$i")).toDF("id", "last_status", "payload")
        .withColumn("created_at", ts)
    val mart = freshRoot("graft_rr_cow")
    Sinks.upsertByKeyVersioned(spark, mart, staging(1L to 4L, "OPEN"),
      "id", ts, "last_status", "DONE")
    for (i <- 5 to 9)
      Sinks.upsertByKeyVersionedCow(spark, mart, staging(Seq(10L * i), "OPEN"),
        "id", ts, "last_status", "DONE")
    assert(VersionedTable.versions(spark, mart).size == 6)
    VersionedTable.read(spark, mart).collect()
    val martBase = VersionedTable.currentVersion(spark, mart).get
    CountingFileSystem.reset()
    Sinks.upsertByKeyVersionedCow(spark, mart, staging(Seq(2L), "DONE"),
      "id", ts, "last_status", "DONE")
    val cowStats = markerStatsOf(martBase)
    info(s"COW upsert: base marker stats=${cowStats.size}")
    // the key-range road: every untouched file rides by reference
    assert(VersionedTable.history(spark, mart)
      .where(col("version") === martBase + 1).head.getAs[Int]("kept_refs") > 0)
    assert(cowStats.size <= 1, cowStats.mkString(", "))
  }

  test("a SQL COPY INTO stats its pinned base version's commit marker at " +
    "most once") {
    val root = sixVersions("graft_rr_copy")
    val landing = java.nio.file.Files.createTempDirectory("graft_rr_land").toString
    Seq((20L, "c", 200L)).toDF("id", "grp", "v").coalesce(1)
      .write.parquet(landing + "/batch")
    VersionedTable.read(spark, root).collect()
    val base = VersionedTable.currentVersion(spark, root).get
    CountingFileSystem.reset()
    assert(GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing/batch' FILEFORMAT = PARQUET")
      .collect().head.getLong(2) == 1L)
    val copyStats = markerStatsOf(base)
    info(s"COPY INTO: base marker stats=${copyStats.size}")
    assert(copyStats.size <= 1, copyStats.mkString(", "))
    assert(VersionedTable.read(spark, root).count() == 8L)
  }
}
