package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Commit-recorded per-file byte sizes ([[FileSizes]] — the AddFile.size
  * shape): every commit path records its own files' lengths from the
  * listing it already performs, manifest commits carry kept files' rows
  * forward, and [[VersionedTable.fileSizes]] serves maintenance/compact
  * sizing without a per-file `getFileStatus` walk. Legacy vintages
  * (no `_sizes` sidecar) resolve through the distributed-stat fallback
  * and are healed by their next commit's carry. */
class FileSizesSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_sizes").toString + "/t"

  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The CURRENT version's data dir (claim-named): resolved through the
    * commit marker's FIRST line, exactly as the reader does (line 2,
    * when present, is the in-commit timestamp). */
  private def currentDataDir(root: String): Path = {
    val v = VersionedTable.currentVersion(spark, root).get
    val marker = new Path(root, f"_commits/$v%08d")
    val f = hfs(root)
    val in = f.open(marker)
    val name = try scala.io.Source.fromInputStream(in, "UTF-8")
                 .getLines().map(_.trim).find(_.nonEmpty).get
               finally in.close()
    new Path(root, name)
  }

  /** Ground truth via direct stat — what the recorded table must match. */
  private def trueSizes(root: String): Map[String, Long] = {
    val f = hfs(root)
    val v = VersionedTable.currentVersion(spark, root).get
    VersionedTable.dataFileRefs(spark, root, v)
      .map(r => r -> f.getFileStatus(new Path(root, r)).getLen).toMap
  }

  test("a plain commit records every data file's size; fileSizes matches stat truth") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 500L).map(i => (i, s"row-$i")).toDF("id", "x").repartition(3), root)
    val truth = trueSizes(root)
    val recorded = FileSizes.load(hfs(root), currentDataDir(root))
    assert(recorded == truth,
      s"recorded table must cover all ${truth.size} files exactly: " +
        s"recorded=${recorded.keySet} truth=${truth.keySet}")
    assert(VersionedTable.fileSizes(spark, root, 1L) == truth)
  }

  test("a COW delete's manifest commit carries kept files' sizes — current dir covers ALL refs") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 1000L).map(i => (i, i % 10)).toDF("id", "g")
        .repartitionByRange(4, col("id")), root)
    VersionedTable.deleteWhere(spark, root, col("id") <= 100L)
    val v = VersionedTable.currentVersion(spark, root).get
    val refs = VersionedTable.dataFileRefs(spark, root, v)
    // the COW snapshot references BOTH fresh and kept (earlier-dir) files
    assert(refs.exists(_.startsWith(f"v$v%08d/")) &&
      refs.exists(!_.startsWith(f"v$v%08d/")),
      s"COW snapshot should mix fresh and kept refs: $refs")
    val recorded = FileSizes.load(hfs(root), currentDataDir(root))
    val truth = trueSizes(root)
    refs.foreach { r =>
      assert(recorded.get(r).contains(truth(r)),
        s"ref $r must be recorded in the CURRENT version's own sidecar " +
          s"(carried for kept files): ${recorded.get(r)} vs ${truth(r)}")
    }
  }

  test("legacy vintage (no _sizes) still reports sizes, and the next commit heals it") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 300L).map(i => (i, s"r$i")).toDF("id", "x").repartition(2), root)
    val f = hfs(root)
    // simulate a pre-upgrade table: drop every recorded size table
    f.listStatus(new Path(root)).filter(_.getPath.getName.startsWith("v"))
      .foreach(s => f.delete(new Path(s.getPath, "_sizes"), true))
    val truth1 = trueSizes(root)
    assert(VersionedTable.fileSizes(spark, root, 1L) == truth1,
      "fallback stat must serve a table with no recorded sizes")
    // a maintenance report runs off the fallback too
    val rep = VersionedTable.maintenanceReport(spark, root)
    assert(rep.tableBytes == truth1.values.sum)
    // the next manifest commit re-records: kept files' sizes resolve via
    // the fallback once and are WRITTEN, so later reads are metadata-free
    VersionedTable.deleteWhere(spark, root, col("id") === 1L)
    val truth2 = trueSizes(root)
    val recorded = FileSizes.load(f, currentDataDir(root))
    truth2.foreach { case (r, len) =>
      assert(recorded.get(r).contains(len),
        s"post-heal commit must record $r (kept-file carry from fallback)")
    }
  }

  test("restore and shallow clone carry size tables with their manifests") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 400L).map(i => (i, i * 2)).toDF("id", "y").repartition(2), root)
    VersionedTable.commitAppend(
      (401L to 500L).map(i => (i, i * 2)).toDF("id", "y"), root)
    val f = hfs(root)
    // RESTORE to v1: the manifest names v1's files; sizes must ride along
    VersionedTable.restore(spark, root, 1L)
    val vNow = VersionedTable.currentVersion(spark, root).get
    val refs = VersionedTable.dataFileRefs(spark, root, vNow)
    val recorded = FileSizes.load(f, currentDataDir(root))
    refs.foreach(r => assert(recorded.contains(r),
      s"restore must carry $r's size into its own sidecar"))
    assert(recorded.filter { case (k, _) => refs.contains(k) } ==
      trueSizes(root).filter { case (k, _) => refs.contains(k) })
    // SHALLOW CLONE: absolute refs into the source root, sizes re-keyed
    val dest = freshRoot()
    VersionedTable.shallowClone(spark, dest, root)
    val cv = VersionedTable.currentVersion(spark, dest).get
    val cloneRefs = VersionedTable.dataFileRefs(spark, dest, cv)
    val cloneSizes = FileSizes.load(hfs(dest), currentDataDir(dest))
    cloneRefs.foreach(r => assert(cloneSizes.contains(r),
      s"clone must record $r (absolute ref) in its own sidecar"))
    assert(VersionedTable.fileSizes(spark, dest, cv).values.sum ==
      VersionedTable.fileSizes(spark, root, vNow).values.sum)
  }

  /** The record check: the version's OWN size table holds the on-disk
    * length of every ref it records (all refs, or a delta form's adds),
    * and its stats cover every ref or none — here every ref, since each
    * input's source files all carry stats. */
  private def assertRecord(root: String, v: Long, what: String): Unit = {
    val f = hfs(root)
    val refs = VersionedTable.dataFileRefs(spark, root, v)
    val recorded = VersionedTable.manifestDeltaOf(spark, root, v)
      .map(_.added).getOrElse(refs)
    val dir = new Path(root, VersionedTable.snapshotAt(spark, root, v).dirName)
    val sizes = FileSizes.load(f, dir)
    recorded.foreach { r =>
      assert(sizes.get(r).contains(f.getFileStatus(new Path(root, r)).getLen),
        s"$what: $r recorded ${sizes.get(r)}")
    }
    val stats = VersionedTable.statsOf(spark, root, v)
    assert(refs.nonEmpty && refs.forall(stats.contains),
      s"$what: stats cover ${refs.count(stats.contains)} of ${refs.size} refs")
  }

  test("deep clone, CONVERT, a delta-form commit and a vacuum-materialized " +
    "version record every ref's size and stats for every ref") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 400L).map(i => (i, i * 3)).toDF("id", "y").repartition(3), root)
    val dest = freshRoot()
    VersionedTable.deepClone(spark, dest, root)
    assertRecord(dest, VersionedTable.currentVersion(spark, dest).get, "deep clone")
    // the copies are the clone's only files: no empty part file recorded
    assert(FileSizes.load(hfs(dest), currentDataDir(dest)).size == 3)

    val plain = freshRoot()
    (1L to 300L).map(i => (i, s"r$i")).toDF("id", "x").repartition(2)
      .write.parquet(plain)
    assertRecord(plain, VersionedTable.convertToGraft(spark, plain), "convert")

    spark.conf.set(VersionedTable.DeltaFloorKey, "0")
    try {
      // v2 is the first manifest (its base is plain), v3 and v4 delta forms
      for (i <- 2 to 4)
        VersionedTable.commitAppend(Seq((1000L + i, 1L)).toDF("id", "y"), root)
      assert(VersionedTable.manifestDeltaOf(spark, root, 4L).isDefined)
      assertRecord(root, 4L, "delta form")
      // dropping v1-v2 severs v3's chain: vacuum materializes it in place
      VersionedTable.vacuum(spark, root, keepLast = 2)
      assert(VersionedTable.manifestDeltaOf(spark, root, 3L).isEmpty)
      assertRecord(root, 3L, "materialized")
      assertRecord(root, 4L, "delta form over a materialized base")
    } finally spark.conf.unset(VersionedTable.DeltaFloorKey)
  }
}
