package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reader/writer PROTOCOL gate (Delta table-features shape): each
  * version records the format features it actually uses; a build that
  * does not support a required feature must refuse to read (serving
  * anyway would be silently wrong — ignored DV masks resurrect deleted
  * rows) or to write (it could break the feature's invariants). A
  * version in a retired on-disk form — no grouped `_meta` record, or a
  * one-line commit marker — is refused the same way. */
class ProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_proto").toString + "/t"

  test("features are recorded from what each version carries") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1, "a"), (2, "b")).toDF("id", "x"), root)
    // even a plain table requires grouped-meta of READERS since r19:
    // its five metadata records live in the one _meta object, and a
    // pre-grouping reader would serve the table without its schema.
    // The two-line in-commit-timestamp marker stays a WRITER feature,
    // the Delta inCommitTimestamp shape — an ignorant writer would
    // publish one-line markers and break the monotone-clamp contract
    assert(VersionedTable.protocolOf(spark, root, 1L) ==
      (Set("grouped-meta"), Set("grouped-meta", "in-commit-timestamps")))
    // DV delete → deletion-vectors required
    VersionedTable.setProperties(spark, root,
      Map("graft.enableDeletionVectors" -> "true"))
    graft.plans.GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id = 1")
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.protocolOf(spark, root, cur)._1
      .contains("deletion-vectors"))
    // rename → column-mapping required from the next version on
    VersionedTable.renameColumn(spark, root, "x", "y")
    val cur2 = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.protocolOf(spark, root, cur2)._1
      .contains("column-mapping"))
    // widening → widened-types required, sticky across later commits
    VersionedTable.widenColumn(spark, root,
      "id", org.apache.spark.sql.types.LongType)
    VersionedTable.commitAppend(Seq((9L, "c")).toDF("id", "y"), root)
    val cur3 = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.protocolOf(spark, root, cur3)._1
      .contains("widened-types"))
    // everything this build writes, it reads
    VersionedTable.read(spark, root).count()
  }

  test("a version requiring an unknown feature refuses reads and writes loudly") {
    // a future build's feature, and a retired one: the routed change-feed
    // layout (`_changes/graft_ct=<type>/`) is no longer read, so a version
    // an older build wrote with it must be refused, never served
    Seq("time-machine", "routed-change-feed").foreach { feature =>
      val root = freshRoot()
      VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
      VersionedTable.commitAppend(Seq((2L, "b")).toDF("id", "x"), root,
        changeFeed = true) // v2 carries a feed
      // what the other build would have written
      injectFutureFeature(root, 2L, feature)
      val readErr = intercept[VersionedTable.ProtocolException] {
        VersionedTable.read(spark, root).count()
      }
      assert(readErr.getMessage.contains(feature))
      val feedErr = intercept[VersionedTable.ProtocolException] {
        VersionedTable.readChanges(spark, root, 2L, 2L).count()
      }
      assert(feedErr.getMessage.contains(feature))
      val writeErr = intercept[VersionedTable.ProtocolException] {
        VersionedTable.commitAppend(Seq((3L, "c")).toDF("id", "x"), root)
      }
      assert(writeErr.getMessage.contains(feature))
      // nothing landed, and OLDER versions (no requirement) still time-travel
      assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
      assert(VersionedTable.readVersion(spark, root, 1L).count() == 1L)
    }
  }

  private def injectFutureFeature(
      root: String, v: Long, feature: String = "time-machine"): Unit = {
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(
      f"$root/v$v%08d/_protocol/features.properties")
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(s"reader=$feature\nwriter=$feature\n".getBytes("UTF-8"))
    finally out.close()
  }

  test("the change feed is gated too: a future-feature version refuses its CDC tail") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    VersionedTable.commitAppend(Seq((2L, "b")).toDF("id", "x"), root,
      changeFeed = true) // v2 carries a feed
    // sanity: the feed serves before the injection
    assert(VersionedTable.readChanges(spark, root, 2L, 2L).count() == 1L)
    // ...but the memo must not let a MUTATED version ride the old OK:
    // simulate a future build's version by replacing v2's protocol
    // record AND its marker (new marker file = new identity)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    injectFutureFeature(root, 2L)
    val marker = new org.apache.hadoop.fs.Path(s"$root/_commits/00000002")
    val content = readAll(f, marker)
    f.delete(marker, false)
    Thread.sleep(20) // local-fs mtime is ms-resolution
    writeAll(f, marker, content)
    val err = intercept[VersionedTable.ProtocolException] {
      VersionedTable.readChanges(spark, root, 2L, 2L).count()
    }
    assert(err.getMessage.contains("time-machine"))
  }

  test("a recreated table at the same root pays a fresh protocol probe (no stale memo OK)") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    VersionedTable.read(spark, root).count() // memoizes v1 as readable
    // drop the table entirely and recreate it at the SAME root — the dev/
    // test pattern the stale-memo hole bit
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    Thread.sleep(20) // marker identity = mtime, ms-resolution on ext4
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "x"), root)
    injectFutureFeature(root, 1L)
    val err = intercept[VersionedTable.ProtocolException] {
      VersionedTable.read(spark, root).count()
    }
    assert(err.getMessage.contains("time-machine"),
      "the recreated incarnation must be probed fresh, not ride the old OK")
  }

  private def hfs(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readAll(f: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def writeAll(
      f: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path, text: String): Unit = {
    val out = f.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** A two-version table whose v2 (a feed-carrying append) is rewritten
    * by `retire` into an older on-disk form; every face must then refuse
    * v2 with a ProtocolException naming it, and v1 keeps reading. */
  private def refusedEverywhere(retire: (String, org.apache.hadoop.fs.Path) => Unit): Unit = {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    VersionedTable.commitAppend(Seq((2L, "b")).toDF("id", "x"), root,
      changeFeed = true)
    val v2 = new org.apache.hadoop.fs.Path(root, VersionedTable.snapshotAt(spark, root, 2L).dirName)
    retire(root, v2)
    // a new marker identity: the form is read from disk, as by a fresh process
    hfs(root).setTimes(new org.apache.hadoop.fs.Path(root, "_commits/00000002"),
      System.currentTimeMillis() + 1000L, -1)
    val faces: Seq[(String, () => Any)] = Seq(
      "read" -> (() => VersionedTable.read(spark, root).count()),
      "write" -> (() => VersionedTable.commitAppend(Seq((3L, "c")).toDF("id", "x"), root)),
      "history" -> (() => graft.plans.GraftSql.execute(spark, s"DESCRIBE HISTORY '$root'").collect()),
      "commitInfoOf" -> (() => VersionedTable.commitInfoOf(spark, root, 2L)),
      "protocolOf" -> (() => VersionedTable.protocolOf(spark, root, 2L)),
      "readChanges" -> (() => VersionedTable.readChanges(spark, root, 2L, 2L).count()))
    faces.foreach { case (face, run) =>
      val err = intercept[VersionedTable.ProtocolException](run())
      assert(err.version == 2L && err.getMessage.contains("version 2 of "), s"$face: ${err.getMessage}")
    }
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L), "the refused write landed")
    assert(VersionedTable.readVersion(spark, root, 1L).count() == 1L)
  }

  test("a version without its grouped _meta record is refused on every face") {
    refusedEverywhere { (_, dir) =>
      hfs(dir.toString).delete(new org.apache.hadoop.fs.Path(dir, "_meta"), true)
    }
  }

  test("a version carrying only per-file metadata sidecars is refused on every face") {
    refusedEverywhere { (root, dir) =>
      val f = hfs(root)
      val meta = new org.apache.hadoop.fs.Path(dir, "_meta/commit.properties")
      val props = new java.util.Properties()
      val in = f.open(meta)
      try props.load(in) finally in.close()
      // the pre-grouping layout: one sidecar per record
      writeAll(f, new org.apache.hadoop.fs.Path(dir, "_schema/schema.json"),
        props.getProperty("schema"))
      writeAll(f, new org.apache.hadoop.fs.Path(dir, "_commitinfo/info.properties"),
        "operation=append\n")
      writeAll(f, new org.apache.hadoop.fs.Path(dir, "_properties/table.properties"), "")
      f.delete(meta.getParent, true)
    }
  }

  test("a version with a one-line commit marker is refused on every face") {
    refusedEverywhere { (root, dir) =>
      // only the marker changes: its form alone is refused, even beside
      // a grouped _meta record
      val f = hfs(root)
      val marker = new org.apache.hadoop.fs.Path(root, "_commits/00000002")
      f.delete(marker, false)
      Thread.sleep(20) // new marker identity: local-fs mtime is ms-resolution
      writeAll(f, marker, dir.getName + "\n")
    }
  }

  test("a version stamped only through the txn parquet extra is refused on every face") {
    refusedEverywhere { (root, dir) =>
      Seq(("app", 7L)).toDF("app_id", "batch_id").coalesce(1)
        .write.parquet(new org.apache.hadoop.fs.Path(dir, "_txn").toString)
      hfs(root).delete(new org.apache.hadoop.fs.Path(dir, "_meta"), true)
    }
  }
}
