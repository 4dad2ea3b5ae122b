package graft.sources

import graft.SparkSpec

/** Versioned-table protocol: metadata-only publish, crash invisibility,
  * time travel, race-retry, vacuum. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_vtable").toString + "/t"

  test("commits are linear; read sees the latest; time travel sees the past") {
    val root = freshRoot()
    val v1 = VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    val v2 = VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    assert((v1, v2) == (1L, 2L))
    assert(VersionedTable.currentVersion(spark, root).contains(2L))
    assert(VersionedTable.read(spark, root).count() == 2)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 1)
  }

  test("crashed writers are invisible at every protocol step") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash after step 1 (staging written, nothing claimed)
    Seq((9L, "junk")).toDF("id", "x").write.parquet(s"$root/_staging/deadbeef")
    // crash after step 2/3 (version 2 claimed, data moved, never published)
    Seq((8L, "junk")).toDF("id", "x").write.parquet(s"$root/v00000002")
    f.create(new org.apache.hadoop.fs.Path(s"$root/_claims/00000002"), false).close()
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the next writer skips the orphaned claim's DIRECTORY (it stages
    // under v00000003) but publishes as the DENSE next number 2 — the
    // marker's content maps version 2 to the v00000003 dir, so the
    // crashed writer's junk dir is never read
    val v = VersionedTable.commit(Seq((2L, "b")).toDF("id", "x"), root)
    assert(v == 2L, s"published $v, expected the dense next number 2")
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(VersionedTable.readVersion(spark, root, 2)
      .collect().map(_.getLong(0)).toSeq == Seq(2L),
      "version 2 resolved to the crashed writer's orphaned dir")
  }

  test("losing the claim race retries with the next number, no data rewrite") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    // another writer holds the claim for version 2 (and is mid-commit)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(s"$root/_claims/00000002"), false).close()
    val v = VersionedTable.commit(Seq((3L, "mine")).toDF("id", "x"), root)
    // dense numbering: we stage under the NEXT free dir (v00000003) but
    // publish as version 2 — the held claim burns a dir name, never a
    // version number
    assert(v == 2L, s"published $v, expected the dense next number 2")
    // the other writer's claimed dir was never touched by us
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$root/v00000002")))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$root/v00000003")))
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("upsertByKeyVersioned: each run is a snapshot; history time-travels") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = freshRoot()
    val t0 = lit("2024-06-01 00:00:00").cast("timestamp")
    val t1 = lit("2024-06-02 00:00:00").cast("timestamp")
    def stg(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "last_status", "c")
        .withColumn("created_at", col("c").cast("timestamp")).drop("c")

    val v1 = Sinks.upsertByKeyVersioned(spark, root,
      stg(Seq((1L, "OPEN", "2024-05-30 10:00:00"), (2L, "DONE", "2024-05-30 11:00:00"))),
      "id", t0, "last_status", "DONE")
    // a reader resolves version 1 and holds it across the next commit
    val held = VersionedTable.readVersion(spark, root, v1)
    val v2 = Sinks.upsertByKeyVersioned(spark, root,
      stg(Seq((1L, "DONE", "2024-05-30 10:00:00"), (3L, "OPEN", "2024-06-01 09:00:00"))),
      "id", t1, "last_status", "DONE")
    assert((v1, v2) == (1L, 2L))

    val latest = VersionedTable.read(spark, root).orderBy("id").collect()
    assert(latest.length == 3)
    assert(latest(0).getAs[Any]("deleted_at") != null) // id 1 newly DONE
    assert(latest(2).getAs[Any]("deleted_at") == null) // id 3 new OPEN
    // the held reader still sees the pre-merge world, post-commit
    val old = held.orderBy("id").collect()
    assert(old.length == 2 && old(0).getAs[Any]("deleted_at") == null)
  }

  test("vacuum keeps the newest K and drops the rest") {
    val root = freshRoot()
    (1 to 4).foreach(i => VersionedTable.commit(Seq((i.toLong, "x")).toDF("id", "x"), root))
    val dropped = VersionedTable.vacuum(spark, root, keepLast = 2)
    assert(dropped == Seq(1L, 2L))
    assert(VersionedTable.versions(spark, root) == Seq(3L, 4L))
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(4L))
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, 1)
    }
  }

  test("a table recreated at the same root never resolves the old table's " +
    "version dirs") {
    val root = freshRoot()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    // a held claim on number 2: the next commit stages under v00000003
    // and publishes as version 2
    f.create(new org.apache.hadoop.fs.Path(s"$root/_claims/00000002"), false).close()
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "x"), root)
    assert(VersionedTable.readVersion(spark, root, 2)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // the same root, a new table: its version 2 lives in v00000002
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    (1 to 3).foreach(i =>
      VersionedTable.commit(Seq((10L + i, "n")).toDF("id", "x"), root))
    assert(VersionedTable.readVersion(spark, root, 2)
      .collect().map(_.getLong(0)).toSeq == Seq(12L))
    assert(VersionedTable.read(spark, root)
      .collect().map(_.getLong(0)).toSeq == Seq(13L))
  }
}
