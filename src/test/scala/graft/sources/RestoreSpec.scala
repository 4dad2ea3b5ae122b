package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RESTORE to an earlier version: a metadata-only rollback commit that
  * republishes the target snapshot's file references (with its schema,
  * stats and deletion-vector sidecar), keeps all history time-travelable,
  * emits a file-granular change feed, and refuses targets vacuum has
  * gutted. */
class RestoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_restore").toString + "/t"

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def seed(root: String): Unit =
    VersionedTable.commit(
      (1L to 100L).map(i => (i, s"r$i")).toDF("id", "x")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"), root)

  test("restore after destructive DML brings the old rows back, metadata-only") {
    val root = freshRoot(); seed(root)
    VersionedTable.deleteWhere(spark, root, col("id") <= 50L)
    VersionedTable.updateWhere(spark, root, col("id") === 60L,
      Map("x" -> lit("mangled")))
    val before = VersionedTable.readVersion(spark, root, 1L)
      .orderBy("id").collect().toSeq
    val v = VersionedTable.restore(spark, root, 1L)
    assert(VersionedTable.currentVersion(spark, root).contains(v))
    assert(VersionedTable.read(spark, root).orderBy("id").collect().toSeq == before)
    // metadata-only: the restore version dir holds no data file
    val f = fsOf(root)
    val dir = new org.apache.hadoop.fs.Path(root, f"v$v%08d")
    val dataBytes = f.listStatus(dir)
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    assert(dataBytes == 0L, s"restore wrote $dataBytes data bytes")
    // the mistake-path versions are still readable (history preserved)
    assert(VersionedTable.readVersion(spark, root, 2L).count() == 50)
    // stats carried: skipping still works on the restored snapshot
    assert(VersionedTable.statsAggregate(spark, root, Seq("id"))
      .exists(_._1 == 100L))
  }

  test("restore re-records the TARGET's constraints/properties, keeping writes alive") {
    val root = freshRoot(); seed(root) // v1: (id, x)
    // evolve a column in, constrain it, then roll back past both
    val widened = org.apache.spark.sql.types.StructType(
      VersionedTable.read(spark, root).schema :+
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType, nullable = true))
    VersionedTable.evolveSchema(spark, root, widened)            // v2
    VersionedTable.addConstraint(spark, root, "score_pos",
      "score IS NULL OR score >= 0")                             // v3
    VersionedTable.setProperties(spark, root, Map("k" -> "v3"))  // v4
    VersionedTable.restore(spark, root, 1L)                      // v5
    val cur = VersionedTable.currentVersion(spark, root).get
    // the restored metadata matches the target era: a carried-forward
    // CHECK on the now-absent column would fail every subsequent write
    assert(VersionedTable.constraintsOf(spark, root, cur).isEmpty)
    assert(VersionedTable.propertiesOf(spark, root, cur).isEmpty)
    import spark.implicits._
    VersionedTable.commitAppend(Seq((999L, "ok")).toDF("id", "x"), root)
    assert(VersionedTable.read(spark, root).count() == 101)
  }

  test("restore change feed is the file-granular diff") {
    val root = freshRoot(); seed(root)
    // v2: delete the low file entirely (COW rewrites file 1)
    VersionedTable.deleteWhere(spark, root, col("id") <= 50L)
    val v = VersionedTable.restore(spark, root, 1L)
    val feed = VersionedTable.readChanges(spark, root, v, v)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // restoring re-surfaces the 50 deleted rows as inserts; the delete's
    // rewritten file (the remaining 0-row slice was dropped, so nothing
    // to delete back out) contributes nothing
    assert(byType.getOrElse("insert", 0L) == 50L, s"feed was $byType")
  }

  test("restore on a deletion-vector table round-trips the masks") {
    val root = freshRoot(); seed(root)
    VersionedTable.deleteWhere(spark, root, col("id") === 7L, mor = true) // v2
    VersionedTable.deleteWhere(spark, root, col("id") === 8L, mor = true) // v3
    // back to v2: id 8 re-surfaces, id 7 stays masked
    val v = VersionedTable.restore(spark, root, 2L)
    val ids = VersionedTable.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(7L) && ids.contains(8L) && ids.size == 99)
    // the dv-diff rows ride the feed: id 8 is the one re-surfaced insert
    val feed = VersionedTable.readChanges(spark, root, v, v)
    val ins = feed.where(col("_change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ins == Seq(8L), s"expected the re-surfaced row, got $ins")
    // forward to v3 again: id 8 re-masks, emitted as a delete
    val v2 = VersionedTable.restore(spark, root, 3L)
    assert(VersionedTable.read(spark, root).count() == 98)
    val del = VersionedTable.readChanges(spark, root, v2, v2)
      .where(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(del == Seq(8L), s"expected the re-masked row, got $del")
  }

  test("restore refuses a vacuumed target; no-op restore publishes nothing") {
    val root = freshRoot(); seed(root)
    VersionedTable.deleteWhere(spark, root, col("id") <= 10L) // v2 rewrites
    VersionedTable.compact(spark, root) // v3 owns all its bytes
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.restore(spark, root, cur) == cur)
    VersionedTable.vacuum(spark, root, keepLast = 1)
    // vacuum dropped v1's commit marker (and files): the refusal surfaces
    // at the is-committed gate; the referenced-files gate behind it covers
    // the defensive case of a marker outliving its files
    val e = intercept[Exception] { VersionedTable.restore(spark, root, 1L) }
    assert(e.getMessage.contains("not committed") ||
      e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("SQL face: RESTORE TABLE '<root>' TO VERSION AS OF n") {
    val root = freshRoot(); seed(root)
    graft.plans.GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id > 10")
    val res = graft.plans.GraftSql.execute(spark,
      s"RESTORE TABLE '$root' TO VERSION AS OF 1").collect().head
    assert(res.getString(0) == "RESTORE")
    assert(VersionedTable.read(spark, root).count() == 100)
  }
}
