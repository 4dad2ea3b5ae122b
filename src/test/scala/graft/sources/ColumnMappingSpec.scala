package graft.sources

import graft.SparkSpec
import graft.plans.GraftSql
import org.apache.spark.sql.functions._

/** Column mapping (Delta name-mode): RENAME/DROP COLUMN as metadata-only
  * commits — physical (birth) names frozen into the parquet files, the
  * logical schema and a logical→physical map rewritten per version. The
  * invariants under test: zero data files touched, old data readable
  * under new names, time travel per-version names, stats/skipping intact
  * through the rename, drop-then-re-add never resurrects stale values. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_colmap").toString + "/t"

  private def seed(root: String): Unit =
    VersionedTable.commit(
      (1L to 20L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount"),
      root)

  private def dataFilesOf(root: String, v: Long): Seq[String] =
    VersionedTable.dataFileRefs(spark, root, v)

  /** v carries every file of prev by reference and writes none of its
    * own (same shape as evolveSchema). */
  private def assertMetadataOnly(root: String, prev: Seq[String], v: Long): Unit = {
    val after = dataFilesOf(root, v)
    assert(prev.toSet.subsetOf(after.toSet), "a kept file went missing")
    val fresh = after.toSet -- prev.toSet
    assert(fresh.isEmpty, s"metadata commit wrote data files: $fresh")
  }

  test("RENAME COLUMN is metadata-only: same files, new name over old data") {
    val root = freshRoot(); seed(root)
    val before = dataFilesOf(root, 1L)
    val v = VersionedTable.renameColumn(spark, root, "amount", "revenue")
    assert(v == 2L)
    // zero data movement: v2 references v1's files by manifest
    assertMetadataOnly(root, before, 2L)
    val got = VersionedTable.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "x", "revenue"))
    assert(got.where(col("id") === 3L).head.getLong(2) == 30L)
    // time travel: v1 still reads under the old name
    assert(VersionedTable.readVersion(spark, root, 1L).columns.contains("amount"))
    // the old name is gone from the current face
    assert(!got.columns.contains("amount"))
  }

  test("renamed column stays skippable and DML-able under the new name") {
    val root = freshRoot(); seed(root)
    VersionedTable.renameColumn(spark, root, "amount", "revenue")
    // stats-only aggregate answers through the mapping
    val agg = VersionedTable.statsAggregate(spark, root, Seq("revenue"))
    assert(agg.exists { case (rows, cs) =>
      rows == 20L && cs.head.column == "revenue" })
    // pruning works on the new name (predicate pushes through the rename
    // Project down to the physical scan)
    val (kept, total) = VersionedTable.prunedFiles(spark, root,
      VersionedTable.currentVersion(spark, root).get, col("revenue") === 10L)
    assert(kept.size < total, "rename must not disable skipping")
    // SQL DML through the new name; writes land physical, reads logical
    GraftSql.execute(spark,
      s"UPDATE `$root` SET revenue = 999 WHERE id = 1")
    assert(VersionedTable.read(spark, root)
      .where(col("id") === 1L).head.getLong(2) == 999L)
    GraftSql.execute(spark, s"DELETE FROM `$root` WHERE revenue = 999")
    assert(VersionedTable.read(spark, root).count() == 19)
    // appends under the new logical schema
    GraftSql.execute(spark, s"INSERT INTO `$root` VALUES (21, 'r21', 210)")
    assert(VersionedTable.readWhere(spark, root, col("revenue") === 210L)
      .head.getLong(0) == 21L)
  }

  test("DROP COLUMN is metadata-only; re-add mints a fresh physical name") {
    val root = freshRoot(); seed(root)
    val before = dataFilesOf(root, 1L)
    VersionedTable.dropColumn(spark, root, "x")
    assertMetadataOnly(root, before, 2L)
    val got = VersionedTable.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "amount"))
    // time travel keeps the dropped column
    assert(VersionedTable.readVersion(spark, root, 1L).columns.contains("x"))
    // re-adding logical "x": old files' stale values must NOT resurrect
    val withX = org.apache.spark.sql.types.StructType(
      got.schema :+ org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.StringType, nullable = true))
    VersionedTable.evolveSchema(spark, root, withX)
    val re = VersionedTable.read(spark, root)
    assert(re.columns.toSeq == Seq("id", "amount", "x"))
    assert(re.where(col("x").isNotNull).count() == 0,
      "dropped values resurrected through birth-name collision")
    // and a fresh write fills the NEW x only for its own rows
    VersionedTable.commitAppend(
      Seq((100L, 1000L, "fresh")).toDF("id", "amount", "x"), root)
    val after = VersionedTable.read(spark, root)
    assert(after.where(col("x") === "fresh").count() == 1)
    assert(after.where(col("x").isNotNull).count() == 1)
  }

  test("rename after rename chains through to the same birth column") {
    val root = freshRoot(); seed(root)
    VersionedTable.renameColumn(spark, root, "amount", "revenue")
    VersionedTable.renameColumn(spark, root, "revenue", "rev_usd")
    val got = VersionedTable.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "x", "rev_usd"))
    assert(got.where(col("id") === 7L).head.getLong(2) == 70L)
    // renaming BACK to the birth name drops the mapping entry cleanly
    VersionedTable.renameColumn(spark, root, "rev_usd", "amount")
    assert(VersionedTable.columnMapping(spark, root,
      VersionedTable.currentVersion(spark, root).get).isEmpty)
    assert(VersionedTable.read(spark, root)
      .where(col("id") === 7L).head.getLong(2) == 70L)
  }

  test("rename vs constraints and duplicates: loud refusals") {
    val root = freshRoot(); seed(root)
    VersionedTable.addConstraint(spark, root, "amt_pos", "amount >= 0")
    val e1 = intercept[Exception](
      VersionedTable.renameColumn(spark, root, "amount", "revenue"))
    assert(e1.getMessage.contains("amt_pos"))
    val e2 = intercept[Exception](
      VersionedTable.dropColumn(spark, root, "amount"))
    assert(e2.getMessage.contains("amt_pos"))
    VersionedTable.dropConstraint(spark, root, "amt_pos")
    VersionedTable.renameColumn(spark, root, "amount", "revenue") // now fine
    val e3 = intercept[Exception](
      VersionedTable.renameColumn(spark, root, "x", "revenue"))
    assert(e3.getMessage.contains("already exists"))
  }

  test("mapping interacts with MOR deletes, restore, and clone") {
    val root = freshRoot(); seed(root)
    VersionedTable.renameColumn(spark, root, "amount", "revenue") // v2
    VersionedTable.deleteWhere(spark, root, col("revenue") === 50L,
      mor = true) // v3: DV on a mapped table
    assert(VersionedTable.read(spark, root).count() == 19)
    // COW update through the mapping on a DV-carrying table
    VersionedTable.updateWhere(spark, root, col("id") === 2L,
      Map("revenue" -> lit(222L))) // v4
    val cur = VersionedTable.read(spark, root)
    assert(cur.where(col("id") === 2L).head.getLong(2) == 222L)
    assert(cur.count() == 19)
    // restore to v2 re-surfaces the masked row under v2's mapping
    VersionedTable.restore(spark, root, 2L)
    val restored = VersionedTable.read(spark, root)
    assert(restored.count() == 20 && restored.columns.contains("revenue"))
    // clone carries the mapping
    val dest = freshRoot()
    VersionedTable.shallowClone(spark, dest, root)
    assert(VersionedTable.read(spark, dest).columns.toSeq ==
      Seq("id", "x", "revenue"))
    assert(VersionedTable.read(spark, dest).count() == 20)
  }

  test("maintenance rewrites on a mapped table: z-order re-births names cleanly") {
    val root = freshRoot(); seed(root)
    VersionedTable.renameColumn(spark, root, "amount", "revenue")
    // a full layout rewrite reads logical, writes fresh files whose birth
    // names ARE the logical names — mapping resets, data identical
    // (tiny byte target: force several clustered files so pruning can bite)
    VersionedTable.optimize(spark, root, Seq("revenue"), targetFileBytes = 512)
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.columnMapping(spark, root, cur).isEmpty,
      "full rewrite must re-birth columns under logical names")
    val got = VersionedTable.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "x", "revenue"))
    assert(got.select(sum(col("revenue"))).head.getLong(0) ==
      (1L to 20L).map(_ * 10).sum)
    // and the clustered files prune on the renamed column
    val (kept, total) = VersionedTable.prunedFiles(spark, root, cur,
      col("revenue") === 10L)
    assert(kept.size < total)
  }

  test("SQL face: ALTER TABLE RENAME/DROP COLUMN route to the mapping") {
    val root = freshRoot(); seed(root)
    val r = GraftSql.execute(spark,
      s"ALTER TABLE '$root' RENAME COLUMN amount TO revenue").collect().head
    assert(r.getString(0) == "RENAME COLUMN" && r.getLong(2) == 2L)
    GraftSql.execute(spark, s"ALTER TABLE '$root' DROP COLUMN x")
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("id", "revenue"))
  }
}
