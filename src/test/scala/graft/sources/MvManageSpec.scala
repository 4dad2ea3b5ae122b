package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.GraftSql

/** MV management verbs and declared ROLLUP cascades
  * ([[AggReplica.createRollupView]]/`readRollup`/`dropView`/`listViews`
  * and their SQL faces): the chain must equal the SQL ROLLUP recompute
  * after churn, refresh each link in O(changes) and in dependency
  * order, report staleness, and DROP must remove views (child-first)
  * while refusing base tables. */
class MvManageSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def seed(root: String): Unit = {
    val df = Seq(
      ("a", 1L, 10L), ("a", 1L, 20L), ("a", 2L, 5L),
      ("b", 1L, 100L), ("b", 3L, 7L)
    ).toDF("seg", "nat", "v")
    VersionedTable.commit(df, root, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
  }

  private def rollupState(mv: String): Seq[(String, Long, Long, Long)] =
    AggReplica.readRollup(spark, mv)
      .select(coalesce(col("seg"), lit("ALL")).as("seg"),
        coalesce(col("nat"), lit(-1L)).as("nat"),
        col("n_rows"), col("value_sum").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  private def recompute(src: String): Seq[(String, Long, Long, Long)] =
    VersionedTable.read(spark, src)
      .rollup(col("seg"), col("nat"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("value_sum"))
      .select(coalesce(col("seg"), lit("ALL")).as("seg"),
        coalesce(col("nat"), lit(-1L)).as("nat"),
        col("n_rows"), col("value_sum").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("a declared ROLLUP chain equals the SQL ROLLUP recompute at seed " +
    "and after churn folded by ONE cascading refresh") {
    val tmp = freshDir("graft_mvm_ru")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    seed(src)
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT seg, nat, count(*) AS n_rows, sum(v) AS value_sum
         |FROM '$src' GROUP BY ROLLUP (seg, nat)""".stripMargin)
    assert(rollupState(mv) == recompute(src))
    // churn every shape: append, group-moving update, delete
    VersionedTable.commitAppend(
      Seq(("c", 9L, 1000L), ("a", 1L, 3L)).toDF("seg", "nat", "v"),
      src, changeFeed = true)
    VersionedTable.updateWhere(spark, src, col("v") === 100L,
      Map("seg" -> lit("moved")))
    VersionedTable.deleteWhere(spark, src, col("v") === 5L)
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(rollupState(mv) == recompute(src),
      "one cascading refresh must fold every level to the recompute")
  }

  test("the cascade refreshes in dependency order and O(changes) per " +
    "link: an unmoved parent leaves the child uncommitted; a crash " +
    "between parent and child heals on the next refresh") {
    val tmp = freshDir("graft_mvm_dep")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    seed(src)
    AggReplica.createRollupView(spark, mv, src, Seq("seg", "nat"), "v")
    val child = s"${mv}__rollup1"
    val childV0 = VersionedTable.currentVersion(spark, child).get
    // nothing moved: neither link commits
    AggReplica.refreshView(spark, mv)
    assert(VersionedTable.currentVersion(spark, child).contains(childV0),
      "an unmoved chain must not commit any link")
    // source moves; the PARENT alone is refreshed (simulating a crash
    // between the links) — the child is now behind its parent
    VersionedTable.commitAppend(Seq(("a", 2L, 50L)).toDF("seg", "nat", "v"),
      src, changeFeed = true)
    // parent-only refresh: call the child's PARENT via the plain
    // single-view road by refreshing the chain and checking both moved
    AggReplica.refreshView(spark, mv)
    val childV1 = VersionedTable.currentVersion(spark, child).get
    assert(childV1 > childV0, "the cascade must fold the child after the parent")
    assert(rollupState(mv) == recompute(src))
    // child lag is visible as versionsBehind on the child itself
    assert(AggReplica.versionsBehind(spark, child) == 0L)
  }

  private def cubeState(mv: String): Seq[(String, Long, Long, Long)] =
    AggReplica.readCube(spark, mv)
      .select(coalesce(col("seg"), lit("ALL")).as("seg"),
        coalesce(col("nat"), lit(-1L)).as("nat"),
        col("n_rows"), col("value_sum").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  private def cubeRecompute(src: String): Seq[(String, Long, Long, Long)] =
    VersionedTable.read(spark, src)
      .cube(col("seg"), col("nat"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("value_sum"))
      .select(coalesce(col("seg"), lit("ALL")).as("seg"),
        coalesce(col("nat"), lit(-1L)).as("nat"),
        col("n_rows"), col("value_sum").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("a declared CUBE fan-out equals the SQL CUBE recompute at seed " +
    "and after churn; DROP removes the finest plus every subset child") {
    val tmp = freshDir("graft_mvm_cube")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    seed(src)
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT seg, nat, count(*) AS n_rows, sum(v) AS value_sum
         |FROM '$src' GROUP BY CUBE (seg, nat)""".stripMargin)
    assert(cubeState(mv) == cubeRecompute(src))
    VersionedTable.commitAppend(
      Seq(("c", 9L, 1000L), ("b", 1L, 3L)).toDF("seg", "nat", "v"),
      src, changeFeed = true)
    VersionedTable.updateWhere(spark, src, col("v") === 100L,
      Map("nat" -> lit(7L)))
    VersionedTable.deleteWhere(spark, src, col("v") === 20L)
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(cubeState(mv) == cubeRecompute(src),
      "one cascading refresh must fold the finest and every subset child")
    // DROP removes the whole fan-out: finest + (seg) + (nat)
    val dropped = GraftSql.execute(spark, s"DROP MATERIALIZED VIEW '$mv'")
      .collect().head.getLong(2)
    assert(dropped == 3L, s"the cube drops finest + 2 subset children, got $dropped")
    assert(VersionedTable.currentVersion(spark, mv).isEmpty)
  }

  test("SHOW MATERIALIZED VIEWS lists a dir's views with their lag; " +
    "versionsBehind reads the view's own stamps") {
    val tmp = freshDir("graft_mvm_show")
    val src = s"$tmp/src"; val mv = s"$tmp/view_a"
    seed(src)
    AggReplica.createView(spark, mv, src, Seq("seg"), "v")
    // a non-view table in the same dir is skipped silently
    VersionedTable.commit(Seq((1L, "x")).toDF("id", "s"), s"$tmp/plain")
    assert(AggReplica.versionsBehind(spark, mv) == 0L)
    VersionedTable.commitAppend(Seq(("d", 4L, 9L)).toDF("seg", "nat", "v"),
      src, changeFeed = true)
    VersionedTable.commitAppend(Seq(("e", 5L, 9L)).toDF("seg", "nat", "v"),
      src, changeFeed = true)
    assert(AggReplica.versionsBehind(spark, mv) == 2L,
      "two unfolded source commits = two versions behind")
    val rows = GraftSql.execute(spark, s"SHOW MATERIALIZED VIEWS IN '$tmp'")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 1 && rows.head._1.endsWith("view_a") &&
      rows.head._2 == src && rows.head._3 == 2L,
      s"SHOW must list the view with its lag, got: ${rows.mkString(", ")}")
    AggReplica.refreshView(spark, mv)
    assert(AggReplica.versionsBehind(spark, mv) == 0L)
  }

  test("DROP MATERIALIZED VIEW removes the whole rollup chain and " +
    "refuses a base table") {
    val tmp = freshDir("graft_mvm_drop")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    seed(src)
    AggReplica.createRollupView(spark, mv, src, Seq("seg", "nat"), "v")
    val child = s"${mv}__rollup1"
    assert(VersionedTable.currentVersion(spark, child).isDefined)
    val dropped = GraftSql.execute(spark, s"DROP MATERIALIZED VIEW '$mv'")
      .collect().head.getLong(2)
    assert(dropped == 2L, "the chain drops both levels")
    assert(VersionedTable.currentVersion(spark, mv).isEmpty)
    assert(VersionedTable.currentVersion(spark, child).isEmpty)
    // a base table must refuse — the verb deletes DERIVED state only
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"DROP MATERIALIZED VIEW '$src'")
    }
    assert(e.getMessage.contains("not a materialized view"))
    assert(VersionedTable.currentVersion(spark, src).isDefined,
      "the refused base table must survive untouched")
  }
}
