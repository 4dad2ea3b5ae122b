package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.GraftSql

/** Extrema through declared ROLLUP/CUBE cascades: a coarser min/max is
  * NOT retraction-algebraic over subgroup extrema (deleting one
  * subgroup's minimum can move every coarser level), so each cascade
  * child maintains min(value_min)/max(value_max) over its PARENT's
  * feed with the flagged-group recompute reading the PARENT view at
  * its pinned version ([[AggReplica.ExtremaCols]]). These specs churn
  * the exact hostile shapes — delete the GLOBAL minimum, move a
  * group's maximum away by update — and require every level to equal
  * the SQL ROLLUP/CUBE recompute. */
class ExtremaCascadeSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def seed(root: String): Unit = {
    val df = Seq(
      ("a", 1L, 10L), ("a", 1L, 20L), ("a", 2L, 5L),
      ("b", 1L, 100L), ("b", 3L, 7L), ("b", 3L, 3L)
    ).toDF("seg", "nat", "v")
    VersionedTable.commit(df, root, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
  }

  private type Row6 = (String, Long, Long, Long, Long, Long)
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Row6] =
    df.select(coalesce(col("seg"), lit("ALL")).as("seg"),
        coalesce(col("nat"), lit(-1L)).as("nat"),
        col("n_rows"), col("value_sum").cast("long"),
        col("value_min").cast("long"), col("value_max").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq.sorted

  private def rollupRecompute(src: String): Seq[Row6] =
    canon(VersionedTable.read(spark, src)
      .rollup(col("seg"), col("nat"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("value_sum"),
        min(col("v")).as("value_min"), max(col("v")).as("value_max")))

  private def cubeRecompute(src: String): Seq[Row6] =
    canon(VersionedTable.read(spark, src)
      .cube(col("seg"), col("nat"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("value_sum"),
        min(col("v")).as("value_min"), max(col("v")).as("value_max")))

  private def churn(src: String): Unit = {
    // delete the GLOBAL minimum (3 in b/3): retracts through child AND
    // grand-total; the fold is unsound at every level -> recompute road
    VersionedTable.deleteWhere(spark, src, col("v") === 3L)
    // move a group's MAXIMUM away by group-moving update (100 leaves
    // b/1 -> b/9): retraction in b/1, fresh group b/9
    VersionedTable.updateWhere(spark, src, col("v") === 100L,
      Map("nat" -> lit(9L)))
    // fresh rows incl. a new global max
    VersionedTable.commitAppend(
      Seq(("c", 4L, 1000L), ("a", 1L, 1L)).toDF("seg", "nat", "v"),
      src, changeFeed = true)
  }

  test("an extrema ROLLUP chain equals the SQL recompute at seed and " +
    "after churn that retracts subgroup extrema through every level") {
    val tmp = freshDir("graft_exru")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    seed(src)
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT seg, nat, count(*) AS n_rows, sum(v) AS value_sum,
         |  count(v) AS n_vals, min(v) AS value_min, max(v) AS value_max
         |FROM '$src' GROUP BY ROLLUP (seg, nat)""".stripMargin)
    assert(canon(AggReplica.readRollup(spark, mv)) == rollupRecompute(src))
    churn(src)
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(canon(AggReplica.readRollup(spark, mv)) == rollupRecompute(src),
      "one cascading refresh must fold sums and recompute retracted " +
        "extrema at every level")
    // the child LEVEL ITSELF is exact (not just the unioned read):
    // min(value_min) over the maintained child == the per-seg recompute
    val child = VersionedTable.read(spark, s"${mv}__rollup1")
    val expect = VersionedTable.read(spark, src).groupBy("seg")
      .agg(min(col("v")).as("m")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    child.select("seg", "value_min").collect().foreach { r =>
      assert(r.getLong(1) == expect(r.getString(0)),
        s"child extrema for ${r.getString(0)}")
    }
  }

  test("an extrema CUBE fan-out equals the SQL recompute after the same " +
    "churn; DROP removes finest plus children") {
    val tmp = freshDir("graft_excube")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    seed(src)
    AggReplica.createCubeView(spark, mv, src, Seq("seg", "nat"), "v",
      extrema = true)
    assert(canon(AggReplica.readCube(spark, mv)) == cubeRecompute(src))
    churn(src)
    AggReplica.refreshView(spark, mv)
    assert(canon(AggReplica.readCube(spark, mv)) == cubeRecompute(src))
    val removed = AggReplica.dropView(spark, mv)
    assert(removed == 3L) // finest + 2 subset children
  }

  test("NULL group keys flow through an extrema chain: the NULL seg is " +
    "ONE group at every level and its retracted minimum recomputes") {
    val tmp = freshDir("graft_exnull")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    val df = Seq(
      (Option("a"), 1L, 10L), (Option("a"), 2L, 20L),
      (Option.empty[String], 1L, 3L), (Option.empty[String], 2L, 50L),
      (Option.empty[String], 1L, 7L)
    ).toDF("seg", "nat", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    AggReplica.createRollupView(spark, mv, src, Seq("seg", "nat"), "v",
      extrema = true)
    // SQL ROLLUP pads absent keys with NULL, so the recompute/serve
    // canon must distinguish "NULL because the key is grouped away"
    // from "the NULL group": use grouping-aware sentinels via n_rows
    // shape equality instead — sort on nullable tuples directly
    def canonN(df2: org.apache.spark.sql.DataFrame) =
      df2.select(col("seg"), col("nat"), col("n_rows"),
          col("value_sum").cast("long"), col("value_min").cast("long"),
          col("value_max").cast("long"))
        .collect()
        .map(r => (Option(r.get(0)).map(_.toString).getOrElse("\u0000"),
          if (r.isNullAt(1)) Long.MinValue else r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSeq.sorted
    def recompute() = canonN(VersionedTable.read(spark, src)
      .rollup(col("seg"), col("nat"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("value_sum"),
        min(col("v")).as("value_min"), max(col("v")).as("value_max")))
    // NOTE: the served ROLLUP cannot distinguish the NULL-group row
    // from the padded subtotal row by keys alone (same as SQL ROLLUP
    // without GROUPING()); compare the full multiset, which is exact
    assert(canonN(AggReplica.readRollup(spark, mv)) == recompute())
    // delete the NULL group's minimum (3): retraction inside the NULL
    // group, through the chain
    VersionedTable.deleteWhere(spark, src, col("v") === 3L)
    AggReplica.refreshView(spark, mv)
    assert(canonN(AggReplica.readRollup(spark, mv)) == recompute(),
      "the NULL seg group's retracted minimum must recompute at every level")
  }

  test("all-NULL-value subgroups carry zero weight through the chain: " +
    "the child's n_vals ignores them and its extrema stay exact") {
    val tmp = freshDir("graft_exnullv")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    val df = Seq(
      ("a", 1L, Option(10L)), ("a", 2L, Option.empty[Long]),
      ("a", 3L, Option.empty[Long]), ("b", 1L, Option(5L))
    ).toDF("seg", "nat", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    AggReplica.createRollupView(spark, mv, src, Seq("seg", "nat"), "v",
      extrema = true)
    val child = VersionedTable.read(spark, s"${mv}__rollup1")
    val a = child.where(col("seg") === "a").head()
    assert(a.getAs[Long]("n_vals") == 1L,
      "two all-NULL subgroups must weigh zero in the child's n_vals")
    assert(a.getAs[Long]("value_min") == 10L && a.getAs[Long]("value_max") == 10L)
    // retract the only non-NULL value in seg a: the child's extrema
    // must go NULL (all remaining subgroups are all-NULL), n_vals -> 0
    VersionedTable.deleteWhere(spark, src, col("v") === 10L)
    AggReplica.refreshView(spark, mv)
    val a2 = VersionedTable.read(spark, s"${mv}__rollup1")
      .where(col("seg") === "a").head()
    assert(a2.getAs[Long]("n_vals") == 0L)
    assert(a2.isNullAt(a2.fieldIndex("value_min")) &&
      a2.isNullAt(a2.fieldIndex("value_max")),
      "an all-NULL coarse group must serve NULL extrema after retraction")
  }

  test("the SQL CUBE face accepts the extrema tail and refuses a " +
    "mismatched tail column") {
    val tmp = freshDir("graft_excube_sql")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    seed(src)
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT seg, nat, count(*) AS n_rows, sum(v) AS value_sum,
         |  count(v) AS n_vals, min(v) AS value_min, max(v) AS value_max
         |FROM '$src' GROUP BY CUBE (seg, nat)""".stripMargin)
    assert(canon(AggReplica.readCube(spark, mv)) == cubeRecompute(src))
    churn(src)
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(canon(AggReplica.readCube(spark, mv)) == cubeRecompute(src))
    // a tail over a different column than the sum's refuses at CREATE
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '$tmp/mv2' AS
           |SELECT seg, nat, count(*) AS n_rows, sum(v) AS value_sum,
           |  count(v) AS n_vals, min(nat) AS value_min, max(v) AS value_max
           |FROM '$src' GROUP BY CUBE (seg, nat)""".stripMargin)
    }
    assert(e.getMessage.contains("over the sum's column"))
  }

  test("a three-level extrema chain telescopes: the grandchild folds " +
    "the child's weighted feed and still equals the recompute") {
    val tmp = freshDir("graft_exru3")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    val df = Seq(
      ("a", 1L, "x", 10L), ("a", 1L, "y", 20L), ("a", 2L, "x", 5L),
      ("b", 1L, "x", 100L), ("b", 3L, "y", 7L), ("b", 3L, "x", 3L)
    ).toDF("seg", "nat", "flag", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    AggReplica.createRollupView(spark, mv, src, Seq("seg", "nat", "flag"),
      "v", extrema = true)
    def recompute(): Seq[(String, Long, String, Long, Long, Long, Long)] =
      VersionedTable.read(spark, src)
        .rollup(col("seg"), col("nat"), col("flag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("value_sum"),
          min(col("v")).as("value_min"), max(col("v")).as("value_max"))
        .select(coalesce(col("seg"), lit("ALL")).as("seg"),
          coalesce(col("nat"), lit(-1L)).as("nat"),
          coalesce(col("flag"), lit("ALL")).as("flag"),
          col("n_rows"), col("value_sum").cast("long"),
          col("value_min").cast("long"), col("value_max").cast("long"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSeq.sorted
    def served(): Seq[(String, Long, String, Long, Long, Long, Long)] =
      AggReplica.readRollup(spark, mv)
        .select(coalesce(col("seg"), lit("ALL")).as("seg"),
          coalesce(col("nat"), lit(-1L)).as("nat"),
          coalesce(col("flag"), lit("ALL")).as("flag"),
          col("n_rows"), col("value_sum").cast("long"),
          col("value_min").cast("long"), col("value_max").cast("long"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSeq.sorted
    assert(served() == recompute())
    VersionedTable.deleteWhere(spark, src, col("v") === 3L)
    VersionedTable.commitAppend(
      Seq(("a", 2L, "y", 2L)).toDF("seg", "nat", "flag", "v"),
      src, changeFeed = true)
    AggReplica.refreshView(spark, mv)
    assert(served() == recompute(),
      "grandchild extrema must survive a retraction folded through " +
        "two levels of weighted feeds")
  }
}
