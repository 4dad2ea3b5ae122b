package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.GraftSql

/** Join-backed materialized views ([[AggReplica.createJoinView]] /
  * `refreshView` dispatch): `γ(F ⋈ D)` maintained from BOTH change
  * feeds with the bilinear delta rule Δ(F⋈D) = ΔF⋈D_new + F_old⋈ΔD —
  * fact churn folds against the dim's new state, dim churn retracts /
  * re-asserts whole enriched fact populations, and every refresh must
  * equal the batch join-aggregate recompute over the two tables'
  * final states. */
class JoinViewSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def seedFact(root: String): Unit = {
    val df = Seq(
      (1L, 10L, 100L), (2L, 10L, 50L), (3L, 20L, 7L), (4L, 30L, 1000L),
      (5L, 99L, 5L) // cust 99 has no dim row: never joins
    ).toDF("id", "cust", "amount")
    VersionedTable.commit(df, root, extras = Map("changes" ->
      VersionedTable.feedWritable(df.withColumn("_change_type", lit("insert")))))
  }

  private def seedDim(root: String): Unit = {
    val df = Seq((10L, "gold"), (20L, "gold"), (30L, "iron"))
      .toDF("cust", "seg")
    VersionedTable.commit(df, root, extras = Map("changes" ->
      VersionedTable.feedWritable(df.withColumn("_change_type", lit("insert")))))
  }

  private def viewState(root: String): Seq[(String, Long, Long)] =
    VersionedTable.read(spark, root)
      .select(col("seg"), col("n_rows"), col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  /** The batch recompute the maintained view must equal exactly. */
  private def recompute(fact: String, dim: String): Seq[(String, Long, Long)] = {
    val f = VersionedTable.read(spark, fact)
    val d = VersionedTable.read(spark, dim).withColumnRenamed("cust", "dcust")
    f.join(d, f("cust") === d("dcust"), "inner")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"), sum(col("amount")).as("value_sum"))
      .select(col("seg"), col("n_rows"), col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
  }

  test("seed equals the batch join-aggregate; unjoined fact rows are " +
    "invisible") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    AggReplica.createJoinView(spark, mv, fact, dim,
      joinOn = Seq(("cust", "cust")),
      groupCols = Seq((false, "seg")), valueCol = "amount")
    assert(viewState(mv) == Seq(("gold", 3L, 157L), ("iron", 1L, 1000L)))
    assert(viewState(mv) == recompute(fact, dim))
  }

  test("fact-only churn folds against the dim: append, value update, " +
    "delete — and an up-to-date refresh is a no-op without a commit") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    AggReplica.createJoinView(spark, mv, fact, dim,
      Seq(("cust", "cust")), Seq((false, "seg")), "amount")
    VersionedTable.commitAppend(
      Seq((6L, 20L, 40L), (7L, 99L, 9L)).toDF("id", "cust", "amount"),
      fact, changeFeed = true)
    VersionedTable.updateWhere(spark, fact, col("id") === 1L,
      Map("amount" -> lit(200L)))
    VersionedTable.deleteWhere(spark, fact, col("id") === 4L)
    AggReplica.refreshView(spark, mv)
    assert(viewState(mv) == Seq(("gold", 4L, 297L)),
      "iron lost its only fact; gold gained one and re-priced another")
    assert(viewState(mv) == recompute(fact, dim))
    val v = VersionedTable.currentVersion(spark, mv).get
    AggReplica.refreshView(spark, mv)
    assert(VersionedTable.currentVersion(spark, mv).contains(v),
      "an up-to-date refresh must not commit")
  }

  test("dim churn moves whole enriched populations: a group-moving dim " +
    "update, a dim delete, a late-arriving dim row") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    AggReplica.createJoinView(spark, mv, fact, dim,
      Seq(("cust", "cust")), Seq((false, "seg")), "amount")
    // cust 10 (2 facts, 150) moves gold → silver; cust 20 vanishes;
    // cust 99's dim row finally arrives: its fact becomes visible
    VersionedTable.updateWhere(spark, dim, col("cust") === 10L,
      Map("seg" -> lit("silver")))
    VersionedTable.deleteWhere(spark, dim, col("cust") === 20L)
    VersionedTable.commitAppend(Seq((99L, "iron")).toDF("cust", "seg"),
      dim, changeFeed = true)
    AggReplica.refreshView(spark, mv)
    assert(viewState(mv) ==
      Seq(("iron", 2L, 1005L), ("silver", 2L, 150L)),
      "gold emptied (moved + deleted), silver born, iron gained cust 99")
    assert(viewState(mv) == recompute(fact, dim))
  }

  test("both sides move in one refresh — the ΔF⋈ΔD corner counts " +
    "exactly once, in both directions") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    AggReplica.createJoinView(spark, mv, fact, dim,
      Seq(("cust", "cust")), Seq((false, "seg")), "amount")
    // new fact rows referencing a dim key INSERTED in the same range
    // (must count once: term A joins D_new; term B's F_old excludes ΔF)
    VersionedTable.commitAppend(
      Seq((8L, 40L, 11L), (9L, 40L, 13L)).toDF("id", "cust", "amount"),
      fact, changeFeed = true)
    VersionedTable.commitAppend(Seq((40L, "gold")).toDF("cust", "seg"),
      dim, changeFeed = true)
    // new fact row referencing a dim key DELETED in the same range
    // (must count zero: D_new lacks it, F_old lacks the row)
    VersionedTable.commitAppend(
      Seq((10L, 30L, 777L)).toDF("id", "cust", "amount"),
      fact, changeFeed = true)
    VersionedTable.deleteWhere(spark, dim, col("cust") === 30L)
    AggReplica.refreshView(spark, mv)
    assert(viewState(mv) == Seq(("gold", 5L, 181L)),
      "cust 40's two facts joined its new dim row exactly once; iron " +
        "(cust 30) vanished with its dim row, late fact 777 included-excluded")
    assert(viewState(mv) == recompute(fact, dim))
  }

  test("composite join keys and fact-side group columns ride the same " +
    "road") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    val f = Seq(
      (1L, 10L, "eu", "web", 5L), (2L, 10L, "us", "web", 7L),
      (3L, 20L, "eu", "app", 11L)).toDF("id", "cust", "region", "chan", "amount")
    VersionedTable.commit(f, fact, extras = Map("changes" ->
      VersionedTable.feedWritable(f.withColumn("_change_type", lit("insert")))))
    val d = Seq((10L, "eu", "gold"), (10L, "us", "silver"), (20L, "eu", "gold"))
      .toDF("cust", "region", "seg")
    VersionedTable.commit(d, dim, extras = Map("changes" ->
      VersionedTable.feedWritable(d.withColumn("_change_type", lit("insert")))))
    AggReplica.createJoinView(spark, mv, fact, dim,
      joinOn = Seq(("cust", "cust"), ("region", "region")),
      groupCols = Seq((false, "seg"), (true, "chan")), valueCol = "amount")
    val state0 = VersionedTable.read(spark, mv)
      .select(col("seg"), col("chan"), col("n_rows"),
        col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(state0 == Seq(("gold", "app", 1L, 11L), ("gold", "web", 1L, 5L),
      ("silver", "web", 1L, 7L)))
    // move the (10, us) slice and add a fact hitting it post-move
    VersionedTable.updateWhere(spark, dim,
      col("cust") === 10L && col("region") === "us",
      Map("seg" -> lit("gold")))
    VersionedTable.commitAppend(
      Seq((4L, 10L, "us", "app", 3L)).toDF("id", "cust", "region", "chan",
        "amount"), fact, changeFeed = true)
    AggReplica.refreshView(spark, mv)
    val state1 = VersionedTable.read(spark, mv)
      .select(col("seg"), col("chan"), col("n_rows"),
        col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(state1 == Seq(("gold", "app", 2L, 14L), ("gold", "web", 2L, 12L)))
  }

  test("the SQL face: CREATE … JOIN … ON creates, REFRESH folds both " +
    "feeds, DESCRIBE-DETAIL-grade staleness sees the dim lag") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT d.seg, count(*) AS n_rows, sum(f.amount) AS value_sum
         |FROM '$fact' f JOIN '$dim' d ON f.cust = d.cust
         |GROUP BY d.seg""".stripMargin)
    assert(viewState(mv) == Seq(("gold", 3L, 157L), ("iron", 1L, 1000L)))
    // only the DIM moves: staleness must still be visible
    VersionedTable.updateWhere(spark, dim, col("cust") === 30L,
      Map("seg" -> lit("gold")))
    val rep = VersionedTable.maintenanceReport(spark, mv)
    assert(rep.recommendations.exists(_.startsWith("refresh_view:")),
      s"dim-side lag must surface as refresh_view, got: ${rep.recommendations}")
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(viewState(mv) == Seq(("gold", 4L, 1157L)))
    assert(viewState(mv) == recompute(fact, dim))
    assert(VersionedTable.maintenanceReport(spark, mv)
      .recommendations.forall(!_.startsWith("refresh_view:")))
    // fact-qualified group columns parse and maintain through the same
    // SQL face (mixed-side GROUP BY)
    val mvB = freshDir("graft_jv_mvb") + "/t"
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mvB' AS
         |SELECT f.cust, d.seg, count(*) AS n_rows,
         |  sum(f.amount) AS value_sum
         |FROM '$fact' f JOIN '$dim' d ON f.cust = d.cust
         |GROUP BY f.cust, d.seg""".stripMargin)
    val rows = VersionedTable.read(spark, mvB)
      .select(col("cust"), col("seg"), col("n_rows"),
        col("value_sum").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(rows == Seq((10L, "gold", 2L, 150L), (20L, "gold", 1L, 7L),
      (30L, "gold", 1L, 1000L)))
  }

  test("the SQL face fails loudly at CREATE on unmaintainable shapes") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    seedFact(fact); seedDim(dim)
    def mv() = freshDir("graft_jv_mv") + "/t"
    // dim-side measure
    val e1 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '${mv()}' AS
           |SELECT d.seg, count(*) AS n_rows, sum(d.cust) AS value_sum
           |FROM '$fact' f JOIN '$dim' d ON f.cust = d.cust
           |GROUP BY d.seg""".stripMargin)
    }
    assert(e1.getMessage.contains("fact"))
    // unqualified group column
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '${mv()}' AS
           |SELECT seg, count(*) AS n_rows, sum(f.amount) AS value_sum
           |FROM '$fact' f JOIN '$dim' d ON f.cust = d.cust
           |GROUP BY seg""".stripMargin)
    }
    // extrema aggregates must all be over ONE fact column — a dim-side
    // extremum (or mixed columns) still refuses loudly
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '${mv()}' AS
           |SELECT d.seg, count(*) AS n_rows, sum(f.amount) AS value_sum,
           |  count(f.amount) AS n_vals, min(d.cust) AS value_min,
           |  max(f.amount) AS value_max
           |FROM '$fact' f JOIN '$dim' d ON f.cust = d.cust
           |GROUP BY d.seg""".stripMargin)
    }
    assert(e2.getMessage.contains("fact"))
    // non-equi ON
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '${mv()}' AS
           |SELECT d.seg, count(*) AS n_rows, sum(f.amount) AS value_sum
           |FROM '$fact' f JOIN '$dim' d ON f.cust < d.cust
           |GROUP BY d.seg""".stripMargin)
    }
  }

  test("EXTREMA over a join view: a group-moving dim update retracts " +
    "the group's min AND max (the star-recompute road), a fact delete " +
    "empties a group, and the SQL extrema tail creates the view") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT d.seg, count(*) AS n_rows, sum(f.amount) AS value_sum,
         |  count(f.amount) AS n_vals, min(f.amount) AS value_min,
         |  max(f.amount) AS value_max
         |FROM '$fact' f JOIN '$dim' d ON f.cust = d.cust
         |GROUP BY d.seg""".stripMargin)
    def extJv(root: String): Seq[(String, Long, Long, Long, Long, Long)] =
      VersionedTable.read(spark, root)
        .select(col("seg"), col("n_rows"), col("value_sum").cast("long"),
          col("n_vals"), col("value_min").cast("long"),
          col("value_max").cast("long"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq.sorted
    assert(extJv(mv) == Seq(
      ("gold", 3L, 157L, 3L, 7L, 100L), ("iron", 1L, 1000L, 1L, 1000L, 1000L)))
    // insert-only fact append: the fold road (no source re-read)
    VersionedTable.commitAppend(
      Seq((6L, 20L, 300L)).toDF("id", "cust", "amount"),
      fact, changeFeed = true)
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(extJv(mv) == Seq(
      ("gold", 4L, 457L, 4L, 7L, 300L), ("iron", 1L, 1000L, 1L, 1000L, 1000L)))
    // one refresh folds: a dim MOVE that carries gold's min (7) and max
    // (300) out with cust 20 — the survivors' extrema are not derivable
    // from the stored state, so the maintainer re-reads the STAR at the
    // refresh's pinned versions restricted to the flagged groups — and
    // a fact delete that empties iron entirely (group DELETE fate)
    VersionedTable.updateWhere(spark, dim, col("cust") === 20L,
      Map("seg" -> lit("silver")))
    VersionedTable.deleteWhere(spark, fact, col("id") === 4L)
    GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(extJv(mv) == Seq(
      ("gold", 2L, 150L, 2L, 50L, 100L),
      ("silver", 2L, 307L, 2L, 7L, 300L)),
      "gold's extrema must recompute from its surviving rows; silver " +
        "carries the moved population's extrema; iron is gone")
    // and the whole state equals the batch join-aggregate recompute
    val f = VersionedTable.read(spark, fact)
    val d = VersionedTable.read(spark, dim).withColumnRenamed("cust", "dcust")
    val rc = f.join(d, f("cust") === d("dcust"), "inner")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_rows"), sum(col("amount")).as("value_sum"),
        count(col("amount")).as("n_vals"), min(col("amount")).as("value_min"),
        max(col("amount")).as("value_max"))
      .select(col("seg"), col("n_rows"), col("value_sum").cast("long"),
        col("n_vals"), col("value_min").cast("long"),
        col("value_max").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq.sorted
    assert(extJv(mv) == rc)
  }

  test("STAR views: two dims churned with the fact in ONE refresh — the " +
    "telescoping rule counts every cross term exactly once") {
    val fact = freshDir("graft_jv_f") + "/t"
    val d1 = freshDir("graft_jv_d1") + "/t"
    val d2 = freshDir("graft_jv_d2") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    val f = Seq(
      (1L, 10L, 100L, 5L), (2L, 10L, 200L, 7L), (3L, 20L, 100L, 11L),
      (4L, 20L, 200L, 13L), (5L, 30L, 100L, 17L))
      .toDF("id", "cust", "prod", "amount")
    VersionedTable.commit(f, fact, extras = Map("changes" ->
      VersionedTable.feedWritable(f.withColumn("_change_type", lit("insert")))))
    val c = Seq((10L, "gold"), (20L, "iron")).toDF("cust", "seg") // 30 missing
    VersionedTable.commit(c, d1, extras = Map("changes" ->
      VersionedTable.feedWritable(c.withColumn("_change_type", lit("insert")))))
    val p = Seq((100L, "food"), (200L, "toys")).toDF("prod", "cat")
    VersionedTable.commit(p, d2, extras = Map("changes" ->
      VersionedTable.feedWritable(p.withColumn("_change_type", lit("insert")))))
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT c.seg, p.cat, count(*) AS n_rows, sum(f.amount) AS value_sum
         |FROM '$fact' f JOIN '$d1' c ON f.cust = c.cust
         |JOIN '$d2' p ON f.prod = p.prod
         |GROUP BY c.seg, p.cat""".stripMargin)
    def st() = VersionedTable.read(spark, mv)
      .select(col("seg"), col("cat"), col("n_rows"),
        col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(st() == Seq(("gold", "food", 1L, 5L), ("gold", "toys", 1L, 7L),
      ("iron", "food", 1L, 11L), ("iron", "toys", 1L, 13L)))
    // churn ALL THREE in one range: fact gains a row on the late dim
    // key, dim1 gains cust 30 (its fact rows surface), dim1 moves cust
    // 10, dim2 deletes toys (its facts vanish), dim2 renames food
    VersionedTable.commitAppend(
      Seq((6L, 30L, 200L, 19L)).toDF("id", "cust", "prod", "amount"),
      fact, changeFeed = true)
    VersionedTable.commitAppend(Seq((30L, "gold")).toDF("cust", "seg"),
      d1, changeFeed = true)
    VersionedTable.updateWhere(spark, d1, col("cust") === 10L,
      Map("seg" -> lit("silver")))
    VersionedTable.deleteWhere(spark, d2, col("prod") === 200L)
    VersionedTable.updateWhere(spark, d2, col("prod") === 100L,
      Map("cat" -> lit("meals")))
    AggReplica.refreshView(spark, mv)
    // recompute: fact rows 1..6; dim1 = {10→silver, 20→iron, 30→gold};
    // dim2 = {100→meals}; toys gone ⇒ rows 2,4,6 drop; survivors
    // (1: silver/meals 5), (3: iron/meals 11), (5: gold/meals 17)
    assert(st() == Seq(("gold", "meals", 1L, 17L),
      ("iron", "meals", 1L, 11L), ("silver", "meals", 1L, 5L)))
    // full recompute cross-check
    val fr = VersionedTable.read(spark, fact)
    val d1r = VersionedTable.read(spark, d1).withColumnRenamed("cust", "dc")
    val d2r = VersionedTable.read(spark, d2).withColumnRenamed("prod", "dp")
    val rec = fr.join(d1r, fr("cust") === d1r("dc"))
      .join(d2r, fr("prod") === d2r("dp"))
      .groupBy(col("seg"), col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(st() == rec)
    // staleness sees the furthest-behind source; a second refresh no-ops
    val v = VersionedTable.currentVersion(spark, mv).get
    AggReplica.refreshView(spark, mv)
    assert(VersionedTable.currentVersion(spark, mv).contains(v))
    VersionedTable.commitAppend(Seq((300L, "gear")).toDF("prod", "cat"),
      d2, changeFeed = true)
    assert(VersionedTable.maintenanceReport(spark, mv)
      .recommendations.exists(_.startsWith("refresh_view:")),
      "a moved star dim must surface as refresh_view staleness")
    // a dim-dim (snowflake) ON fails at create with the pre-join advice
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '${freshDir("graft_jv_bad")}/t' AS
           |SELECT c.seg, count(*) AS n_rows, sum(f.amount) AS value_sum
           |FROM '$fact' f JOIN '$d1' c ON f.cust = c.cust
           |JOIN '$d2' p ON c.cust = p.prod
           |GROUP BY c.seg""".stripMargin)
    }
    assert(e.getMessage.contains("snowflake"))
  }

  test("the multi-stamp claim, pinned at the merge level: a moved stamp " +
    "loses; a replay needs EVERY stamp covered — one caught-up source " +
    "must not no-op the other's fold") {
    import spark.implicits._
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    AggReplica.createJoinView(spark, mv, fact, dim,
      Seq(("cust", "cust")), Seq((false, "seg")), "amount")
    val before = viewState(mv)
    val vM = VersionedTable.currentVersion(spark, mv).get
    val batch = Seq(("gold", 999L, "insert")).toDF("seg", "amount", "_change_type")
    val fV = VersionedTable.lastTxn(spark, mv, AggReplica.MvAppId).get
    val dV = VersionedTable.lastTxn(spark, mv, AggReplica.dimAppId(0)).get
    // moved guard: the caller captured a fact high-water the stamp no
    // longer reads — a concurrent refresh won; must no-op pre-work
    assert(!AggReplica.applyAggMulti(spark, mv, Seq("seg"),
      Seq(("amount", "value_sum")), batch,
      txns = Seq((AggReplica.MvAppId, fV + 1), (AggReplica.dimAppId(0), dV)),
      expectedPriors = Seq(Some(fV - 1), Some(dV))))
    assert(viewState(mv) == before)
    assert(VersionedTable.currentVersion(spark, mv).contains(vM))
    // replay semantics: the fact stamp already covers its batch but the
    // dim batch is NEW — NOT a replay, must apply (the any-stamp rule
    // would wrongly no-op every dim-only refresh)
    assert(AggReplica.applyAggMulti(spark, mv, Seq("seg"),
      Seq(("amount", "value_sum")), batch,
      txns = Seq((AggReplica.MvAppId, fV), (AggReplica.dimAppId(0), dV + 1)),
      expectedPriors = Seq(Some(fV), Some(dV))))
    assert(viewState(mv) != before, "the dim-only fold must have landed")
    // and now a true replay: BOTH stamps covered — no-op
    val after = viewState(mv)
    assert(!AggReplica.applyAggMulti(spark, mv, Seq("seg"),
      Seq(("amount", "value_sum")), batch,
      txns = Seq((AggReplica.MvAppId, fV), (AggReplica.dimAppId(0), dV + 1)),
      expectedPriors = Seq(Some(fV), Some(dV + 1))))
    assert(viewState(mv) == after)
  }

  test("ROLE-PLAYING dims: the same dim table joined twice under " +
    "different foreign keys — per-position stamps, repeated-factor " +
    "telescope stays exact") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    // ship-to / bill-to customer: one dim, two roles
    val f = Seq(
      (1L, 10L, 20L, 5L), (2L, 10L, 10L, 7L), (3L, 20L, 10L, 11L))
      .toDF("id", "ship_cust", "bill_cust", "amount")
    VersionedTable.commit(f, fact, extras = Map("changes" ->
      VersionedTable.feedWritable(f.withColumn("_change_type", lit("insert")))))
    val d = Seq((10L, "gold"), (20L, "iron")).toDF("cust", "seg")
    VersionedTable.commit(d, dim, extras = Map("changes" ->
      VersionedTable.feedWritable(d.withColumn("_change_type", lit("insert")))))
    // group by the SHIP role's segment; the BILL role join restricts
    // (group-col output names must be unique, so one role groups)
    AggReplica.createStarView(spark, mv, fact,
      dims = Seq((dim, Seq(("ship_cust", "cust"))),
        (dim, Seq(("bill_cust", "cust")))),
      groupCols = Seq((1, "seg")), valueCol = "amount")
    def st() = VersionedTable.read(spark, mv)
      .select(col("seg"), col("n_rows"), col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(st() == Seq(("gold", 2L, 12L), ("iron", 1L, 11L)))
    // ONE dim commit moves through BOTH roles: deleting cust 20 kills
    // fact 1 (its bill role) AND fact 3's ship group; a new cust joins
    // a fresh fact through both roles at once
    VersionedTable.deleteWhere(spark, dim, col("cust") === 20L)
    VersionedTable.commitAppend(Seq((30L, "silver")).toDF("cust", "seg"),
      dim, changeFeed = true)
    VersionedTable.commitAppend(
      Seq((4L, 30L, 30L, 13L)).toDF("id", "ship_cust", "bill_cust", "amount"),
      fact, changeFeed = true)
    AggReplica.refreshView(spark, mv)
    // survivors: fact 2 (ship 10 gold, bill 10 ok), fact 4 (ship 30
    // silver, bill 30 ok); facts 1 and 3 lost a role's dim row
    assert(st() == Seq(("gold", 1L, 7L), ("silver", 1L, 13L)))
    // recompute cross-check through both roles
    val fr = VersionedTable.read(spark, fact)
    val d1r = VersionedTable.read(spark, dim)
      .withColumnRenamed("cust", "sc").withColumnRenamed("seg", "sseg")
    val d2r = VersionedTable.read(spark, dim)
      .withColumnRenamed("cust", "bc").withColumnRenamed("seg", "bseg")
    val rec = fr.join(d1r, fr("ship_cust") === d1r("sc"))
      .join(d2r, fr("bill_cust") === d2r("bc"))
      .groupBy(col("sseg"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(st() == rec)
  }

  test("a dim-only refresh writes ONLY the moved stamp — the unmoved " +
    "fact feed is guarded against a concurrent advance, never re-written") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    AggReplica.createJoinView(spark, mv, fact, dim,
      Seq(("cust", "cust")), Seq((false, "seg")), "amount")
    val factHw = VersionedTable.lastTxn(spark, mv, AggReplica.MvAppId).get
    // dim-only churn: the refresh folds one feed, stamps one feed
    VersionedTable.updateWhere(spark, dim, col("cust") === 10L,
      Map("seg" -> lit("silver")))
    AggReplica.refreshView(spark, mv)
    val v = VersionedTable.currentVersion(spark, mv).get
    val stamped = VersionedTable.txnStampsOf(spark, mv, v).keySet
    assert(stamped == Set(AggReplica.dimAppId(0)),
      s"a dim-only refresh must stamp only the dim feed, wrote: $stamped")
    // the unmoved fact's high-water still reads through (older stamp)
    assert(VersionedTable.lastTxn(spark, mv, AggReplica.MvAppId)
      .contains(factHw), "the fact high-water must survive unstamped")
    assert(viewState(mv) == recompute(fact, dim))
    // and the GUARD half: a batch claiming the fact at a stale
    // high-water (a concurrent refresh advanced it mid-flight) loses
    // its claim instead of merging terms computed against a superseded
    // fact state
    val emptyBatch = Seq.empty[(String, Long, String)]
      .toDF("seg", "amount", "_change_type")
    val applied = AggReplica.applyAggMulti(spark, mv,
      Seq("seg"), Seq(("amount", "value_sum")), emptyBatch,
      txns = Seq((AggReplica.dimAppId(0),
        VersionedTable.lastTxn(spark, mv, AggReplica.dimAppId(0)).get + 1)),
      expectedPriors = Seq(
        VersionedTable.lastTxn(spark, mv, AggReplica.dimAppId(0))),
      guards = Seq((AggReplica.MvAppId, factHw - 1)))
    assert(!applied, "a moved guard must lose the claim")
  }

  test("NULL dim attributes group as one NULL group; NULL join keys " +
    "never join — exactly SQL semantics") {
    val fact = freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    val f = Seq((1L, Some(10L), 5L), (2L, None, 7L), (3L, Some(20L), 11L))
      .toDF("id", "cust", "amount")
    VersionedTable.commit(f, fact, extras = Map("changes" ->
      VersionedTable.feedWritable(f.withColumn("_change_type", lit("insert")))))
    val d = Seq((10L, Some("gold")), (20L, None)).toDF("cust", "seg")
    VersionedTable.commit(d, dim, extras = Map("changes" ->
      VersionedTable.feedWritable(d.withColumn("_change_type", lit("insert")))))
    AggReplica.createJoinView(spark, mv, fact, dim,
      Seq(("cust", "cust")), Seq((false, "seg")), "amount")
    def st() = VersionedTable.read(spark, mv)
      .select(col("seg"), col("n_rows"), col("value_sum").cast("long"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(t => (t._1.getOrElse(""), t._2))
    assert(st() == Seq((None, 1L, 11L), (Some("gold"), 1L, 5L)),
      "NULL-cust fact invisible; NULL seg is its own group")
    // churn into the NULL group from the dim side
    VersionedTable.updateWhere(spark, dim, col("cust") === 10L,
      Map("seg" -> lit(null).cast("string")))
    AggReplica.refreshView(spark, mv)
    assert(st() == Seq((None, 2L, 16L)))
  }

  test("EXTREMA star refresh that retracts a segment's min runs the " +
    "recompute ONCE: bounded Spark jobs, one fact scan, and the view " +
    "still equals the batch recompute") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cnt.impl", classOf[CountingFileSystem].getName)
    // the fact lives on the counting filesystem, so every open of its
    // data files is recorded with its path
    val fact = "cnt://" + freshDir("graft_jv_f") + "/t"
    val dim = freshDir("graft_jv_d") + "/t"
    val mv = freshDir("graft_jv_mv") + "/t"
    seedFact(fact); seedDim(dim)
    AggReplica.createJoinView(spark, mv, fact, dim,
      Seq(("cust", "cust")), Seq((false, "seg")), "amount", extrema = true)
    // gold's min (7, cust 20) leaves: the fold is unsound, so gold's
    // extrema recompute from the star at the refresh's pinned versions
    VersionedTable.deleteWhere(spark, fact, col("id") === 3L)
    def factDataOpens(): Int = {
      val prefix = new org.apache.hadoop.fs.Path(fact).toString + "/"
      CountingFileSystem.openedPaths().count { p =>
        p.startsWith(prefix) && p.endsWith(".parquet") &&
          !p.substring(prefix.length).split('/').exists(_.startsWith("_"))
      }
    }
    CountingFileSystem.reset()
    val (_, jobs) = jobsDuring(AggReplica.refreshView(spark, mv))
    val refreshOpens = factDataOpens()
    CountingFileSystem.reset()
    VersionedTable.read(spark, fact).collect()
    val oneScan = factDataOpens()
    info(s"refresh: $jobs Spark jobs, $refreshOpens fact data-file " +
      s"opens (one full fact scan opens $oneScan)")
    // the merge consumes its source in several executions (hull probe,
    // detection, both staged writes): a lazy recompute re-scanned the
    // fact in each of them
    assert(refreshOpens > 0, "the retraction must take the recompute road")
    assert(refreshOpens <= oneScan,
      s"the fact's recompute scan must execute once: $refreshOpens opens " +
        s"vs $oneScan for one scan")
    // 24 jobs when pinned; the lazy recompute ran 33 on this shape
    assert(jobs <= 28, s"refresh ran $jobs Spark jobs")
    val rc = {
      val f = VersionedTable.read(spark, fact)
      val d = VersionedTable.read(spark, dim).withColumnRenamed("cust", "dcust")
      f.join(d, f("cust") === d("dcust"), "inner").groupBy(col("seg"))
        .agg(count(lit(1)).as("n_rows"), sum(col("amount")).as("value_sum"),
          count(col("amount")).as("n_vals"),
          min(col("amount")).as("value_min"),
          max(col("amount")).as("value_max"))
    }
    def rows(df: DataFrame) = df
      .select(col("seg"), col("n_rows"), col("value_sum").cast("long"),
        col("n_vals"), col("value_min").cast("long"),
        col("value_max").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sorted
    assert(rows(VersionedTable.read(spark, mv)) == rows(rc))
    assert(rows(VersionedTable.read(spark, mv)) == Seq(
      ("gold", 2L, 150L, 2L, 50L, 100L),
      ("iron", 1L, 1000L, 1L, 1000L, 1000L)))
  }
}
