package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.{AggReplica, VersionedTable}

/** Incremental view maintenance with retractions ([[AggReplica]] +
  * [[ViewStream]]): a count/sum GROUP BY view maintained from the
  * change feed alone — deletes and update pre-images retract, inserts
  * and post-images add, zeroed groups disappear, a too-late consumer
  * fails loudly instead of serving a wrong aggregate, and replayed
  * batches are exactly-once no-ops on the txn stamp. */
class ViewStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** (group, value) history: seed, append, move a key across groups,
    * delete a whole group. */
  private def seedSource(root: String): Unit = {
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
      .toDF("id", "grp", "v")
    VersionedTable.commit(df, root, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    VersionedTable.commitAppend(
      Seq((4L, "b", 7L), (5L, "c", 100L)).toDF("id", "grp", "v"), root,
      changeFeed = true)
    // move id=2 from group a to group b: a retracts (1, 20), b adds
    VersionedTable.updateWhere(spark, root, col("id") === 2L,
      Map("grp" -> lit("b")))
    // delete group c entirely: its view row must DISAPPEAR
    VersionedTable.deleteWhere(spark, root, col("grp") === "c")
  }

  private def viewState(root: String): Seq[(String, Long, Long)] =
    VersionedTable.read(spark, root)
      .select(col("grp"), col("n_rows"), col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  test("the streamed view converges to the batch aggregate over the final " +
    "state: moves retract across groups, zeroed groups disappear") {
    val src = freshDir("graft_vs_src") + "/t"
    val dst = freshDir("graft_vs_dst") + "/t"
    val ck = freshDir("graft_vs_ck")
    seedSource(src)
    ViewStream.start(spark, src, dst, Seq("grp"), "v", ck,
      appId = "vs-test", availableNow = true).awaitTermination()
    assert(viewState(dst) == Seq(("a", 1L, 10L), ("b", 3L, 32L)),
      "view must equal the batch GROUP BY over the final source state")
    // restart with nothing new: a no-op, state unchanged
    ViewStream.start(spark, src, dst, Seq("grp"), "v", ck,
      appId = "vs-test", availableNow = true).awaitTermination()
    assert(viewState(dst) == Seq(("a", 1L, 10L), ("b", 3L, 32L)))
    // more source changes fold incrementally on the same checkpoint
    VersionedTable.commitAppend(
      Seq((6L, "a", 3L)).toDF("id", "grp", "v"), src, changeFeed = true)
    ViewStream.start(spark, src, dst, Seq("grp"), "v", ck,
      appId = "vs-test", availableNow = true).awaitTermination()
    assert(viewState(dst) == Seq(("a", 2L, 13L), ("b", 3L, 32L)))
  }

  test("a replayed batch is an exactly-once no-op on the txn stamp; a " +
    "stale writer aborts inside the claim") {
    val dst = freshDir("graft_vs_txn") + "/t"
    val batch = Seq(("a", 10L, "insert"), ("a", 20L, "insert"))
      .toDF("grp", "v", "_change_type")
    assert(ViewStream.applyBatchTxn(spark, dst, Seq("grp"), "v", batch,
      "vs-txn", 0L))
    assert(viewState(dst) == Seq(("a", 2L, 30L)))
    // replay of batch 0: skipped BEFORE any work
    assert(!ViewStream.applyBatchTxn(spark, dst, Seq("grp"), "v", batch,
      "vs-txn", 0L))
    assert(viewState(dst) == Seq(("a", 2L, 30L)))
    // batch 1 applies; a zombie retry of batch 1 skips again
    val b1 = Seq(("a", 10L, "delete")).toDF("grp", "v", "_change_type")
    assert(ViewStream.applyBatchTxn(spark, dst, Seq("grp"), "v", b1,
      "vs-txn", 1L))
    assert(viewState(dst) == Seq(("a", 1L, 20L)))
    assert(!ViewStream.applyBatchTxn(spark, dst, Seq("grp"), "v", b1,
      "vs-txn", 1L))
    assert(viewState(dst) == Seq(("a", 1L, 20L)))
  }

  test("a consumer starting past rows the view never counted fails " +
    "loudly — bootstrap and merged-batch forms both") {
    val dst = freshDir("graft_vs_neg") + "/t"
    // bootstrap with a leading retraction: refused
    val late = Seq(("a", 10L, "delete")).toDF("grp", "v", "_change_type")
    intercept[AggReplica.NegativeGroupException] {
      AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", late)
    }
    // live view, then a batch retracting more than the group holds
    val ok = Seq(("a", 10L, "insert")).toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", ok))
    val over = Seq(("a", 10L, "delete"), ("a", 20L, "delete"))
      .toDF("grp", "v", "_change_type")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception] {
      AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", over)
    }
    assert(messages(e).exists(_.contains("would go negative")),
      s"expected the loud negative-view error, got: ${messages(e)}")
    assert(viewState(dst) == Seq(("a", 1L, 10L)),
      "a refused batch must leave the view untouched")
    // an UNMATCHED retraction — a group the view never counted — is the
    // same corruption and must fail just as loudly, never drop silently
    val ghost = Seq(("zz", 9L, "delete")).toDF("grp", "v", "_change_type")
    val e2 = intercept[Exception] {
      AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", ghost)
    }
    assert(messages(e2).exists(_.contains("would go negative")),
      s"expected the loud unmatched-retraction error, got: ${messages(e2)}")
    assert(viewState(dst) == Seq(("a", 1L, 10L)))
  }

  test("a NULL group key is ONE group, exactly as SQL GROUP BY treats " +
    "it: updates retract across, the null group can zero out") {
    val dst = freshDir("graft_vs_null") + "/t"
    val b0 = Seq[(Option[String], Long, String)](
      (Some("a"), 10L, "insert"), (None, 5L, "insert"),
      (None, 7L, "insert")).toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", b0))
    def state(): Seq[(Option[String], Long, Long)] =
      VersionedTable.read(spark, dst)
        .select(col("grp"), col("n_rows"), col("value_sum").cast("long"))
        .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    assert(state() == Seq((None, 2L, 12L), (Some("a"), 1L, 10L)))
    // a second batch must MERGE into the null group, not duplicate it —
    // and its retraction must land, not silently drop
    val b1 = Seq[(Option[String], Long, String)](
      (None, 5L, "delete"), (None, 3L, "insert"))
      .toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", b1))
    assert(state() == Seq((None, 2L, 10L), (Some("a"), 1L, 10L)),
      "the null group must accumulate as one group across batches")
    // and zero out like any other group
    val b2 = Seq[(Option[String], Long, String)](
      (None, 7L, "delete"), (None, 3L, "delete"))
      .toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", b2))
    assert(state() == Seq((Some("a"), 1L, 10L)),
      "a zeroed null group must disappear")
  }

  test("a BUCKETIZED view's maintenance merges ride the claimed layout " +
    "and keep it: the IVM composes with the bucket road") {
    val src = freshDir("graft_vs_bsrc") + "/t"
    val dst = freshDir("graft_vs_bdst") + "/t"
    val ck = freshDir("graft_vs_bck")
    // many groups so the layout has something to hash
    val df = (0L until 200L).map(i => (i, s"g${i % 40}", i))
      .toDF("id", "grp", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    ViewStream.start(spark, src, dst, Seq("grp"), "v", ck,
      appId = "vs-bkt", availableNow = true).awaitTermination()
    graft.sources.Bucketing.bucketize(spark, dst, "grp", 8)
    // further changes fold through SQL MERGEs against the bucketized view
    VersionedTable.updateWhere(spark, src, col("id") === 7L,
      Map("grp" -> lit("g0")))
    VersionedTable.deleteWhere(spark, src, col("grp") === "g1")
    ViewStream.start(spark, src, dst, Seq("grp"), "v", ck,
      appId = "vs-bkt", availableNow = true).awaitTermination()
    val cur = VersionedTable.currentVersion(spark, dst).get
    assert(graft.sources.Bucketing
      .pureBuckets(spark, dst, cur, Seq("grp"), 8).isDefined,
      "the maintenance merge must keep the view's layout provably pure")
    // the view still equals the batch aggregate over the final source
    val want = VersionedTable.read(spark, src)
      .groupBy("grp").agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("v"), lit(0L))).as("value_sum"))
      .select(col("grp"), col("n_rows"), col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(viewState(dst) == want)
    assert(!want.exists(_._1 == "g1"), "the deleted group must be gone")
  }

  test("the SQL MATERIALIZED VIEW face: strict-shape create, O(changes) " +
    "refresh, no-op refresh without a commit, loud misuse") {
    val tmp = freshDir("graft_vs_mv")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    val df = Seq((1L, "a", 10L), (2L, "b", 5L)).toDF("id", "grp", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    graft.plans.GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT grp, count(*) AS n_rows, sum(v) AS value_sum
         |FROM '$src' GROUP BY grp""".stripMargin)
    assert(viewState(mv) == Seq(("a", 1L, 10L), ("b", 1L, 5L)))
    // source moves; refresh folds the feed
    VersionedTable.commitAppend(Seq((3L, "a", 7L)).toDF("id", "grp", "v"),
      src, changeFeed = true)
    VersionedTable.deleteWhere(spark, src, col("id") === 2L)
    graft.plans.GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(viewState(mv) == Seq(("a", 2L, 17L)),
      "refresh must fold adds and retractions; the zeroed group goes")
    // nothing new: no commit
    val v0 = VersionedTable.currentVersion(spark, mv).get
    graft.plans.GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(VersionedTable.currentVersion(spark, mv).contains(v0),
      "an up-to-date refresh must not commit a version")
    // misuse fails loudly: wrong SELECT shape, refresh of a non-view
    val e1 = intercept[IllegalArgumentException] {
      graft.plans.GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '$tmp/bad' AS
           |SELECT grp, max(v) AS value_sum, count(*) AS n_rows
           |FROM '$src' GROUP BY grp""".stripMargin)
    }
    assert(e1.getMessage.contains("count(*) AS n_rows"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.plans.GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$src'")
    }
    assert(e2.getMessage.contains("not a materialized view"), e2.getMessage)
  }

  // ---- the extrema-maintained (min/max) form -------------------------------

  /** Extended view state: (grp, n_rows, value_sum, n_vals, min, max). */
  private def extState(root: String)
    : Seq[(String, Long, Long, Long, Option[Long], Option[Long])] =
    VersionedTable.read(spark, root)
      .select(col("grp"), col("n_rows"), col("value_sum").cast("long"),
        col("n_vals"), col("value_min").cast("long"),
        col("value_max").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
      .toSeq.sorted

  test("extrema view: appends fold, retracting the max/min recomputes " +
    "from the affected groups only, NULLs keep SQL min/max semantics") {
    val tmp = freshDir("graft_vs_ext")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    val df = Seq[(Long, String, Option[Long])](
      (1L, "a", Some(10L)), (2L, "a", Some(20L)), (3L, "a", None),
      (4L, "b", Some(5L))).toDF("id", "grp", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    AggReplica.createView(spark, mv, src, Seq("grp"), "v", extrema = true)
    assert(extState(mv) == Seq(
      ("a", 3L, 30L, 2L, Some(10L), Some(20L)),
      ("b", 1L, 5L, 1L, Some(5L), Some(5L))))
    // insert-only refresh: the fold path (least/greatest, no recompute)
    VersionedTable.commitAppend(
      Seq[(Long, String, Option[Long])]((5L, "a", Some(40L)))
        .toDF("id", "grp", "v"), src, changeFeed = true)
    AggReplica.refreshView(spark, mv)
    assert(extState(mv) == Seq(
      ("a", 4L, 70L, 3L, Some(10L), Some(40L)),
      ("b", 1L, 5L, 1L, Some(5L), Some(5L))))
    // retract BOTH stored extrema of group a in one refresh — the
    // survivors' extrema are not derivable from the stored state, so
    // the maintainer must re-read group a (and only group a) from the
    // source at the refresh's pinned version
    VersionedTable.deleteWhere(spark, src, col("id").isin(1L, 5L))
    AggReplica.refreshView(spark, mv)
    assert(extState(mv) == Seq(
      ("a", 2L, 20L, 1L, Some(20L), Some(20L)),
      ("b", 1L, 5L, 1L, Some(5L), Some(5L))))
    // delete group a's last non-NULL value: rows remain, extrema go
    // NULL exactly as SQL min/max over an all-NULL group
    VersionedTable.deleteWhere(spark, src, col("id") === 2L)
    AggReplica.refreshView(spark, mv)
    assert(extState(mv) == Seq(
      ("a", 1L, 0L, 0L, None, None),
      ("b", 1L, 5L, 1L, Some(5L), Some(5L))))
    // duplicate extremum: a second 5 lands in b, then one copy is
    // deleted — the conservative recompute serves the surviving 5
    VersionedTable.commitAppend(
      Seq[(Long, String, Option[Long])]((6L, "b", Some(5L)))
        .toDF("id", "grp", "v"), src, changeFeed = true)
    VersionedTable.deleteWhere(spark, src, col("id") === 6L)
    AggReplica.refreshView(spark, mv)
    assert(extState(mv) == Seq(
      ("a", 1L, 0L, 0L, None, None),
      ("b", 1L, 5L, 1L, Some(5L), Some(5L))))
  }

  test("the extremum-recompute broadcasts are GATED on group count: " +
    "past the limit the hints drop (AQE plans the joins) and the " +
    "retraction refresh stays exact") {
    // unit half: the hint is present under the limit, absent past it
    val probe = Seq(("a", 1L)).toDF("grp", "v")
    assert(AggReplica.maybeBroadcast(probe, 10L, 100L)
      .queryExecution.logical.toString.toLowerCase.contains("hint"),
      "under the limit the broadcast hint must be applied")
    assert(!AggReplica.maybeBroadcast(probe, 1000L, 100L)
      .queryExecution.logical.toString.toLowerCase.contains("hint"),
      "past the limit the hint must drop — AQE plans from sizes")
    // end-to-end half: with the limit forced to 0 every recompute-road
    // frame takes the plain-join road; a both-extrema retraction (the
    // path that used to force four broadcasts) must still equal the
    // recompute exactly
    val prev = spark.conf.getOption(AggReplica.BroadcastKeyLimitKey)
    spark.conf.set(AggReplica.BroadcastKeyLimitKey, "0")
    try {
      val tmp = freshDir("graft_vs_bcgate")
      val src = s"$tmp/src"; val mv = s"$tmp/mv"
      val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L),
        (4L, "b", 50L)).toDF("id", "grp", "v")
      VersionedTable.commit(df, src, extras = Map("changes" ->
        df.withColumn("_change_type", lit("insert"))))
      AggReplica.createView(spark, mv, src, Seq("grp"), "v", extrema = true)
      // retract every group's max AND min in one refresh
      VersionedTable.deleteWhere(spark, src, col("id").isin(1L, 4L))
      VersionedTable.commitAppend(
        Seq((5L, "a", 15L), (6L, "b", 7L)).toDF("id", "grp", "v"),
        src, changeFeed = true)
      AggReplica.refreshView(spark, mv)
      assert(extState(mv) == Seq(
        ("a", 2L, 35L, 2L, Some(15L), Some(20L)),
        ("b", 2L, 12L, 2L, Some(5L), Some(7L))),
        "the plain-join road must equal the recompute")
    } finally prev match {
      case Some(p) => spark.conf.set(AggReplica.BroadcastKeyLimitKey, p)
      case None => spark.conf.unset(AggReplica.BroadcastKeyLimitKey)
    }
  }

  test("in-batch churn cannot poison the fold: a value inserted and " +
    "deleted inside one batch never becomes the stored extremum, and a " +
    "zero-net-count batch still moves the extrema") {
    val tmp = freshDir("graft_vs_extchurn")
    val dst = s"$tmp/view"; val src = s"$tmp/src"
    // bootstrap the view at a = {3, 7} (insert-only: pure fold)
    val seed = Seq(("a", 3L, "insert"), ("a", 7L, "insert"))
      .toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", seed,
      extrema = true, source = Some(("/nonexistent/never-read", 0L))))
    assert(extState(dst) == Seq(("a", 2L, 10L, 2L, Some(3L), Some(7L))))
    // the source's state AFTER the batch below: a = {4, 6}
    val srcV = VersionedTable.commit(
      Seq(("a", 4L), ("a", 6L)).toDF("grp", "v"), src)
    // delete {3,7} + insert {4,6}: nets dc=0, dv=0, dn=0 — yet BOTH
    // extrema move; the batch must flow through and recompute
    val churn = Seq(
      ("a", 3L, "delete"), ("a", 7L, "delete"),
      ("a", 4L, "insert"), ("a", 6L, "insert"))
      .toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", churn,
      extrema = true, source = Some((src, srcV))))
    assert(extState(dst) == Seq(("a", 2L, 10L, 2L, Some(4L), Some(6L))),
      "a zero-net batch that replaces the extrema must move min and max")
  }

  test("the no-retraction fast path never touches the source: an " +
    "insert-only batch folds with an unreadable source root") {
    val dst = freshDir("graft_vs_extfast") + "/t"
    val b0 = Seq(("a", 10L, "insert")).toDF("grp", "v", "_change_type")
    val bogus = Some(("/nonexistent/never-read", 42L))
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", b0,
      extrema = true, source = bogus))
    // and against a LIVE view too (the merge road, not just bootstrap)
    val b1 = Seq(("a", 99L, "insert"), ("b", 1L, "insert"))
      .toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", b1,
      extrema = true, source = bogus))
    assert(extState(dst) == Seq(
      ("a", 2L, 109L, 2L, Some(10L), Some(99L)),
      ("b", 1L, 1L, 1L, Some(1L), Some(1L))))
  }

  test("overlapping refresh ranges cannot double-apply: the loser of a " +
    "concurrent refresh observes the moved stamp and no-ops") {
    val dst = freshDir("graft_vs_ovl") + "/t"
    val b0 = Seq(("a", 10L, "insert")).toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", b0,
      txn = Some(("ovl", 5L))))
    assert(viewState(dst) == Seq(("a", 1L, 10L)))
    // refresher B captured high-water 4 BEFORE A's commit moved it to 5,
    // then read feed range [5..12] — its range overlaps what A already
    // applied, so even though 12 > 5 passes the replay test, the moved
    // stamp must make it no-op
    val b1 = Seq(("a", 7L, "insert")).toDF("grp", "v", "_change_type")
    assert(!AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", b1,
      txn = Some(("ovl", 12L)), expectedPrior = Some(4L)),
      "a moved high-water must lose the claim")
    assert(viewState(dst) == Seq(("a", 1L, 10L)),
      "the lost claim must leave the view untouched")
    // the refresher that captured the CURRENT stamp applies normally
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", b1,
      txn = Some(("ovl", 12L)), expectedPrior = Some(5L)))
    assert(viewState(dst) == Seq(("a", 2L, 17L)))
  }

  test("createView normalizes key/value casing to the source schema, " +
    "and refuses a comma-bearing group column at CREATE") {
    val tmp = freshDir("graft_vs_case")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    val df = Seq((1L, "a", 10L)).toDF("id", "grp", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    // mismatched casing at CREATE must not produce a view whose every
    // REFRESH throws: the definition persists in the schema's casing
    AggReplica.createView(spark, mv, src, Seq("GRP"), "V")
    VersionedTable.commitAppend(Seq((2L, "b", 5L)).toDF("id", "grp", "v"),
      src, changeFeed = true)
    AggReplica.refreshView(spark, mv)
    assert(viewState(mv) == Seq(("a", 1L, 10L), ("b", 1L, 5L)))
    // a group column whose NAME contains a comma cannot round-trip the
    // comma-joined key-list property — refused loudly at create
    val src2 = s"$tmp/src2"
    val odd = Seq(("x", 1L)).toDF("a,b", "v")
    VersionedTable.commit(odd, src2, extras = Map("changes" ->
      odd.withColumn("_change_type", lit("insert"))))
    val e = intercept[IllegalArgumentException] {
      AggReplica.createView(spark, s"$tmp/mv2", src2, Seq("a,b"), "v")
    }
    assert(e.getMessage.contains("cannot be recorded"), e.getMessage)
  }

  test("the streamed extrema view converges: ViewStream folds appends " +
    "and recomputes retracted extrema batch by batch") {
    val tmp = freshDir("graft_vs_extstream")
    val src = s"$tmp/src"; val dst = s"$tmp/view"
    val ck = s"$tmp/ck"
    seedSource(src) // moves retract across groups, group c zeroes out
    ViewStream.start(spark, src, dst, Seq("grp"), "v", ck,
      appId = "vs-ext", availableNow = true, extrema = true)
      .awaitTermination()
    def want() = VersionedTable.read(spark, src)
      .groupBy("grp").agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("v"), lit(0L))).cast("long").as("value_sum"),
        count(col("v")).as("n_vals"), min(col("v")).as("value_min"),
        max(col("v")).as("value_max"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]))).toSeq.sorted
    assert(extState(dst) == want(),
      "the streamed extrema view must equal the batch aggregate")
    // retract group b's max through the stream, fold more appends
    VersionedTable.deleteWhere(spark, src, col("v") === 20L)
    VersionedTable.commitAppend(
      Seq((9L, "a", 1L)).toDF("id", "grp", "v"), src, changeFeed = true)
    ViewStream.start(spark, src, dst, Seq("grp"), "v", ck,
      appId = "vs-ext", availableNow = true, extrema = true)
      .awaitTermination()
    assert(extState(dst) == want(),
      "retracting the max through the stream must recompute it")
  }

  test("cross-version cancellation inside one batch needs no ordering: " +
    "insert+delete of the same rows is a no-op, replace accumulates") {
    val dst = freshDir("graft_vs_can") + "/t"
    val seed = Seq(("a", 5L, "insert")).toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", seed))
    // one batch spanning versions: b inserted then fully deleted (nets
    // out), a updated 5 -> 9 (pre-image retracts, post-image adds)
    val span = Seq(
      ("b", 50L, "insert"), ("b", 50L, "delete"),
      ("a", 5L, "update_preimage"), ("a", 9L, "update_postimage"))
      .toDF("grp", "v", "_change_type")
    assert(AggReplica.applyAggBatch(spark, dst, Seq("grp"), "v", span))
    assert(viewState(dst) == Seq(("a", 1L, 9L)),
      "cancelled group must never touch the view; the replace must land")
  }

  test("MULTI-MEASURE MVs: several sums maintained in one delta pass — " +
    "Scala and SQL faces, retractions hit every measure") {
    val src = freshDir("graft_vs_mmsrc") + "/t"
    val mv = freshDir("graft_vs_mmmv") + "/t"
    val seed = Seq((1L, "a", 10L, 2L), (2L, "a", 20L, 3L), (3L, "b", 5L, 7L))
      .toDF("id", "grp", "amount", "qty")
    VersionedTable.commit(seed, src, extras = Map("changes" ->
      seed.withColumn("_change_type", lit("insert"))))
    graft.plans.GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT grp, count(*) AS n_rows, sum(amount) AS amount_sum,
         |  sum(qty) AS qty_sum
         |FROM '$src' GROUP BY grp""".stripMargin)
    def st() = VersionedTable.read(spark, mv)
      .select(col("grp"), col("n_rows"), col("amount_sum").cast("long"),
        col("qty_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(st() == Seq(("a", 2L, 30L, 5L), ("b", 1L, 5L, 7L)))
    // churn: append, a both-measures update, a group-moving update,
    // then a whole-group delete — every measure must retract exactly
    VersionedTable.commitAppend(
      Seq((4L, "c", 100L, 1L)).toDF("id", "grp", "amount", "qty"),
      src, changeFeed = true)
    VersionedTable.updateWhere(spark, src, col("id") === 1L,
      Map("amount" -> lit(11L), "qty" -> lit(9L)))
    VersionedTable.updateWhere(spark, src, col("id") === 3L,
      Map("grp" -> lit("a")))
    VersionedTable.deleteWhere(spark, src, col("grp") === "c")
    AggReplica.refreshView(spark, mv)
    assert(st() == Seq(("a", 3L, 36L, 19L)),
      "both measures must move under updates, group moves, and deletes")
    // a single measure with a CUSTOM alias rides the multi road too
    val mv2 = freshDir("graft_vs_mmmv2") + "/t"
    AggReplica.createMultiView(spark, mv2, src, Seq("grp"),
      Seq(("qty", "total_qty")))
    VersionedTable.commitAppend(
      Seq((5L, "a", 1L, 100L)).toDF("id", "grp", "amount", "qty"),
      src, changeFeed = true)
    AggReplica.refreshView(spark, mv2)
    val got = VersionedTable.read(spark, mv2)
      .select(col("grp"), col("n_rows"), col("total_qty").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 4L, 119L)))
    // alias colliding with a group column fails at create, loudly
    intercept[IllegalArgumentException] {
      AggReplica.createMultiView(spark, freshDir("graft_vs_bad") + "/t",
        src, Seq("grp"), Seq(("amount", "grp")))
    }
  }

  test("CASCADING MVs: an MV's own change feed maintains a second MV — " +
    "inserts, pre/post update images, and zeroed-group deletes all " +
    "flow through the chain") {
    val src = freshDir("graft_vs_csrc") + "/t"
    val mv1 = freshDir("graft_vs_cmv1") + "/t"
    val mv2 = freshDir("graft_vs_cmv2") + "/t"
    val seed = Seq((1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "b", "x", 5L))
      .toDF("id", "seg", "band", "v")
    VersionedTable.commit(seed, src, extras = Map("changes" ->
      seed.withColumn("_change_type", lit("insert"))))
    // MV1 = γ_(seg,band)(src); MV2 = γ_seg(MV1) summing MV1's value_sum
    // — MV2's n_rows counts LIVE (seg, band) groups per seg, so every
    // feed fate of MV1's merge (insert / pre+post image / delete) must
    // arrive correctly for MV2 to stay exact
    AggReplica.createView(spark, mv1, src, Seq("seg", "band"), "v")
    AggReplica.createView(spark, mv2, mv1, Seq("seg"), "value_sum")
    def st2() = VersionedTable.read(spark, mv2)
      .select(col("seg"), col("n_rows"), col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(st2() == Seq(("a", 2L, 30L), ("b", 1L, 5L)))
    // churn the BASE: a new group, a whole new seg, a group-moving
    // update (zeroes (a,y), grows (b,y)), then kill seg c entirely
    VersionedTable.commitAppend(
      Seq((4L, "b", "y", 7L), (5L, "c", "x", 100L)).toDF("id", "seg", "band", "v"),
      src, changeFeed = true)
    VersionedTable.updateWhere(spark, src, col("id") === 2L,
      Map("seg" -> lit("b")))
    VersionedTable.deleteWhere(spark, src, col("seg") === "c")
    AggReplica.refreshView(spark, mv1)
    AggReplica.refreshView(spark, mv2)
    // final src: (a,x,10), (b,y,20), (b,x,5), (b,y,7)
    // MV1: (a,x)=(1,10), (b,x)=(1,5), (b,y)=(2,27); c's group is GONE
    // MV2: a = 1 live group / 10; b = 2 live groups / 32
    assert(st2() == Seq(("a", 1L, 10L), ("b", 2L, 32L)),
      "the chain must see (a,y)'s delete, (b,y)'s images, and c's birth+death")
    // a second refresh pair is a no-op end to end
    val v1 = VersionedTable.currentVersion(spark, mv1).get
    val v2 = VersionedTable.currentVersion(spark, mv2).get
    AggReplica.refreshView(spark, mv1)
    AggReplica.refreshView(spark, mv2)
    assert(VersionedTable.currentVersion(spark, mv1).contains(v1))
    assert(VersionedTable.currentVersion(spark, mv2).contains(v2))
  }
}
