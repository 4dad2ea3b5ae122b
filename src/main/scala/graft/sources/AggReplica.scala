package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Pin

/** INCREMENTAL VIEW MAINTENANCE with retractions — maintain
  * `SELECT keyCols, count(*) AS n_rows, sum(valueCol) AS value_sum
  * GROUP BY keyCols` over a source table by consuming its CHANGE FEED,
  * never rescanning the source (the Materialize/Flink retraction idea
  * and Delta Live Tables' aggregate flows, public semantics; the
  * reference's dbt models recompute marts per run —
  * `dbt/models/marts/lion_parcell_bonus_test.sql` re-aggregates its
  * staging table hourly — this operator is the engine-grade form of
  * that same rollup, updated in O(changes)).
  *
  * RETRACTION ALGEBRA per feed row: `insert` / `update_postimage`
  * contribute (+1, +value); `delete` / `update_preimage` contribute
  * (-1, -value). Sums are commutative and associative, so a batch
  * spanning many versions needs NO per-key ordering window (unlike the
  * row-replica's last-wins netting): one map-side-combined groupBy over
  * O(batch) rows yields per-group deltas, and a delete+reinsert of a
  * key inside one version cancels/adds exactly. The deltas then MERGE
  * into the view keyed by the group columns — touched-file COW (or the
  * recorded bucket road when the view is bucketized), O(delta + touched
  * files), never O(view): a group whose count reaches zero is DELETED,
  * existing groups accumulate, new groups insert.
  *
  * EXTREMA (`extrema = true`): the view additionally maintains
  * `count(valueCol) AS n_vals, min(valueCol) AS value_min,
  * max(valueCol) AS value_max` (the reference's own mart computes a
  * `max(timestamp)` and a weighted mean — `value_sum / n_vals` derives
  * the exact SQL `avg` at read, since NULLs contribute 0 to the sum and
  * 0 to `n_vals`). min/max are NOT retraction-algebraic: retracting the
  * current extremum needs the surviving rows. The maintainer folds what
  * it can and RECOMPUTES only what it must:
  *   - insert-only groups fold (`least`/`greatest` with the stored
  *     extrema) — the common append-mostly feed stays O(batch), no
  *     source read at all (the fused probe over the group-sized deltas
  *     counts zero flagged groups);
  *   - a group with a retraction re-reads ONLY its own rows from the
  *     source AT THE BATCH'S PINNED VERSION (stats-pruned `IN`-list
  *     scan when the group set is small, broadcast semi-join otherwise)
  *     — O(changed groups' rows), never a shuffle of the source —
  *     unless the fold is provably sound: every deleted value strictly
  *     inside (fold_min, fold_max) cannot be an extremum of the
  *     survivors, because the element achieving fold_min/fold_max
  *     survives. The recompute anchors maintenance ≡ recompute exactly
  *     (same rows, same version).
  *
  * SUM semantics: `value_sum` accumulates `coalesce(value, 0)` — SQL
  * SUM ignores NULLs, but a retractable sum must subtract exactly what
  * it added, so the NULL-as-zero convention is part of the view's
  * definition (state the view that way; `n_rows` is count(*)).
  * min/max/n_vals keep exact SQL semantics (NULLs ignored; a group with
  * no non-NULL values serves NULL extrema).
  *
  * CONTRACT: the consumer must start at a feed offset at or before the
  * first row it should count (a table born with a feed-carrying commit
  * covers its whole history — the CTAS/commit-with-feed shape);
  * retractions against rows the view never saw would go negative, and
  * the merge REFUSES that loudly rather than serving a wrong aggregate.
  *
  * EXACTLY-ONCE: same txn story as [[ChangeReplica.applyBatch]] — the
  * `(appId, batchId)` stamp rides the same atomic commit as the merged
  * groups, a replayed batch no-ops before any work, and a zombie
  * writer aborts inside the claim. `expectedPrior` additionally guards
  * OVERLAPPING ranges: two refreshers that both read high-water 5 and
  * race to fold [6..10] and [6..12] would each pass a `lastTxn >=
  * batchId` test (10 < 12), double-applying versions 6–10 — the loser
  * must instead observe that the stamp MOVED from what it captured
  * before reading the feed, and no-op. */
object AggReplica {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Thrown when a batch retracts below zero for some group — the feed
    * was consumed from an offset past rows the view needed. */
  final class NegativeGroupException(root: String)
    extends RuntimeException(
      s"aggregate view $root would go NEGATIVE applying this batch — " +
        "the change-feed consumer started past rows the view never " +
        "counted; rebuild the view from a feed-covering offset")

  /** Above this many extremum-retracted groups the recompute scan keeps
    * the broadcast-semi-join road instead of collecting an `IN` list
    * (the list rides the plan AND the stats pruner; unbounded literals
    * would bloat both). */
  private val IsinLimit = 1000

  /** Row bound for the FORCED `broadcast()` hints on the extremum
    * recompute road's group-sized frames (flagged keys, recomputed
    * extrema). These frames are "group-sized",
    * but group count is bounded only by the batch's churn: a
    * backfill-scale retraction over a high-cardinality key can flag 10⁷+
    * groups, and an unconditional hint would force Spark to materialize
    * and ship them as broadcast relations regardless of size — driver
    * memory pressure, then the hard 8 GB broadcast wall. Below the bound
    * (key rows ≈ tens of bytes each, so ~10 MB — Spark's own
    * auto-broadcast class) the hint is the right plan and skips a
    * shuffle; above it the hint is DROPPED and AQE plans the join from
    * observed sizes. Tunable for tests via [[BroadcastKeyLimitKey]]. */
  private[graft] val BroadcastKeyLimitKey = "graft.ivm.broadcastKeyLimit"
  private[graft] val BroadcastKeyLimitDefault = 100000L

  /** `broadcast(df)` only when the probed row count clears the limit —
    * the hint-vs-AQE gate above, factored for the plan-audit spec. */
  private[graft] def maybeBroadcast(
      df: DataFrame, nRows: Long, limit: Long): DataFrame =
    if (nRows <= limit) broadcast(df) else df

  /** Where the extremum-retraction recompute reads flagged groups from:
    * a plain table at a pinned version (single-source views), or the
    * star join at EVERY source's pinned version (join-backed extrema
    * views — the joined bag at the state the batch's counts reach).
    * A table's snapshot resolves on first use: a batch that retracts no
    * extremum never touches its source. */
  private[graft] sealed trait RecomputeSource
  private[graft] final class TableAt(at: => Snapshot) extends RecomputeSource {
    lazy val snap: Snapshot = at
  }
  private[graft] final case class StarAt(
      fact: Snapshot, dims: Seq[(Snapshot, Seq[(String, String)])],
      keys: Seq[(Int, String)]) extends RecomputeSource

  /** Apply one feed batch (must carry `_change_type`) to the aggregate
    * view at `dstRoot`. Returns false when the batch was skipped as a
    * transactional replay or a lost concurrent-refresh claim.
    *
    * @param expectedPrior the `lastTxn` high-water the caller captured
    *        BEFORE reading the feed; when set, the batch applies only
    *        while the stamp still reads exactly that value (overlap
    *        guard — see the class doc). Only meaningful with `txn`.
    * @param extrema maintain `n_vals`/`value_min`/`value_max` too;
    *        requires `source` for the extremum-retraction recompute.
    * @param source (root, version) of the source state the batch folds
    *        up to — the recompute reads the source AT THIS VERSION so
    *        maintenance equals recompute exactly. */
  private[graft] def applyAggBatch(
      spark: SparkSession, dstRoot: String, keyCols: Seq[String],
      valueCol: String, batch: DataFrame,
      txn: Option[(String, Long)] = None,
      expectedPrior: Option[Long] = None,
      extrema: Boolean = false,
      source: Option[(String, Long)] = None): Boolean =
    applyAggMulti(spark, dstRoot, keyCols, Seq((valueCol, "value_sum")),
      batch,
      txns = txn.toSeq, expectedPriors = txn.toSeq.map(_ => expectedPrior),
      extrema = extrema,
      source = source.map { case (r, v) =>
        new TableAt(VersionedTable.snapshotAt(spark, r, v)) })

  /** Multi-stamp, multi-measure form of [[applyAggBatch]] — a
    * join-backed view folds SEVERAL feeds (fact + every star dim) in
    * one merge, so its exactly-once claim is n+1 `(appId, batchId)`
    * stamps riding the same atomic commit, each with its own
    * captured-high-water overlap guard (`txns` and `expectedPriors`
    * positionally aligned); and a real mart rollup carries SEVERAL
    * sums, so `measures` = (column, view-column alias) per maintained
    * sum, every delta computed in the same one pass over the batch.
    * Extrema stay single-measure. */
  /** Extrema maintained over DISTINCT feed columns — the cascade-child
    * form: a coarser level over an extrema view folds the parent's
    * feed, where the child's min comes from the parent's `value_min`,
    * its max from `value_max`, and each parent-group row contributes
    * `weightCol` (the parent's `n_vals`) underlying values, not 1.
    * `None` for weightCol = the row-level form (one non-NULL value per
    * row). The fold-skip soundness argument is unchanged: if no
    * retracted minCol value reaches the folded min (resp. maxCol /
    * folded max), the subgroup achieving the stored extremum was not
    * touched — a touched one would have fired the flag with its own
    * preimage — so the fold is exact; flagged groups recompute
    * min(minCol)/max(maxCol) from the source at its pinned version. */
  private[graft] final case class ExtremaCols(
      minCol: String, maxCol: String, weightCol: Option[String])

  private[graft] def applyAggMulti(
      spark: SparkSession, dstRoot: String, keyCols: Seq[String],
      measures: Seq[(String, String)], batch: DataFrame,
      txns: Seq[(String, Long)],
      expectedPriors: Seq[Option[Long]],
      extrema: Boolean = false,
      source: Option[RecomputeSource] = None,
      guards: Seq[(String, Long)] = Nil,
      extremaCols: Option[ExtremaCols] = None): Boolean = {
    require(keyCols.nonEmpty, "applyAggBatch needs at least one group column")
    require(measures.nonEmpty, "applyAggMulti needs at least one measure")
    require(txns.size == expectedPriors.size,
      "txns and expectedPriors must align positionally")
    require(!extrema || source.isDefined,
      "extrema maintenance needs the (sourceRoot, version) for the " +
        "extremum-retraction recompute")
    def claimLost(): Boolean = {
      val lasts = txns.map { case (appId, _) =>
        VersionedTable.lastTxn(spark, dstRoot, appId) }
      // a REPLAY is "every stamp already covers its batch" — one source
      // merely not having moved this refresh (its stamp already AT its
      // current version) must not no-op the other source's fold. The
      // moved-stamp overlap guard stays per-stamp: ANY stamp that moved
      // from what this refresh captured means a concurrent refresh won.
      val replayed = txns.nonEmpty && txns.zip(lasts).forall {
        case ((_, batchId), last) => last.exists(_ >= batchId) }
      val moved = expectedPriors.zip(lasts).exists {
        case (ep, last) => ep.exists(e => !last.contains(e)) }
      // UNMOVED-source guards ([[refreshJoinView]] skips writing stamps
      // for feeds that didn't move): no new stamp rides the commit, but
      // the terms were computed against the captured high-water — a
      // concurrent refresh advancing it mid-flight means a superseded
      // dim/fact state; claim lost, exactly as a moved written stamp.
      val guardMoved = guards.exists { case (appId, e) =>
        !VersionedTable.lastTxn(spark, dstRoot, appId).contains(e) }
      replayed || moved || guardMoved
    }
    if (claimLost()) false
    else {
      try {
        applyAggInternal(spark, dstRoot, keyCols, measures, batch, txns,
          () => if (claimLost()) throw new ChangeReplica.StaleBatchException(
            txns.head._1, txns.head._2),
          extrema, source, extremaCols)
        true
      } catch { case _: ChangeReplica.StaleBatchException => false }
    }
  }

  private def applyAggInternal(
      spark: SparkSession, dstRoot: String, keyCols: Seq[String],
      measures: Seq[(String, String)], batch: DataFrame,
      txns: Seq[(String, Long)],
      zombieProbe: () => Unit, extrema: Boolean,
      source: Option[RecomputeSource],
      extremaCols: Option[ExtremaCols] = None): Unit = {
    require(!extrema || extremaCols.isDefined || measures.size == 1,
      "extrema maintenance supports exactly one measure")
    // row-level extrema read the single measure column; the cascade-
    // child form reads its own (min, max, weight) columns off the feed
    val ex = extremaCols.getOrElse(
      ExtremaCols(measures.head._1, measures.head._1, None))
    val exFeedCols =
      if (extrema) Seq(ex.minCol, ex.maxCol) ++ ex.weightCol else Nil
    val missing = (keyCols ++ measures.map(_._1) ++ exFeedCols).distinct
      .filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"column(s) missing from the feed: ${missing.mkString(", ")}")
    // one map-side-combined aggregation over O(batch) rows — the whole
    // cross-version batch collapses to one delta row per touched group
    // (every measure's delta computed in the same pass)
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), lit(1L))
      .when(col("_change_type").isin("delete", "update_preimage"), lit(-1L))
    val mIdx = measures.indices
    def dv(i: Int) = s"__dv$i"
    val vMin = col(ex.minCol)
    val vMax = col(ex.maxCol)
    val baseAggs =
      sum(sign).as("__dc") +: mIdx.map { i =>
        sum(sign * coalesce(col(measures(i)._1), lit(0))).as(dv(i)) }
    // __dn counts underlying non-NULL VALUES: one per row with a
    // non-NULL value at row level, `weightCol` (the parent's n_vals)
    // per folded parent-group row in the cascade-child form
    val extAggs = if (!extrema) Nil else Seq(
      (ex.weightCol match {
        case Some(w) => sum(sign * coalesce(col(w), lit(0L)))
        case None => sum(when(vMin.isNotNull, sign).otherwise(lit(0L)))
      }).as("__dn"),
      min(when(sign === 1, vMin)).as("__ins_min"),
      max(when(sign === 1, vMax)).as("__ins_max"),
      min(when(sign === -1, vMin)).as("__del_min"),
      max(when(sign === -1, vMax)).as("__del_max"))
    // a group whose batch fully cancels (insert+delete of the same rows
    // in one range) is a provable no-op — drop it before the join. For
    // extrema any surviving non-NULL activity must flow through (a
    // delete {3,7} + insert {4,6} nets dc=dv=dn=0 yet MOVES both
    // extrema); only all-NULL-value churn with zero net count may drop.
    val anyDv = mIdx.map(i => col(dv(i)) =!= 0).reduce(_ || _)
    val keep =
      if (!extrema) col("__dc") =!= 0 || anyDv
      else col("__dc") =!= 0 || anyDv || col("__dn") =!= 0 ||
        col("__ins_min").isNotNull || col("__del_min").isNotNull
    val aggregated = batch
      .where(sign.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(baseAggs.head, (baseAggs.tail ++ extAggs): _*)
      .where(keep)
    val viewCur = VersionedTable.latest(spark, dstRoot)
    val deltas =
      (if (!extrema) aggregated
       else flagExtrema(aggregated, keyCols,
         viewCur.map(VersionedTable.readVersion(spark, _))))
      // the deltas feed every group-sized probe (NULL-key, the bootstrap
      // negative check, the flagged count, the flagged-key collect) and
      // the merge itself — without pinning, each would re-run the whole
      // O(batch) feed aggregation (and the view-extrema join) through
      // the frame's lineage
      .persist()
    val cached = scala.collection.mutable.ListBuffer[DataFrame](deltas)
    try {
      import spark.implicits._
      // ONE probe job over the persisted group-sized deltas answers every
      // driver question this road used to pay separate jobs for: any
      // negative group (the bootstrap check), any NULL key (the `<=>`
      // switch) and, for extrema, how many groups must recompute. Refresh
      // latency here is job-launch-bound, not compute-bound — each fused
      // probe is a deleted driver round trip.
      val imbalance =
        if (extrema) col("__dc") === 0 && (anyDv || col("__dn") =!= 0)
        else col("__dc") === 0 && anyDv
      val probe = deltas.agg(
        count(when(col("__dc") < 0 || imbalance, 1)).as("__p_neg"),
        count(when(keyCols.map(k => col(k).isNull).reduce(_ || _), 1))
          .as("__p_null"),
        count(when(if (extrema) col("__rc") else lit(false), 1)).as("__p_rc"))
        .head()
      val anyNeg = probe.getLong(0) > 0
      val hasNullKey = probe.getLong(1) > 0
      // lazy: the bootstrap's negative check refuses before any recompute
      lazy val resolved =
        if (extrema) resolveExtrema(spark, deltas, keyCols, ex, source.get,
          cached, nRc = probe.getLong(2))
        else deltas
      val txnExtra: Map[String, DataFrame] =
        if (txns.isEmpty) Map.empty
        else Map("txn" -> txns.toDF("app_id", "batch_id"))
      val zombieCheck: Long => Unit = _ => zombieProbe()
      val aliases = measures.map(_._2)
      val viewCols: Seq[String] =
        if (extrema)
          keyCols ++ ("n_rows" +: aliases) ++
            Seq("n_vals", "value_min", "value_max")
        else keyCols ++ ("n_rows" +: aliases)
      if (viewCur.isEmpty) {
        // bootstrap: the view is born from the first batch's positive
        // groups; a leading retraction means the consumer started too late
        if (anyNeg) throw new NegativeGroupException(dstRoot)
        val valueExprs: Seq[Column] =
          if (extrema)
            (col("__dc").as("n_rows") +:
              mIdx.map(i => col(dv(i)).as(aliases(i)))) ++ Seq(
              col("__dn").as("n_vals"),
              when(col("__rc"), col("__rc_min")).otherwise(col("__ins_min"))
                .as("value_min"),
              when(col("__rc"), col("__rc_max")).otherwise(col("__ins_max"))
                .as("value_max"))
          else col("__dc").as("n_rows") +:
            mIdx.map(i => col(dv(i)).as(aliases(i)))
        // a group whose batch fully cancels leaves no row (the extrema
        // form carries such groups this far because a MATCHED net-zero
        // batch can still move min/max — at bootstrap there is no
        // matched state, so net-zero means gone)
        val images = resolved.where(col("__dc") > 0)
          .select(keyCols.map(col) ++ valueExprs: _*)
        VersionedTable.commit(images, dstRoot,
          extras = txnExtra,
          preCommit = zombieCheck,
          // the feed is 'insert' of exactly this commit's files —
          // VIRTUAL (VersionedTable.syntheticChanges): one staged write
          // job deleted per bootstrap
          recordInfo = VersionedTable.InsertFeedInfo)
      } else {
        val view = "__graft_ivm_" +
          java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        resolved.createOrReplaceTempView(view)
        try {
          def bq(c: String) = "`" + c + "`"
          // NULL-SAFE key equality when the batch carries a NULL group:
          // SQL GROUP BY treats NULL as ONE group, so the maintenance join
          // must too — under plain `=` a NULL group's delta never matches
          // its own view row (a duplicate NULL row per refresh, its
          // retractions silently dropped). But `<=>` is not a
          // bucket-road-eligible equi (a raw-key HashPartitioning cannot
          // co-locate null-safe join keys), so the common no-null-groups
          // batch keeps `=` and a bucketized view keeps its claimed road —
          // answered by the fused probe above, zero extra jobs.
          val eq = if (hasNullKey) "<=>" else "="
          val on = keyCols.map(k => s"t.${bq(k)} $eq s.${bq(k)}").mkString(" AND ")
          val insCols = viewCols.map(bq).mkString(", ")
          val negErr = "cast(raise_error('aggregate view would go " +
            "negative: the feed consumer started past rows the view " +
            "never counted') AS BIGINT)"
          val negGuard =
            if (extrema) "(t.n_rows + s.__dc < 0 OR t.n_vals + s.__dn < 0)"
            else "t.n_rows + s.__dc < 0"
          val sumUpds = mIdx.map(i =>
            s"${bq(aliases(i))} = t.${bq(aliases(i))} + s.${dv(i)}")
          val updSet =
            if (extrema)
              s"""n_rows = t.n_rows + s.__dc,
                 |  ${sumUpds.mkString(",\n  ")},
                 |  n_vals = t.n_vals + s.__dn,
                 |  value_min = CASE WHEN s.__rc THEN s.__rc_min
                 |    ELSE least(t.value_min, s.__ins_min) END,
                 |  value_max = CASE WHEN s.__rc THEN s.__rc_max
                 |    ELSE greatest(t.value_max, s.__ins_max) END""".stripMargin
            else
              (s"n_rows = t.n_rows + s.__dc" +: sumUpds).mkString(",\n  ")
          val sDvs = mIdx.map(i => s"s.${dv(i)}")
          val insVals =
            if (extrema)
              (keyCols.map(c => s"s.${bq(c)}") ++ ("s.__dc" +: sDvs) ++ Seq(
                "s.__dn",
                "CASE WHEN s.__rc THEN s.__rc_min ELSE s.__ins_min END",
                "CASE WHEN s.__rc THEN s.__rc_max ELSE s.__ins_max END"))
                .mkString(", ")
            else (keyCols.map(c => s"s.${bq(c)}") ++ ("s.__dc" +: sDvs))
              .mkString(", ")
          val negVals =
            if (extrema)
              (keyCols.map(c => s"s.${bq(c)}") ++ (negErr +: sDvs) ++ Seq(
                "s.__dn", "s.__ins_min", "s.__ins_max")).mkString(", ")
            else (keyCols.map(c => s"s.${bq(c)}") ++ (negErr +: sDvs))
              .mkString(", ")
          // fate order: negative-count groups fail loudly (raise_error
          // rides the violating fate's assignment, so it fires only for
          // those rows — no extra view pass), zeroed groups delete, live
          // groups accumulate, fresh groups insert — and an UNMATCHED
          // retraction (a delta with net-negative count, or zero count
          // with a value/non-null imbalance, for a group the view never
          // counted) is the same too-late-start corruption the bootstrap
          // refuses, caught by the guarded trailing insert. An unmatched
          // group whose batch fully cancels (insert+delete of the same
          // rows) matches NO fate and is ignored — the extrema form
          // carries such groups to the merge because a MATCHED net-zero
          // batch can still move min/max.
          val anyDvSql = sDvs.map(d => s"$d != 0").mkString(" OR ")
          val unmatchedBad =
            if (extrema) s"(s.__dc < 0 OR $anyDvSql OR s.__dn != 0)"
            else s"(s.__dc < 0 OR $anyDvSql)"
          val sql =
            s"""MERGE INTO `$dstRoot` AS t USING $view AS s
               |ON $on
               |WHEN MATCHED AND $negGuard
               |  THEN UPDATE SET n_rows = $negErr
               |WHEN MATCHED AND t.n_rows + s.__dc = 0 THEN DELETE
               |WHEN MATCHED THEN UPDATE SET
               |  $updSet
               |WHEN NOT MATCHED AND s.__dc > 0
               |  THEN INSERT ($insCols) VALUES ($insVals)
               |WHEN NOT MATCHED AND $unmatchedBad
               |  THEN INSERT ($insCols) VALUES ($negVals)""".stripMargin
          if (txns.isEmpty) graft.plans.GraftSql.execute(spark, sql)
          else graft.plans.GraftSql.mergeWithExtras(spark, sql, txnExtra, zombieCheck)
        } finally spark.catalog.dropTempView(view)
      }
    } finally cached.foreach(Pin.release)
  }

  /** Flag each delta group whose extrema fold is unsound (`__rc`),
    * against the stored extrema of exactly the delta's groups
    * (`viewExtrema` = the view's current snapshot; None at bootstrap,
    * where there is no stored state). Part of the persisted deltas
    * frame, so the caller's fused probe counts the flagged groups and
    * the flagged-key collect reads the cache.
    *
    * SOUNDNESS of the fold-skip: with fold_min = least(stored_min,
    * __ins_min) (NULL stored extrema at bootstrap / for fresh groups —
    * `least`/`greatest` skip NULLs), if every deleted value d satisfies
    * fold_min < d < fold_max then the elements achieving fold_min and
    * fold_max survive the batch, so the folded extrema are exact. The
    * flag therefore fires on `__del_min <= fold_min OR __del_max >=
    * fold_max` — conservative (a duplicate of the extremum recomputes
    * to the same answer), never unsound. An insert-only group has no
    * `__del_*` and never fires.
    *
    * The view side is one pass over the view's (keys, extrema)
    * projection — the same cost class as the MERGE's own target scan.
    * The join is unhinted: the group count is not known before the
    * probe this frame feeds, so Spark plans it from the view's size (a
    * view under the auto-broadcast threshold broadcasts; a larger one
    * shuffle-joins). */
  private def flagExtrema(
      deltas: DataFrame, keyCols: Seq[String],
      viewExtrema: Option[DataFrame]): DataFrame = {
    val withView = viewExtrema match {
      case Some(viewDf) =>
        val ve = viewDf
          .select(keyCols.map(col) :+ col("value_min") :+ col("value_max"): _*)
        deltas.join(ve, keyCols.map(k => deltas(k) <=> ve(k)).reduce(_ && _),
            "left")
          .select(deltas.columns.map(deltas(_)).toSeq :+
            ve("value_min").as("__view_min") :+
            ve("value_max").as("__view_max"): _*)
      case None =>
        val nullV = lit(null).cast(deltas.schema("__ins_min").dataType)
        deltas.withColumn("__view_min", nullV).withColumn("__view_max", nullV)
    }
    val unsound = coalesce(
      col("__del_min") <= least(col("__view_min"), col("__ins_min")) ||
        col("__del_max") >= greatest(col("__view_max"), col("__ins_max")),
      lit(false))
    withView.withColumn("__rc", unsound).drop("__view_min", "__view_max")
  }

  /** Attach `__rc_min`/`__rc_max` to the flagged deltas ([[flagExtrema]]):
    * the flagged groups' extrema recomputed from the source at the
    * batch's pinned version, NULL for every other group. `nRc` is the
    * flagged-group count from the caller's fused probe, so the fold-only
    * batch (`nRc == 0`, every insert-only batch among them) returns
    * without a job, and a recompute pays one collect of the flagged keys
    * (from the cached deltas) before its scan.
    *
    * SCALE SHAPE: everything here is group-sized except the recompute
    * scan, which reads only the flagged groups' source rows — through a
    * stats-prunable per-column `IN` superset predicate when the flagged
    * set is small and NULL-free (pushed to the parquet scan, file-level
    * footer pruning via [[VersionedTable.readVersionWhere]]), else a
    * broadcast semi-join (map-side filter, no source shuffle); the
    * per-group min/max aggregation is map-side-combined either way. A
    * single-column NULL-free key set is exact as an `IN` predicate, so
    * that common shape skips the semi-join (and its broadcast job).
    *
    * PINNED ONCE: the result is materialized here with [[Pin.eagerly]]
    * and registered in `cached`, which the caller releases when the
    * merge has committed. The merge consumes its source in
    * several executions (hull probe, touched-file detection, the data
    * and feed staged writes); a lazy result would re-run the recompute
    * scan — the whole star join when the flagged segments are broad —
    * in each of them. */
  private def resolveExtrema(
      spark: SparkSession, deltas: DataFrame, keyCols: Seq[String],
      ex: ExtremaCols, source: RecomputeSource,
      cached: scala.collection.mutable.ListBuffer[DataFrame],
      nRc: Long): DataFrame = {
    val nullV = lit(null).cast(deltas.schema("__ins_min").dataType)
    if (nRc == 0)
      deltas.withColumn("__rc_min", nullV).withColumn("__rc_max", nullV)
    else {
      // the broadcast-hint gate ([[BroadcastKeyLimitKey]]): the flagged
      // count bounds both hinted frames (flagged keys, and the recomputed
      // extrema — one row per flagged group); past the limit the hints
      // drop and AQE plans from sizes
      val bcLimit = spark.conf
        .get(BroadcastKeyLimitKey, BroadcastKeyLimitDefault.toString).toLong
      val rcKeys = deltas.where(col("__rc")).select(keyCols.map(col): _*)
      val keyRows =
        if (nRc <= IsinLimit) rcKeys.collect()
        else Array.empty[org.apache.spark.sql.Row]
      // a usable key set (small, NULL-free) rides the scans as a
      // per-column IN superset predicate (stats pruning + parquet
      // pushdown)
      val usable = keyRows.nonEmpty &&
        !keyRows.exists(r => keyCols.indices.exists(r.isNullAt))
      def inPred(cols: Seq[(String, Int)]): Option[Column] =
        cols.map { case (k, i) =>
          col(k).isin(keyRows.map(_.get(i)).distinct.toSeq: _*)
        }.reduceOption(_ && _)
      val snap = source match {
        case t: TableAt =>
          if (usable)
            VersionedTable.readVersionWhere(spark, t.snap,
              inPred(keyCols.zipWithIndex).get)
          else VersionedTable.readVersion(spark, t.snap)
        case s: StarAt =>
          // star extrema views are row-level (minCol == maxCol)
          starRecompute(spark, s, ex.minCol,
            if (usable) Some(inPred _) else None)
      }
      // a single-column IN over NULL-free keys is the flagged set itself;
      // wider or absent predicates are supersets the semi-join makes exact
      val restricted =
        if (usable && keyCols.size == 1) snap
        else snap.join(maybeBroadcast(rcKeys, nRc, bcLimit),
          keyCols.map(k => snap(k) <=> rcKeys(k)).reduce(_ && _), "left_semi")
      val recomputed = restricted
        .groupBy(keyCols.map(col): _*)
        .agg(min(col(ex.minCol)).as("__rc_min"),
          max(col(ex.maxCol)).as("__rc_max"))
      // a flagged group absent from the source is fully deleted — its
      // DELETE fate fires before the extrema are read (NULLs are fine)
      val resolved = Pin.eagerly(
        deltas.join(maybeBroadcast(recomputed, nRc, bcLimit),
            keyCols.map(k => deltas(k) <=> recomputed(k)).reduce(_ && _),
            "left")
          .select(deltas.columns.map(deltas(_)).toSeq :+
            recomputed("__rc_min") :+ recomputed("__rc_max"): _*))
      cached += resolved
      resolved
    }
  }

  /** The star join at every source's pinned version, projected to
    * (group keys…, value col) — the flagged-group extremum recompute's
    * source frame for JOIN-BACKED extrema views. Scans are IN-restricted
    * per SIDE when the flagged key set is usable (`inPred` present):
    * each side's group columns prune ITS OWN scan, and when no fact-side
    * group column exists the fact is additionally restricted THROUGH the
    * first group-restricted dim's join keys ([[factAtRestricted]]) — the
    * recompute then reads O(flagged groups' rows), never the whole fact.
    * Star dims are broadcast-sized by the star assumption, so AQE
    * broadcasts them; the seed join at CREATE stays the only full join
    * in the view's life. */
  private def starRecompute(
      spark: SparkSession, s: StarAt, valueCol: String,
      inPred: Option[Seq[(String, Int)] => Option[Column]]): DataFrame = {
    val factCols = s.keys.zipWithIndex.collect {
      case ((0, c), pos) => (c, pos) }
    val factPred = inPred.flatMap(f => f(factCols))
    val dimFrames = s.dims.zipWithIndex.map { case ((dim, pairs), i) =>
      val dimCols = s.keys.zipWithIndex.collect {
        case ((side, c), pos) if side == i + 1 => (c, pos) }
      val dPred = inPred.flatMap(f => f(dimCols))
      val d = dPred match {
        case Some(p) => VersionedTable.readVersionWhere(spark, dim, p)
        case None => VersionedTable.readVersion(spark, dim)
      }
      (d, pairs, dPred.isDefined)
    }
    val fact = factPred match {
      case Some(p) => VersionedTable.readVersionWhere(spark, s.fact, p)
      case None =>
        dimFrames.collectFirst { case (d, pairs, true) => (d, pairs) } match {
          case Some((d, pairs)) =>
            factAtRestricted(spark, s.fact, d, pairs.map(_._1), pairs.map(_._2))
          case None => VersionedTable.readVersion(spark, s.fact)
        }
    }
    starProject(fact, dimFrames.map { case (d, pairs, _) => (d, pairs) },
      s.keys, Seq(valueCol), typeFrom = -1)
  }

  /** Batch-poll face: consume everything new in `srcRoot`'s feed since
    * this consumer's checkpoint and fold it into the view; returns the
    * applied version range, or None when nothing was new. */
  def applyAggChanges(
      spark: SparkSession, srcRoot: String, dstRoot: String,
      keyCols: Seq[String], valueCol: String,
      checkpointDir: String, extrema: Boolean = false): Option[(Long, Long)] =
    VersionedTable.consumeChanges(spark, srcRoot, checkpointDir) { batch =>
      applyAggBatch(spark, dstRoot, keyCols, valueCol, batch,
        extrema = extrema,
        source = if (extrema) Some((srcRoot, batchVersion(batch))) else None)
    }

  /** The source version a feed batch folds up to — the max stamped
    * `_commit_version` (feed rows always carry it). Pins the extremum
    * recompute to exactly the state the batch's counts reach: versions
    * after the last row-carrying one cannot have changed data (a
    * data-changing commit always emits feed rows — the r16 feed-gap
    * guarantee). One tiny agg over the O(batch) feed. */
  private def batchVersion(batch: DataFrame): Long =
    batch.agg(max(col("_commit_version"))).head.getLong(0)

  // ---- the MATERIALIZED VIEW face -----------------------------------------

  /** Table properties recording an MV's definition (written at CREATE,
    * read by REFRESH), and the txn app id whose high-water IS the
    * refresh checkpoint: `lastTxn(view, MvAppId)` = the last source
    * version folded in, stamped atomically with each refresh's merge —
    * no side-channel checkpoint file to lose or double-apply from. */
  val MvSourceProp = "graft.mv.source"
  val MvKeysProp = "graft.mv.keys"
  val MvValueProp = "graft.mv.value"
  val MvExtremaProp = "graft.mv.extrema"
  val MvAppId = "graft-mv"
  /** Join-backed (star) views additionally record the dim sides: the
    * dim count, each dim's root and `fk=pk` equi-pairs (indexed
    * properties — dim 0 keeps the unsuffixed names), and the group
    * columns tagged with the side each comes from (`f:`/`d<i>:`
    * prefixes, view order preserved). Every dim feed's high-water
    * stamps under its own app id, atomically beside the fact stamp. */
  val MvDimProp = "graft.mv.dim"
  val MvJoinProp = "graft.mv.join"
  val MvJoinKeysProp = "graft.mv.joinkeys"
  val MvNDimsProp = "graft.mv.ndims"
  val MvDimAppId = "graft-mv-dim"

  /** Cascade pointer(s): the coarser view(s) maintained from THIS
    * view's own change feed, comma-joined (a ROLLUP chain records one
    * child per level; a CUBE records every subset view directly on the
    * finest — any subset aggregate is a sum over finest groups).
    * REFRESH descends parent-first; DROP descends child-first. */
  val MvChildProp = "graft.mv.child"
  /** Marks a grouping-set cascade CHILD that maintains extrema: its
    * feed is its parent EXTREMA view's change feed, so its min folds
    * the parent's `value_min`, its max the parent's `value_max`, and
    * each parent-group row weighs `n_vals` underlying values — the
    * [[ExtremaCols]] form, with the recompute road reading the PARENT
    * view (group-count-sized) at its pinned version instead of the
    * fact. */
  val MvExtremaChildProp = "graft.mv.extrema.child"

  /** The declared rollup key list, recorded on the FINEST level (the
    * chain's entry root) — [[readRollup]] reconstructs the grouping
    * sets from it. */
  val MvRollupProp = "graft.mv.rollup"
  /** The declared cube key list, recorded on the finest level —
    * [[readCube]] reconstructs the grouping sets from it plus each
    * child's own recorded keys. */
  val MvCubeProp = "graft.mv.cube"

  /** CREATE MATERIALIZED VIEW: one aggregate scan of the source's
    * CURRENT version seeds the view, the definition lands as table
    * properties, and the consumed source version is txn-stamped inside
    * the same commit — a source commit racing the create is simply the
    * first refresh's work. Key/value names are normalized to the source
    * schema's exact casing BEFORE being persisted (refresh applies them
    * against feed batches case-sensitively — a create that succeeded
    * with mismatched casing would make every refresh throw). */
  def createView(
      spark: SparkSession, dstRoot: String, srcRoot: String,
      keyCols: Seq[String], valueCol: String,
      extrema: Boolean = false,
      extraProps: Map[String, String] = Map.empty): Long = {
    require(keyCols.nonEmpty, "createView needs at least one group column")
    require(VersionedTable.currentVersion(spark, dstRoot).isEmpty,
      s"$dstRoot already exists — DROP it or pick another root")
    val srcAt = VersionedTable.latestOrFail(spark, srcRoot)
    val srcCur = srcAt.version
    val snap = VersionedTable.readVersion(spark, srcAt)
    def canon(c: String): String =
      snap.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"column $c missing from $srcRoot: has " +
            snap.columns.mkString(", ")))
    val keys = keyCols.map(canon)
    val value = canon(valueCol)
    requireRecordableKeys(keys)
    // the value column records bare into [[MvValueProp]], which
    // refreshView parses with decodeMeasures (split on ',' and '=') — a
    // legal-but-exotic name containing those would create fine and then
    // silently mis-decode at refresh into wrong (column, alias) pairs;
    // same recorded-charset refusal as validateMeasures
    require(!value.exists(",=:".contains(_)),
      s"a value column name containing ',', '=' or ':' cannot be " +
        s"recorded in the materialized-view definition: $value — " +
        "rename the column")
    val v = col(value)
    val aggs =
      if (extrema) Seq(count(lit(1)).as("n_rows"),
        sum(coalesce(v, lit(0))).as("value_sum"),
        count(v).as("n_vals"), min(v).as("value_min"), max(v).as("value_max"))
      else Seq(count(lit(1)).as("n_rows"),
        sum(coalesce(v, lit(0))).as("value_sum"))
    val agg = snap.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    import spark.implicits._
    VersionedTable.commit(agg, dstRoot,
      recordInfo = VersionedTable.InsertFeedInfo, // virtual insert feed
      extras = Map(
        "txn" -> Seq((MvAppId, srcCur)).toDF("app_id", "batch_id")),
      recordProperties = Some(Map(
        MvSourceProp -> srcRoot,
        MvKeysProp -> keys.mkString(","),
        MvValueProp -> value) ++
        (if (extrema) Map(MvExtremaProp -> "true") else Map.empty) ++
        extraProps))
  }

  /** REFRESH MATERIALIZED VIEW: fold the source's feed from the stamped
    * high-water to its current version into the view — O(changes) per
    * refresh, exactly-once (a concurrent refresh that loses the race
    * no-ops: the txn stamp must still read the high-water THIS refresh
    * captured before reading the feed, so overlapping ranges can never
    * both land — see [[applyAggBatch]]'s `expectedPrior`), a no-op
    * without a commit when the source hasn't moved. Returns the view's
    * (possibly unchanged) current version.
    *
    * JOB BUDGET: a refresh is launch-bound — on the standing-table
    * benchmark's star extrema view each Spark job costs more driver
    * time than its compute — so every frame this road reads more than
    * once is pinned: the group-sized deltas (persisted, with the
    * view-extrema join and the `__rc` flag built in) feed the one fused
    * probe, the flagged-key collect and the merge; the recomputed
    * extrema (`Pin.eagerly`) feed the merge's hull probe, detection and
    * both staged writes. Feed and mask sidecars read under their recorded
    * schemas, with no inference job. Measured there on 4 cores: 26 jobs
    * for a fact-only extremum-retracting refresh, 29 when it also folds
    * a dim update (44 on average before the pins). */
  def refreshView(spark: SparkSession, dstRoot: String): Long = {
    val view = VersionedTable.latest(spark, dstRoot).getOrElse(
      throw new java.io.IOException(s"no committed version under $dstRoot"))
    val cur = view.version
    val props = VersionedTable.propertiesOf(spark, view)
    val src = props.getOrElse(MvSourceProp, throw new IllegalArgumentException(
      s"$dstRoot is not a materialized view (no $MvSourceProp property)"))
    val result =
      if (props.contains(MvDimProp))
        refreshJoinView(spark, dstRoot, view, src, props)
      else {
        val keys = props(MvKeysProp).split(',').toSeq
        val measures = decodeMeasures(props(MvValueProp))
        val extrema = props.get(MvExtremaProp).contains("true")
        // a cascade child's extrema fold reads the parent view's
        // value_min/value_max, weighted by its n_vals
        val exCols =
          if (props.get(MvExtremaChildProp).contains("true"))
            Some(ExtremaCols("value_min", "value_max", Some("n_vals")))
          else None
        val applied = VersionedTable.lastTxn(spark, dstRoot, MvAppId).getOrElse(
          throw new java.io.IOException(
            s"materialized view $dstRoot lost its refresh high-water stamp"))
        val srcSnap = VersionedTable.latest(spark, src).getOrElse(
          throw new java.io.IOException(s"materialized view source $src is gone"))
        val srcCur = srcSnap.version
        if (srcCur <= applied) cur
        else {
          val batch = VersionedTable.readChanges(spark, src, applied + 1, srcCur)
          applyAggMulti(spark, dstRoot, keys, measures, batch,
            txns = Seq((MvAppId, srcCur)), expectedPriors = Seq(Some(applied)),
            extrema = extrema,
            source = if (extrema) Some(new TableAt(srcSnap)) else None,
            extremaCols = exCols)
          VersionedTable.currentVersion(spark, dstRoot).getOrElse(cur)
        }
      }
    // CASCADE, parent-first: a declared rollup/cube's children fold the
    // feed the refresh above just emitted. An unmoved parent still
    // descends — that heals a crash that landed between a parent's
    // refresh and its children's, and no-ops otherwise (each link is
    // its own O(changes) refresh with its own exactly-once stamp).
    // SIBLINGS refresh concurrently (a cube's subset views are
    // independent tables over the same parent feed); a rollup chain's
    // single child recurses depth-first as before. A recorded child
    // with NO committed table under it (the parent's pointer lands in
    // the create commit BEFORE the children exist — a crash in that
    // window is observable) is SKIPPED with a warning instead of
    // bricking the parent's refresh: the chain stays recoverable
    // through the verbs themselves (re-create the child, or DROP).
    parallelOver(props.get(MvChildProp).toSeq.flatMap(_.split(','))
      .filter(_.nonEmpty)) { child =>
      if (VersionedTable.currentVersion(spark, child).isEmpty)
        log.warn(s"cascade child $child of $dstRoot has no committed " +
          "version (interrupted create/drop?) — skipping its refresh")
      else refreshView(spark, child)
    }
    result
  }

  /** Encode/decode the maintained-sums definition in [[MvValueProp]]:
    * entries `col=alias` comma-joined; a bare `col` (the single-sum
    * form every pre-multi view recorded) reads as alias `value_sum`. */
  private def encodeMeasures(ms: Seq[(String, String)]): String =
    ms.map { case (c, a) => if (a == "value_sum") c else s"$c=$a" }
      .mkString(",")
  private def decodeMeasures(s: String): Seq[(String, String)] =
    s.split(',').toSeq.map { e =>
      val i = e.indexOf('=')
      if (i < 0) (e, "value_sum") else (e.substring(0, i), e.substring(i + 1))
    }

  /** The key list persists comma-joined in one table property — a
    * legal-but-exotic column name containing ',' would round-trip as
    * two keys and every refresh would maintain the wrong grouping;
    * refuse it at CREATE, loudly (shared by every create face). */
  private def requireRecordableKeys(keys: Seq[String]): Unit =
    require(keys.forall(k => !k.contains(",")),
      "group column names containing ',' cannot be recorded in the " +
        s"materialized-view definition: ${keys.filter(_.contains(","))
          .mkString("; ")} — rename the column")

  /** Shared definition checks for a measure list: canonicalized
    * columns, alias uniqueness, no collision with the group columns or
    * the fixed `n_rows`, and the recorded-charset refusal. */
  private def validateMeasures(
      measures: Seq[(String, String)], outNames: Seq[String]): Unit = {
    require(measures.nonEmpty, "at least one sum measure is required")
    val aliases = measures.map(_._2)
    require(aliases.map(_.toLowerCase).distinct.size == aliases.size,
      s"measure aliases must be unique: ${aliases.mkString(", ")}")
    require(!aliases.exists(_.equalsIgnoreCase("n_rows")),
      "a measure alias cannot be n_rows (the maintained count)")
    val clash = aliases.filter(a => outNames.exists(_.equalsIgnoreCase(a)))
    require(clash.isEmpty,
      s"measure aliases collide with group columns: ${clash.mkString(", ")}")
    val mClash = measures.map(_._1)
      .filter(c => outNames.exists(_.equalsIgnoreCase(c)))
    require(mClash.isEmpty,
      s"a measure column cannot also be a group column: ${mClash.mkString(", ")}")
    val recorded = measures.flatMap(m => Seq(m._1, m._2))
    require(recorded.forall(c => !c.exists(",=:".contains(_))),
      "measure columns/aliases containing ',', '=' or ':' cannot be " +
        s"recorded: ${recorded.filter(_.exists(",=:".contains(_))).mkString("; ")}")
  }

  /** CREATE MATERIALIZED VIEW with SEVERAL maintained sums over one
    * source (`measures` = (column, view-column alias) per sum) — the
    * multi-measure mart-rollup shape; schema `keys…, n_rows, aliases…`.
    * Extrema stay on the single-measure [[createView]] road. */
  def createMultiView(
      spark: SparkSession, dstRoot: String, srcRoot: String,
      keyCols: Seq[String], measures: Seq[(String, String)],
      extraProps: Map[String, String] = Map.empty): Long = {
    require(keyCols.nonEmpty, "createMultiView needs at least one group column")
    require(VersionedTable.currentVersion(spark, dstRoot).isEmpty,
      s"$dstRoot already exists — DROP it or pick another root")
    val srcAt = VersionedTable.latestOrFail(spark, srcRoot)
    val srcCur = srcAt.version
    val snap = VersionedTable.readVersion(spark, srcAt)
    def canon(c: String): String =
      snap.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"column $c missing from $srcRoot: has " +
            snap.columns.mkString(", ")))
    val keys = keyCols.map(canon)
    val ms = measures.map { case (c, a) => (canon(c), a) }
    requireRecordableKeys(keys)
    validateMeasures(ms, keys)
    val aggs = count(lit(1)).as("n_rows") +: ms.map { case (c, a) =>
      sum(coalesce(col(c), lit(0))).as(a) }
    val agg = snap.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    import spark.implicits._
    VersionedTable.commit(agg, dstRoot,
      recordInfo = VersionedTable.InsertFeedInfo, // virtual insert feed
      extras = Map(
        "txn" -> Seq((MvAppId, srcCur)).toDF("app_id", "batch_id")),
      recordProperties = Some(Map(
        MvSourceProp -> srcRoot,
        MvKeysProp -> keys.mkString(","),
        MvValueProp -> encodeMeasures(ms)) ++ extraProps))
  }

  /** CREATE a grouping-set cascade CHILD over an extrema parent view:
    * seeds `keys…, n_rows, measures…, n_vals, value_min, value_max`
    * from the parent's CURRENT snapshot (min over subgroup minima IS
    * the coarser min — exact, no retraction in a seed scan), records
    * the [[MvExtremaChildProp]] fold form, and stamps the consumed
    * parent version like every create. The refresh road then maintains
    * the sums by the telescoping rule and the extrema by the
    * flagged-group recompute AGAINST THE PARENT VIEW — group-count-
    * sized, so a retracted subgroup extremum costs O(parent rows of
    * the flagged coarse groups), never a fact scan. */
  private def createExtremaChildView(
      spark: SparkSession, dstRoot: String, parentRoot: String,
      keyCols: Seq[String], measures: Seq[(String, String)],
      extraProps: Map[String, String] = Map.empty): Long = {
    require(keyCols.nonEmpty, "createExtremaChildView needs a group column")
    require(VersionedTable.currentVersion(spark, dstRoot).isEmpty,
      s"$dstRoot already exists — DROP it or pick another root")
    val parentAt = VersionedTable.latestOrFail(spark, parentRoot)
    val parentCur = parentAt.version
    val snap = VersionedTable.readVersion(spark, parentAt)
    val needed = keyCols ++ measures.map(_._1) ++
      Seq("n_vals", "value_min", "value_max")
    val absent = needed.filterNot(snap.columns.contains)
    require(absent.isEmpty,
      s"column(s) missing from extrema parent $parentRoot: " +
        absent.mkString(", "))
    requireRecordableKeys(keyCols)
    validateMeasures(measures,
      keyCols ++ Seq("n_vals", "value_min", "value_max"))
    val aggs = (count(lit(1)).as("n_rows") +:
      measures.map { case (c, a) => sum(coalesce(col(c), lit(0))).as(a) }) ++
      Seq(sum(coalesce(col("n_vals"), lit(0L))).as("n_vals"),
        min(col("value_min")).as("value_min"),
        max(col("value_max")).as("value_max"))
    val agg = snap.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    import spark.implicits._
    VersionedTable.commit(agg, dstRoot,
      recordInfo = VersionedTable.InsertFeedInfo, // virtual insert feed
      extras = Map(
        "txn" -> Seq((MvAppId, parentCur)).toDF("app_id", "batch_id")),
      recordProperties = Some(Map(
        MvSourceProp -> parentRoot,
        MvKeysProp -> keyCols.mkString(","),
        MvValueProp -> encodeMeasures(measures),
        MvExtremaProp -> "true",
        MvExtremaChildProp -> "true") ++ extraProps))
  }

  // ---- DECLARED ROLLUP CASCADES ---------------------------------------------

  /** CREATE MATERIALIZED VIEW … GROUP BY ROLLUP (k1, …, kn): ONE
    * statement builds the finest-level view at `dstRoot` (keys k1…kn)
    * PLUS a cascade of coarser views at `<dstRoot>__rollup<i>` (keys
    * k1…k(n-i)), each maintained from its PARENT view's own change feed
    * — the spec-pinned cascade mechanism, declared instead of
    * hand-built. Rollup algebra: a coarser group's count and sum are
    * the SUMS of its subgroups' maintained `n_rows`/`value_sum`, so
    * each link is a plain multi-measure sum view and every refresh is
    * O(that link's changed groups). [[refreshView]] on `dstRoot`
    * descends the chain parent-first; [[readRollup]] serves the SQL
    * ROLLUP result set (all levels + the grand total, NULL-padded).
    * The grand-total row derives at read from the COARSEST maintained
    * level (group-count-sized — the one aggregation small enough to
    * never need maintenance). */
  def createRollupView(
      spark: SparkSession, dstRoot: String, srcRoot: String,
      keyCols: Seq[String], valueCol: String,
      extrema: Boolean = false): Long = {
    require(keyCols.nonEmpty, "ROLLUP needs at least one group column")
    def childRoot(i: Int) = s"${dstRoot}__rollup$i"
    val v0 = createView(spark, dstRoot, srcRoot, keyCols, valueCol,
      extrema = extrema,
      extraProps = Map(MvRollupProp -> keyCols.mkString(",")) ++
        (if (keyCols.size > 1) Map(MvChildProp -> childRoot(1))
         else Map.empty))
    for (i <- 1 until keyCols.size) {
      val parent = if (i == 1) dstRoot else childRoot(i - 1)
      // level 1 sums the finest view's n_rows; deeper levels sum the
      // already-renamed rows_sum — value_sum telescopes unchanged.
      // Extrema chains fold min(value_min)/max(value_max) at every
      // level ([[createExtremaChildView]]); a retracted subgroup
      // extremum recomputes against the PARENT level, so the cost
      // stays group-sized all the way up.
      val measures =
        if (i == 1) Seq(("n_rows", "rows_sum"), ("value_sum", "value_sum"))
        else Seq(("rows_sum", "rows_sum"), ("value_sum", "value_sum"))
      val childProps =
        if (i + 1 < keyCols.size) Map(MvChildProp -> childRoot(i + 1))
        else Map.empty[String, String]
      if (extrema)
        createExtremaChildView(spark, childRoot(i), parent,
          keyCols.dropRight(i), measures, extraProps = childProps)
      else createMultiView(spark, childRoot(i), parent,
        keyCols.dropRight(i), measures, extraProps = childProps)
    }
    v0
  }

  /** The SQL `GROUP BY ROLLUP` result set served from a maintained
    * chain: every level's groups with the absent key columns
    * NULL-padded (typed from the finest level's schema), the coarser
    * levels' summed counts renamed back to `n_rows`, and the
    * grand-total row aggregated at read from the COARSEST level.
    * Schema: k1…kn, n_rows, value_sum — exactly what
    * `GROUP BY ROLLUP (k1, …, kn)` computes from the source. */
  def readRollup(spark: SparkSession, root: String): DataFrame = {
    val props = VersionedTable.propertiesOf(spark, VersionedTable.latestOrFail(spark, root))
    val keys = props.getOrElse(MvRollupProp,
      throw new IllegalArgumentException(
        s"$root is not a rollup view (no $MvRollupProp property)"))
      .split(',').toSeq
    val finest = VersionedTable.read(spark, root)
    val keyType = keys.map(k => k -> finest.schema(k).dataType).toMap
    // extrema chains additionally serve min/max per grouping set —
    // each level MAINTAINS its own value_min/value_max, so the read is
    // still a union of levels, no recomputation
    val hasExtrema = finest.columns.contains("value_min")
    def exCols(df: DataFrame): Seq[Column] =
      if (hasExtrema) Seq(df("value_min"), df("value_max")) else Nil
    def pad(df: DataFrame, have: Seq[String], nCol: String): DataFrame =
      df.select(keys.map(k =>
        if (have.contains(k)) col(k) else lit(null).cast(keyType(k)).as(k)) ++
        (Seq(col(nCol).as("n_rows"), col("value_sum")) ++ exCols(df)): _*)
    val levels = scala.collection.mutable.ListBuffer(
      (root, finest, keys, "n_rows"))
    var cursor = props.get(MvChildProp)
    var depth = 1
    while (cursor.isDefined) {
      val r = cursor.get
      levels += ((r, VersionedTable.read(spark, r), keys.dropRight(depth),
        "rows_sum"))
      cursor = VersionedTable.propertiesOf(spark, VersionedTable.latest(spark, r)
        .getOrElse(throw new java.io.IOException(s"rollup level $r is gone")))
        .get(MvChildProp)
      depth += 1
    }
    val (_, coarsest, _, coarseN) = levels.last
    // coalesce: an EMPTY view (source fully deleted) still serves the ()
    // grouping set as one row, and SQL's count over zero rows is 0, not
    // NULL (sum stays NULL — SQL's sum over zero rows)
    val totalAggs = Seq(
      coalesce(sum(col(coarseN)), lit(0L)).as("n_rows"),
      sum(col("value_sum")).as("value_sum")) ++
      (if (hasExtrema) Seq(min(col("value_min")).as("value_min"),
        max(col("value_max")).as("value_max")) else Nil)
    val totalCols = Seq(col("n_rows"), col("value_sum")) ++
      (if (hasExtrema) Seq(col("value_min"), col("value_max")) else Nil)
    val total = coarsest
      .agg(totalAggs.head, totalAggs.tail: _*)
      .select(keys.map(k => lit(null).cast(keyType(k)).as(k)) ++
        totalCols: _*)
    levels.map { case (_, df, have, nCol) => pad(df, have, nCol) }
      .reduce(_ unionByName _)
      .unionByName(total)
  }

  /** CREATE MATERIALIZED VIEW … GROUP BY CUBE (k1, …, kn): the finest
    * view at `dstRoot` plus ONE maintained sum view per proper
    * non-empty key subset, ALL hanging directly off the finest (any
    * subset aggregate is a sum over finest groups, so every child folds
    * the finest's own change feed — a lattice flattened to one fan-out,
    * not a chain). 2ⁿ−2 children bounds n at 4 — past that, declare the
    * rollup you actually query. The grand-total set derives at read
    * ([[readCube]]). */
  def createCubeView(
      spark: SparkSession, dstRoot: String, srcRoot: String,
      keyCols: Seq[String], valueCol: String,
      extrema: Boolean = false): Long = {
    require(keyCols.nonEmpty, "CUBE needs at least one group column")
    require(keyCols.size <= 4,
      s"CUBE over ${keyCols.size} columns declares ${(1 << keyCols.size) - 2} " +
        "maintained subset views — declare a ROLLUP (or the subsets you " +
        "actually query) past 4 columns")
    val n = keyCols.size
    // proper non-empty subsets in (size desc, index order) — stable,
    // derivable child names: __cube_<kept indices>
    val subsets = (1 until (1 << n))
      .map(m => (0 until n).filter(i => (m & (1 << i)) != 0))
      .filter(_.size < n)
      .sortBy(s => (-s.size, s.mkString))
    val children = subsets.map(s => s"${dstRoot}__cube_${s.mkString("")}")
    val v0 = createView(spark, dstRoot, srcRoot, keyCols, valueCol,
      extrema = extrema,
      extraProps = Map(MvCubeProp -> keyCols.mkString(",")) ++
        (if (children.nonEmpty) Map(MvChildProp -> children.mkString(","))
         else Map.empty))
    // subset children are INDEPENDENT tables over the same finest view —
    // their seed scans and commits run concurrently (each is its own
    // atomic commit; the lifecycle cost of a cube create is otherwise
    // 2ⁿ−2 sequential commit latencies)
    parallelOver(subsets.zip(children)) { case (s, child) =>
      val measures = Seq(("n_rows", "rows_sum"), ("value_sum", "value_sum"))
      if (extrema)
        createExtremaChildView(spark, child, dstRoot, s.map(keyCols), measures)
      else createMultiView(spark, child, dstRoot, s.map(keyCols), measures)
    }
    v0
  }

  /** Run independent per-view work concurrently (cube subset creates /
    * refreshes — disjoint roots, each its own atomic commit). ALL
    * items run to completion before the call returns — a fail-fast
    * await would hand control back with sibling commits still running
    * detached, and a user retry could race those orphans into spurious
    * already-exists / claim-lost outcomes. The first failure (in item
    * order) rethrows after everything settles. Bodies must not mutate
    * session state (conf, default TZ) — [[graft.ConfInvariantSpec]]
    * pins that. A single element skips the pool. */
  private def parallelOver[A](items: Seq[A])(body: A => Unit): Unit =
    if (items.size <= 1) items.foreach(body)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val settled = Await.result(
        Future.sequence(items.map(a => Future(scala.util.Try(body(a))))),
        Duration.Inf)
      settled.collectFirst { case scala.util.Failure(e) => throw e }
      ()
    }

  /** The SQL `GROUP BY CUBE` result set served from the maintained
    * fan-out: the finest level, every subset child (absent keys
    * NULL-padded, summed counts renamed back to `n_rows`), and the
    * grand-total row aggregated at read from the finest. Schema:
    * k1…kn, n_rows, value_sum. */
  def readCube(spark: SparkSession, root: String): DataFrame = {
    val props = VersionedTable.propertiesOf(spark, VersionedTable.latestOrFail(spark, root))
    val keys = props.getOrElse(MvCubeProp,
      throw new IllegalArgumentException(
        s"$root is not a cube view (no $MvCubeProp property)"))
      .split(',').toSeq
    val finest = VersionedTable.read(spark, root)
    val keyType = keys.map(k => k -> finest.schema(k).dataType).toMap
    val hasExtrema = finest.columns.contains("value_min")
    def exCols(df: DataFrame): Seq[Column] =
      if (hasExtrema) Seq(df("value_min"), df("value_max")) else Nil
    def pad(df: DataFrame, have: Seq[String], nCol: String): DataFrame =
      df.select(keys.map(k =>
        if (have.contains(k)) col(k) else lit(null).cast(keyType(k)).as(k)) ++
        (Seq(col(nCol).as("n_rows"), col("value_sum")) ++ exCols(df)): _*)
    val childFrames = props.get(MvChildProp).toSeq.flatMap(_.split(','))
      .filter(_.nonEmpty).map { child =>
        val have = VersionedTable.propertiesOf(spark, VersionedTable.latest(spark, child)
          .getOrElse(throw new java.io.IOException(s"cube level $child is gone")))(MvKeysProp)
          .split(',').toSeq
        pad(VersionedTable.read(spark, child), have, "rows_sum")
      }
    // coalesce: same empty-view () grouping-set edge as [[readRollup]]
    val totalAggs = Seq(
      coalesce(sum(col("n_rows")), lit(0L)).as("n_rows"),
      sum(col("value_sum")).as("value_sum")) ++
      (if (hasExtrema) Seq(min(col("value_min")).as("value_min"),
        max(col("value_max")).as("value_max")) else Nil)
    val totalCols = Seq(col("n_rows"), col("value_sum")) ++
      (if (hasExtrema) Seq(col("value_min"), col("value_max")) else Nil)
    val total = finest
      .agg(totalAggs.head, totalAggs.tail: _*)
      .select(keys.map(k => lit(null).cast(keyType(k)).as(k)) ++
        totalCols: _*)
    (pad(finest, keys, "n_rows") +: childFrames :+ total)
      .reduce(_ unionByName _)
  }

  // ---- MANAGEMENT VERBS -----------------------------------------------------

  /** How many source versions the view trails — the max over its fact/
    * source stamp and every star-dim stamp (ONE refresh folds all
    * feeds, so the max IS the catch-up distance). Metadata reads only;
    * a vanished source or corrupted property measures 0 (the
    * maintenance tick's degrade-don't-fail rule). */
  def versionsBehind(spark: SparkSession, root: String): Long = {
    val props = VersionedTable.propertiesOf(spark, VersionedTable.latestOrFail(spark, root))
    def lag(srcProp: String, appId: String): Long =
      props.get(srcProp).flatMap { src =>
        for {
          applied <- VersionedTable.lastTxn(spark, root, appId)
          srcCur <- VersionedTable.currentVersion(spark, src)
        } yield math.max(0L, srcCur - applied)
      }.getOrElse(0L)
    val n = props.get(MvNDimsProp).flatMap(_.toIntOption)
      .getOrElse(if (props.contains(MvDimProp)) 1 else 0)
    (lag(MvSourceProp, MvAppId) +:
      (0 until n).map(i => lag(dimRootProp(i), dimAppId(i)))).max
  }

  /** DROP MATERIALIZED VIEW: remove the view's root (data + log — a
    * view is DERIVED state, rebuildable from its sources, so the drop
    * deletes rather than unpoints). Refuses a root that is not a view:
    * this verb must never delete a base table. A rollup chain drops
    * child-first; a recorded child with no committed table under it (a
    * crash inside a cascade create/drop window — the parent's pointer
    * exists before its children do) is skipped with a warning, so a
    * half-created or half-dropped chain is always droppable through
    * this verb. Returns the number of roots removed. */
  def dropView(spark: SparkSession, root: String): Long = {
    val props = VersionedTable.propertiesOf(spark, VersionedTable.latestOrFail(spark, root))
    require(props.contains(MvSourceProp),
      s"$root is not a materialized view (no $MvSourceProp property) — " +
        "DROP MATERIALIZED VIEW refuses to delete a base table")
    val dropped = props.get(MvChildProp).toSeq.flatMap(_.split(','))
      .filter(_.nonEmpty).map { child =>
        if (VersionedTable.currentVersion(spark, child).isEmpty) {
          log.warn(s"cascade child $child of $root has no committed " +
            "version (interrupted create/drop?) — removing its dir, if any")
          val cp = new org.apache.hadoop.fs.Path(child)
          cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(cp, true)
          0L
        } else dropView(spark, child)
      }.sum
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    dropped + 1L
  }

  /** SHOW MATERIALIZED VIEWS IN '<dir>': every DIRECT child dir of
    * `dir` that is a committed view, as (root, source, versions_behind)
    * — the operator's staleness dashboard, one metadata probe per
    * child. Non-views and uncommitted dirs are skipped silently (a
    * warehouse dir mixes tables and views). */
  def listViews(
      spark: SparkSession, dir: String): Seq[(String, String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.toString).sorted.flatMap { root =>
        try VersionedTable.latest(spark, root).flatMap { cv =>
          VersionedTable.propertiesOf(spark, cv).get(MvSourceProp)
            .map(src => (root, src, versionsBehind(spark, root)))
        } catch { case _: Exception => None }
      }
  }

  // ---- JOIN-BACKED (STAR) MATERIALIZED VIEWS --------------------------------
  //
  // `SELECT g…, count(*) AS n_rows, sum(f.v) AS value_sum
  //  FROM fact f JOIN d1 ON f.fk1 = d1.pk [JOIN d2 ON f.fk2 = d2.pk …]
  //  GROUP BY g…` maintained incrementally over EVERY table's change
  // feed with the telescoping product rule (the classical IVM identity
  // for joins, bag semantics — Materialize/DBSP and Delta Live Tables
  // maintain the same shape; the reference's enriched mart recomputes
  // its star join hourly). For V = F ⋈ D1 ⋈ … ⋈ Dn:
  //
  //   ΔV = ΔF ⋈ D1_new ⋈ … ⋈ Dn_new
  //      + Σ_i  F_old ⋈ D1_old ⋈ … ⋈ D(i−1)_old ⋈ ΔDi ⋈ D(i+1)_new ⋈ … ⋈ Dn_new
  //
  // (exact for bags — the standard product-rule telescope: each term
  // flips exactly one factor from old to new with everything to its
  // left already old and everything to its right already new, so the
  // sum collapses to V_new − V_old). Each term is a signed feed: the
  // fact term carries the fact feed's `_change_type` through the
  // joins, dim term i carries dim i's — a dim pre-image retracts every
  // fact row it enriched, a dim post-image re-asserts them, so a
  // group-moving dim UPDATE moves whole fact populations between
  // groups without touching the fact. The summed terms then ride the
  // SAME retraction merge as the single-source view (count/sum abelian
  // algebra; EXTREMA ride the same signed batch — it is rows of the
  // join bag — with retracted groups recomputed from the star at the
  // refresh's pinned versions, [[starRecompute]]).
  //
  // STAR, not snowflake: every dim equi-joins the FACT. A dim→dim
  // chain would need the chained dims' delta terms to re-derive fact
  // multiplicities through the intermediate dim — declare such views
  // against a pre-joined dim table instead.
  //
  // SCALE SHAPE: the fact term is |ΔF| rows joined against the dims
  // (AQE broadcasts whichever side is small — for a trickle refresh
  // that is ΔF itself, making the term a map-side probe of the dim
  // scans); dim term i reads the fact AT ITS APPLIED VERSION restricted
  // to ΔDi's join keys — a stats-prunable per-column IN pushdown when
  // the changed-key set is small (the common case: dims trickle), else
  // a plain equi-join AQE plans — and the OTHER dims at their pinned
  // versions (star dims are broadcast-sized by assumption). Nothing
  // ever rescans F ⋈ D1 ⋈ … ⋈ Dn: the seed join at CREATE is the only
  // full join this view ever runs.

  /** Thrown instead of `key not found` when a recorded join-view
    * definition is missing a property — a view written by a newer
    * writer, or hand-edited. */
  private def joinProp(props: Map[String, String], k: String): String =
    props.getOrElse(k, throw new IllegalArgumentException(
      s"join-backed materialized view is missing its $k property"))

  /** Indexed property/stamp names for dim `i` (0-based). Dim 0 keeps the
    * unsuffixed names, so the two-table form's records read naturally. */
  private[graft] def dimRootProp(i: Int): String =
    if (i == 0) MvDimProp else s"$MvDimProp.$i"
  private[graft] def dimJoinProp(i: Int): String =
    if (i == 0) MvJoinProp else s"$MvJoinProp.$i"
  private[graft] def dimAppId(i: Int): String =
    if (i == 0) MvDimAppId else s"$MvDimAppId$i"

  /** CREATE MATERIALIZED VIEW over a two-table equi-join — the star
    * form with one dim; see [[createStarView]]. */
  def createJoinView(
      spark: SparkSession, dstRoot: String, factRoot: String,
      dimRoot: String, joinOn: Seq[(String, String)],
      groupCols: Seq[(Boolean, String)], valueCol: String,
      extrema: Boolean = false): Long =
    createStarView(spark, dstRoot, factRoot, Seq((dimRoot, joinOn)),
      groupCols.map { case (ff, c) => (if (ff) 0 else 1, c) },
      Seq((valueCol, "value_sum")), extrema = extrema)

  /** CREATE MATERIALIZED VIEW over a STAR equi-join: seed from every
    * table's CURRENT version, record the definition (dims, per-dim
    * pairs, ordered group columns with their side, value), stamp ALL
    * n+1 consumed versions in the one commit. `dims` = (root, fk=pk
    * pairs) per dim; `groupCols` = (side, column) in view order with
    * side 0 = fact, i = the i-th dim (1-based). Output names must be
    * unique and distinct from the value column (the view's schema is
    * `g…, n_rows, value_sum`). */
  def createStarView(
      spark: SparkSession, dstRoot: String, factRoot: String,
      dims: Seq[(String, Seq[(String, String)])],
      groupCols: Seq[(Int, String)], valueCol: String): Long =
    createStarView(spark, dstRoot, factRoot, dims, groupCols,
      Seq((valueCol, "value_sum")))

  /** Multi-measure star view: several maintained fact-side sums
    * (`measures` = (fact column, view alias) per sum), all deltas
    * computed in the same per-term pass. */
  def createStarView(
      spark: SparkSession, dstRoot: String, factRoot: String,
      dims: Seq[(String, Seq[(String, String)])],
      groupCols: Seq[(Int, String)],
      measures: Seq[(String, String)],
      extrema: Boolean = false): Long = {
    require(dims.nonEmpty, "createStarView needs at least one dim")
    // join-backed EXTREMA: the retraction algebra is the single-source
    // view's verbatim (the batch is signed rows of the JOIN BAG), and
    // the flagged-group recompute reads the star at every source's
    // pinned version ([[starRecompute]]); single measure, fixed schema,
    // exactly like the single-source extrema face
    require(!extrema || (measures.size == 1 && measures.head._2 == "value_sum"),
      "an extrema star view maintains exactly one measure aliased " +
        s"value_sum — got: ${measures.mkString(", ")}")
    require(dims.forall(_._2.nonEmpty),
      "every dim needs at least one fk=pk pair")
    require(groupCols.nonEmpty, "createStarView needs at least one group column")
    require(VersionedTable.currentVersion(spark, dstRoot).isEmpty,
      s"$dstRoot already exists — DROP it or pick another root")
    val factAt = VersionedTable.latestOrFail(spark, factRoot)
    val dimAts = dims.map(d => VersionedTable.latestOrFail(spark, d._1))
    val factCur = factAt.version
    val dimCurs = dimAts.map(_.version)
    val fSnap = VersionedTable.readVersion(spark, factAt)
    val dSnaps = dimAts.map(VersionedTable.readVersion(spark, _))
    def canon(cols: Array[String], root: String)(c: String): String =
      cols.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"column $c missing from $root: has ${cols.mkString(", ")}"))
    val canonF = canon(fSnap.columns, factRoot) _
    val canonDs = dims.zip(dSnaps).map { case ((root, _), snap) =>
      canon(snap.columns, root) _ }
    val pairs = dims.zipWithIndex.map { case ((_, ps), i) =>
      ps.map { case (fk, pk) => (canonF(fk), canonDs(i)(pk)) } }
    val keys = groupCols.map { case (s, c) =>
      require(s >= 0 && s <= dims.size,
        s"group column $c names side $s; valid sides are 0 (fact) .. ${dims.size}")
      (s, if (s == 0) canonF(c) else canonDs(s - 1)(c))
    }
    val ms = measures.map { case (c, a) => (canonF(c), a) }
    val outNames = keys.map(_._2)
    require(outNames.map(_.toLowerCase).distinct.size == outNames.size,
      "group columns must have unique output names across all sides: " +
        outNames.mkString(", "))
    validateMeasures(ms, outNames)
    // recorded comma/equals/colon-delimited — refuse names that would
    // not round-trip (same policy as the single-source view)
    val recorded = outNames ++ pairs.flatten.flatMap(p => Seq(p._1, p._2))
    require(recorded.forall(c => !c.exists(",=:".contains(_))),
      "column names containing ',', '=' or ':' cannot be recorded in " +
        "the join-view definition: " +
        recorded.filter(_.exists(",=:".contains(_))).mkString("; "))
    val joined = starProject(fSnap, dSnaps.zip(pairs), keys,
      ms.map(_._1), typeFrom = -1)
    val v = col(ms.head._1)
    val aggs =
      if (extrema) Seq(count(lit(1)).as("n_rows"),
        sum(coalesce(v, lit(0))).as("value_sum"),
        count(v).as("n_vals"), min(v).as("value_min"), max(v).as("value_max"))
      else count(lit(1)).as("n_rows") +: ms.map { case (c, a) =>
        sum(coalesce(col(c), lit(0))).as(a) }
    val agg = joined.groupBy(outNames.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    import spark.implicits._
    val stamps = (MvAppId, factCur) +:
      dims.indices.map(i => (dimAppId(i), dimCurs(i)))
    VersionedTable.commit(agg, dstRoot,
      recordInfo = VersionedTable.InsertFeedInfo, // virtual insert feed
      extras = Map(
        "txn" -> stamps.toDF("app_id", "batch_id")),
      recordProperties = Some(Map(
        MvSourceProp -> factRoot,
        MvNDimsProp -> dims.size.toString,
        MvJoinKeysProp -> keys.map { case (s, c) =>
          (if (s == 0) "f:" else s"d$s:") + c }.mkString(","),
        MvValueProp -> encodeMeasures(ms)) ++
        (if (extrema) Map(MvExtremaProp -> "true") else Map.empty) ++
        dims.indices.map(i => dimRootProp(i) -> dims(i)._1) ++
        dims.indices.map(i =>
          dimJoinProp(i) -> pairs(i).map { case (fk, pk) => s"$fk=$pk" }
            .mkString(","))))
  }

  /** One telescoping-rule refresh of a star view: fold every moved
    * feed, exactly-once under the (n+1)-stamp overlap guard, no-op
    * without a commit when no source moved. */
  private def refreshJoinView(
      spark: SparkSession, dstRoot: String, view: Snapshot, factRoot: String,
      props: Map[String, String]): Long = {
    val n = props.get(MvNDimsProp).map(s => s.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"join-backed materialized view property $MvNDimsProp is " +
          s"malformed: '$s' is not an integer"))).getOrElse(1)
    // a hand-edited/corrupted pair entry without '=' gets the same
    // descriptive refusal [[joinProp]] gives a missing property — not a
    // bare StringIndexOutOfBounds
    def parsePairs(name: String, s: String): Seq[(String, String)] =
      s.split(',').toSeq.map { p =>
        val i = p.indexOf('=')
        if (i < 0) throw new IllegalArgumentException(
          s"join-backed materialized view property $name is malformed: " +
            s"entry '$p' has no '=' (expected fk=pk)")
        (p.substring(0, i), p.substring(i + 1))
      }
    val dimRoots = (0 until n).map(i => joinProp(props, dimRootProp(i)))
    val pairs = (0 until n).map(i =>
      parsePairs(dimJoinProp(i), joinProp(props, dimJoinProp(i))))
    val keys = joinProp(props, MvJoinKeysProp).split(',').toSeq.map { k =>
      if (k.startsWith("f:")) (0, k.substring(2))
      else {
        val c = k.indexOf(':')
        (k.substring(1, c).toInt, k.substring(c + 1))
      }
    }
    val measures = decodeMeasures(joinProp(props, MvValueProp))
    val extrema = props.get(MvExtremaProp).contains("true")
    val values = measures.map(_._1).distinct
    val outNames = keys.map(_._2)
    def stamp(appId: String): Long =
      VersionedTable.lastTxn(spark, dstRoot, appId).getOrElse(
        throw new java.io.IOException(
          s"materialized view $dstRoot lost its $appId high-water stamp"))
    val appliedF = stamp(MvAppId)
    val appliedDs = (0 until n).map(i => stamp(dimAppId(i)))
    def curOf(root: String): Snapshot =
      VersionedTable.latest(spark, root).getOrElse(
        throw new java.io.IOException(s"materialized view source $root is gone"))
    val factAt = curOf(factRoot)
    val dimAts = dimRoots.map(curOf)
    val factCur = factAt.version
    val dimCurs = dimAts.map(_.version)
    val moved = factCur > appliedF ||
      (0 until n).exists(i => dimCurs(i) > appliedDs(i))
    if (!moved) view.version
    else {
      val terms = Seq.newBuilder[DataFrame]
      if (factCur > appliedF) {
        val dF = VersionedTable.readChanges(spark, factRoot, appliedF + 1, factCur)
        terms += starProject(dF,
          (0 until n).map(j => (VersionedTable.readVersion(spark, dimAts(j)), pairs(j))),
          keys, values, typeFrom = 0)
      }
      for (i <- 0 until n if dimCurs(i) > appliedDs(i)) {
        val dD = VersionedTable.readChanges(
          spark, dimRoots(i), appliedDs(i) + 1, dimCurs(i))
        val fOld = factAtRestricted(spark,
          VersionedTable.snapshotAt(spark, factRoot, appliedF), dD,
          pairs(i).map(_._1), pairs(i).map(_._2))
        val dimFrames = (0 until n).map { j =>
          if (j < i) (VersionedTable.readVersion(spark, dimRoots(j), appliedDs(j)), pairs(j))
          else if (j == i) (dD, pairs(j))
          else (VersionedTable.readVersion(spark, dimAts(j)), pairs(j))
        }
        terms += starProject(fOld, dimFrames, keys, values, typeFrom = i + 1)
      }
      val batch = terms.result().reduce(_ unionByName _)
      // stamp only the MOVED feeds (an unmoved source's re-stamp at its
      // unchanged high-water is a no-op row that still widens the
      // claim's race surface); unmoved feeds become GUARDS — checked
      // against the captured high-water inside the claim, never written
      val fMoved = factCur > appliedF
      val movedDims = (0 until n).filter(i => dimCurs(i) > appliedDs(i))
      val txns =
        (if (fMoved) Seq((MvAppId, factCur)) else Nil) ++
          movedDims.map(i => (dimAppId(i), dimCurs(i)))
      val priors: Seq[Option[Long]] =
        (if (fMoved) Seq(Some(appliedF)) else Nil) ++
          movedDims.map(i => Some(appliedDs(i)))
      val guards =
        (if (fMoved) Nil else Seq((MvAppId, appliedF))) ++
          (0 until n).filterNot(movedDims.contains)
            .map(i => (dimAppId(i), appliedDs(i)))
      applyAggMulti(spark, dstRoot, outNames, measures, batch,
        txns = txns, expectedPriors = priors, guards = guards,
        extrema = extrema,
        source = if (!extrema) None
          else Some(StarAt(factAt, (0 until n).map(i => (dimAts(i), pairs(i))),
            keys)))
      VersionedTable.currentVersion(spark, dstRoot).getOrElse(view.version)
    }
  }

  /** fact-side frame ⋈ every dim-side frame on the recorded pairs,
    * projected to the view's group columns (+ every measure column, +
    * `_change_type` from the side `typeFrom` names: −1 = none, 0 =
    * fact, i = the i-th dim, 1-based). Every needed dim column rides
    * RENAMED through the joins so a column name shared between any two
    * tables can never collide or resolve ambiguously; group columns
    * come back under their recorded output names. */
  private def starProject(
      factDf: DataFrame,
      dims: Seq[(DataFrame, Seq[(String, String)])],
      keys: Seq[(Int, String)], values: Seq[String],
      typeFrom: Int): DataFrame = {
    val fNeeded = (dims.flatMap(_._2.map(_._1)) ++
      keys.collect { case (0, c) => c } ++ values).distinct
    val fCols = fNeeded.map(col) ++
      (if (typeFrom == 0) Seq(col("_change_type").as("__graft_ct")) else Nil)
    val fSel = factDf.select(fCols: _*)
    val (joined, rens) = dims.zipWithIndex
      .foldLeft((fSel, Vector.empty[Map[String, String]])) {
        case ((acc, rs), ((dimDf, ps), idx)) =>
          val i = idx + 1
          val dimNeeded = (ps.map(_._2) ++
            keys.collect { case (`i`, c) => c }).distinct
          val ren = dimNeeded.zipWithIndex.map { case (c, j) =>
            c -> s"__graft_d${i}_$j" }.toMap
          val dCols = dimNeeded.map(c => col(c).as(ren(c))) ++
            (if (typeFrom == i) Seq(col("_change_type").as("__graft_ct"))
             else Nil)
          val dSel = dimDf.select(dCols: _*)
          val cond = ps.map { case (fk, pk) => acc(fk) === dSel(ren(pk)) }
            .reduce(_ && _)
          (acc.join(dSel, cond, "inner"), rs :+ ren)
      }
    val out = keys.map { case (s, c) =>
      if (s == 0) col(c) else col(rens(s - 1)(c)).as(c) } ++
      values.map(col) ++
      (if (typeFrom < 0) Nil
       else Seq(col("__graft_ct").as("_change_type")))
    joined.select(out: _*)
  }

  /** The fact at its applied version, restricted for a dim term: when
    * ΔD's join-key rows are few, a per-column IN conjunction rides the
    * scan (stats pruning + parquet pushdown — the inner join makes it
    * exact); past [[IsinLimit]] rows the plain versioned read joins
    * under AQE. The rows are collected as scanned and deduplicated on
    * the driver — one scan job, no distinct shuffle — so a set that
    * repeats keys (a feed's pre/post images) reaches the limit sooner;
    * that only costs pruning, never results. NULL dim keys never
    * equi-join, so they are dropped before collecting — the predicate
    * still covers every joinable fact row. */
  private def factAtRestricted(
      spark: SparkSession, fact: Snapshot, dD: DataFrame,
      fks: Seq[String], pks: Seq[String]): DataFrame = {
    val keyRows = dD
      .where(pks.map(col(_).isNotNull).reduce(_ && _))
      .select(pks.map(col): _*)
      .limit(IsinLimit + 1).collect()
    if (keyRows.isEmpty)
      // ΔD carried no joinable keys (all-NULL or empty feed): the term
      // is provably empty — prune the whole scan, not just its files
      VersionedTable.readVersionWhere(spark, fact, lit(false))
    else if (keyRows.length <= IsinLimit) {
      val pred = fks.zipWithIndex.map { case (fk, i) =>
        col(fk).isin(keyRows.map(_.get(i)).distinct.toSeq: _*)
      }.reduce(_ && _)
      VersionedTable.readVersionWhere(spark, fact, pred)
    } else VersionedTable.readVersion(spark, fact)
  }
}
