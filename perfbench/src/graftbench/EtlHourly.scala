package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Scd2
import graft.sources.VersionedTable

/** The reference's hourly DAG against standing tables: stage a batch,
  * MERGE it into the mart (soft delete), REFRESH the join view, then read
  * the mart (lookup, change feed, history). Before every
  * [[EtlHourly.HoursPerBlock]] hours a background round runs: a
  * deletion-vector UPDATE of the dim, OPTIMIZE, VACUUM, and the DAG's
  * batch reads (rollup, time travel, SCD2 as-of). */
final class EtlHourly(ctx: Ctx, root: String) {
  import EtlHourly._
  private val spark = ctx.spark
  private val rec = ctx.rec

  val mart = s"$root/mart"
  val cust = s"$root/customer"
  val nation = s"$root/nation"
  val mv = s"$root/mv_segment"
  private val staging = s"$root/staging"
  val roots: Seq[String] = Seq(mart, cust, mv)
  private val batches = new Gen.Batches(ctx.seed)
  val staged: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  val dimUpdates: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  /** The mart's retained versions as this harness published them, oldest
    * first: 1 for the CTAS, one per MERGE and one per OPTIMIZE; a VACUUM
    * keeps the last [[EtlHourly.VacuumKeep]]. The version ranges the reads
    * ask for and the expected history come from here, not from the
    * table. */
  val martLog: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer(1L)
  /** Hour -> the mart version its MERGE published (per [[martLog]]). */
  val mergeVersion: mutable.LinkedHashMap[Int, Long] = mutable.LinkedHashMap.empty
  var stagedBytes = 0L
  var hour = 0

  def stagingDir(c: Int): String = s"$staging/hour=$c"

  /** Seed the standing tables and create the view (set-up). */
  def create(): Unit = {
    Gen.martSeed(spark, ctx.seed).createOrReplaceTempView("bench_mart_seed")
    Gen.customers(spark, ctx.seed).createOrReplaceTempView("bench_cust_seed")
    Gen.nations(spark).createOrReplaceTempView("bench_nation_seed")
    ctx.exec(s"CREATE TABLE '$mart' AS SELECT * FROM bench_mart_seed")
    ctx.exec(s"CREATE TABLE '$cust' TBLPROPERTIES " +
      s"('graft.enableDeletionVectors'='true') AS SELECT * FROM bench_cust_seed")
    ctx.exec(s"CREATE TABLE '$nation' AS SELECT * FROM bench_nation_seed")
    ctx.exec(
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT c.c_mktsegment, count(*) AS n_rows,
         |  sum(f.o_totalprice) AS value_sum,
         |  count(f.o_totalprice) AS n_vals,
         |  min(f.o_totalprice) AS value_min,
         |  max(f.o_totalprice) AS value_max
         |FROM '$mart' f JOIN '$cust' c ON f.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment""".stripMargin)
  }

  private def current(r: String): Long = VersionedTable.currentVersion(spark, r).get

  /** One hour: stage the batch, MERGE it, REFRESH the view, then the
    * hour's reads (a point lookup, the hour's change feed, the history).
    * Every statement is one attempted op with its own span. */
  def cycle(meter: Option[WriteMeter]): Unit = {
    hour += 1
    val c = hour
    rec.span(s"hour-$c", "cycle") { _ =>
      rec.op("stage", "stage") { s =>
        val df = spark.createDataFrame(
          java.util.Arrays.asList(batches.rows(c): _*), Gen.StagingSchema)
        df.coalesce(1).write.parquet(stagingDir(c))
        staged += c
        val b = Ctx.files(stagingDir(c)).filter(!_._1.endsWith(".crc")).values.sum
        stagedBytes += b
        s.attrs("rows") = df.count()
        s.attrs("bytes") = b
      }
      rec.op("merge", "merge") { s =>
        spark.read.parquet(stagingDir(c)).createOrReplaceTempView("bench_stg")
        ctx.exec(Gen.mergeSql(mart, "bench_stg"))
        martLog += martLog.last + 1
        mergeVersion(c) = martLog.last
        s.attrs("version") = martLog.last
      }
      observe(meter, "merge")
      val mv0 = if (rec.traced) current(mv) else 0L
      val (m0, d0) = (mvSource(mart), mvSource(cust))
      rec.op("refresh", "refresh") { s =>
        ctx.exec(s"REFRESH MATERIALIZED VIEW '$mv'")
        if (rec.traced) s.attrs("view_versions_added") = current(mv) - mv0
      }
      if (rec.traced) feedRowsIn(m0, d0)
      observe(meter, "refresh")
      if (mergeVersion.contains(c)) runReads(hourReads(c), Seq(c, c - 1))
    }
  }

  /** Background round after hour `hour`: the deletion-vector UPDATE of
    * the dim (the next REFRESH folds it), OPTIMIZE of the mart, VACUUM of
    * every root down to the last [[EtlHourly.VacuumKeep]] versions, then
    * the DAG's batch reads (mart rollup, SCD2 as-of, time travel). */
  def maintain(meter: Option[WriteMeter]): Unit = {
    val j = dimUpdates.size + 1
    val h = hour
    rec.span("maintenance", "maintenance") { _ =>
      rec.op("dim_update", "dim_update") { _ =>
        ctx.exec(Gen.dimUpdateSql(cust, j))
        dimUpdates += j
      }
      observe(meter, "dim_update")
      rec.op("optimize", "optimize") { _ =>
        ctx.exec(s"OPTIMIZE '$mart'")
        martLog += martLog.last + 1
      }
      observe(meter, "optimize")
      rec.op("vacuum", "vacuum") { _ =>
        roots.foreach(r => ctx.exec(s"VACUUM '$r' KEEP $VacuumKeep"))
        martLog.remove(0, math.max(0, martLog.size - VacuumKeep))
      }
      if (mergeVersion.contains(h)) runReads(roundReads(h, dimUpdates.size), Seq(h, h - 1))
    }
  }

  // ---- mart reads ------------------------------------------------------------

  /** One read: its name, how to run it against the versioned tables, and
    * how to answer the same question from plain copies of the expected
    * snapshots (restated from the staged batches and the harness's own
    * version log). */
  final case class Read(name: String, run: Span => Array[Row],
      expected: () => Array[Row])

  /** Every timed read with its result digest, for [[verifyReads]]. */
  val timedReads: mutable.ArrayBuffer[(Span, Read, String)] = mutable.ArrayBuffer.empty
  /** The hours whose restated mart the timed reads are checked against. */
  private val readHours = mutable.SortedSet.empty[Int]

  private def rollupSql(mart: String, cust: String, nation: String): String =
    s"""SELECT n.n_name, c.c_mktsegment, count(*) AS n_orders,
       |  sum(m.o_totalprice) AS revenue
       |FROM $mart m JOIN $cust c ON m.o_custkey = c.c_custkey
       |JOIN $nation n ON c.c_nationkey = n.n_nationkey
       |WHERE m.deleted_at IS NULL
       |GROUP BY ROLLUP (n.n_name, c.c_mktsegment)""".stripMargin
  private def byStatusSql(from: String): String =
    s"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s FROM $from " +
      "GROUP BY o_orderstatus"
  private def changesAgg(feed: DataFrame): DataFrame =
    feed.groupBy(col("_change_type")).agg(count(lit(1)).as("n"),
      sum(col("o_totalprice")).as("s"))
  private def scd2AsOf(feed: DataFrame, t: java.sql.Timestamp): DataFrame =
    Scd2.asOf(Scd2.buildFromHistory(
      feed.where(col("_change_type").isin("insert", "update_postimage")),
      "o_orderkey", "updated_at", "o_orderstatus", "_commit_version", Gen.Done),
      lit(t)).groupBy(col("last_status")).agg(count(lit(1)).as("n"))

  private def gt(r: String) = s"graft_table('$r')"

  /** Hour `c`'s reads: a point lookup on a key the batch touched, the
    * change feed of the hour's MERGE, and the commit history. */
  private def hourReads(c: Int): Seq[Read] = {
    val vNow = mergeVersion(c)
    val key = spark.read.parquet(stagingDir(c)).select(col("o_orderkey")).head().getLong(0)
    val history = martLog.toList.reverse.map(Row(_)).toArray
    Seq(
      Read("lookup", { s =>
        if (rec.traced) {
          val (kept, total) = VersionedTable.prunedFiles(spark, mart, vNow,
            col("o_orderkey") === key)
          s.attrs("files_total") = total
          s.attrs("files_kept") = kept.size
        }
        ctx.select(s"SELECT * FROM ${gt(mart)} WHERE o_orderkey = $key")
      }, () => spark.sql(s"SELECT * FROM ${plainMart(c)} WHERE o_orderkey = $key").collect()),
      Read("changes", { s =>
        val feed = rec.span("resolve", "plan") { _ =>
          VersionedTable.readChanges(spark, mart, vNow, vNow) }
        val rows = rec.span("execute", "execute") { _ => changesAgg(feed).collect() }
        s.attrs("feed_rows") = rows.map(_.getLong(1)).sum
        rows
      }, () => changesExpected(c).collect()),
      Read("history", { s =>
        val rows = ctx.select(s"DESCRIBE HISTORY '$mart'")
        if (rec.traced) s.attrs("history_feed_mismatch") = rows.count { r =>
          val v = r.getAs[Long]("version")
          r.getAs[Boolean]("change_feed") != VersionedTable.hasChangeFeed(spark, mart, v)
        }
        rows.map(r => Row(r.getAs[Long]("version")))
      }, () => history))
  }

  /** The round's reads after hour `h` and dim update `j`: the mart rollup
    * over mart ⋈ customer ⋈ nation, the mart as of the version before
    * hour h's MERGE, and an SCD2 as-of query over the retained change
    * feed. */
  private def roundReads(h: Int, j: Int): Seq[Read] = {
    val (base, vCur) = (martLog.head, martLog.last)
    val asOf = new java.sql.Timestamp((Gen.HourZeroS + (h - 1) * 3600L) * 1000L)
    // the MERGEs inside the retained feed range and the batches they took
    val fed = mergeVersion.toSeq.filter { case (_, v) => v > base && v <= vCur }
    Seq(
      Read("rollup", _ => ctx.select(rollupSql(gt(mart), gt(cust), gt(nation))),
        () => spark.sql(rollupSql(plainMart(h), plainCust(j), plainNation)).collect()),
      Read("version_asof",
        _ => ctx.select(byStatusSql(s"'$mart' VERSION AS OF ${mergeVersion(h) - 1}")),
        () => spark.sql(byStatusSql(plainMart(h - 1))).collect()),
      Read("scd2_asof", { _ =>
        val feed = rec.span("resolve", "plan") { _ =>
          VersionedTable.readChanges(spark, mart, base + 1, vCur) }
        rec.span("execute", "execute") { _ => scd2AsOf(feed, asOf).collect() }
      }, () => scd2AsOf(stagedFeed(fed), asOf).collect()))
  }

  /** Run the reads, each one attempted op; a timed read is kept with its
    * result digest for [[verifyReads]], which needs the mart restated
    * after `hours`. */
  private def runReads(reads: Seq[Read], hours: Seq[Int]): Unit = {
    if (ctx.timed) readHours ++= hours.filter(_ >= 0)
    reads.foreach { q =>
      rec.op(q.name, "read") { s =>
        val d = Ctx.digest(q.run(s))
        if (ctx.timed) timedReads += ((s, q, d))
      }
    }
  }

  /** Hour `c`'s feed, restated: rows of batch `c` whose key existed after
    * hour c-1 are updates (pre-image = the restated old row), the rest
    * inserts. */
  private def changesExpected(c: Int): DataFrame = {
    val prev = spark.table(plainMart(c - 1)).select(col("o_orderkey"),
      col("o_totalprice").as("old_price"))
    val b = spark.read.parquet(stagingDir(c)).join(prev, Seq("o_orderkey"), "left")
    val upd = b.where(col("old_price").isNotNull)
    val img = Seq(
      b.where(col("old_price").isNull).select(lit("insert").as("_change_type"),
        col("o_totalprice")),
      upd.select(lit("update_preimage").as("_change_type"),
        col("old_price").as("o_totalprice")),
      upd.select(lit("update_postimage").as("_change_type"), col("o_totalprice")))
    changesAgg(img.reduce(_ unionByName _))
  }

  /** The post-images a change feed over `fed`'s MERGEs carries, restated
    * from the staged batches: every staged row lands with its status and
    * updated_at at its MERGE's version. */
  private def stagedFeed(fed: Seq[(Int, Long)]): DataFrame =
    fed.map { case (c, v) =>
      spark.read.parquet(stagingDir(c)).select(col("o_orderkey"),
        col("o_orderstatus"), col("updated_at"), lit(v).as("_commit_version"),
        lit("insert").as("_change_type"))
    }.reduce(_ unionByName _)

  // ---- plain copies of expected snapshots -------------------------------------
  // restated from the staged parquet batches by plain Spark, never read
  // through the table format

  private val stashed = mutable.Set.empty[String]
  /** Expose `df` once as temp view `name`. */
  private def stash(name: String)(df: => DataFrame): String = synchronized {
    if (stashed.add(name)) df.createOrReplaceTempView(name)
    name
  }
  /** The mart restated after the last hour and after every hour a timed
    * read saw. */
  private lazy val restated: DataFrame = {
    val d = Gen.martExpected(Gen.martSeed(spark, ctx.seed), stagedFrames,
      (readHours + hour).toSeq).cache()
    d.count()
    d
  }
  /** The mart restated after hour `c` (seed + batches 1..c). */
  def plainMart(c: Int): String = stash(s"plain_mart_$c")(Gen.martAt(restated, c))
  /** The dim restated after its first `j` updates. */
  def plainCust(j: Int): String = stash(s"plain_cust_$j")(
    Gen.dimExpected(Gen.customers(spark, ctx.seed), dimUpdates.take(j).toSeq))
  def plainNation: String = stash("plain_nation")(Gen.nations(spark))

  // the source version the view has folded up to is the source's current
  // version right after a refresh; before the next refresh it is the
  // version recorded here
  private val folded = mutable.Map.empty[String, Long]
  private def mvSource(r: String): Long = folded.getOrElse(r, 0L)

  /** Traced run only: the change-feed rows the refresh just folded. */
  private def feedRowsIn(m0: Long, d0: Long): Unit = {
    val last = rec.spans.reverseIterator.find(_.kind == "refresh").get
    var rows = 0L
    Seq(mart -> m0, cust -> d0).foreach { case (r, from) =>
      val to = current(r)
      if (from > 0 && to > from)
        rows += VersionedTable.readChanges(spark, r, from + 1, to).count()
      folded(r) = to
    }
    last.attrs("feed_rows_in") = rows
  }

  def markFolded(): Unit = Seq(mart, cust).foreach(r => folded(r) = current(r))

  /** Traced run only: files and bytes each write op added, by op kind. */
  private def observe(meter: Option[WriteMeter], kind: String): Unit =
    if (rec.traced) meter.foreach { m =>
      val (nf, nb) = m.observe()
      val last = rec.spans.reverseIterator.find(_.kind == kind).get
      last.attrs("files_written") = nf
      last.attrs("bytes_written") = nb
    }

  // ---- correctness ---------------------------------------------------------

  def stagedFrames: Seq[(Int, DataFrame)] =
    staged.toSeq.map(c => c -> spark.read.parquet(stagingDir(c)))

  /** Final mart = plain restatement of all batches; dim likewise; view =
    * full recompute of its SQL over the sources' final state; the change
    * feed over the retained range folds back to the mart; every timed
    * read answers as the plain copies do. The checks run at once; the
    * first to need the restated mart builds it while the others wait. */
  def verify(): Unit = {
    val reads = timedReads.toSeq
    val tasks: Seq[() => (Boolean, String)] = Seq(
      () => Ctx.sameRows(VersionedTable.read(spark, mart), spark.table(plainMart(hour))),
      () => Ctx.sameRows(VersionedTable.read(spark, cust),
        spark.table(plainCust(dimUpdates.size))),
      () => {
        val rc = VersionedTable.read(spark, mart).as("f")
          .join(VersionedTable.read(spark, cust).as("c"),
            col("f.o_custkey") === col("c.c_custkey"))
          .groupBy(col("c.c_mktsegment")).agg(count(lit(1)).as("n_rows"),
            sum(col("f.o_totalprice")).as("value_sum"),
            count(col("f.o_totalprice")).as("n_vals"),
            min(col("f.o_totalprice")).as("value_min"),
            max(col("f.o_totalprice")).as("value_max"))
        Ctx.sameRows(canonView(VersionedTable.read(spark, mv)), canonView(rc))
      },
      () => feedFolds()) ++
      reads.map { case (_, q, d) => () => (Ctx.digest(q.expected()) == d, q.name) }
    val results = ctx.inParallel(tasks)
    Seq("mart_equals_restatement", "dim_equals_restatement", "view_equals_recompute",
      "feed_folds_to_mart").zip(results).foreach {
      case (name, scala.util.Success((ok, detail))) => ctx.check(name, ok, detail)
      case (name, scala.util.Failure(t)) => ctx.check(name, ok = false, s"threw: $t")
    }
    // a timed read that disagrees with the plain copies counts as a
    // failed op and its latency is dropped
    val bad = reads.zip(results.drop(4)).filterNot { case ((s, _, _), r) =>
      s.ok && r.toOption.exists(_._1)
    }.map { case ((s, q, _), r) =>
      r.failed.foreach(t => System.err.println(s"[perfbench] ${q.name}: $t"))
      if (s.ok) {
        s.ok = false
        s.attrs("error") = "result differs from the plain-copy answer"
        rec.failed += 1
      }
      q.name
    }
    ctx.check("reads_match_plain_copies", reads.nonEmpty && bad.isEmpty,
      s"reads=${reads.size} differing=${bad.mkString(",")}")
  }

  private def canonView(df: DataFrame): DataFrame =
    df.select(col("c_mktsegment"), col("n_rows").cast("long"),
      col("value_sum").cast("decimal(38,2)"), col("n_vals").cast("long"),
      col("value_min").cast("decimal(38,2)"), col("value_max").cast("decimal(38,2)"))

  /** readChanges over the retained range (base, last] of [[martLog]],
    * applied to the base snapshot, equals the current mart; no MERGE of
    * the range is missing from the feed and no (version, key, change
    * type) appears twice. */
  def feedFolds(): (Boolean, String) = {
    val (base, last) = (martLog.head, martLog.last)
    if (last == base) return (true, "no changes")
    val feed = VersionedTable.readChanges(spark, mart, base + 1, last).cache()
    try {
      val key = "o_orderkey"
      val dup = feed.groupBy(col("_commit_version"), col(key), col("_change_type"))
        .count().where(col("count") > 1).count()
      val merged = mergeVersion.values.filter(v => v > base).toSet
      val fedVs = feed.select(col("_commit_version")).distinct().collect()
        .map(_.getLong(0)).toSet
      val gap = merged -- fedVs
      val order = when(col("_change_type") === "update_preimage", 0)
        .when(col("_change_type") === "delete", 1).otherwise(2)
      val lastImg = feed.where(col("_change_type") =!= "update_preimage")
        .withColumn("__o", order)
        .groupBy(col(key)).agg(max_by(struct(col("*")),
          struct(col("_commit_version"), col("__o"))).as("x"))
        .select(col("x.*"))
      val cols = VersionedTable.read(spark, mart).columns.map(col)
      val touched = lastImg.select(col(key))
      val folded = VersionedTable.readVersion(spark, mart, base)
        .join(touched, Seq(key), "left_anti").select(cols: _*)
        .unionByName(lastImg.where(col("_change_type") =!= "delete").select(cols: _*))
      val (same, d) = Ctx.sameRows(folded, VersionedTable.read(spark, mart))
      (dup == 0 && gap.isEmpty && same,
        s"base=$base last=$last dup=$dup gap=${gap.toSeq.sorted.mkString(",")} $d")
    } finally feed.unpersist()
  }
}

object EtlHourly {
  /** Hours per block of the timed loop; a background round starts each. */
  val HoursPerBlock = 2
  val VacuumKeep = 4
  val SetupRepeats = 3

  def run(ctx: Ctx): Unit = {
    var etl: EtlHourly = null
    // set-up, several times: seed the standing tables and create the
    // view; then, on the last lineage, an hour, a background round and
    // the hour after it, whose refresh folds the round's dim UPDATE (JIT,
    // codegen, first touch of every step). setup_s = median creation +
    // warm-up.
    (1 to SetupRepeats).foreach { i =>
      if (etl != null) Ctx.deleteTree(ctx.path(s"etl${i - 1}"))
      etl = new EtlHourly(ctx, ctx.path(s"etl$i"))
      ctx.timedSetup(s"create-$i")(etl.create())
    }
    etl.markFolded()
    ctx.warmup {
      etl.cycle(None)
      etl.maintain(None)
      etl.cycle(None)
    }
    // the timed loop: blocks of a background round and HoursPerBlock
    // hours, so a run ends with the view current. The meter sees every
    // file that appears under the roots between steps, so write_amp
    // counts merges, refreshes, the dim UPDATE and OPTIMIZE alike.
    val w = new WriteMeter(etl.roots)
    w.observe()
    val (hour0, staged0) = (etl.hour, etl.stagedBytes)
    val m = Some(w)
    val spaceAmps = mutable.ArrayBuffer.empty[Double]
    ctx.loop {
      etl.maintain(m)
      w.observe()
      (1 to HoursPerBlock).foreach { _ => etl.cycle(m); w.observe() }
    } { _ => spaceAmps += spaceAmp(ctx, etl.roots) }
    ctx.heap()
    ctx.extra("hours") = etl.hour - hour0
    ctx.extra("bytes_written") = w.bytes
    ctx.extra("bytes_staged") = etl.stagedBytes - staged0
    ctx.extra("write_amp") = w.bytes.toDouble / (etl.stagedBytes - staged0)
    // taken at the end of each block, so every run reads the tables at
    // the same point of their upkeep
    ctx.extra("space_amp") = median(spaceAmps.toSeq)
    ctx.extra("space_amp_by_block") = spaceAmps
    ctx.sizes("mart_rows_seed") = Gen.Orders - Gen.Orders / 3
    ctx.sizes("customers") = Gen.Customers
    ctx.sizes("nations") = Gen.Nations
    ctx.sizes("hours_total") = etl.hour
    ctx.sizes("batch_rows_frac") = "0.018-0.022 of the seeded mart"
    ctx.sizes("dim_rows_per_update") = Gen.Customers / 60
    ctx.sizes("mart_rows_final") = VersionedTable.read(ctx.spark, etl.mart).count()
    ctx.sizes("mart_versions_retained") = etl.martLog.size
    ctx.rec.span("verify", "check")(_ => etl.verify())
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes under the roots over the bytes of each root's current data
    * files. */
  def spaceAmp(ctx: Ctx, roots: Seq[String]): Double = {
    val onDisk = roots.map(r => Ctx.files(r).values.sum).sum
    val live = roots.map { r =>
      val v = VersionedTable.currentVersion(ctx.spark, r).get
      VersionedTable.dataFileRefs(ctx.spark, r, v).map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(r, f))).sum
    }.sum
    onDisk.toDouble / live
  }
}
