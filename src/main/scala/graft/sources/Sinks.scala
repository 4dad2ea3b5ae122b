package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sink-side equivalents of the reference's load patterns
  * (`etl/extract_load.py`: TRUNCATE + batched INSERT into staging;
  * dbt incremental materialization into the mart), re-expressed for a
  * parquet lake.
  *
  * Scale notes: a 100 TB mart lives in a table format (Iceberg/Delta)
  * where upsert is a metadata operation; on plain parquet the honest
  * primitives are (a) atomic snapshot replace via write-then-rename and
  * (b) dynamic partition overwrite that rewrites only the partitions
  * present in the incoming batch. Both are implemented here without any
  * driver-side data movement — the driver only issues filesystem renames.
  */
object Sinks {

  /** The reference's staging pattern: TRUNCATE + load
    * (`public/source_transaction_lion_parcel.py` truncate-replace).
    * Written to a temp sibling first, then swapped in with two renames. A
    * failed WRITE leaves the previous snapshot untouched; a failed swap
    * rolls the previous snapshot back into place. Between the two renames
    * there is a brief window where the target path does not exist — readers
    * racing that window see a missing dir, never a half-written one. True
    * single-rename atomicity needs a table format (Iceberg/Delta) or a
    * manifest-pointer layer; on plain parquet this is the honest best. */
  def truncateLoad(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val tmp = new Path(path + "__tmp_" + java.util.UUID.randomUUID().toString.take(8))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val old = new Path(path + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    val hadPrev = fs.exists(target) && fs.rename(target, old)
    val swapped =
      try fs.rename(tmp, target)
      catch { case e: java.io.IOException => if (hadPrev) fs.rename(old, target); throw e }
    if (!swapped) {
      // roll the previous snapshot back so the table never ends up absent
      if (hadPrev) fs.rename(old, target)
      throw new java.io.IOException(s"rename $tmp -> $target failed; previous snapshot restored")
    }
    if (hadPrev) fs.delete(old, true)
  }

  /** Dynamic partition overwrite: rewrite ONLY the partitions present in
    * `df` (e.g. the hourly delta's dates), leaving all other partitions
    * untouched — the lake equivalent of an incremental dbt run over a
    * date-partitioned mart. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    // LOCKED set→write→restore (the round-18 outputTimestampType
    // lesson): two unserialized save/restore pairs interleaving can
    // capture each other's in-flight value and leave the session's
    // overwrite mode "dynamic" forever — turning every later plain
    // Overwrite into a silent partial overwrite
    confPinLock.synchronized {
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try df.write
        .mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(path)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }
  private val confPinLock = new Object

  /** The mart upsert (`dbt materialized=incremental, unique_key=id`) on a
    * plain-parquet target: read current snapshot, merge the staging delta
    * with [[graft.operators.IncrementalMerge]] semantics, atomically
    * replace. One key-equi shuffle; at scale, prefer a bucketed table
    * (see BucketedMergeSpec) so only the delta shuffles, or a table format
    * where this whole function is a MERGE INTO. */
  def upsertByKey(
      spark: SparkSession,
      targetPath: String,
      staging: DataFrame,
      key: String,
      runTs: org.apache.spark.sql.Column,
      statusCol: String,
      doneValue: String): Unit = {
    val fs = new Path(targetPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target =
      if (fs.exists(new Path(targetPath))) spark.read.parquet(targetPath)
      else graft.operators.IncrementalMerge.emptyTarget(staging, key, statusCol)
    val merged = graft.operators.IncrementalMerge
      .mergeEvolving(target, staging, key, runTs, statusCol, doneValue)
    // the merge plan reads the target path it is about to replace — snapshot
    // the result before the swap (localCheckpoint keeps it distributed)
    truncateLoad(merged.localCheckpoint(eager = true), targetPath)
  }

  /** Thrown by an in-claim re-validation ([[VersionedTable.occValidate]],
    * [[VersionedTable.AppendRebase]], the identity basis check, the COW
    * kept-refs check) when another writer published a snapshot between
    * a writer's read of its pinned version and its commit claim —
    * publishing would silently drop the other writer's rows (lost
    * update). [[VersionedTable.occRetry]] catches it and recomputes the
    * whole write against the new current version. */
  final class ConcurrentWriteException(root: String, base: Option[Long], now: Option[Long])
    extends RuntimeException(
      s"concurrent write to $root: merged against version $base but current is $now")

  /** Jittered exponential backoff between the attempts of
    * [[VersionedTable.occRetry]] (the Delta commit-retry shape), so an
    * N-writer burst de-synchronizes instead of re-colliding in lockstep. */
  private[graft] def backoff(attempt: Int): Unit =
    Thread.sleep(scala.util.Random.nextLong(
      math.min(100L << math.min(attempt, 4), 1600L)))

  /** [[upsertByKey]] on a [[VersionedTable]] target — the form that holds
    * at 100 TB: the merge result lands as a NEW immutable snapshot and the
    * table flips to it with a metadata-only publish, so there is no
    * absent-target window, a reader mid-query keeps its resolved version,
    * and every previous table state stays time-travelable until vacuum.
    * This is the run-over-run shape of the reference's hourly DAG
    * (extract → merge → load) with the load made transactional.
    *
    * OPTIMISTIC CONCURRENCY ([[VersionedTable.occRetry]]): the target
    * read is pinned to the snapshot the attempt resolved (none on the
    * birth commit), the commit re-validates inside its claim (after the
    * claim, before publish) that no other writer published meanwhile,
    * and a conflict re-runs the whole merge. The publish itself is
    * WINNER-TAKES-VERSION-N (VersionedTable.commitWith step 4): every
    * writer contends for marker number currentVersion+1 with one
    * rename-no-overwrite, so the check-then-act window between
    * re-validation and publish is decided by the filesystem, not by
    * timing. GUARANTEES BY STORE, stated plainly:
    *   - rename-no-overwrite filesystems (HDFS semantics, ABFS,
    *     GCS-connector rename): cross-process lost updates are
    *     IMPOSSIBLE — the loser's marker rename fails, it re-runs the
    *     validation, raises the conflict, and the merge rebases. This is
    *     Delta's atomic log-write guarantee on this format.
    *   - LocalFileSystem (dev/test): Hadoop's rename OVERWRITES and its
    *     create-exclusive is check-then-act, so the claim and the marker
    *     publish drop to java.nio's atomic syscalls (O_CREAT|O_EXCL for
    *     claims, link(2) for markers — both fail with EEXIST, never
    *     overwrite): cross-process lost updates are impossible here
    *     too. Same-JVM writers additionally serialize on the per-root
    *     publish monitor (OccStressSpec races it for real;
    *     CrossProcessPublishSpec races monitor-disjoint writers through
    *     the filesystem protocol alone).
    *   - object stores WITHOUT atomic rename-no-overwrite (raw S3): need
    *     an external arbiter (the DynamoDB-style LogStore Delta uses
    *     there); out of scope for this format. */
  def upsertByKeyVersioned(
      spark: SparkSession,
      tableRoot: String,
      staging: DataFrame,
      key: String,
      runTs: org.apache.spark.sql.Column,
      statusCol: String,
      doneValue: String,
      changeFeed: Boolean = true,
      extraTables: Map[String, DataFrame] = Map.empty,
      preCommit: Long => Unit = _ => ()): Long = {
    def attempt(base: Option[Snapshot]): Long = fullMerge(spark, tableRoot,
      base, staging, key, runTs, statusCol, doneValue, changeFeed,
      extraTables, preCommit)
    VersionedTable.occRetry(spark, tableRoot, absent = _ => attempt(None))(
      cur => attempt(Some(cur)))
  }

  /** One attempt of the full-rewrite upsert against the pinned `base`
    * (None: the birth commit) — the body [[upsertByKeyVersioned]] and
    * [[upsertByKeyVersionedCow]]'s fallback both run inside their one
    * [[VersionedTable.occRetry]] loop. */
  private def fullMerge(
      spark: SparkSession, tableRoot: String, base: Option[Snapshot],
      staging: DataFrame, key: String, runTs: org.apache.spark.sql.Column,
      statusCol: String, doneValue: String, changeFeed: Boolean,
      extraTables: Map[String, DataFrame], preCommit: Long => Unit): Long = {
    val target = base match {
      case Some(s) => VersionedTable.readVersion(spark, s)
      case None => graft.operators.IncrementalMerge.emptyTarget(staging, key, statusCol)
    }
    // mergeEvolving = merge + on_schema_change='sync_all_columns'
    // (retail_transactions.sql:6): an hourly run whose staging added or
    // dropped a column still lands, and the new snapshot IS the evolved
    // schema — no DDL step, the previous schema stays time-travelable
    val merged = graft.operators.IncrementalMerge
      .mergeEvolving(target, staging, key, runTs, statusCol, doneValue)
    // the run's CHANGE DATA FEED rides the same commit: O(delta) rows,
    // published atomically with the snapshot they describe, readable via
    // VersionedTable.readChanges for incremental downstream consumers
    val extras = extraTables ++
      (if (!changeFeed) Map.empty[String, DataFrame]
       else Map("changes" -> graft.operators.IncrementalMerge
         .changeFeed(target, staging, key, runTs, statusCol, doneValue)))
    // no checkpoint needed: the commit writes to a fresh version dir, so
    // the plan can read the current snapshot while writing the next one;
    // a bloom on the merge key keeps readWhere point lookups prunable
    // even before the table is clustered
    VersionedTable.commit(merged, tableRoot, extras = extras,
      bloomCols = Seq(key),
      recordInfo = Map("operation" -> "merge"),
      preCommit = v => {
        preCommit(v) // caller's validation first (e.g. the txn gate)
        VersionedTable.occValidate(spark, tableRoot, base)(v)
      })
  }

  /** [[upsertByKeyVersioned]] with FILE-GRANULAR COPY-ON-WRITE — the form
    * whose WRITE cost holds at 100 TB. The snapshot-replace upsert
    * rewrites the whole table every run; here the run rewrites only the
    * files whose key-range statistics admit a staging key, and every
    * other file is carried into the new snapshot BY REFERENCE
    * ([[VersionedTable.commitCow]] manifest). An hourly delta touching
    * 0.1% of a clustered table writes ~0.1% of the bytes; the merge
    * itself joins staging against only the touched slice.
    *
    * Correctness needs no clustering: a matched target key lives in a
    * file whose range covers it, so that file is touched by construction;
    * untouched files therefore contain only rows the merge passes through
    * unchanged, and the change feed computed against the touched slice
    * equals the one against the full target. Clustering (the
    * [[VersionedTable.optimize]] pass) is what makes the touched set
    * SMALL — on a write-order table every file may admit every key and
    * COW degrades to the full rewrite, correctly.
    *
    * Falls back to the full-rewrite attempt (same results, same feed)
    * when the table doesn't exist yet, any file lacks usable key stats,
    * or the staging schema evolves the target (COW requires the merged
    * schema to equal the current one — mixed-schema manifests would
    * poison every later read). The fallback is a body of the same
    * [[VersionedTable.occRetry]] loop, so persistent conflict surfaces
    * after that loop's bound, never a nested one. Returns the committed
    * version. */
  def upsertByKeyVersionedCow(
      spark: SparkSession,
      tableRoot: String,
      staging: DataFrame,
      key: String,
      runTs: org.apache.spark.sql.Column,
      statusCol: String,
      doneValue: String,
      changeFeed: Boolean = true,
      preCommit: Long => Unit = _ => ()): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    def full(base: Option[Snapshot]): Long = fullMerge(spark, tableRoot,
      base, staging, key, runTs, statusCol, doneValue, changeFeed,
      Map.empty, preCommit)
    // the touched set, merge, and carried references are all computed
    // against `cur`, so a writer publishing meanwhile would have its
    // fresh rows silently dropped from the new manifest — re-validate
    // inside the claim and redo the whole touched-set computation on
    // conflict
    VersionedTable.occRetry(spark, tableRoot, absent = _ => full(None)) { cur =>
      // RECORDED BUCKET LAYOUT first ([[Bucketing]]): on a bucketized
      // target the touched slice reads bucket-aligned with its
      // HashPartitioning claimed, so the merge's full-outer join
      // shuffles ONLY the staging delta — the target-side exchange is
      // gone on every repeated run. Falls through (None) to the
      // key-range road whenever any guard fails.
      Bucketing.mergeFrames(spark, cur, staging, key, runTs,
        statusCol, doneValue, changeFeed) match {
      case Some((bMerged, bKept, bFeed, bSpec)) =>
        val extras = bFeed.map(f => Map("changes" -> f))
          .getOrElse(Map.empty[String, DataFrame])
        val rb = new VersionedTable.AppendRebase(spark, tableRoot, cur.version)
        VersionedTable.commitCow(bMerged, tableRoot, bKept, extras,
          bloomCols = Seq(key),
          preCommit = v => { preCommit(v); rb.validate(v) },
          rebase = Some(rb),
          recordInfo = Map("operation" -> "merge",
            // the stamp names the SPEC this commit's files were laid
            // out under — purity is spec-relative (see Bucketing)
            Bucketing.BucketedInfoKey -> bSpec))
      case None =>
      val target = VersionedTable.readVersion(spark, cur)
      val mergedSchema = graft.operators.IncrementalMerge
        .mergeEvolving(target.limit(0), staging.limit(0), key, runTs,
          statusCol, doneValue).schema
      val sameSchema =
        mergedSchema.map(f => (f.name, f.dataType)) ==
          target.schema.map(f => (f.name, f.dataType))
      VersionedTable.fileKeyRanges(spark, cur, key) match {
        case Some(ranges) if sameSchema =>
          // which files admit at least one staging key: distinct keys
          // against the broadcast file-boundary table (file count is
          // metadata-scale), then collect file names only
          val boundaries = ranges.collect { case (rel, Some((_, mn, mx))) =>
            (rel, mn, mx)
          }
          val touched: Set[String] =
            if (boundaries.isEmpty) Set.empty
            else {
              val b = spark.createDataFrame(boundaries.map { case (rel, mn, mx) =>
                (rel, mn.toString, mx.toString)
              }).toDF("__file", "__mn", "__mx")
              val kind = ranges.collectFirst {
                case (_, Some((k, _, _))) => k }.getOrElse("string")
              val t = kind match {
                case "long" => "bigint"
                case "double" => "double"
                case _ => "string"
              }
              staging.select(col(key).as("__k")).na.drop().distinct()
                .join(broadcast(b),
                  col("__k") >= col("__mn").cast(t) &&
                  col("__k") <= col("__mx").cast(t))
                .select("__file").distinct()
                .collect().map(_.getString(0)).toSet
            }
          val kept = ranges.map(_._1).filterNot(touched)
          // the slice reads THROUGH the deletion-vector masks
          // (a masked scan): a MOR-deleted row neither matches a staging
          // key nor re-enters the rewrite; kept files' masks carry
          // forward in the commit, touched files' fold away with the
          // rewrite
          val slice =
            if (touched.isEmpty) target.limit(0)
            else VersionedTable.scan(spark, cur, Some(touched.toSeq.sorted))
          val merged = graft.operators.IncrementalMerge
            .mergeEvolving(slice, staging, key, runTs, statusCol, doneValue)
            .select(target.columns.map(col): _*)
          val extras =
            if (!changeFeed) Map.empty[String, DataFrame]
            else Map("changes" -> graft.operators.IncrementalMerge
              .changeFeed(slice, staging, key, runTs, statusCol, doneValue))
          // claim-time rebase ([[VersionedTable.AppendRebase]]): a blind
          // append landing during the merge joins the manifest by union
          // instead of forcing the whole touched-set recompute — the
          // hourly-append-during-hourly-merge collision costs two
          // driver-side manifest reads, not a re-merge
          val rb = new VersionedTable.AppendRebase(spark, tableRoot, cur.version)
          VersionedTable.commitCow(merged, tableRoot, kept, extras,
            bloomCols = Seq(key),
            preCommit = v => { preCommit(v); rb.validate(v) },
            rebase = Some(rb),
            recordInfo = Map("operation" -> "merge"))
        case _ => full(Some(cur))
      }
      }
    }
  }

  /** Distributed CSV sink — a directory of part files, the scale form
    * (CSV is row-major and splittable on read when uncompressed; still
    * prefer parquet for anything queried again). Nulls and empty strings
    * both render as empty fields, matching the common pandas `to_csv`
    * convention the reference's outputs use. */
  def csv(
      df: DataFrame,
      path: String,
      header: Boolean = true,
      options: Map[String, String] = Map.empty): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString)
      .option("emptyValue", "")
      // RFC 4180 quote doubling ("") instead of Spark's backslash default —
      // what pandas/Excel/DuckDB write and expect
      .option("escape", "\"")
      .options(options)
      .csv(path)

  /** ORC sink (overwrite) — columnar lake output for Hive-lineage
    * consumers; same writer parallelism and partitioning semantics as
    * the parquet sinks. */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Single-FILE CSV export at exactly `path` — the reference's final
    * deliverable shape (`lion_parcell_bonus_test_stg.py:26` OUT_CSV /
    * line 313 detail_csv via `DataFrame.to_csv`). A single file is
    * inherently one writer, so this is for EXPORTS — small, human- or
    * tool-facing, post-aggregation results — not for data at scale; the
    * coalesce(1) states that contract in the plan. Row order of a sorted
    * input survives: coalesce concatenates partitions in index order. */
  def csvExport(df: DataFrame, path: String, header: Boolean = true): Unit = {
    val spark = df.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__tmp_" + java.util.UUID.randomUUID().toString.take(8))
    csv(df.coalesce(1), tmp.toString, header)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
      .getOrElse(throw new java.io.IOException(s"no part file under $tmp"))
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(part, target))
      throw new java.io.IOException(s"rename $part -> $target failed")
    fs.delete(tmp, true)
  }

  /** The reference's warehouse staging load — TRUNCATE + batched INSERT
    * (`etl/extract_load.py` truncates `schema_punten` staging then bulk
    * inserts; `public/source_transaction_lion_parcel.py` loads via
    * `to_gbq(if_exists='replace')`). `truncate=true` keeps the existing
    * table (DDL, grants, indexes) and issues TRUNCATE TABLE instead of
    * DROP+CREATE. Each Spark partition opens one connection and inserts
    * `batchsize` rows per round trip — repartition the frame to the write
    * parallelism the database can absorb (databases, unlike lakes, have a
    * connection budget: 16–32 writers, not 1000). */
  def jdbcTruncateLoad(
      df: DataFrame,
      url: String,
      table: String,
      props: Map[String, String] = Map.empty,
      batchSize: Int = 10000,
      numWriters: Int = 16): Unit =
    df.coalesce(numWriters).write
      .mode(SaveMode.Overwrite)
      .option("truncate", "true")
      .option("batchsize", batchSize.toString)
      .options(props)
      .jdbc(url, table, new java.util.Properties())

  /** Plain append load (the incremental counterpart: new delta rows into a
    * warehouse table, e.g. the reference's `to_gbq(if_exists='append')`
    * paths). Idempotency is the caller's job — pair with
    * [[graft.streaming.EventStream.dedupStream]] semantics or a staging
    * key-merge upstream. */
  def jdbcAppend(
      df: DataFrame,
      url: String,
      table: String,
      props: Map[String, String] = Map.empty,
      batchSize: Int = 10000,
      numWriters: Int = 16): Unit =
    df.coalesce(numWriters).write
      .mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
      .options(props)
      .jdbc(url, table, new java.util.Properties())
}
