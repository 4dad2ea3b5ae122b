package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{Snapshot, VersionedTable}

/** The change feed as a STRUCTURED STREAMING SOURCE — the Delta
  * streaming-source shape on this format: a versioned table written by
  * the upsert paths becomes `readStream`-able, each committed version (or
  * a rate-limited run of them) arriving as one micro-batch of its
  * `changes` rows stamped with `_commit_version`. Offsets are version
  * numbers, so the engine's offset log IS the consumer checkpoint:
  * restart resumes after the last committed version, replay-safe by the
  * engine's own exactly-once offset contract (a batch is re-delivered
  * only when its output was not committed — the same at-least-once →
  * effectively-once story as [[VersionedTable.consumeChanges]], with the
  * checkpointing handed to the engine).
  *
  * V1 `Source` API deliberately (the Delta connector's choice, public):
  * `getBatch` can assemble the micro-batch with the ordinary parquet
  * reader over the feed extras — distributed, schema-evolving — instead
  * of hand-rolling a DSv2 partition reader.
  *
  * Operating contract: versions in the stream's range must carry feeds
  * ([[VersionedTable.readChanges]] raises on gaps — a full-snapshot
  * writer in the history stops the stream loudly, never silently skips)
  * and vacuum retention must cover the slowest stream (standard
  * table-format rule; see [[VersionedTable.vacuum]]'s `olderThanMs`).
  * A violated retention contract is also LOUD: vacuum tombstones every
  * version it drops, and a stream whose next batch reaches below the
  * drop line fails with the data-loss error instead of silently skipping
  * the vacuumed feed (fresh streams start past the line via
  * [[VersionedTable.earliestFeedStart]]). */
object ChangeFeedStream {

  /** `readStream` face. `maxVersionsPerBatch` bounds how many table
    * versions one micro-batch folds (rate limiting a catch-up from deep
    * history); default unlimited = one batch to the current version.
    * `initialSnapshot=true` is the Delta `readStream`-on-a-table shape:
    * the FIRST batch is the full logical snapshot at stream start
    * (deletion-vector masks folded, every row `_change_type='insert'`,
    * stamped with the snapshot's version), and the feed tail begins at
    * the NEXT version — so a brand-new consumer materializes the table
    * without replaying history it cannot see (feeds before
    * [[VersionedTable.earliestFeedStart]], vacuumed versions). */
  def read(
      spark: SparkSession, tableRoot: String,
      maxVersionsPerBatch: Option[Int] = None,
      initialSnapshot: Boolean = false,
      maxBytesPerBatch: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format(classOf[ChangeFeedSourceProvider].getName)
      .option("path", tableRoot)
    maxVersionsPerBatch.foreach(m => r.option("maxVersionsPerBatch", m.toString))
    maxBytesPerBatch.foreach(b => r.option("maxBytesPerBatch", b.toString))
    if (initialSnapshot) r.option("initialSnapshot", "true")
    r.load()
  }

  /** Feed schema at stream start: the newest feed-bearing version's
    * columns + the `_commit_version` stamp. Pinned for the stream's
    * lifetime — a mid-stream feed evolution that drops a pinned column
    * fails the batch loudly; restart re-pins (the Delta contract).
    * Snapshot mode derives the same shape from the CURRENT version's
    * schema instead, so a table whose history carries no feed at all
    * (full-snapshot writers only) still streams: snapshot first, feeds
    * required only from the next commit on. */
  private[streaming] def feedSchema(
      spark: SparkSession, root: String,
      initialSnapshot: Boolean = false): StructType =
    pinSchema(spark, root, initialSnapshot)._1

  /** ([[feedSchema]], the version it pinned) from ONE scan — the pin
    * version is the evolution gate's reference point (versions AFTER it
    * must not drift silently; versions BEFORE it are history the pin
    * already accounts for), and deriving both from the same scan closes
    * the race where a feed commit lands between two independent scans
    * and gets mis-classified as pre-pin history. */
  private[streaming] def pinSchema(
      spark: SparkSession, root: String,
      initialSnapshot: Boolean = false): (StructType, Snapshot) = {
    if (initialSnapshot) {
      val cur = VersionedTable.latest(spark, root).getOrElse(
        throw new IllegalArgumentException(s"no committed version under $root"))
      val cols = VersionedTable.readVersion(spark, cur).schema.fields.toSeq
      (StructType(cols :+
        StructField("_change_type", org.apache.spark.sql.types.StringType) :+
        StructField("_commit_version", LongType)), cur)
    } else {
      val snaps = VersionedTable.snapshots(spark, root)
      require(snaps.nonEmpty, s"no committed version under $root")
      val withFeed = snaps.reverse.find(VersionedTable.hasChangeFeed(spark, _))
        .getOrElse(throw new IllegalArgumentException(
          s"no version under $root carries a change feed — " +
            "write the table with the versioned upsert paths"))
      val feed = VersionedTable.readExtra(spark, withFeed, "changes")
        .orElse(VersionedTable.syntheticChanges(spark, withFeed)).get
      (StructType(feed.schema.fields.toSeq :+
        StructField("_commit_version", LongType)), withFeed)
    }
  }
}

class ChangeFeedSourceProvider extends StreamSourceProvider {
  private def root(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' (the table root) is required"))

  private def snapshotMode(parameters: Map[String, String]): Boolean =
    parameters.get("initialSnapshot").exists(_.toBoolean)

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft-changes",
      schema.getOrElse(
        ChangeFeedStream.feedSchema(sqlContext.sparkSession, root(parameters),
          snapshotMode(parameters))))

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new ChangeFeedSource(sqlContext.sparkSession, root(parameters), metadataPath,
      parameters.get("maxVersionsPerBatch").map(_.toInt),
      snapshotMode(parameters),
      parameters.get("maxBytesPerBatch").map(_.toLong))
}

class ChangeFeedSource(
    spark: SparkSession, root: String, metadataPath: String,
    maxVersionsPerBatch: Option[Int],
    initialSnapshot: Boolean = false,
    maxBytesPerBatch: Option[Long] = None)
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val pinned: (StructType, Snapshot) =
    ChangeFeedStream.pinSchema(spark, root, initialSnapshot)
  override val schema: StructType = pinned._1

  // ---- mid-stream schema evolution gate (the Delta CDF contract) ---------
  //
  // The stream's schema is PINNED at start; each batch version is
  // validated against it before serving:
  //   - a RENAME serves correctly through column mapping (the physical
  //     name is the column's identity — batch columns re-alias to the
  //     pinned names), in both directions: a rename committed mid-feed
  //     and a backlog batch from before a historical rename;
  //   - a HISTORICAL narrow type upcast to the pinned type serves (the
  //     pin is the wide side — lossless);
  //   - everything else committed AFTER the pin — add-column, drop,
  //     type widen/retype — FAILS the batch loudly with a restart
  //     instruction, never a silent projection (the old behavior
  //     dropped added columns and nulled renamed ones). History BEFORE
  //     the pin keeps the lenient union-by-name semantics: the pin
  //     already accounts for it (missing columns backfill null, since-
  //     dropped columns project away).

  private val pinnedAt: Long = pinned._2.version
  private val metaCols = Set("_change_type", "_commit_version")
  private lazy val pinnedMapping = VersionedTable.columnMapping(spark, pinned._2)
  private lazy val pinnedTableCols: Seq[StructField] =
    schema.fields.toSeq.filterNot(f => metaCols(f.name))

  /** batch-column → pinned-column renames for version `s` (empty =
    * serve as-is); throws on incompatible evolution. Memoized —
    * committed schemas are immutable. */
  // TrieMap, not mutable.Map: the source can be driven from more than
  // one thread (schema probe concurrent with batch planning, AvailableNow
  // admission control) — getOrElseUpdate may compute twice under a race,
  // which is fine (committed schemas are immutable), but must never
  // corrupt the map
  private val alignMemo = scala.collection.concurrent.TrieMap.empty[Long, Map[String, String]]
  private def alignmentFor(s: Snapshot): Map[String, String] =
    alignMemo.getOrElseUpdate(s.version, {
      val v = s.version
      val vSchema: Seq[StructField] = VersionedTable.schemaOf(spark, s).fields.toSeq
      val strict = v > pinnedAt
      val vMapping = VersionedTable.columnMapping(spark, s)
      def phys(m: Map[String, String], c: String) = m.getOrElse(c, c)
      val vByPhys = vSchema.map(f => phys(vMapping, f.name) -> f).toMap
      def fail(detail: String): Nothing = throw new java.io.IOException(
        s"change-feed schema evolved under $root at version $v: $detail — " +
          s"the stream's schema is pinned at stream start (v$pinnedAt); " +
          "restart the stream to adopt the evolved schema")
      import org.apache.spark.sql.catalyst.expressions.Cast
      def compatible(c: StructField, p: StructField): Boolean =
        c.dataType == p.dataType || Cast.canUpCast(c.dataType, p.dataType)
      val renames = pinnedTableCols.flatMap { p =>
        val byName = vSchema.find(c => c.name.equalsIgnoreCase(p.name) &&
          phys(vMapping, c.name) == phys(pinnedMapping, p.name))
        byName match {
          case Some(c) =>
            if (compatible(c, p)) None
            else fail(s"column ${p.name} changed type " +
              s"${p.dataType.simpleString} -> ${c.dataType.simpleString}")
          case None => vByPhys.get(phys(pinnedMapping, p.name)) match {
            case Some(c) if compatible(c, p) => Some(c.name -> p.name)
            case Some(c) => fail(s"column ${p.name} (as ${c.name}) changed " +
              s"type ${p.dataType.simpleString} -> ${c.dataType.simpleString}")
            case None if strict => fail(s"column ${p.name} was dropped")
            case None => None // pre-pin history: null backfill is the pin's contract
          }
        }
      }.toMap
      if (strict) {
        val known = pinnedTableCols.map(_.name.toLowerCase).toSet ++
          renames.keys.map(_.toLowerCase)
        val added = vSchema.map(_.name)
          .filterNot(n => known(n.toLowerCase) || metaCols(n))
        if (added.nonEmpty)
          fail(s"column(s) ${added.mkString(", ")} added")
      }
      renames
    })

  /** Highest version this source already OFFERED via [[getOffset]] — the
    * rate-limit cursor, PERSISTED under the source's own metadataPath
    * (the FileStreamSource pattern): the cursor must never restart below
    * the engine's committed offset, or the engine would run a
    * start>end "batch" / regress its log. Offer-then-crash just widens
    * one batch past the rate limit — the engine's offset commit still
    * guarantees each version is delivered effectively once. */
  private val cursorFile = new org.apache.hadoop.fs.Path(metadataPath, "cursor")
  private val mfs = cursorFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private var offered: Option[Long] = {
    if (!mfs.exists(cursorFile)) None
    else
      try {
        val in = mfs.open(cursorFile)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        text.trim.toLongOption
      } catch { case _: Exception => None }
  }

  private def persistCursor(v: Long): Unit = {
    mfs.mkdirs(new org.apache.hadoop.fs.Path(metadataPath))
    val tmp = new org.apache.hadoop.fs.Path(metadataPath,
      "cursor." + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    val out = mfs.create(tmp, true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
    mfs.delete(cursorFile, false)
    if (!mfs.rename(tmp, cursorFile)) mfs.delete(tmp, false)
  }

  private def toV(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong // SerializedOffset from the log
  }

  /** [[VersionedTable.earliestFeedStart]], memoized across polls: the
    * first FED version never changes once found, so it probes each
    * version dir at most once over the source's lifetime — a fresh
    * stream over a long-history (or never-fed) table must not pay an
    * O(versions) existence scan on EVERY trigger. */
  private var firstFed: Option[Long] = None
  private var probed = Set.empty[Long]
  private def feedStart(): Long = {
    if (firstFed.isEmpty) {
      // memoized as a SET of probed version numbers, not a high-water
      // mark: a lower-numbered version published after a higher one
      // (possible only for writers bypassing OCC validation) still gets
      // probed on the next poll instead of being skipped forever. The
      // set is driver-sized (the versions() listing already is).
      val unprobed = VersionedTable.snapshots(spark, root, v => !probed(v))
      firstFed = unprobed.find(VersionedTable.hasChangeFeed(spark, _)).map(_.version)
      probed ++= unprobed.map(_.version)
    }
    val pastDropped = VersionedTable.vacuumedVersions(spark, root)
      .foldLeft(0L)(math.max) + 1L
    math.max(firstFed.getOrElse(probed.foldLeft(0L)(math.max) + 1L), pastDropped)
  }

  /** Head version captured by [[prepareForTriggerAvailableNow]] — under
    * `Trigger.AvailableNow` every poll caps here, so the query drains
    * exactly the backlog that existed at start (in rate-limited batches)
    * and terminates even while writers keep committing. */
  private var availableNowCap: Option[Long] = None

  /** Per-version change-feed bytes for the bytes-based admission —
    * memoized forever: a published version's sidecar is immutable. A
    * feed-less version (pass-through commit) measures 0 and admits
    * free. */
  private val feedBytesMemo = scala.collection.mutable.Map.empty[Long, Long]
  private def feedBytes(s: Snapshot): Long =
    feedBytesMemo.getOrElseUpdate(s.version, VersionedTable.feedBytesOf(spark, s))

  /** Shared rate-limited poll: the next offset to offer given the
    * engine's last committed/offered position (None = fresh stream).
    * The internal `offered` cursor stays the floor — the engine must
    * never see an offset regress. */
  private def nextOffset(engineStart: Option[Long]): Option[Long] = {
    def capped(head: Long) = availableNowCap.fold(head)(math.min(head, _))
    val floor = (engineStart.toSeq ++ offered.toSeq).maxOption
    if (initialSnapshot && floor.isEmpty)
      // snapshot mode, fresh stream: the first offered offset IS the
      // snapshot boundary — one batch, the whole logical table at the
      // current version (rate limiting applies to the feed tail only;
      // the snapshot is indivisible)
      VersionedTable.versions(spark, root).lastOption.map { h =>
        val cur = capped(h)
        offered = Some(cur); persistCursor(cur); cur
      }
    else {
      // fresh stream: begin past every vacuumed version, not at the
      // earliest committed one (a vacuum holdback below a dropped version
      // would otherwise raise the data-loss guard on the first batch)
      val base = floor.getOrElse(feedStart() - 1)
      // one listing; only the versions past `base` resolve
      val past = VersionedTable.snapshots(spark, root, _ > base)
      past.lastOption.fold(floor) { head =>
        val cur = capped(head.version)
        val endByVersions =
          maxVersionsPerBatch.map(m => math.min(cur, base + m)).getOrElse(cur)
        // BYTES-BASED ADMISSION (Delta's maxBytesPerTrigger): versions
        // are wildly non-uniform in size — one OPTIMIZE rewrite's feed vs
        // one small append — so the knob operators actually set is bytes.
        // Admit versions while the cumulative FEED bytes fit the budget,
        // always at least one (a soft cap, the Delta rule — a single
        // oversized version must make progress, not wedge the stream).
        // Per-version feed bytes are one dir listing, memoized forever
        // (published sidecars are immutable), so a long-running stream
        // pays O(new versions) listings total, not O(backlog) per poll.
        val end =
          if (endByVersions <= base) endByVersions
          else maxBytesPerBatch match {
            case None => endByVersions
            case Some(budget) =>
              val at = past.map(s => s.version -> s).toMap
              var e = base + 1
              var acc = feedBytes(at(e))
              while (e < endByVersions && acc + feedBytes(at(e + 1)) <= budget) {
                e += 1
                acc += feedBytes(at(e))
              }
              e
          }
        if (end <= base) floor
        else { offered = Some(end); persistCursor(end); Some(end) }
      }
    }
  }

  override def getOffset: Option[Offset] = nextOffset(None).map(LongOffset(_))

  // ---- admission control (the FileStreamSource shape) --------------------
  //
  // The V1 `getOffset` face alone breaks `Trigger.AvailableNow` +
  // `maxVersionsPerBatch`: the engine wraps a plain V1 source in
  // AvailableNowSourceWrapper, which snapshots the FIRST offered
  // (rate-limited!) offset as the run's end point — a catch-up from
  // deep history stopped after one batch. Implementing
  // SupportsTriggerAvailableNow DIRECTLY (the FileStreamSource shape)
  // bypasses the wrapper: [[prepareForTriggerAvailableNow]] pins the
  // true head once, every [[latestOffset]] poll stays rate-limited but
  // capped there — the backlog drains in
  // ⌈backlog/maxVersionsPerBatch⌉ batches and the query terminates at
  // the pinned head even while writers keep committing: exactly
  // Delta's AvailableNow semantics.

  private type OffsetV2 = org.apache.spark.sql.connector.read.streaming.Offset

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    // rate limiting is governed by this source's own option (versions,
    // not rows — a version is the atomic feed unit on this format)
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The TRUE current head — never rate-limited. Null (= unknown) only
    * before the first commit. */
  override def reportLatestOffset(): OffsetV2 =
    VersionedTable.versions(spark, root).lastOption
      .map(LongOffset(_)).orNull

  /** Pin the drain target for `Trigger.AvailableNow` — called once by
    * the engine before the run starts. */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = VersionedTable.versions(spark, root).lastOption

  override def latestOffset(startOffset: OffsetV2, limit:
      org.apache.spark.sql.connector.read.streaming.ReadLimit): OffsetV2 =
    nextOffset(Option(startOffset).map {
      case l: LongOffset => l.offset
      case other => other.json.trim.toLong
    }).map(LongOffset(_)).orNull

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val toVersion = toV(end)
    if (initialSnapshot && start.isEmpty) {
      // the snapshot batch: full logical content at `toVersion` (DV
      // masks folded by readVersion), every row an 'insert' stamped
      // with the snapshot version — the tail then starts at
      // toVersion+1 because the engine hands this batch's end back as
      // the next batch's start. Rebased onto its own RDD lineage
      // (LogicalRDD): the DV fold is an anti-JOIN, which must plan as a
      // BATCH join inside the lazy lineage — surfacing it in the
      // streaming plan would make the planner reject it as a
      // stream-stream LeftAnti. Lazy and distributed; nothing
      // materializes on the driver — and the rebase stays in INTERNAL
      // rows (no encoder round-trip on the stream's largest batch).
      val snap = VersionedTable.readVersion(spark, root, toVersion)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(toVersion))
        .select(schema.fieldNames.toSeq.map(col): _*)
      org.apache.spark.sql.graft.StreamBridge.internalAsStreaming(snap)
    } else {
      val fromV = start.map(toV(_) + 1).getOrElse(feedStart())
      val snaps = VersionedTable.snapshots(spark, root, x => x >= fromV && x <= toVersion)
      val vs = snaps.map(_.version)
      // SCHEMA GATE per batch version (memoized): incompatible
      // mid-stream evolution throws here; renames serve via re-alias
      val aligns = snaps.map(s => s.version -> alignmentFor(s)).filter(_._2.nonEmpty).toMap
      val batch =
        if (aligns.isEmpty)
          VersionedTable.readChanges(spark, root, fromV, toVersion)
        else {
          // per-version frames so each version's renames apply BEFORE
          // the union (the union would otherwise null-backfill both
          // names); the range-level vacuum data-loss guard re-runs here
          // because the per-version reads cannot see the gap
          val lost = VersionedTable.vacuumedVersions(spark, root)
            .filter(x => x >= fromV && x <= toVersion) -- vs.toSet
          if (lost.nonEmpty) throw new java.io.IOException(
            s"change feed [$fromV, $toVersion] under $root lost version(s) " +
              s"${lost.toSeq.sorted.mkString(", ")} to vacuum — size the " +
              "vacuum retention to cover the slowest consumer")
          vs.map { v =>
            val renames = aligns.getOrElse(v, Map.empty)
            val d = VersionedTable.readChanges(spark, root, v, v)
            if (renames.isEmpty) d
            // SIMULTANEOUS renames (one select), never a sequential
            // withColumnRenamed fold: a swap (a->b, b->a — legal under
            // column mapping) would alias through itself sequentially
            else d.select(d.columns.toSeq.map(c =>
              col(c).as(renames.getOrElse(c, c))): _*)
          }.reduce(_.unionByName(_, allowMissingColumns = true))
        }
      // pin to the stream's schema: column order fixed, types normalized
      // to the pinned ones (upcasts only — anything lossy was refused by
      // the gate above), and a pinned column ABSENT from the whole batch
      // range backfills null — a rate-limited catch-up batch made
      // entirely of versions from before a column-add must serve, not
      // crash unresolved (the gate already proved the absence is
      // pre-pin history)
      val have = batch.columns.map(_.toLowerCase).toSet
      val pinnedSel = batch.select(schema.fields.toSeq.map { f =>
        if (have(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      org.apache.spark.sql.graft.StreamBridge.asStreaming(pinnedSel)
    }
  }

  override def commit(end: Offset): Unit = () // retention is vacuum's job

  override def stop(): Unit = ()
}
