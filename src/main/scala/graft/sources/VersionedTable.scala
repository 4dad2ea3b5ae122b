package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Minimal table format: versioned snapshots with METADATA-ONLY commits —
  * the missing piece between [[Sinks.truncateLoad]]'s write-then-rename
  * (which moves the data path itself and has a brief absent-target window)
  * and a full Iceberg/Delta dependency (unavailable in this environment;
  * the protocol below is the same idea pared to its core, cf. the Delta
  * transaction-log and Iceberg snapshot-pointer designs, both public).
  *
  * Layout:
  * {{{
  *   <root>/v00000001/...parquet     immutable snapshot directories
  *   <root>/v00000002/...
  *   <root>/_commits/00000001        empty marker files; the SET of these
  *   <root>/_commits/00000002        IS the table state
  * }}}
  *
  * Protocol (each writer):
  *  1. WRITE the snapshot to `_staging/<uuid>` — private, any size, fully
  *     parallel, no table state touched;
  *  2. CLAIM the next version: create-exclusive `_claims/<N>` (retrying
  *     with N+1 on loss). The claim is an empty-file create — two writers
  *     can never own the same N, so they never touch the same paths;
  *  3. MOVE the staging dir to `v<N>` — a directory rename, metadata-only
  *     on a real filesystem (the data files never move);
  *  4. PUBLISH: create `_commits/<N>`. Readers resolve the table as
  *     max(`_commits`) — the publish is the linearization point and the
  *     table is never absent, never half-visible.
  *
  * Crash anywhere before step 4 leaves only invisible garbage (an
  * unclaimed staging dir or a claimed-but-unpublished version number that
  * later writers simply skip) — never a corrupted table. Create-exclusive
  * is atomic on HDFS; on S3 swap the claim/publish for conditional PUTs.
  * (Hadoop's LocalFileSystem implements create-exclusive as exists-check
  * + create, so two SAME-HOST writers can in principle both win a claim —
  * acceptable for the local test rig, not a correctness claim for
  * production filesystems.) TIME TRAVEL: committed versions stay readable
  * until [[vacuum]] removes all but the newest K — the SCD2 "query
  * yesterday's snapshot" at whole-table granularity.
  *
  * DATA SKIPPING: [[commit]] also records per-file column min/max/null
  * statistics (read from the parquet FOOTERS of the files just written —
  * metadata-only, no second data scan) into a `_stats` dir inside the
  * snapshot ("_"-prefixed, so readers of the snapshot ignore it and it
  * travels/vacuums atomically with its version). [[readWhere]] prunes
  * whole files against a predicate before the scan — the Delta/Iceberg
  * min/max skipping idea on this format: a narrow key-range query over a
  * 100 TB table opens only the files whose range intersects it.
  */
object VersionedTable {

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitDir(root: String) = new Path(root, "_commits")
  private def claimDir(root: String) = new Path(root, "_claims")
  private def versionDir(root: String, v: Long) = new Path(root, f"v$v%08d")
  private def pad(v: Long) = f"$v%08d"

  private def listVersions(f: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Long] =
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong)
      .sorted

  /** All committed versions, ascending (empty for a fresh/unborn table). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    listVersions(f, commitDir(root))
  }

  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** O(1) membership probe — one `exists()` on the commit marker instead
    * of a directory listing: a reader validating one version of a
    * 100k-commit streaming table must not list the whole log to do it. */
  private def isCommitted(spark: SparkSession, root: String, v: Long): Boolean =
    fs(spark, root).exists(new Path(commitDir(root), pad(v)))

  // ---- vacuum tombstones -------------------------------------------------

  private def vacuumedFile(root: String) =
    new Path(new Path(root, "_vacuumed"), "log.txt")

  /** Version numbers [[vacuum]] has dropped — the DATA-LOSS LEDGER for
    * incremental consumers: a change-feed read whose range contains one of
    * these must raise, not silently skip (Delta's
    * failOnDataLoss-on-missing-version contract). Driver-sized (one line
    * per dropped version; a year of hourly commits vacuumed is ~9 KB).
    * Empty for never-vacuumed and pre-upgrade tables — the guard then
    * stands down, so old tables keep reading exactly as before. */
  def vacuumedVersions(spark: SparkSession, root: String): Set[Long] = {
    val f = fs(spark, root)
    val file = vacuumedFile(root)
    if (!f.exists(file)) Set.empty
    else
      try {
        val in = f.open(file)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        text.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
          .flatMap(_.toLongOption).toSet
      } catch { case _: Exception => Set.empty }
  }

  /** Record `dropped` in the tombstone ledger BEFORE the markers are
    * deleted — crash-safe in that order because the feed guard only fires
    * for versions that are tombstoned AND no longer committed: a crash
    * between record and delete leaves versions both tombstoned and still
    * readable, which the guard ignores. */
  private def recordVacuumed(
      spark: SparkSession, root: String, dropped: Seq[Long]): Unit =
    if (dropped.nonEmpty) {
      val f = fs(spark, root)
      val merged = (vacuumedVersions(spark, root) ++ dropped).toSeq.sorted
      f.mkdirs(new Path(root, "_vacuumed"))
      val tmp = new Path(new Path(root, "_vacuumed"),
        "log." + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
      val out = f.create(tmp, true)
      try out.write(merged.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      f.delete(vacuumedFile(root), false)
      if (!f.rename(tmp, vacuumedFile(root))) f.delete(tmp, false)
    }

  /** Earliest version from which a change-feed consumer can read a
    * CONTIGUOUS feed: past every vacuumed version (vacuum's coverage
    * guards can hold a middle version back, so the earliest COMMITTED
    * version may sit below a vacuumed one — starting there would raise on
    * the hole immediately). Where fresh consumers ([[consumeChanges]],
    * the streaming source) begin. */
  def earliestFeedStart(spark: SparkSession, root: String): Long = {
    val vs = versions(spark, root)
    val pastDropped = vacuumedVersions(spark, root)
      .foldLeft(0L)(math.max) + 1L
    // CDC starts at the first version that CARRIES a feed: a table whose
    // creation commit was a plain commit() has none there (Delta's CDF
    // likewise reads from its enablement point, not table birth). A
    // mid-chain feed-less version still raises in readChanges — that is
    // a continuity break, not a pre-CDC prefix. No version fed at all →
    // start past the end: nothing to consume yet, not an error. The find
    // is O(pre-CDC prefix) existence probes — once per BATCH consumer
    // call; the streaming source memoizes it across polls
    // (ChangeFeedSource.feedStart).
    val firstFed = vs.find(v => hasChangeFeed(spark, root, v))
    math.max(firstFed.getOrElse(vs.lastOption.map(_ + 1L).getOrElse(1L)),
      pastDropped)
  }

  // ---- version-log checkpoint --------------------------------------------

  private def checkpointDir(root: String) = new Path(root, "_checkpoint")
  private def checkpointFile(root: String) = new Path(checkpointDir(root), "ckpt.tsv")

  /** Driver-sized summary of the version log as of `version`: the newest
    * published version at write time, the per-app txn high-water mark
    * over ALL commits ≤ `version`, and each covered version's snapshot
    * data bytes — the Delta `_last_checkpoint` idea on this format.
    * Readers resolve idempotence state AND history/maintenance sizing
    * from this one file plus the (normally empty) suffix of versions
    * published after it, instead of touching O(versions) per-version
    * sidecars; and because marks and sizes live here, they SURVIVE
    * [[vacuum]] dropping the stamped commits themselves. The bytes map
    * is one ~20-byte line per version — the Delta-checkpoint growth
    * class, megabytes at 100k commits. */
  final case class Checkpoint(
      version: Long, txns: Map[String, Long],
      bytes: Map[Long, Long] = Map.empty)

  /** Marker prefix of a checkpoint snapshot-bytes line
    * (`!b\t<version>\t<bytes>`). Unambiguous vs txn lines: app ids are
    * URL-encoded, which renders a literal `!` as `%21`. */
  private val CkptBytesTag = "!b"

  /** Checkpoint format marker, first field of the header line. Bumped to
    * "2" when the snapshot-bytes lines shipped: a reader from before them
    * parses the whole file as `app\tbatch` txn lines, so the marker makes
    * it fail fast (header `2\t<v>` is not a Long) and take the safe
    * full-log-scan fallback rather than pollute its idempotence map. */
  private val CkptFormatV = "2"

  /** The current checkpoint, or None when none was ever written (pre-
    * checkpoint tables) or the file is unreadable — callers fall back to
    * the full log scan, so a lost checkpoint costs time, never
    * correctness. */
  def readCheckpoint(spark: SparkSession, root: String): Option[Checkpoint] = {
    val f = fs(spark, root)
    val file = checkpointFile(root)
    if (!f.exists(file)) None
    else
      try {
        val in = f.open(file)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        val lines = text.split('\n').filter(_.nonEmpty)
        val (byteLines, txnLines) =
          lines.tail.partition(_.startsWith(CkptBytesTag + "\t"))
        val txns = txnLines.map { l =>
          val a = l.split('\t')
          java.net.URLDecoder.decode(a(0), "UTF-8") -> a(1).toLong
        }.toMap
        val bytes = byteLines.map { l =>
          val a = l.split('\t')
          a(1).toLong -> a(2).toLong
        }.toMap
        // header: `2\t<version>` since the bytes lines shipped (the format
        // marker makes a pre-bytes reader FAIL the header's toLong and fall
        // back to the full log scan, instead of mis-parsing `!b` lines as a
        // txn app literally named "!b"); a bare `<version>` header is the
        // original vintage and still accepted
        val head = lines.head.split('\t')
        val version =
          if (head.length >= 2 && head(0) == CkptFormatV) head(1).toLong
          else lines.head.toLong
        Some(Checkpoint(version, txns, bytes))
      } catch { case _: Exception => None }
  }

  /** Advance the checkpoint after publishing version `v`. Merges the
    * previous checkpoint with the txn extras of every version it did not
    * yet cover — normally just `v`; more only when an earlier writer
    * crashed between publish and checkpoint, which is exactly how such a
    * gap heals. Best-effort and MONOTONE: a lower version never replaces
    * a higher one (concurrent writers race by version), the swap is a
    * write-tmp-then-rename, and any failure leaves the previous file —
    * readers then scan the short suffix the checkpoint misses. */
  private def writeCheckpoint(
      spark: SparkSession, root: String, v: Long,
      ownTxn: Option[Seq[(String, Long)]] = None): Unit =
    try {
      val f = fs(spark, root)
      val prev = readCheckpoint(spark, root)
      if (!prev.exists(_.version >= v)) {
        val from = prev.map(_.version).getOrElse(0L)
        val gap = versions(spark, root).filter(x => x > from && x <= v)
        val txns = gap.sorted
          .foldLeft(prev.map(_.txns).getOrElse(Map.empty[String, Long])) { (m, vv) =>
            // version v's stamps ARE the pairs this commit just staged
            // (`ownTxn`, already collected driver-side): folding them
            // directly skips even the metadata re-read. Gap versions
            // (an earlier writer crashed between publish and
            // checkpoint) read from the log — the grouped _meta object
            // for current vintages, the txn parquet extra for old ones
            // ([[txnStampsOf]]).
            val stamps: Map[String, Long] =
              ownTxn match {
                case Some(own) if vv == v =>
                  // THIS commit's own stamps are authoritative — also
                  // when empty (Some(Nil): an unstamped commit stamps
                  // nothing; no metadata read needed to know that)
                  own.groupBy(_._1)
                    .map { case (k, rs) => (k, rs.map(_._2).max) }
                case _ =>
                  // ownTxn=None means UNKNOWN, not unstamped — vacuum's
                  // checkpoint advance passes no ownTxn, and treating
                  // that as "no stamps" would drop the newest version's
                  // stamps from the checkpoint forever (lastTxn only
                  // scans above the checkpoint version)
                  txnStampsOf(spark, root, vv)
              }
            stamps.foldLeft(m) { case (mm, (app, b)) =>
              mm.updated(app, math.max(mm.getOrElse(app, Long.MinValue), b))
            }
          }
        // snapshot bytes per covered version: the gap versions resolve
        // through [[completeSnapshotBytes]] (normally one just-written
        // `_sizes` read; a legacy vintage pays its distributed stat ONCE
        // here and never again), earlier entries carry forward — so a
        // deep history answers sizing from this file + the tail for
        // RETAINED versions only (vacuumed versions prune below: no
        // consumer sizes a version gone from the log). Per-version
        // best-effort: one unsizable version skips, never blocks. Only a
        // COMPLETE sizing is persisted — statRefs degrades an
        // unreachable ref to absent, and freezing that transient
        // undercount into the checkpoint would mis-report the version's
        // bytes FOREVER (checkpoint-first readers never recompute a
        // covered version); an uncovered version instead answers through
        // the live fileSizes road, which heals when the store does.
        val bytes0 = gap.sorted
          .foldLeft(prev.map(_.bytes).getOrElse(Map.empty[Long, Long])) { (m, vv) =>
            completeSnapshotBytes(spark, root, vv, knownBase = m.get) match {
              case Some(b) => m.updated(vv, b)
              case None => m
            }
          }
        // prune entries for versions vacuum has dropped: no consumer sizes
        // a version that's gone from the log (history/maintenance iterate
        // live versions only), and without the prune the map grows one
        // line per commit FOREVER instead of per retained version
        val gone = vacuumedVersions(spark, root)
        val bytes = if (gone.isEmpty) bytes0
                    else bytes0.filter { case (vv, _) => !gone.contains(vv) }
        f.mkdirs(checkpointDir(root))
        val tmp = new Path(checkpointDir(root),
          "ckpt." + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
        val body = (Seq(CkptFormatV + "\t" + v) ++
          txns.toSeq.sortBy(_._1).map { case (a, b) =>
            java.net.URLEncoder.encode(a, "UTF-8") + "\t" + b
          } ++
          bytes.toSeq.sorted.map { case (vv, len) =>
            s"$CkptBytesTag\t$vv\t$len"
          }).mkString("", "\n", "\n")
        val out = f.create(tmp, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        f.delete(checkpointFile(root), false)
        if (!f.rename(tmp, checkpointFile(root))) f.delete(tmp, false)
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[versioned-table] checkpoint skipped: ${e.getMessage}")
    }

  /** Write `df` as the next snapshot and publish it. Returns the committed
    * version NUMBER — dense publish order, decided at the marker rename
    * (winner-takes-version-N), and possibly lower than the claimed dir
    * name when earlier claims were burned. The data is written ONCE to a
    * private staging dir; claiming, moving and publishing are three
    * metadata operations (create, dir rename, marker rename) — a lost
    * race at either contention point costs one retried metadata op,
    * never a data rewrite.
    *
    * `preCommit(v)` runs AFTER the version claim and before anything is
    * published: an idempotence/conflict re-validation point (e.g. the
    * streaming upsert re-checking its txn high-water mark against commits
    * that landed since its read). A throw aborts the commit — the staging
    * data is removed and only the claimed-but-unpublished version number
    * remains, which later writers skip by protocol. */
  def commit(
      df: DataFrame, root: String, collectStats: Boolean = true,
      extras: Map[String, DataFrame] = Map.empty,
      bloomCols: Seq[String] = Nil,
      preCommit: Long => Unit = _ => (),
      partitionBy: Seq[String] = Nil,
      recordProperties: Option[Map[String, String]] = None,
      recordInfo: Map[String, String] = Map("operation" -> "write"),
      recordSchema: Option[org.apache.spark.sql.types.StructType] = None,
      routeChanges: Boolean = false): Long =
    commitWith(df, root, collectStats, extras, (_, _, _) => (), bloomCols,
      preCommit, partitionBy = partitionBy,
      recordProperties = recordProperties,
      recordInfo = recordInfo,
      recordSchema = recordSchema,
      routeChanges = routeChanges)

  /** Shared identity-allocation step of every commit road (commitWith,
    * commitCow, commitAppend, the SQL merge): populate the identity
    * columns the frame lacks from `props`' recorded high-waters and
    * return (populated frame, the high-water property advances to record
    * with THIS commit, the in-claim basis check). The check re-reads the
    * CURRENT version's properties — the publish loop re-runs every
    * preCommit after each lost race, so two concurrent allocators
    * serialize through the store's linearization point; the loser
    * surfaces ConcurrentWriteException into its caller's OCC retry loop
    * (or to a bare commit()'s caller). `idents0` lets the merge road
    * restrict allocation to the columns its actions did not assign. */
  private[graft] def identityAllocate(
      spark: SparkSession, root: String, df: DataFrame,
      props: Map[String, String], base: Option[Long],
      idents0: Option[Map[String, GeneratedCols.Identity]] = None)
      : (DataFrame, Map[String, String], Long => Unit, () => Unit) = {
    val idents = idents0.getOrElse(GeneratedCols.identitiesOf(props))
    if (idents.isEmpty) return (df, Map.empty, _ => (), () => ())
    val (df1, adv, release) = GeneratedCols.populateIdentity(df, idents, props)
    if (adv.isEmpty) return (df1, Map.empty, _ => (), release)
    val advProps = adv.map { case (c, (_, newHigh)) =>
      (GeneratedCols.IdentityHighPrefix + c) -> newHigh.toString
    }
    val check: Long => Unit = _ => currentVersion(spark, root).foreach { nowV =>
      val nowProps = propertiesOf(spark, root, nowV)
      adv.foreach { case (c, (basis, _)) =>
        if (nowProps.get(GeneratedCols.IdentityHighPrefix + c) != basis)
          throw new Sinks.ConcurrentWriteException(root, base, Some(nowV))
      }
    }
    (df1, advProps, check, release)
  }

  /** [[commit]] with a pre-publish hook: `finalize(fs, versionDir, v)`
    * runs after the staging dir is renamed into place but BEFORE the
    * commit marker is created — snapshot metadata written here (e.g. a
    * manifest) is guaranteed visible to every reader that can resolve the
    * version. A crash inside the hook leaves an unpublished dir, exactly
    * like any other pre-publish failure. */
  private def commitWith(
      df: DataFrame, root: String, collectStats: Boolean,
      extras: Map[String, DataFrame],
      finalizeVersion: (org.apache.hadoop.fs.FileSystem, Path, Long) => Unit,
      bloomCols: Seq[String] = Nil,
      preCommit: Long => Unit = _ => (),
      recordSchema: Option[org.apache.spark.sql.types.StructType] = None,
      recordConstraints: Option[Map[String, String]] = None,
      recordProperties: Option[Map[String, String]] = None,
      recordMapping: Option[(Map[String, String], Set[String])] = None,
      partitionBy: Seq[String] = Nil,
      recordInfo: Map[String, String] = Map.empty,
      extraReaderFeatures: Set[String] = Set.empty,
      routeChanges: Boolean = false): Long = {
    val profT0 = System.nanoTime()
    val spark = df.sparkSession
    val f = fs(spark, root)
    // PROTOCOL GATE: refuse to write against a table whose current
    // version requires features outside this build (and to read it —
    // every commit path reads the current state it commits against)
    currentVersion(spark, root).foreach(assertWritable(spark, root, _))
    // COLUMN MAPPING: data files always carry PHYSICAL names. None =
    // reset (a full rewrite re-births every column under its logical
    // name); COW/append/metadata paths pass the carried or updated map.
    val (colMap, retired) = recordMapping.getOrElse(
      (Map.empty[String, String], Set.empty[String]))
    // PARTITIONING: the recorded spec governs the write layout of EVERY
    // commit path (append, COW, maintenance — carried as a property); a
    // caller-supplied partitionBy is legal at table birth or when it
    // matches the recorded spec. Computed BEFORE the data write because
    // it shapes the staging layout.
    val carriedProps = recordProperties.getOrElse(
      currentVersion(spark, root)
        .map(cv => propertiesOf(spark, root, cv)).getOrElse(Map.empty))
    val recordedSpec = carriedProps.get(PartitionByProp)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    require(partitionBy.isEmpty || recordedSpec.isEmpty ||
      partitionBy == recordedSpec,
      s"$root is partitioned by (${recordedSpec.mkString(",")}); a commit " +
        s"cannot repartition it to (${partitionBy.mkString(",")})")
    val partSpec = if (partitionBy.nonEmpty) partitionBy else recordedSpec
    // GENERATED COLUMNS ([[GeneratedCols]], Delta's generation
    // expressions): a recorded `graft.generatedCol.<col>` populates the
    // column from its base when the frame lacks it — every commit road
    // (birth, append, COW, maintenance) funnels through here, so raw
    // event frames partition themselves. A frame that CARRIES the
    // column is enforced against the generator below (the constraints
    // pass) instead of trusted.
    val gens = GeneratedCols.of(carriedProps)
    val df0g = GeneratedCols.populate(df, gens,
      bornZone = carriedProps.get(GeneratedCols.ZoneProp),
      sessionZone = spark.sessionState.conf.sessionLocalTimeZone)
    // STORED generated expression columns + IDENTITY columns ride the
    // same funnel: population keyed on absence (a carried column is
    // enforced below / trusted, respectively), expression results cast
    // to the RECORDED type so the stored type never drifts, identity
    // values allocated densely above the recorded high-water with the
    // advance recorded in THIS commit and the basis RE-VALIDATED inside
    // the publish claim (idCheck chains into every preCommit run, which
    // the publish loop re-executes after each lost race) — two
    // concurrent allocators serialize through the store's linearization
    // point; the loser surfaces ConcurrentWriteException, which the
    // append/COW retry loops absorb and a bare commit() surfaces.
    val exprGens = GeneratedCols.exprsOf(carriedProps)
    // resolved ONLY when expression generators exist: the common
    // no-generator commit must not pay a version listing + schema read
    // for a cast map nothing consumes
    val exprTypes: Map[String, org.apache.spark.sql.types.DataType] =
      if (exprGens.isEmpty) Map.empty
      else recordSchema
        .orElse(currentVersion(spark, root).flatMap(cv =>
          scala.util.Try(schemaOf(spark, root, cv)).toOption))
        .map(_.map(sf => sf.name -> sf.dataType).toMap).getOrElse(Map.empty)
    val df0e = GeneratedCols.populateExprs(df0g, exprGens, exprTypes)
    val (df0, idAdvProps, idCheck, idRelease) =
      identityAllocate(spark, root, df0e, carriedProps, None)
    val preCommitId: Long => Unit = w => { idCheck(w); preCommit(w) }
    // ROUTED CHANGE FEED (one staged execution for data + feed — the
    // Delta-CDF write shape): the frame carries a `_change_type` column
    // whose NULL rows are the data snapshot and whose non-null rows are
    // the change images. The staged write partitions by it (a single
    // pass over the frame's plan — the join/slice computes ONCE where
    // the sidecar road executed it twice, concurrently); the driver then
    // moves the null-partition files up as the data layout and the typed
    // dirs under `_changes/`. Callers gate eligibility
    // ([[routableFeedTable]]); the requires here are the invariants the
    // move/readers depend on, enforced at the seam.
    if (routeChanges) {
      require(partSpec.isEmpty && colMap.isEmpty && retired.isEmpty &&
        gens.isEmpty && exprGens.isEmpty && idAdvProps.isEmpty &&
        GeneratedCols.identitiesOf(carriedProps).isEmpty,
        s"routed change-feed commit against $root requires an " +
          "unpartitioned, unmapped, generator-free table")
      require(!extras.contains("changes"),
        "routed change-feed commit cannot also carry a changes extra")
      require(df0.columns.exists(_ == "_change_type"),
        "routed change-feed commit needs a _change_type router column")
    }
    // the DATA schema of this commit — identical to df0.schema except on
    // the routed road, where the router column is layout, not data
    val dataSchemaOf: org.apache.spark.sql.types.StructType =
      if (!routeChanges) df0.schema
      else org.apache.spark.sql.types.StructType(
        df0.schema.filterNot(_.name == "_change_type"))
    // caller-provided = present WITHOUT the populate marker: a column
    // this library computed (here or on the append road) is correct by
    // construction and skips the enforcement scan; a column the caller
    // built — or REBUILT (withColumn drops metadata, so UPDATE ... SET
    // re-arms the check) — is verified on the staged batch below
    val callerProvidedGen = gens.keySet.filter(c =>
      df0.schema.find(_.name.equalsIgnoreCase(c))
        .exists(f => !GeneratedCols.isPopulated(f)))
    // ZONE PIN, enforcement side ([[GeneratedCols.populate]] carries the
    // population-side pin): CALLER-PROVIDED values are validated by the
    // enforcement scan, whose generator expression also evaluates in the
    // session zone — under a mismatched zone it would falsely refuse
    // valid rows (or falsely pass invalid ones), so require the birth
    // zone up front with a clear message. Commits that only CARRY table
    // values (a delete's rewrite: marker intact) pass in any zone.
    val sessionZone = spark.sessionState.conf.sessionLocalTimeZone
    val zoneSensitive = gens.values.exists(g =>
      df0.schema.find(_.name.equalsIgnoreCase(g.base))
        .exists(_.dataType == org.apache.spark.sql.types.TimestampType))
    if (callerProvidedGen.nonEmpty)
      carriedProps.get(GeneratedCols.ZoneProp).foreach { born =>
        require(!zoneSensitive || born == sessionZone,
          s"$root's generated columns were born under session time zone " +
            s"$born; this session runs $sessionZone — the enforcement of " +
            "caller-provided generated values would evaluate in the wrong " +
            s"zone. Set spark.sql.session.timeZone=$born to write")
      }
    val missingPart = partSpec.filterNot(df0.columns.contains)
    require(missingPart.isEmpty,
      s"partition column(s) missing from the frame: ${missingPart.mkString(",")}")
    require(df0.columns.forall(!_.startsWith(PartDirPrefix)),
      s"column names must not start with $PartDirPrefix " +
        "(reserved for the partition layout)")
    val propsToRecord = {
      val p0 =
        if (partSpec.isEmpty) carriedProps
        else carriedProps.updated(PartitionByProp, partSpec.mkString(","))
      // birth of a generator-carrying table: pin the session zone it was
      // populated under (see the ZONE PIN require above)
      val p1 =
        if (gens.isEmpty || p0.contains(GeneratedCols.ZoneProp)) p0
        else p0.updated(GeneratedCols.ZoneProp, sessionZone)
      // identity advance rides the SAME version as the allocated values
      p1 ++ idAdvProps
    }
    f.mkdirs(commitDir(root))
    f.mkdirs(claimDir(root))
    // (1) private data write — NO shared state touched, including session
    // conf. Timestamps should go out as INT64 micros (INT96 carries no
    // usable footer min/max, blinding the stats collection below); that
    // conf is pinned once at session build ([[graft.GraftSession]]), NOT
    // set/restored here: commits run concurrently (cube fan-out creates,
    // sibling MV refreshes via AggReplica.parallelOver), and two
    // overlapping save/restore pairs can capture each other's in-flight
    // value and leave the session permanently mutated (round-18
    // regression: every later LTZ write flipped to isAdjustedToUTC
    // micros and broke the external gate's schema compare).
    // self-built sessions (embedders bypassing GraftSession) silently
    // regress to INT96 otherwise — warn ONCE per JVM, don't degrade mutely
    if (spark.conf.get("spark.sql.parquet.outputTimestampType", "") !=
        "TIMESTAMP_MICROS" && tsWarnOnce.compareAndSet(false, true))
      maintLog.warn("spark.sql.parquet.outputTimestampType is not " +
        "TIMESTAMP_MICROS: INT96 timestamps carry no usable footer " +
        "min/max (stats pruning, z-order, statsAggregate degrade). " +
        "Build sessions via graft.GraftSession, which pins the conf.")
    val staging = new Path(root,
      "_staging/" + java.util.UUID.randomUUID().toString.take(12))
    // TXN STAMPS ARE METADATA, not data: every producer builds a
    // driver-local frame with one (app_id, batch_id) row per feed, so
    // collect() executes on the driver (LocalTableScan — no job) and
    // the stamps ride the grouped _meta object below instead of their
    // own parquet extra — deleting one whole Spark WRITE JOB (~0.3 s
    // of launch latency, plus a PUT-class create) from every stamped
    // commit: every MV create/refresh, every streaming micro-batch.
    val txnStamps: Seq[(String, Long)] = extras.get("txn").toSeq.flatMap(df =>
      df.collect().map(r =>
        (r.getAs[String]("app_id"), r.getAs[Long]("batch_id"))))
    val extrasData = extras - "txn"
    // set by the routed-move pass below: whether this commit's feed
    // actually landed as typed dirs (rows existed) — decides the
    // recorded layout marker and the reader feature
    var routedFeedLanded = false
    locally {
      // per-column parquet BLOOM FILTERS (probed by readWhere's equality
      // pruning): footer-adjacent, kilobytes per column per row group.
      // The frame and the bloom options write under PHYSICAL names.
      //
      // PARTITIONED tables duplicate each partition column under a
      // `p__` name and partitionBy the DUPLICATES: the layout gets
      // Hive-style `p__<col>=<val>/` leaves (one file never spans two
      // tuples — what metadata-only drop/overwrite and manifest pruning
      // need) while the data files keep every REAL column, so the read
      // paths stay layout-blind.
      val physSpec = partSpec.map(physicalName(colMap, _))
      val frame0 = physSpec.foldLeft(toPhysical(df0, colMap))((d, p) =>
        d.withColumn(PartDirPrefix + p, org.apache.spark.sql.functions.col(p)))
      // CLUSTER BY COMMIT-GENERATED PARTITION COLUMNS (guide §6 write
      // layout; r20 verdict ask #6): when a partition column was
      // POPULATED in this funnel (generated / stored-expression — the
      // caller could not have clustered by a column its frame did not
      // carry), hash the staged write by the partition spec so each
      // partition dir is written by its own task(s) instead of every
      // scan task serially creating every dir (q36: ~30 dirs from 1–2
      // tasks), and each file holds one partition value (manifest and
      // reader pruning). A caller-CARRIED partition column keeps the
      // caller's layout decision untouched (q30 clusters at the call
      // site; partition-overwrite and COW rewrites arrive pre-clustered
      // by construction).
      val populatedPartCols = partSpec.filter(p =>
        (gens.keys ++ exprGens.keys).exists(_.equalsIgnoreCase(p)) &&
          !df.columns.exists(_.equalsIgnoreCase(p)))
      val frame1 =
        if (populatedPartCols.isEmpty) frame0
        else frame0.repartition(physSpec.map(p =>
          org.apache.spark.sql.functions.col(PartDirPrefix + p)): _*)
      // routed road: the router column becomes the write's partition
      // column under a NON-underscore name (Spark's listings hide
      // `_`-prefixed dirs, which is exactly what keeps the typed dirs
      // invisible to data readers once they sit under `_changes/` — but
      // the partition DISCOVERY of the feed reader needs to see them)
      val frame =
        if (!routeChanges) frame1
        else frame1.withColumnRenamed("_change_type", RoutedCtCol)
      // APPEND, not Overwrite: the staging dir is a fresh UUID (nothing
      // to overwrite by construction), and Overwrite DELETES the target
      // dir first — which, now that the extras' jobs run concurrently
      // into `_`-prefixed SUBDIRS of this same dir, would race their
      // committers' `_temporary` trees out from under them
      val writer0 = frame.write.mode(SaveMode.Append)
      val writer1 =
        if (routeChanges) writer0.partitionBy(RoutedCtCol)
        else if (physSpec.isEmpty) writer0
        else writer0.partitionBy(physSpec.map(PartDirPrefix + _): _*)
      val writer = bloomCols.foldLeft(writer1) {
        (w, c) => w.option(
          s"parquet.bloom.filter.enabled#${physicalName(colMap, c)}", "true")
      }
      // side tables that belong to THIS snapshot (e.g. a change feed):
      // written under "_"-prefixed subdirs inside the staging dir, so they
      // rename, publish and vacuum atomically with their version and stay
      // invisible to plain snapshot readers. The COPY INTO loaded-file
      // ledger is NOT carried here: each COPY commits only its own
      // newly-loaded files ("copyfiles" delta) and readers fold the
      // union across versions ([[copyLedger]]) — so an unrelated commit
      // writes zero ledger bytes AND cannot race a COPY into publishing
      // with a stale ledger (the carry-forward read this replaced ran
      // outside the publish lock).
      extras.keys.foreach { name =>
        require(name.nonEmpty && name.forall(ch => ch.isLetterOrDigit || ch == '_'),
          s"extra table name must be alphanumeric/underscore: $name")
      }
      // the data write and each extra's write are INDEPENDENT Spark jobs
      // into disjoint staging subdirs — run them CONCURRENTLY. Commit
      // latency is the format family's dominant cost (the r17 profile:
      // a feed-carrying micro-batch commit pays 2–3 sequential ~0.3 s
      // write jobs whose compute is milliseconds), and at 100 TB the
      // same phases are object-store round trips a streaming micro-batch
      // pays per commit — overlap turns the sum into the max. Group
      // commit of the JOBS, not the files: the atomic-publish protocol
      // (claim → rename → marker) is untouched downstream.
      val stagingWrites: Seq[() => Unit] =
        (() => CommitProfiler.phase("data_write") {
          writer.parquet(staging.toString)
        }) +: extrasData.toSeq.map { case (name, extra) => () =>
          CommitProfiler.phase(s"extra_write:$name") {
            extra.write.mode(SaveMode.Overwrite)
              .parquet(new Path(staging, s"_$name").toString)
          }
        }
      if (stagingWrites.size == 1) stagingWrites.head()
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(
          Future.sequence(stagingWrites.map(t => Future(t()))), Duration.Inf)
      }
      // ROUTED MOVE: the single staged execution left
      //   <staging>/graft_ct=__HIVE_DEFAULT_PARTITION__/  (data rows)
      //   <staging>/graft_ct=<type>/                      (change images)
      // Promote the data files to the staging root (the normal flat
      // layout every downstream pass expects) and the typed dirs under
      // `_changes/`. Driver renames, O(files + types) — the same cost
      // class as the output committer's own job-commit renames. An
      // empty feed (no typed dirs) lands the legacy flat empty part
      // file instead, so such versions read on the unrouted road.
      if (routeChanges) CommitProfiler.phase("routed_move") {
        val nullDir = new Path(staging,
          s"$RoutedCtCol=__HIVE_DEFAULT_PARTITION__")
        if (f.exists(nullDir)) {
          f.listStatus(nullDir).foreach { s =>
            if (s.isFile && !f.rename(s.getPath,
                new Path(staging, s.getPath.getName)))
              throw new java.io.IOException(
                s"routed move failed: ${s.getPath} -> $staging")
          }
          f.delete(nullDir, true)
        }
        val typed = f.listStatus(staging).filter { s =>
          s.isDirectory && s.getPath.getName.startsWith(RoutedCtCol + "=")
        }
        val changesDir = new Path(staging, "_changes")
        if (typed.nonEmpty) {
          f.mkdirs(changesDir)
          typed.foreach { d =>
            if (!f.rename(d.getPath,
                new Path(changesDir, d.getPath.getName)))
              throw new java.io.IOException(
                s"routed move failed: ${d.getPath} -> $changesDir")
          }
          routedFeedLanded = true
        } else
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(dataSchemaOf.fields.toSeq :+
                org.apache.spark.sql.types.StructField("_change_type",
                  org.apache.spark.sql.types.StringType)))
            .repartition(1)
            .write.mode(SaveMode.Overwrite).parquet(changesDir.toString)
      }
      // an extra whose frame planned to ZERO partitions (an empty
      // LocalRelation feed) leaves a schemaless dir that
      // readExtra/readChanges cannot recover a schema from — land one
      // empty part file with the schema. One driver listStatus per
      // extra; the [[feedWritable]] probe this replaces re-executed the
      // whole feed computation under AQE just to count partitions.
      extrasData.foreach { case (name, extra) =>
        val d = new Path(staging, s"_$name")
        val hasPart = f.exists(d) && f.listStatus(d).exists { s =>
          val n = s.getPath.getName
          n.startsWith("part-") && n.endsWith(".parquet")
        }
        if (!hasPart)
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], extra.schema)
            .repartition(1)
            .write.mode(SaveMode.Overwrite).parquet(d.toString)
      }
      // DERIVED per-file bitmaps beside the row-level DV parquet: the
      // scan-integrated mask road ([[DvBitmaps]]) for reads above the
      // broadcast threshold. One O(mask) job per DV-carrying commit —
      // the same trade Delta makes writing DV files at delete time.
      // Inside staging, so the index publishes atomically with the mask.
      // FLOOR-GATED ([[DvBitmapFloorKey]]): a mask small enough that
      // every read broadcasts it skips the derivation job entirely —
      // the hourly small-delete workload pays zero extra jobs, and the
      // commit whose cumulative mask crosses the floor derives.
      if (extras.contains("dv")) {
        val dvStaged = new Path(staging, "_dv")
        val stagedBytes =
          if (!f.exists(dvStaged)) 0L
          else f.listStatus(dvStaged).iterator.filter(_.isFile).map(_.getLen).sum
        val floor = spark.conf
          .get(DvBitmapFloorKey, DvBitmapFloorDefault.toString).toLong
        if (stagedBytes > floor)
          CommitProfiler.phase("dv_bitmaps") { DvBitmaps.write(spark, dvStaged) }
      }
      // a DV DELTA level (the [[DvChain]] form) always derives its own bitmaps,
      // floor-free: the chain road needs EVERY contributing level's
      // `_DONE` (one absent level downgrades the whole read to the join
      // road until the next fold), and the job is O(own deletions) —
      // usually one task, far below the cumulative-mask rewrite this
      // form exists to avoid.
      if (extras.contains("dvdelta"))
        CommitProfiler.phase("dv_bitmaps") {
          DvBitmaps.write(spark, new Path(staging, "_dvdelta"))
        }
    }
    // (1b) footer-only stats pass → <staging>/_stats ("_" prefix: invisible
    // to snapshot readers, renamed + vacuumed atomically with the version)
    if (collectStats)
      CommitProfiler.phase("stats_footers") { TableStats.write(spark, f, staging) }
    // (1c) record the snapshot SCHEMA as commit metadata (the Delta
    // schema-in-the-log idea): readers apply it explicitly (by-name, so a
    // manifest spanning an evolution still reads as one frame) and the
    // COW/append paths validate against it instead of trusting the caller
    // A DATA commit never drops the schema CONTRACT: when no explicit
    // schema is recorded, each field lacking metadata inherits the
    // current schema's same-name field metadata (column defaults, the
    // populate marker) — projections strip StructField metadata, so
    // without this every full-rewrite writer (INSERT OVERWRITE, the
    // full-rewrite MERGE, the streaming upsert) would silently erase
    // EXISTS_DEFAULT et al. The invariant lives HERE, once, not in N
    // call sites' memories. Names and types stay the frame's (the full
    // rewrite may re-birth them); only metadata carries. A caller that
    // truly wants to drop metadata records an explicit schema.
    val schemaToRecord = recordSchema.getOrElse {
      currentVersion(spark, root).map(cv => schemaOf(spark, root, cv)) match {
        case None => dataSchemaOf
        case Some(prior) => org.apache.spark.sql.types.StructType(
          dataSchemaOf.map { fld =>
            if (fld.metadata != org.apache.spark.sql.types.Metadata.empty) fld
            else prior.find(_.name.equalsIgnoreCase(fld.name))
              .filter(_.metadata !=
                org.apache.spark.sql.types.Metadata.empty)
              .map(pf => fld.copy(metadata = pf.metadata))
              .getOrElse(fld)
          })
      }
    }
    val schemaJson = schemaToRecord.json
    // (1c..1f) the five per-version metadata records — schema, column
    // mapping (+retired names), CHECK constraints, table properties,
    // commit info — GROUP-COMMIT into ONE object
    // ([[groupedMetaFile]]): on an object store each separate sidecar
    // is its own PUT-class round trip paid per commit (per micro-batch
    // on a streaming/MV table), and all five are driver-sized. Section
    // absence inside the object preserves each record's absent-file
    // semantics exactly; OLD builds can't see the grouped object, so
    // every grouped commit records the `grouped-meta` READER feature in
    // the still-separate protocol record — the one sidecar that must
    // stay where a pre-grouping reader looks, so it refuses loudly
    // instead of serving a table without its schema/mapping. The
    // grouped map is accumulated here and written beside the protocol
    // record below.
    val groupedMeta = scala.collection.mutable.Map[String, String](
      GroupedSchemaKey -> schemaJson)
    // the logical→physical column mapping + retired birth names;
    // absent section = identity mapping
    if (colMap.nonEmpty || retired.nonEmpty)
      (colMap ++ (if (retired.nonEmpty)
        Map(RetiredKey -> retired.toSeq.sorted.mkString(","))
      else Map.empty)).foreach { case (k, v2) =>
        groupedMeta(GroupedMapPrefix + k) = v2 }
    // (1d) CHECK constraints (Delta invariants). Active = the current
    // version's set (None before v1). Enforcement scans only the STAGED
    // batch — columnar, one pass for all constraints: kept files were
    // validated when they were fresh and addConstraint validates the
    // whole table, so the table-wide invariant holds by induction. The
    // new version re-records the set (or the caller's explicit one, for
    // add/drop), so constraints survive every commit path.
    val activeConstraints = currentVersion(spark, root)
      .map(cv => constraintsOf(spark, root, cv)).getOrElse(Map.empty)
    // enforce the set RECORDED WITH THIS COMMIT (= active unless the
    // caller rewrites it — add/drop constraint, or RESTORE re-recording
    // the target era's set): enforcing the current era's set against a
    // commit that rolls metadata back would evaluate CHECKs over columns
    // the staged schema no longer has
    val constraintsToRecord = recordConstraints.getOrElse(activeConstraints)
    // GENERATED-COLUMN ENFORCEMENT rides the same staged scan: a frame
    // that carried a generated column itself must agree with the
    // generator row for row (null-safe — a null base generates a null
    // value, nothing else). Auto-populated columns are correct by
    // construction and skip the check. Enforced, never recorded: the
    // generator lives in the table properties, not the constraint set.
    val genChecks: Map[String, String] = gens.collect {
      case (c, g) if callerProvidedGen(c) =>
        (s"__generated_$c", s"`$c` <=> ${g.text}")
    }
    // stored expression columns enforce the same way: a caller-provided
    // value must agree with the generator row for row (null-safe) —
    // populated columns are correct by construction and skip
    val exprChecks: Map[String, String] = exprGens.collect {
      case (c, text) if df0.schema.find(_.name.equalsIgnoreCase(c))
          .exists(sf => !GeneratedCols.isPopulated(sf)) =>
        (s"__generated_$c", s"`$c` <=> (CAST(($text) AS " +
          df0.schema.find(_.name.equalsIgnoreCase(c)).get.dataType.sql + "))")
    }
    val checksToEnforce = constraintsToRecord ++ genChecks ++ exprChecks
    if (checksToEnforce.nonEmpty && dataFiles(f, staging).nonEmpty)
      // staged files carry physical names; constraints speak logical —
      // read physical, rename back before evaluating
      try CommitProfiler.phase("constraint_enforce") { enforceConstraints(spark,
        toLogical(spark.read.option("recursiveFileLookup", "true")
          .schema(physicalSchema(dataSchemaOf, colMap))
          .parquet(staging.toString), colMap),
        checksToEnforce, root) }
      catch { case e: Throwable => f.delete(staging, true); throw e }
    constraintsToRecord.foreach { case (k, v2) =>
      groupedMeta(GroupedCheckPrefix + k) = v2 }
    // table PROPERTIES carry the same way (schema/constraints/properties
    // are the three per-version metadata records); propsToRecord was
    // resolved before the write (the partition spec shapes the layout)
    propsToRecord.foreach { case (k, v2) =>
      groupedMeta(GroupedPropPrefix + k) = v2 }
    // (1e) PROTOCOL record: the features this version actually uses,
    // derived from what the commit carries — a future reader outside
    // these features' support refuses loudly instead of serving wrong
    // results (ignored DV masks resurrect deletes; ignored mapping
    // resolves renamed columns to nothing). Absent file = no
    // requirements, so pre-upgrade tables read unchanged.
    val readerFeats = Set(
      if (extras.contains("dv")) Some("deletion-vectors") else None,
      if (colMap.nonEmpty || retired.nonEmpty) Some("column-mapping") else None,
      if (propsToRecord.contains(PartitionByProp)) Some("partition-spec") else None,
      if (extras.contains("copyfiles") || extras.contains("copyfull"))
        Some("copy-ledger") else None,
      if (propsToRecord.get(WidenedTypesProp).contains("true"))
        Some("widened-types") else None,
      // a reader IGNORING the default metadata would serve null where
      // the table's contract says the default — silently wrong values
      if (schemaToRecord.exists(_.metadata.contains("EXISTS_DEFAULT")))
        Some("default-columns") else None,
      // the five metadata records live in ONE grouped object this
      // build writes; a pre-grouping reader looking for the per-file
      // sidecars would serve the table WITHOUT its schema/mapping/
      // constraints — refuse it here instead
      Some("grouped-meta"),
      // a VIRTUAL feed version has no _changes sidecar: a pre-virtual
      // reader would raise a confusing feed-gap error (or a stream
      // would mis-classify the version as feed-less) — refuse cleanly
      if (recordInfo.contains(ChangesFormKey))
        Some("virtual-change-feed") else None,
      // a ROUTED feed's sidecar holds `graft_ct=<type>/` dirs instead of
      // flat parquet: a pre-routing build's feed read would see an empty
      // dir (its listings hide nothing-but-subdirs) and serve an empty
      // feed — silently wrong; refuse loudly instead
      if (routedFeedLanded) Some("routed-change-feed") else None
    ).flatten ++
      // caller-declared features (e.g. commitCowInternal's delta-form
      // manifest — decided before this write, recorded with it)
      extraReaderFeatures
    // WRITER-ONLY features: stored values read as plain columns, but a
    // metadata-ignorant writer would append rows violating the
    // generation/identity contract — gate the write side only, as Delta
    // does for generatedColumns/identityColumns
    val writerOnlyFeats = Set(
      if (propsToRecord.keys.exists(k => k.startsWith(GeneratedCols.Prefix) ||
          k.startsWith(GeneratedCols.ExprPrefix)))
        Some("generated-columns") else None,
      if (propsToRecord.keys.exists(_.startsWith(GeneratedCols.IdentityPrefix)))
        Some("identity-columns") else None,
      // every commit this build publishes carries the TWO-LINE marker
      // (line 2 = in-commit timestamp). A WRITER feature, as the Delta
      // protocol gates inCommitTimestamp: any reader that takes the
      // marker's FIRST line resolves the data dir correctly without
      // understanding the stamp (history/time-travel merely fall back
      // to mtimes), so ICT-capable-but-flagless readers must keep
      // reading. An ignorant WRITER would publish one-line markers,
      // breaking the monotone-clamp contract the stamps provide —
      // that side is gated. Builds predating the marker syntax itself
      // fail on dir resolution regardless of any gate; the narrow build
      // window that checked features but parsed whole marker content now
      // gets that path error instead of a clean ProtocolException — the
      // accepted cost of letting every capable-but-flagless reader in.
      Some("in-commit-timestamps")
    ).flatten
    if (readerFeats.nonEmpty || writerOnlyFeats.nonEmpty)
      writeProps(f, new Path(new Path(staging, "_protocol"),
        "features.properties"),
        Map("reader" -> readerFeats.toSeq.sorted.mkString(","),
            "writer" -> (readerFeats ++ writerOnlyFeats).toSeq.sorted
              .mkString(",")))
    // (1f) COMMIT INFO: what operation produced this version (Delta's
    // commitInfo action). Informational for history, LOAD-BEARING for
    // concurrency: `blindAppend=true` is the stamp [[AppendRebase]]
    // trusts to merge a concurrent append into a losing writer's
    // manifest instead of recomputing the whole DML. Absent section =
    // an unknown operation, which conflict resolution treats as opaque.
    (recordInfo ++
      (if (routedFeedLanded) Map(ChangesLayoutKey -> "routed")
       else Map.empty)).foreach { case (k, v2) =>
      groupedMeta(GroupedInfoPrefix + k) = v2 }
    // txn stamps (collected driver-side above) ride the same object —
    // same atomicity as the parquet extra they replace (the grouped
    // file is staged BEFORE the rename/marker publish)
    txnStamps.foreach { case (a, b) =>
      groupedMeta(GroupedTxnPrefix + a) = b.toString }
    // each staged extra's schema, so [[readExtra]] reads it back without
    // a footer-inference job
    extrasData.foreach { case (name, extra) =>
      groupedMeta(GroupedExtraSchemaPrefix + name) = extra.schema.json }
    // ONE PUT lands schema + mapping + constraints + properties +
    // info + txn stamps
    writeProps(f, groupedMetaFile(staging), groupedMeta.toMap)
    // (2) claim the next version number with the store's atomic
    // create-if-absent ([[StoreAdapter.claim]] — O_EXCL on local fs,
    // NameNode create on HDFS, conditional PUT on object stores). Only
    // "the name is taken" counts as a lost race; any other IO failure is
    // real and must surface, not spin — and the attempt count is bounded
    // so a filesystem that misreports arbitrary failures as
    // already-exists cannot busy-loop the writer forever.
    val store = StoreAdapter.forFs(f)
    var v = math.max(
      listVersions(f, claimDir(root)).lastOption.getOrElse(0L),
      listVersions(f, commitDir(root)).lastOption.getOrElse(0L)) + 1
    var claimed = false
    var attempts = 0
    CommitProfiler.phase("version_claim") {
      while (!claimed) {
        attempts += 1
        if (attempts > 1000)
          throw new java.io.IOException(
            s"could not claim a version under $root after 1000 attempts")
        claimed = store.claim(f, new Path(claimDir(root), pad(v)))
        if (!claimed) v += 1
      }
    }
    // (2b) caller's pre-publish validation, run while holding the claim:
    // a throw aborts the commit — remove the staging data, keep the claim
    // (later writers skip claimed-but-unpublished numbers by protocol)
    try preCommitId(v)
    catch { case e: Throwable => f.delete(staging, true); throw e }
    // (3) move staging into place — we own v, so the dir is free modulo
    // garbage from a writer that crashed after claiming this very number.
    // The claim owns the DIRECTORY NAME only; the published version
    // NUMBER is decided at (4) and may be lower when other claims burned.
    val dir = versionDir(root, v)
    if (f.exists(dir)) f.delete(dir, true)
    if (!f.rename(staging, dir))
      throw new java.io.IOException(s"rename $staging -> $dir failed")
    // (3a') record the commit's OWN files' byte sizes (Delta's
    // AddFile.size): the listing below is the only metadata pass — its
    // FileStatus rows already carry the lengths, so maintenance never
    // again pays a per-file getFileStatus walk ([[fileSizes]]). Keyed
    // root-relative, the strings [[dataFileRefs]] returns. NEVER blocks
    // the commit (the TableStats rule): the sidecar is a derived
    // optimization with a complete stat-fallback road in the reader.
    try CommitProfiler.phase("file_sizes") { FileSizes.write(f, dir,
      dataFileRels(f, dir).map { case (st, rel) =>
        (f"v$v%08d/" + rel) -> st.getLen
      }) }
    catch {
      case e: Exception =>
        maintLog.warn(s"size-sidecar write skipped for $dir " +
          "(reads fall back to a distributed stat)", e)
    }
    // (3b) caller's pre-publish metadata (manifest, carried-forward stats)
    CommitProfiler.phase("finalize_manifest") { finalizeVersion(f, dir, v) }
    // (3c)+(4) publish — WINNER-TAKES-VERSION-N (the Delta commit-log
    // shape): the marker for number n = currentVersion+1 is created
    // ATOMICALLY-IF-ABSENT with content naming this commit's data dir
    // ([[StoreAdapter.putIfAbsent]] — temp-then-rename-no-overwrite on
    // HDFS semantics, link(2) on local fs, conditional PUT on object
    // stores that expose it). The create IS the linearization point —
    // two processes contending for n cannot both win, there is no
    // check-then-act window between re-validation and publish: a loser
    // re-runs the caller's validation (an OCC writer then raises its
    // conflict and rebases; a non-validating append just takes the next
    // number) and the race is decided by the store, not by timing. The
    // per-root monitor stays as the in-JVM fast path; object stores
    // WITHOUT conditional create keep the documented lost-update caveat
    // (configure `graft.store.adapter.<scheme>=conditional-put` where
    // the store has it). Validations must be idempotent (they are
    // re-checks by construction).
    val dirName = f"v$v%08d"
    val published = CommitProfiler.phase("publish_marker") {
      publishLock(f, root).synchronized {
      // CLAIM-NUMBER DISCIPLINE: the number contended for is always
      // (observed current)+1 with the observation taken BEFORE the
      // validation runs. Currents are monotone, so a validation that
      // passes proves the observation is still the validated state, and
      // any competing publish that lands after it necessarily owns
      // exactly this writer's number — the putIfAbsent below then FAILS
      // and the loop re-validates. (Observing AFTER validating — the
      // previous order — left a window where a commit that landed
      // between the two reads silently bumped n past it and a stale
      // merge published with no re-check: a cross-process lost update,
      // caught as a rare StoreAdapterSpec flake.)
      var n = currentVersion(spark, root).getOrElse(0L) + 1
      try preCommitId(v)
      catch { case e: Throwable => f.delete(dir, true); throw e }
      var won = -1L
      var spins = 0
      while (won < 0) {
        spins += 1
        if (spins > 1000) {
          f.delete(dir, true)
          throw new java.io.IOException(
            s"could not publish a commit marker under $root after 1000 attempts")
        }
        val target = new Path(commitDir(root), pad(n))
        // IN-COMMIT TIMESTAMP (marker line 2, [[commitTimeOf]]): the
        // wall clock clamped monotone against the PREDECESSOR's recorded
        // time — computed per attempt (a lost race re-targets n, so the
        // predecessor changes) through commitTimeOf's marker-identity
        // memo: one stat + (first time per version) one small read, the
        // AddFile-bookkeeping cost class. Deliberately NOT a bare
        // per-root cache: a table recreated at the same root mid-JVM
        // would satisfy a version-number match with the OLD table's
        // stamp and record non-monotone history; the identity-keyed memo
        // re-reads when the marker changes. TIMESTAMP AS OF and history
        // then resolve from what the commit SAID, not from file mtimes a
        // copy/restore rewrites.
        val prevIct: Long =
          if (n <= 1L) 0L
          else try commitTimeOf(spark, root, n - 1)
               catch { case _: Exception => 0L }
        val ict = math.max(System.currentTimeMillis(), prevIct + 1L)
        if (!store.putIfAbsent(f, target,
            (dirName + "\n" + ict + "\n").getBytes("UTF-8"))) {
          // lost n to another writer (necessarily another process — this
          // JVM is serialized by the monitor): observe the new current
          // FIRST, then re-validate, then contend for exactly
          // observed+1 (same discipline as the first attempt). The
          // PROTOCOL GATE re-runs against the newly observed current
          // version too — the concurrent winner may be a newer build
          // whose commit carries features this build cannot write over
          // (the entry-time assertWritable saw the pre-race state only).
          val cvNow = currentVersion(spark, root)
          val next = math.max(n + 1, cvNow.getOrElse(n) + 1)
          try preCommitId(next)
          catch { case e: Throwable => f.delete(dir, true); throw e }
          try cvNow.foreach(assertWritable(spark, root, _))
          catch { case e: Throwable => f.delete(dir, true); throw e }
          n = next
        } else won = n
      }
      won
    } }
    // (5) advance the version-log checkpoint — best-effort, OUTSIDE the
    // atomicity story (the publish above already decided the commit):
    // O(1) reader resolution instead of log scans, and txn high-water
    // marks that outlive vacuum
    CommitProfiler.phase("checkpoint") {
      // ALWAYS Some: Some(Nil) = known-unstamped (skip the metadata
      // re-read); None = unknown (writeCheckpoint reads the log)
      writeCheckpoint(spark, root, published, ownTxn = Some(txnStamps))
    }
    // free the identity pin's blocks (no-op when nothing allocated):
    // the staged write above was the pin's last consumer. Failure paths
    // between allocation and here leave the blocks to the JVM's block
    // manager (same cost class as an aborted staging dir); the retrying
    // roads allocate BEFORE this function and release per attempt.
    idRelease()
    CommitProfiler.add("commit_total", System.nanoTime() - profT0)
    published
  }

  /** The resolved data-dir NAME of a version — [[Bucketing]] maps
    * manifest-ref prefixes back to their origin versions with it. */
  private[graft] def dataDirNameOf(
      spark: SparkSession, root: String, v: Long): String =
    dataDirName(spark, root, v)

  /** Small-text read (commit markers, manifests); "" on any failure. */
  private def readTextFile(
      f: org.apache.hadoop.fs.FileSystem, p: Path): String =
    try {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    } catch { case _: Exception => "" }

  /** Resolve a PUBLISHED version number to its data directory NAME. The
    * commit marker's content names the dir: the winner-takes-N publish
    * can land a claim-named dir (e.g. `v00000008`) under a lower number
    * (e.g. 7) when earlier claims were burned by aborted commits. Empty
    * content — every pre-upgrade marker, and unreadable ones — falls
    * back to the identity name `v<padded>`, so old tables read exactly
    * as before. Markers are immutable once published, so resolutions
    * memoize (uncached while the marker is absent: an unpublished
    * number must not pin a wrong name). */
  /** Put with a wholesale-clear bound (the folded-memo discipline,
    * applied to every per-version metadata memo): entries key on
    * (root, version[, marker identity]) and a long-lived streaming/MV
    * driver mints a NEW version per micro-batch commit, so an unbounded
    * memo grows per version forever — slow driver-heap leak over weeks
    * of uptime. Entries are tiny (Longs, Maps, a StructType), so the
    * cap is generous; a clear is one cheap metadata re-read per warm
    * key, never a correctness event (all memoized content is immutable
    * per marker identity). */
  private val MemoCap = 8192
  private def memoPut[K, V](
      m: java.util.concurrent.ConcurrentHashMap[K, V], k: K, v: V): Unit = {
    if (m.size >= MemoCap) m.clear()
    m.put(k, v)
    ()
  }

  private val dirNames =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), String]()
  private def dataDirName(
      spark: SparkSession, root: String, v: Long): String = {
    val key = (root, v)
    val got = dirNames.get(key)
    if (got != null) got
    else {
      val f = fs(spark, root)
      val marker = new Path(commitDir(root), pad(v))
      if (!f.exists(marker)) f"v$v%08d"
      else {
        // FIRST line only: line 2, when present, is the in-commit
        // timestamp ([[commitTimeOf]]). MIXED-VERSION CAVEAT: a build
        // from before the second line parses the whole content as the
        // dir name and cannot read commits this build writes — the same
        // deployment class as the checkpoint's v2 header; upgrade
        // readers before writers share a table.
        val name = readTextFile(f, marker).linesIterator
          .map(_.trim).find(_.nonEmpty).getOrElse(f"v$v%08d")
        memoPut(dirNames, key, name)
        name
      }
    }
  }

  /** IN-COMMIT TIMESTAMP of version `v` (Delta's inCommitTimestamps):
    * the epoch-millis the WRITER recorded as the marker's second line at
    * publish, clamped monotone at write (`max(now, prev + 1)`) so
    * history and `TIMESTAMP AS OF` stay ordered even across writer clock
    * skew. Falls back to the marker's MODIFICATION TIME for pre-upgrade
    * vintages — which is exactly the clock this format resolved from
    * before, so old tables keep answering as they always did. The
    * mtime road is what in-commit stamps exist to replace: a
    * copied/restored table (or an object store that rewrites mtimes)
    * would otherwise re-date every commit to the copy time. Memoized on
    * the marker's identity (content is immutable once published). */
  private val commitTimes =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()
  def commitTimeOf(spark: SparkSession, root: String, v: Long): Long = {
    val key = (root, v, markerIdentity(spark, root, v))
    val got = commitTimes.get(key)
    if (got != null) got.longValue()
    else {
      val f = fs(spark, root)
      val marker = new Path(commitDir(root), pad(v))
      val status = f.getFileStatus(marker)
      val recorded = readTextFile(f, marker).linesIterator
        .map(_.trim).filter(_.nonEmpty).drop(1).nextOption()
        .flatMap(_.toLongOption)
      val t = recorded.getOrElse(status.getModificationTime)
      memoPut(commitTimes, key, java.lang.Long.valueOf(t))
      t
    }
  }

  /** The data directory of published version `v` — ALWAYS this, never
    * [[versionDir]], on a read path (versionDir names a CLAIM's dir and
    * the two diverge once any commit aborts). */
  private def dataDir(spark: SparkSession, root: String, v: Long): Path =
    new Path(root, dataDirName(spark, root, v))

  /** Per-root publish monitors: the in-JVM half of the concurrency story
    * (see the (3c) note in [[commitWith]]). Keyed by the CANONICAL root
    * (`makeQualified`: scheme and authority attached, `.`/`//` segments
    * normalized) so spelling variants of one path — `/lake/t`,
    * `file:/lake/t`, `/lake/./t` — share one monitor and take the fast
    * path. Canonicalization is textual: paths that genuinely differ
    * (symlinks, mounts) degrade to the cross-process filesystem
    * protocol, never to corruption. */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def publishLock(
      f: org.apache.hadoop.fs.FileSystem, root: String): Object =
    publishLocks.computeIfAbsent(
      f.makeQualified(new Path(root)).toString, _ => new Object)

  /** Read the latest committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      currentVersion(spark, root).getOrElse(
        throw new java.io.IOException(s"no committed version under $root")))

  // ---- delta-manifest commit form -----------------------------------------

  /** DELTA-MANIFEST commit form (the Delta-log adds/removes shape for
    * this format's MANIFEST sidecars): a commit whose carried set is
    * large writes `_manifest/delta.txt` — its BASE version, its chain
    * DEPTH, and only the refs it removed/added — instead of rewriting
    * the full manifest, stats and sizes sidecars. Readers FOLD the
    * chain (refs = base's refs − removed + added; stats/sizes = base's
    * ∪ own), and every [[DeltaFoldIntervalKey]]-th commit writes the
    * full form again, so a cold open reads a BOUNDED number of small
    * sidecars — the no-replay property the r14 measurement established
    * stays, while per-commit write cost drops from O(files) to
    * O(changed). Gated as a READER feature ("delta-manifest"): a build
    * folding nothing would list only the version dir's own fresh files
    * and silently serve a sliver of the table. */
  private[graft] final case class ManifestDelta(
      base: Long, depth: Int, removed: Set[String], added: Seq[String])

  /** Chain length before a commit writes the full form again — bounds
    * both the cold-open sidecar reads and vacuum's materialization. */
  private[graft] val DeltaFoldIntervalKey = "spark.graft.manifest.foldInterval"
  private[graft] val DeltaFoldIntervalDefault = 20

  /** Carried-ref floor below which the full form is cheaper than the
    * fold reads it saves — a ten-file table gains nothing from a chain. */
  private[graft] val DeltaFloorKey = "spark.graft.manifest.deltaFloor"
  private[graft] val DeltaFloorDefault = 64

  private def deltaManifestFile(spark: SparkSession, root: String, v: Long) =
    new Path(new Path(dataDir(spark, root, v), "_manifest"), "delta.txt")

  /** The delta record of version `v`, None for full-form versions.
    * Line 1: `<base>\t<depth>`; then one ref per line, `-` = removed
    * vs base, `+` = added (this commit's own files + rebased-in refs). */
  private[graft] def manifestDeltaOf(
      spark: SparkSession, root: String, v: Long): Option[ManifestDelta] = {
    val f = fs(spark, root)
    val df = deltaManifestFile(spark, root, v)
    if (!f.exists(df)) None
    else {
      val in = f.open(df)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      val lines = text.split('\n').toSeq.filter(_.nonEmpty)
      // validate shape up front: a truncated/empty sidecar (crash
      // between create and write) must name ITSELF, not surface as a
      // NoSuchElement deep inside a fold
      val head = lines.headOption.map(_.split('\t')).getOrElse(Array.empty)
      if (head.length < 2 || head(0).toLongOption.isEmpty ||
          head(1).toIntOption.isEmpty)
        throw new java.io.IOException(
          s"corrupt delta-manifest sidecar $df — expected '<base>\\t<depth>' " +
            s"header, got ${lines.headOption.getOrElse("<empty>")}")
      // a body line without its +/- prefix (external corruption, partial
      // copy) must fail the SAME way — silently dropping it would fold
      // to a smaller ref set and serve a subset of the version
      lines.tail.find(l => !l.startsWith("+") && !l.startsWith("-"))
        .foreach { bad =>
          throw new java.io.IOException(
            s"corrupt delta-manifest sidecar $df — body line without " +
              s"'+'/'-' prefix: $bad")
        }
      Some(ManifestDelta(head(0).toLong, head(1).toInt,
        lines.tail.collect { case l if l.startsWith("-") => l.drop(1) }.toSet,
        lines.tail.collect { case l if l.startsWith("+") => l.drop(1) }))
    }
  }

  private[graft] def writeManifestDelta(
      f: org.apache.hadoop.fs.FileSystem, dir: Path, d: ManifestDelta): Unit = {
    val out = f.create(new Path(new Path(dir, "_manifest"), "delta.txt"), true)
    try out.write(
      ((s"${d.base}\t${d.depth}" +: d.removed.toSeq.sorted.map("-" + _)) ++
        d.added.map("+" + _)).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Folded manifests are immutable once published — memoized per
    * (root, version, marker identity) so the hot path (current-version
    * reads under a streaming writer) folds once per version per JVM.
    * Bounded: cleared wholesale past a cap (folds rebuild in ≤ interval
    * small reads — a cheap miss, never a correctness event). */
  private val foldedManifestMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Seq[String]]()

  /** A MANIFEST snapshot's data-file list (root-relative paths, possibly
    * reaching into EARLIER version dirs — the copy-on-write form), or
    * None for a plain directory snapshot. The manifest is a driver-sized
    * text file: O(files), the same scale as Delta's log entry. Delta-form
    * versions ([[ManifestDelta]]) FOLD here: walk base pointers to the
    * nearest full form (≤ fold-interval small reads), then apply each
    * level's removes/adds forward — so every consumer of this accessor
    * (scans, vacuum, clones, history) is delta-blind. */
  def manifestOf(spark: SparkSession, root: String, v: Long): Option[Seq[String]] = {
    val f = fs(spark, root)
    val mf = new Path(new Path(dataDir(spark, root, v), "_manifest"), "manifest.txt")
    // ORDER MATTERS for crash safety: delta.txt is authoritative while
    // both exist. Normal commits publish exactly one form; the only
    // both-present state is a [[materializeManifest]] interrupted between
    // writing manifest.txt and deleting delta.txt — there the chain is
    // still intact (vacuum materializes BEFORE dropping bases), so the
    // fold serves the exact content, while a half-written manifest.txt
    // could silently serve a sliver. The write itself is also
    // temp-then-rename, so this is defense in depth.
    if (!f.exists(deltaManifestFile(spark, root, v)) && f.exists(mf)) {
      // full form memoizes too (content is immutable per marker
      // identity): warm reads skip the O(refs) file read, and the whole-
      // kept commit fast path can recognize the CURRENT snapshot's ref
      // list BY INSTANCE ([[commitCowInternal]]'s keptIsWhole)
      val key = (root, v, markerIdentity(spark, root, v))
      val got = foldedManifestMemo.get(key)
      if (got != null) Some(got)
      else {
        val in = f.open(mf)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        val refs = text.split('\n').toSeq.filter(_.nonEmpty)
        if (foldedManifestMemo.size >= 128) foldedManifestMemo.clear()
        foldedManifestMemo.put(key, refs)
        Some(refs)
      }
    } else manifestDeltaOf(spark, root, v).map { d0 =>
      val key = (root, v, markerIdentity(spark, root, v))
      val got = foldedManifestMemo.get(key)
      if (got != null) got
      else {
        // walk back to the nearest full form OR memoized fold, then
        // fold forward — memoizing EVERY level on the way, so a
        // newest-first sweep (history, vacuum) pays the chain walk once
        // rather than once per version
        var chain = List((v, d0))
        var baseRefs: Seq[String] = null
        while (baseRefs == null) {
          val b = chain.head._2.base
          val memod = foldedManifestMemo.get(
            (root, b, markerIdentity(spark, root, b)))
          if (memod != null) baseRefs = memod
          else manifestDeltaOf(spark, root, b) match {
            case Some(d) => chain = (b, d) :: chain
            case None => baseRefs = dataFileRefs(spark, root, b)
          }
        }
        if (foldedManifestMemo.size + chain.size > 128)
          foldedManifestMemo.clear()
        chain.foldLeft(baseRefs) { case (refs, (lv, d)) =>
          val folded = refs.filterNot(d.removed) ++ d.added
          foldedManifestMemo.put(
            (root, lv, markerIdentity(spark, root, lv)), folded)
          folded
        }
      }
    }
  }

  /** Folded stats are immutable once published — memoized like
    * [[foldedManifestMemo]] (delta-form versions only; full forms stay
    * one direct load as before), bounded by a wholesale clear. Without
    * the memo a table at delta depth d pays O(d²) sidecar loads per
    * scan (each level re-folds its base). */
  private val foldedStatsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long),
    Map[String, Map[String, (String, Option[String], Option[String], Long, Long)]]]()

  /** Version `v`'s per-file column stats, delta-aware: full-form
    * versions read their own `_stats` table; delta-form versions fold
    * the base's stats under their own adds', restricted to the folded
    * ref set. A file the fold cannot cover stays ABSENT — every
    * consumer already treats a missing entry conservatively (pruning
    * keeps the file, aggregates return None). */
  private[graft] def statsOf(
      spark: SparkSession, root: String, v: Long)
      : Map[String, Map[String, (String, Option[String], Option[String], Long, Long)]] =
    manifestDeltaOf(spark, root, v) match {
      case None =>
        TableStats.load(spark, new Path(dataDir(spark, root, v), "_stats"))
      case Some(d) =>
        val key = (root, v, markerIdentity(spark, root, v))
        val got = foldedStatsMemo.get(key)
        if (got != null) got
        else {
          val own = TableStats.load(spark, new Path(dataDir(spark, root, v), "_stats"))
          val refs = manifestOf(spark, root, v).getOrElse(Nil).toSet
          val folded = (statsOf(spark, root, d.base) ++ own)
            .filter { case (k, _) => refs(k) }
          if (foldedStatsMemo.size > 64) foldedStatsMemo.clear()
          foldedStatsMemo.put(key, folded)
          folded
        }
    }

  /** Rewrite a DELTA-form version as its own FULL form — folded
    * manifest, stats and sizes written into its dir, the delta record
    * removed. Called by vacuum for retained versions whose base is
    * about to drop (the fold backbone would go with the base's dir);
    * idempotent and derived-only (the folded content is exactly what
    * readers already served), so a crash mid-write merely re-runs. The
    * version's protocol record keeps the "delta-manifest" feature — a
    * conservative over-claim that only affects builds predating the
    * feature, which could not have vacuumed this table anyway. */
  /** Remove a version's `_dvdelta` level with the `_bitmaps/_DONE`
    * marker deleted FIRST: an in-flight reader's executor probe treats
    * an absent bitmap bin as "no deletions" only while `_DONE` exists
    * ([[DvBitmaps.load]]'s re-probe), and a recursive delete's
    * file-visit order is unspecified (local-fs listing order, object-
    * store batch order) — without the explicit marker-first delete
    * there is a window where a bin is gone but `_DONE` survives and a
    * reader silently RESURRECTS the level's deleted rows. Marker gone
    * first makes the re-probe's invariant (bins gone ⇒ `_DONE` gone)
    * hold under ANY deletion order. */
  private def dropDvDelta(
      f: org.apache.hadoop.fs.FileSystem, dir: Path): Unit = {
    val marker = new Path(new Path(new Path(dir, "_dvdelta"),
      DvBitmaps.DirName), DvBitmaps.DoneMarker)
    if (f.exists(marker)) f.delete(marker, false)
    f.delete(new Path(dir, "_dvdelta"), true)
  }

  private def materializeManifest(
      spark: SparkSession, root: String, v: Long): Unit = {
    val f = fs(spark, root)
    val dir = dataDir(spark, root, v)
    val refs = manifestOf(spark, root, v).getOrElse(return)
    val stats = statsOf(spark, root, v)
    val sizes = recordedSizes(spark, root, v)
    // DV chain first, while the manifest chain is still intact (the DV
    // fold walks the same base pointers): write the folded mask as this
    // version's own full `_dv`, temp-then-rename so a crash can never
    // publish a partial mask (a full `_dv` is authoritative once it
    // exists). An EMPTY fold still writes the (zero-row, schema-carrying)
    // sidecar: LATER retained levels chain onto this version, and their
    // fold requires a mask-carrying base — dropping the sidecar here
    // would sever them (the chain invariant the commit path maintains
    // via its baseHasDv gate).
    dvChainInfo(spark, root, v) match {
      // barrier == v implies levels.isEmpty (the walk exits on its
      // first iteration) — only genuinely chained versions materialize
      case Some(chain) if chain.barrier != v =>
        val folded = dvOf(spark, root, v).get
        val tmp = new Path(dir, "_dvtmp")
        if (f.exists(tmp)) f.delete(tmp, true)
        feedWritable(folded).write.mode(SaveMode.Overwrite)
          .parquet(tmp.toString)
        // the staging-path ensure-readable backstop, applied to this
        // direct write too (r20 advice): an EMPTY fold can plan to zero
        // partitions and leave a schemaless dir — but the comment above
        // requires a zero-row, SCHEMA-CARRYING sidecar (later chained
        // levels fold against a mask-carrying base). One driver
        // listStatus; lands an empty part file only when none exists.
        val hasPart = f.exists(tmp) && f.listStatus(tmp).exists { st =>
          val n = st.getPath.getName
          n.startsWith("part-") && n.endsWith(".parquet")
        }
        if (!hasPart)
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              folded.schema)
            .repartition(1)
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val dvDir = new Path(dir, "_dv")
        if (f.exists(dvDir)) f.delete(dvDir, true)
        if (!f.rename(tmp, dvDir))
          throw new java.io.IOException(s"rename $tmp -> $dvDir failed")
        // re-derive the scan-integrated index above the floor, as the
        // full-form commit path does (never blocks — reads fall back)
        val bytes = f.listStatus(dvDir).iterator
          .filter(_.isFile).map(_.getLen).sum
        val floor = spark.conf
          .get(DvBitmapFloorKey, DvBitmapFloorDefault.toString).toLong
        if (bytes > floor) DvBitmaps.write(spark, dvDir)
        dropDvDelta(f, dir)
      case _ =>
        // healed already (crash re-run), never chained, or mask-free:
        // drop any leftover delta level — `_dv` is authoritative
        dropDvDelta(f, dir)
    }
    // all-or-nothing, as every FULL stats table
    if (refs.nonEmpty && refs.forall(stats.contains))
      TableStats.writeRows(f, dir, refs.flatMap { r =>
        stats(r).toSeq.map { case (c, (k, mn, mx, nu, nr)) =>
          (r, c, k, mn, mx, nu, nr) }
      })
    else f.delete(new Path(dir, "_stats"), true)
    FileSizes.write(f, dir, refs.flatMap(r => sizes.get(r).map(r -> _)))
    // temp-then-rename: a crash mid-write must never leave a truncated
    // manifest.txt in a published dir (and [[manifestOf]] additionally
    // prefers delta.txt while both exist, so even a non-atomic rename
    // window serves the folded chain, never a sliver)
    val mdir = new Path(dir, "_manifest")
    val tmp = new Path(mdir, "manifest.txt.tmp")
    val out = f.create(tmp, true)
    try out.write(refs.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val fin = new Path(mdir, "manifest.txt")
    if (f.exists(fin)) f.delete(fin, false)
    if (!f.rename(tmp, fin))
      throw new java.io.IOException(s"rename $tmp -> $fin failed")
    f.delete(deltaManifestFile(spark, root, v), false)
  }

  /** Version `v`'s commit-recorded file sizes, delta-aware (the chain's
    * union, later levels winning). Lookup-keyed by ref — entries for
    * since-removed files along the chain are harmless and bounded by
    * the fold interval. */
  /** Recorded (sidecar) sizes of version `v`'s data files for callers
    * that must NOT fall back to a distributed stat (the SQL merge's
    * join-persist gate): pure driver metadata reads; a ref without a
    * recorded size is simply absent and the caller treats absence as
    * "unknown — assume big". */
  private[graft] def recordedFileSizes(
      spark: SparkSession, root: String, v: Long): Map[String, Long] =
    recordedSizes(spark, root, v)

  private def recordedSizes(
      spark: SparkSession, root: String, v: Long): Map[String, Long] =
    manifestDeltaOf(spark, root, v) match {
      case None => FileSizes.load(fs(spark, root), dataDir(spark, root, v))
      case Some(d) =>
        recordedSizes(spark, root, d.base) ++
          FileSizes.load(fs(spark, root), dataDir(spark, root, v))
    }

  /** Version `v`'s data files as root-relative paths — the manifest when
    * present, else the version dir's own part files. Public for COW
    * writers that need the kept-file complement of a touched set (the
    * SQL MERGE pruning); the refs are exactly what [[commitCow]] accepts
    * as `keptFiles`. */
  def dataFileRefs(
      spark: SparkSession, root: String, v: Long): Seq[String] =
    manifestOf(spark, root, v).getOrElse {
      dataFileRels(fs(spark, root), dataDir(spark, root, v))
        .map { case (_, rel) => dataDirName(spark, root, v) + "/" + rel }
    }

  /** The schema RECORDED for version `v` at commit time, or None for
    * snapshots committed before schema tracking — callers fall back to
    * parquet inference, so a pre-upgrade table keeps reading (and records
    * a schema on its next commit). */
  def tableSchema(
      spark: SparkSession, root: String, v: Long)
      : Option[org.apache.spark.sql.types.StructType] = {
    // memoized on the marker identity like the sidecar properties —
    // schema.json is immutable once the version publishes, every read
    // road resolves it, and StructType is immutable so sharing is safe
    val key = (root, v, markerIdentity(spark, root, v))
    val got = schemaMemo.get(key)
    if (got != null) got
    else {
      val read: Option[org.apache.spark.sql.types.StructType] = {
        // grouped vintages carry the schema JSON in the one metadata
        // object (already memoized); only pre-grouping versions pay the
        // separate schema.json read
        val text: Option[String] =
          groupedMetaOf(spark, root, v).get(GroupedSchemaKey).orElse {
            val f = fs(spark, root)
            val p = new Path(new Path(dataDir(spark, root, v), "_schema"),
              "schema.json")
            // direct open (absent → the existing catch-all None): the
            // exists() probe was a second round trip per schema read
            try {
              val in = f.open(p)
              try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
              finally in.close()
            } catch { case _: Exception => None }
          }
        try text.map(org.apache.spark.sql.types.DataType.fromJson(_)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        catch { case _: Exception => None }
      }
      memoPut(schemaMemo, key, read)
      read
    }
  }
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Option[org.apache.spark.sql.types.StructType]]()

  // ---- protocol: table features (reader/writer gate) ----------------------

  /** Features THIS build can read correctly. A version that requires a
    * feature outside this set must refuse to read — serving it anyway
    * would be silently wrong (e.g. a reader that ignores deletion
    * vectors resurrects deleted rows). The Delta protocol-versioning
    * idea, table-features form. */
  val SupportedReaderFeatures: Set[String] = Set(
    "deletion-vectors", "column-mapping", "partition-spec",
    "widened-types", "copy-ledger", "default-columns",
    "in-commit-timestamps", "delta-manifest", "dv-delta", "grouped-meta",
    "virtual-change-feed", "routed-change-feed")

  /** Features THIS build can write against. Writing to a table whose
    * current version requires an unknown feature could break that
    * feature's invariants (e.g. appending without maintaining a future
    * index structure). Generated/identity columns are WRITER-ONLY: the
    * stored values read as plain columns, but an ignorant writer would
    * append rows violating the generation contract. */
  val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures ++ Set("generated-columns", "identity-columns")

  /** A version requires features outside what this build supports. */
  final case class ProtocolException(
      root: String, version: Long, missing: Set[String], side: String)
    extends java.io.IOException(
      s"version $version of $root requires $side feature(s) this build " +
        s"does not support: ${missing.toSeq.sorted.mkString(", ")} — " +
        "upgrade the library to read/write this table")

  private def protocolPath(spark: SparkSession, root: String, v: Long): Path =
    new Path(new Path(dataDir(spark, root, v), "_protocol"),
      "features.properties")

  /** (readerFeatures, writerFeatures) RECORDED for version `v`; empty
    * sets for pre-upgrade versions (absent file) — old tables keep
    * reading exactly as before. */
  def protocolOf(
      spark: SparkSession, root: String, v: Long): (Set[String], Set[String]) = {
    val props = readVersionProps(spark, root, v, protocolPath(spark, root, v))
    def split(k: String) = props.get(k)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    (split("reader"), split("writer"))
  }

  /** Memo of versions proved readable/writable — the protocol record is
    * immutable once published, so each (root, version) pays the probe
    * once per JVM. Failures are NOT memoized (an operator fixing the
    * table in place during tests must be re-probed). The key carries the
    * COMMIT MARKER's modification time so that a table deleted and
    * recreated at the same root (common in tests/dev) cannot ride a
    * stale OK from the previous incarnation: the recreated version's
    * marker is a new file with a new mtime, so it pays a fresh probe.
    * Cost of the identity check: one `getFileStatus` per assert — still
    * far below the properties-file read the memo avoids. */
  private val protocolOk =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long, Long, String)]()

  /** The commit marker's mtime — the version's IDENTITY for per-JVM
    * memos (same root + same number + recreated table ⇒ different
    * mtime). -1 when the marker is unreadable (never memo-matches). */
  private[graft] def markerIdentity(
      spark: SparkSession, root: String, v: Long): Long =
    try fs(spark, root)
      .getFileStatus(new Path(commitDir(root), pad(v))).getModificationTime
    catch { case _: Exception => -1L }

  private[sources] def assertReadable(
      spark: SparkSession, root: String, v: Long): Unit = {
    val key = (root, v, markerIdentity(spark, root, v), "r")
    if (!protocolOk.contains(key)) {
      val missing = protocolOf(spark, root, v)._1 -- SupportedReaderFeatures
      if (missing.nonEmpty) throw ProtocolException(root, v, missing, "reader")
      if (protocolOk.size >= MemoCap) protocolOk.clear()
      protocolOk.add(key)
    }
  }

  private def assertWritable(
      spark: SparkSession, root: String, v: Long): Unit = {
    val key = (root, v, markerIdentity(spark, root, v), "w")
    if (!protocolOk.contains(key)) {
      val (r, w) = protocolOf(spark, root, v)
      // a writer must also READ the current state to commit against it
      val missing = (r -- SupportedReaderFeatures) ++ (w -- SupportedWriterFeatures)
      if (missing.nonEmpty) throw ProtocolException(root, v, missing, "writer")
      if (protocolOk.size >= MemoCap) protocolOk.clear()
      protocolOk.add(key)
    }
  }

  // ---- column mapping (metadata-only rename/drop) -------------------------

  private val RetiredKey = "__retired"

  // ---- grouped per-version metadata ---------------------------------------
  //
  // The five driver-sized per-version records — schema, column mapping,
  // CHECK constraints, table properties, commit info — land in ONE
  // `_meta/commit.properties` object per commit (one PUT instead of up
  // to five; one GET warms every record's memo on read). Sections are
  // key-prefixed; a record's old "absent file" semantics become "no
  // keys with my prefix". The grouped form always carries the schema,
  // so an EMPTY grouped map ⇔ the file is absent ⇔ a pre-grouping
  // vintage — readers fall back to the per-file sidecars, and the
  // `grouped-meta` reader feature (recorded in the still-separate
  // protocol sidecar) keeps pre-grouping BUILDS from misreading a
  // grouped version as "no metadata".
  private val GroupedSchemaKey = "schema"
  private val GroupedMapPrefix = "m."
  private val GroupedCheckPrefix = "c."
  private val GroupedPropPrefix = "p."
  private val GroupedInfoPrefix = "i."
  private val GroupedTxnPrefix = "t."
  private val GroupedExtraSchemaPrefix = "x."

  /** The schema extra `name` was staged with at version `v` — recorded
    * in the grouped `_meta` object by [[commitWith]]. None for versions
    * written before the record existed, or when the extra was written
    * outside a commit. */
  private def extraSchemaOf(
      spark: SparkSession, root: String, v: Long,
      name: String): Option[org.apache.spark.sql.types.StructType] =
    groupedMetaOf(spark, root, v).get(GroupedExtraSchemaPrefix + name)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Transaction stamps recorded with version `v` — app_id → high-water
    * batch_id. Grouped vintages read them from the one _meta object
    * (driver-side, memoized, NO Spark job); pre-grouping vintages fall
    * back to the `txn` parquet extra. */
  def txnStampsOf(
      spark: SparkSession, root: String, v: Long): Map[String, Long] = {
    val g = groupedMetaOf(spark, root, v)
    if (g.nonEmpty)
      groupedSection(g, GroupedTxnPrefix).map { case (k, s) => (k, s.toLong) }
    else readExtra(spark, root, v, "txn") match {
      case Some(df) => df.collect()
        .map(r => (r.getAs[String]("app_id"), r.getAs[Long]("batch_id")))
        .groupBy(_._1).map { case (k, rs) => (k, rs.map(_._2).max) }
      case None => Map.empty
    }
  }
  /** Cheap boolean face of [[txnStampsOf]]: "is version `v` stamped?"
    * without materializing the stamps. Grouped vintages answer from the
    * memoized _meta object; pre-grouping vintages answer with ONE
    * `exists` stat on the `_txn` extra dir instead of a Spark parquet
    * read — DESCRIBE HISTORY / vacuum over a long legacy log would
    * otherwise pay O(versions) job launches for a yes/no. (Grouped
    * commits never write a `_txn` parquet — extras drops "txn" before
    * staging — so the two probes cannot disagree.) */
  def hasTxnStamps(spark: SparkSession, root: String, v: Long): Boolean = {
    val g = groupedMetaOf(spark, root, v)
    if (g.nonEmpty) g.keys.exists(_.startsWith(GroupedTxnPrefix))
    else fs(spark, root).exists(new Path(dataDir(spark, root, v), "_txn"))
  }
  private def groupedMetaFile(versionDir: Path): Path =
    new Path(new Path(versionDir, "_meta"), "commit.properties")
  private def groupedMetaOf(
      spark: SparkSession, root: String, v: Long): Map[String, String] =
    readVersionProps(spark, root, v,
      groupedMetaFile(dataDir(spark, root, v)))
  private def groupedSection(
      g: Map[String, String], prefix: String): Map[String, String] =
    g.collect { case (k, v) if k.startsWith(prefix) =>
      (k.substring(prefix.length), v) }

  private def mappingPath(spark: SparkSession, root: String, v: Long): Path =
    new Path(new Path(dataDir(spark, root, v), "_schema"), "mapping.properties")

  /** LOGICAL→PHYSICAL column mapping recorded for version `v` (Delta
    * column mapping, name mode): physical names are birth names frozen
    * into the parquet files; RENAME/DROP COLUMN only rewrite this map and
    * the logical schema — zero data files touched, whatever the table
    * size. Identity entries are omitted; an absent file means the
    * identity mapping (every table before its first rename). */
  def columnMapping(
      spark: SparkSession, root: String, v: Long): Map[String, String] = {
    val g = groupedMetaOf(spark, root, v)
    (if (g.nonEmpty) groupedSection(g, GroupedMapPrefix)
     else readVersionProps(spark, root, v, mappingPath(spark, root, v))) -
      RetiredKey
  }

  /** Physical names RETIRED by a DROP COLUMN (or freed by a rename and
    * then shadowed): a later evolveSchema add with the same logical name
    * must mint a FRESH physical name, or old files' stale values would
    * resurrect through by-name parquet resolution. */
  private def retiredPhysicals(
      spark: SparkSession, root: String, v: Long): Set[String] = {
    val g = groupedMetaOf(spark, root, v)
    (if (g.nonEmpty) g.get(GroupedMapPrefix + RetiredKey)
     else readVersionProps(spark, root, v, mappingPath(spark, root, v))
       .get(RetiredKey))
      .map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty)
  }

  private def physicalName(mapping: Map[String, String], c: String): String =
    mapping.getOrElse(c, c)

  private def physicalSchema(
      logical: org.apache.spark.sql.types.StructType,
      mapping: Map[String, String]): org.apache.spark.sql.types.StructType =
    if (mapping.isEmpty) logical
    else org.apache.spark.sql.types.StructType(
      logical.map(f => f.copy(name = physicalName(mapping, f.name))))

  /** Rename a scanned (physical-named) frame to the logical schema.
    * Leaves unmapped columns — including `__dv_*` tags and exposed ref
    * columns — untouched. */
  private def toLogical(
      df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.withColumnsRenamed(mapping.map(_.swap))

  /** Rename a logical frame to physical names for a data-file write. */
  private def toPhysical(
      df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df else df.withColumnsRenamed(mapping)

  /** Version `v`'s effective schema: recorded when available, else
    * inferred from the snapshot's parquet footers. */
  private def schemaOf(
      spark: SparkSession, root: String, v: Long)
      : org.apache.spark.sql.types.StructType =
    tableSchema(spark, root, v).getOrElse(readVersion(spark, root, v).schema)

  /** A parquet reader pinned to version `v`'s recorded schema when one
    * exists (by-name column resolution: a file missing an evolved-in
    * column yields nulls for it — exactly the Delta read-time backfill),
    * else plain inference. */
  private def versionReader(
      spark: SparkSession, root: String, v: Long): org.apache.spark.sql.DataFrameReader =
    // recursiveFileLookup: dir reads of a PARTITIONED snapshot must find
    // the `p__<col>=<val>/` leaves WITHOUT Hive partition inference (the
    // dir columns are write-layout duplicates; the data files carry every
    // real column) — and leaf-file reads never wanted inference anyway
    tableSchema(spark, root, v) match {
      case Some(s) =>
        // files carry PHYSICAL (birth) names; the logical rename is a
        // Project applied after the scan (toLogical at each read site)
        spark.read.option("recursiveFileLookup", "true")
          .schema(physicalSchema(s, columnMapping(spark, root, v)))
      case None => spark.read.option("recursiveFileLookup", "true")
    }

  // ---- merge-on-read deletion vectors ------------------------------------

  /** Version `v`'s deletion-vector CHAIN — the DV twin of the
    * [[ManifestDelta]] commit form, resolved in ONE walk:
    *
    *  - `barrier`: the nearest version at or below `v` holding a full
    *    `_dv` (the complete mask as of that version — the pre-chain
    *    form, every fold-interval barrier, and vacuum's
    *    materialization);
    *  - `levels`: the versions strictly above the barrier carrying an
    *    own-deletions `_dvdelta`, OLDEST FIRST;
    *  - `removedTails`: the union of the chain's manifest-delta removed
    *    sets (as ref tails) — files rewritten along the chain, whose
    *    mask rows must drop from the fold.
    *
    * None = no mask. A version whose own `_dv` exists is its own
    * barrier with no levels (a full `_dv` is ALWAYS authoritative — the
    * only chain-and-`_dv` state is a materialization interrupted after
    * the full form landed, and the chain may already be severed then).
    * The chain rides the SAME base pointers as the manifest deltas (one
    * chain, one fold interval, one vacuum materialization), so the
    * no-replay bound and the crash-recovery story are shared. Derived
    * by existence probes + one delta-record read per level — O(depth),
    * never memoized: vacuum's materialization changes a version's form
    * in place, and a stale cached chain would fold into a dropped base. */
  private[graft] final case class DvChain(
      barrier: Long, levels: Seq[Long], removedTails: Set[String])

  private[graft] def dvChainInfo(
      spark: SparkSession, root: String, v: Long): Option[DvChain] = {
    val f = fs(spark, root)
    var levels = List.empty[Long] // prepending while walking newest→oldest
    var removed = Set.empty[String]
    var cur = v
    while (true) {
      val dir = dataDir(spark, root, cur)
      if (f.exists(new Path(dir, "_dv")))
        return Some(DvChain(cur, levels, removed))
      val own = f.exists(new Path(dir, "_dvdelta"))
      manifestDeltaOf(spark, root, cur) match {
        case Some(d) =>
          if (own) levels = cur :: levels
          removed = removed ++ d.removed.map(refTail)
          cur = d.base
        case None =>
          // invariant: every chain bottoms out in a full `_dv` (the
          // FIRST mask on a table is written full-form even under the
          // delta manifest — commitCowInternal's baseHasDv gate; vacuum
          // materializes before severing). An orphan `_dvdelta` beside
          // a FULL-form manifest is protocol-impossible garbage (only
          // delta-form commits write it) — IGNORED, not fatal, so
          // materializeManifest's cleanup branch can heal it; a chain
          // HANGING on a maskless bottom is real corruption and fails
          // loudly.
          if (levels.nonEmpty) throw new java.io.IOException(
            s"dv chain of $root v$v reaches v$cur which carries no " +
              "mask — the sidecar chain is corrupt")
          return None
      }
    }
    None // unreachable
  }

  /** Whether version `v` carries a deletion-vector mask — directly
    * (`_dv` extra: a (file ref, row position) table of rows deleted
    * MERGE-ON-READ) or folded along the delta chain. Defined AS the
    * chain resolution ([[dvChainInfo]]) so the answer can never
    * disagree with what [[dvOf]] serves — e.g. an orphan `_dvdelta`
    * leftover counts as mask-free on both. Metadata-scale: existence
    * probes + one delta-record read per level, bounded by the fold
    * interval. */
  def hasDeletionVectors(spark: SparkSession, root: String, v: Long): Boolean =
    dvChainInfo(spark, root, v).isDefined

  /** Version `v`'s COMPLETE deletion-vector mask as a (file, pos) frame,
    * delta-aware: barrier-only versions read their own `_dv`; chained
    * versions fold as ONE multi-path scan over the chain's sidecar dirs
    * plus one filter on the union of removed tails — the plan stays
    * O(1) in chain depth (a per-level union would grow it by a scan
    * node per commit, and the growth is a per-COMMIT cost on masked
    * tables: every MOR write plans this read). Global removed-tail
    * subtraction is exact — tails are UUID part names, never reused, so
    * a tail removed ANYWHERE in the chain can key no live mask row at
    * `v` — and O(changed-along-chain), never an O(refs) membership
    * test. Levels are DISJOINT by construction — every MOR writer
    * computes its new deletions from a masks-folded read
    * ([[morVisibleTagged]]/[[readFilesTagged]]), so an already-masked
    * row can never re-enter a later level — which is why the fold needs
    * no distinct: consumers get set semantics for free. None when the
    * version carries no mask at all. */
  def dvOf(spark: SparkSession, root: String, v: Long): Option[DataFrame] =
    dvChainInfo(spark, root, v).map(dvOfChain(spark, root, v, _))

  /** [[dvOf]] against an ALREADY-RESOLVED chain — the masked-read path
    * resolves [[dvChainInfo]] once and threads it here, to [[dvBytesOf]]
    * and to the bitmap-dir lookup, instead of paying the O(depth)
    * existence-probe + delta-record walk three or four times per read
    * (on an object store each walk is driver-latency RPCs, and a masked
    * read sits on the per-commit hot path of every MOR writer). */
  private def dvOfChain(
      spark: SparkSession, root: String, v: Long, chain: DvChain): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val dirs =
      new Path(dataDir(spark, root, chain.barrier), "_dv").toString +:
        chain.levels.map(l =>
          new Path(dataDir(spark, root, l), "_dvdelta").toString)
    // every mask writer lands exactly (file, pos): reading under that
    // fixed schema skips Spark's footer-inference job on every masked read
    val df = spark.read.schema(DvSchema).parquet(dirs: _*)
    if (chain.removedTails.isEmpty) df
    else df.where(not(col("file").isInCollection(chain.removedTails)))
  }

  /** The deletion-vector sidecar schema (`_dv`, `_dvdelta`): the masked
    * row's file ref and its row index within that file. */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  /** On-disk byte size of version `v`'s mask, delta-aware — the
    * broadcast-gate input ([[DvBroadcastThresholdKey]]). Chained
    * versions sum the chain; rows keyed to since-removed files are
    * counted anyway — a conservative OVER-estimate that can only push a
    * borderline mask off the broadcast road, never a too-large one onto
    * it. */
  private[graft] def dvBytesOf(
      spark: SparkSession, root: String, v: Long): Long =
    dvChainInfo(spark, root, v) match {
      case None => 0L
      case Some(chain) => dvBytesOfChain(spark, root, chain)
    }

  private def dvBytesOfChain(
      spark: SparkSession, root: String, chain: DvChain): Long =
    extraBytes(spark, root, chain.barrier, "dv") +
      chain.levels.map(l => extraBytes(spark, root, l, "dvdelta")).sum

  /** The bitmap dirs a chain-aware scan-integrated probe must consult
    * for version `v` — the barrier's `_dv/_bitmaps` plus every
    * own-deletions level's `_dvdelta/_bitmaps`, base-first. None when
    * ANY contributing level lacks a complete derived index (`_DONE`):
    * a partial probe would resurrect that level's deletions, so the
    * read falls back to the distributed-join road — correct at any
    * size, and bounded in time by the fold interval. */
  private def dvChainBitmapDirs(
      spark: SparkSession, root: String, chain: DvChain): Option[Seq[String]] = {
    val all = dvBitmapsDir(spark, root, chain.barrier, "_dv") +:
      chain.levels.map(l => dvBitmapsDir(spark, root, l, "_dvdelta"))
    if (all.forall(_.isDefined)) Some(all.flatten) else None
  }

  /** Whether version `v` carries a change feed ("changes" extra) — O(1)
    * existence probe, the per-version building block of
    * [[earliestFeedStart]] and the streaming source's memoized scan. */
  def hasChangeFeed(spark: SparkSession, root: String, v: Long): Boolean =
    fs(spark, root).exists(new Path(dataDir(spark, root, v), "_changes")) ||
      // virtual feeds ([[syntheticChanges]]) — recorded in commit info,
      // no sidecar dir exists
      commitInfoOf(spark, root, v).contains(ChangesFormKey)

  /** Ref of the file each row was read from — the join key between
    * scanned rows and the deletion-vector/manifest file naming. Files in
    * version dirs key by their `vNNNNNNNN/...` tail (root-independent,
    * what the DV sidecar stores); files OUTSIDE any version dir — a
    * CONVERTED table's original files ([[convertToGraft]]) — fall back
    * to the FULL path, normalized to [[Path]]'s empty-authority form
    * (`file:/x`, not the scan's `file:///x`) so it compares equal to
    * the manifest's `makeQualified` refs. Without the fallback every
    * converted file would key as "" and MOR positions would collide
    * across files. */
  private def fileRefCol: Column = {
    import org.apache.spark.sql.functions.{col, regexp_extract, regexp_replace, when, length}
    // multi-segment: a partitioned snapshot's files nest under
    // `vNNNNNNNN/__p_<col>=<val>/...`
    val tail = regexp_extract(col("_metadata.file_path"), "(v\\d{8}/.+)$", 1)
    val normalizedFull = regexp_replace(col("_metadata.file_path"),
      "^([a-zA-Z0-9+.-]+):///", "$1:/")
    when(length(tail) > 0, tail).otherwise(normalizedFull)
  }

  /** The `vNNNNNNNN/name` tail of a manifest ref — identity for ordinary
    * root-relative refs, the trailing two segments for a shallow clone's
    * absolute refs. [[fileRefCol]] extracts exactly this from scanned
    * rows, so tail keys are the root-independent file identity the
    * deletion-vector sidecar joins on. */
  private def refTail(ref: String): String = {
    val m = "(v\\d{8}/.+)$".r.findFirstIn(ref)
    m.getOrElse(ref)
  }

  // ---- partitioning -------------------------------------------------------
  //
  // The spec is a reserved table property; every commit path writes the
  // data through Hive-style `p__<col>=<val>/` leaf dirs (the `p__`
  // columns are write-time DUPLICATES, so the data files keep every real
  // column and all read paths stay layout-blind). One file never spans
  // two partition tuples — which is exactly what metadata-only partition
  // drop ([[deleteWhere]] fast path), [[overwritePartitions]], and
  // manifest-level partition pruning need. The same idea as Delta's
  // per-AddFile partitionValues, carried in the file REF instead of a log
  // entry. Cited reference shape: the hourly `loaded_at`-batched loads of
  // /root/reference/dags/retail_hourly_etl.py.

  /** Reserved table property holding the comma-joined partition columns.
    * Set at table birth via [[commit]]'s `partitionBy`; immutable after
    * ([[setProperties]]/[[unsetProperties]] refuse to touch it). */
  val PartitionByProp = "graft.partitionBy"

  /** STICKY marker that some live data file is typed narrower than the
    * recorded schema ([[widenColumn]] sets it): readers must support
    * parquet widening resolution from then on. Sticky like Delta table
    * features — a later full rewrite could clear it, but proving every
    * narrow file is gone isn't worth the accounting. */
  val WidenedTypesProp = "graft.feature.widenedTypes"

  /** STICKY marker that this table was [[convertToGraft]]-ed in place
    * from a Hive-partitioned (`col=val/`) parquet layout: the original
    * files carry their partition values ONLY in their dir names, so
    * every read synthesizes the recorded partition columns from the
    * scan's file paths ([[synthHiveParts]] — null in the file resolves
    * from the path; files written after the convert carry real values
    * and are untouched). Sticky like [[WidenedTypesProp]]: a full
    * rewrite could clear it, but proving every original file is gone
    * isn't worth the accounting, and the synthesis projection is a
    * no-op on complete files. */
  val HivePartitionedProp = "graft.convert.hivePartitioned"
  private val PartDirPrefix = "p__"
  private val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** For a Hive-CONVERTed snapshot ([[HivePartitionedProp]]), resolve
    * each recorded partition column as `coalesce(<file value>, <value
    * parsed from the file's path>)`, applied directly over a scan
    * `df` (the `_metadata` column must still be reachable). The parse
    * takes the LAST `(p__)?<phys>=<val>/` dir segment in the path —
    * segments above the table root can't shadow the true partition
    * dir — and decodes Hive's %XX path escaping exactly (a literal
    * `'+'` is first shielded from `url_decode`'s form rule). Values
    * cast through the recorded column type; convert validated every
    * original dir value against it, so the ANSI cast cannot throw on
    * referenced files. On any other table this is the identity. */
  private def synthHiveParts(
      spark: SparkSession, root: String, v: Long, df: DataFrame): DataFrame = {
    if (!propertiesOf(spark, root, v).get(HivePartitionedProp).contains("true")) df
    else {
      val spec = partitionColumnsOf(spark, root, v)
      val mapping = columnMapping(spark, root, v)
      val types = tableSchema(spark, root, v)
        .map(_.map(f => f.name -> f.dataType).toMap).getOrElse(Map.empty)
      import org.apache.spark.sql.functions._
      spec.foldLeft(df) { (d, c) =>
        val phys = physicalName(mapping, c)
        if (!d.columns.contains(phys) || !types.contains(c)) d
        else {
          // native cached extraction ([[graft.plans.HivePartValue]]):
          // the value is constant per file, so the per-row cost is one
          // memo-hit string equality, not three regexes plus a decode
          val parsed = org.apache.spark.sql.graft.ColumnBridge.column(
            graft.plans.HivePartValue(
              org.apache.spark.sql.graft.ColumnBridge.expression(
                col("_metadata.file_path")), phys)).cast(types(c))
          d.withColumn(phys, coalesce(col(phys), parsed))
        }
      }
    }
  }

  /** The partition spec recorded for version `v` (LOGICAL column names),
    * Nil for unpartitioned tables. */
  def partitionColumnsOf(
      spark: SparkSession, root: String, v: Long): Seq[String] =
    propertiesOf(spark, root, v).get(PartitionByProp)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** Inverse of the writer's Hive path-name escaping. Delegates to the
    * read expression's decoder ([[graft.plans.HivePartValue.decode]])
    * so the prune/drop/inference side and the scan side agree byte for
    * byte — a char-wise decode here would turn `%C3%A9` into `Ã©` while
    * the scan serves `é`, and a partition DELETE would silently no-op. */
  private def unescapePathName(s: String): String =
    graft.plans.HivePartValue.decode(s)

  /** (logical column -> raw dir value) parsed from a ref/path's
    * `p__<phys>=<val>` segments; a `None` value is the Hive null
    * marker. Physical names resolve to logical through the reverse
    * column mapping, so partition pruning survives renames.
    *
    * `bareCols` (logical names) additionally admits PLAIN Hive
    * `<phys>=<val>` segments — the layout a CONVERTed directory's
    * original files sit in ([[convertToGraft]]). Restricted to the
    * recorded partition spec and to DIRECTORY segments only, and
    * deeper segments win ties, so a `col=val` segment in the path
    * ABOVE the table root (a coincidence of where the table lives)
    * can neither invent a partition column nor shadow the true
    * partition dir below the root. */
  private def partRawValues(
      ref: String, reverse: Map[String, String],
      bareCols: Set[String] = Set.empty): Map[String, Option[String]] = {
    val segs = ref.split('/').toSeq
    def parse(seg: String, prefix: Int): (String, Option[String]) = {
      val i = seg.indexOf('=')
      val phys = seg.substring(prefix, i)
      val raw = unescapePathName(seg.substring(i + 1))
      (reverse.getOrElse(phys, phys),
        if (raw == HiveNullPartition) None else Some(raw))
    }
    val bare =
      if (bareCols.isEmpty) Nil
      else segs.dropRight(1)
        .filter(seg => !seg.startsWith(PartDirPrefix) && seg.contains('=') &&
          seg.indexOf('=') > 0)
        .map(parse(_, 0))
        .filter { case (c, _) => bareCols(c) }
    val native = segs
      .filter(seg => seg.startsWith(PartDirPrefix) && seg.contains('='))
      .map(parse(_, PartDirPrefix.length))
    // toMap keeps the LAST occurrence per column: deeper segments win
    (bare ++ native).toMap
  }

  /** Dir-value string → canonical stats (kind, value) — the exact domain
    * [[TableStats]] stores and compares, so partition segments plug
    * straight into the pruner. Timestamp partition values are NOT
    * canonicalized (their dir rendering is session-zone-dependent);
    * footer stats still prune those. Unparseable → None (conservative). */
  private def canonPartValue(
      dt: org.apache.spark.sql.types.DataType, s: String): Option[(String, Any)] = {
    import org.apache.spark.sql.types._
    try dt match {
      case StringType => Some(("string", s))
      case ByteType | ShortType | IntegerType | LongType => Some(("long", s.toLong))
      case BooleanType => Some(("long", if (s.toBoolean) 1L else 0L))
      case DateType => Some(("long", java.time.LocalDate.parse(s).toEpochDay))
      case FloatType | DoubleType => Some(("double", s.toDouble))
      case _ => None
    } catch { case _: Exception => None }
  }

  /** A runtime value from a partition-column collect → the same canonical
    * domain, for tuple comparison against dir segments. */
  private def canonRuntimeValue(v: Any): Option[(String, Any)] = v match {
    case null => None
    case x: java.lang.Boolean => Some(("long", if (x) 1L else 0L))
    case x: java.lang.Byte => Some(("long", x.longValue))
    case x: java.lang.Short => Some(("long", x.longValue))
    case x: java.lang.Integer => Some(("long", x.longValue))
    case x: java.lang.Long => Some(("long", x.longValue))
    case x: java.lang.Float => Some(("double", x.doubleValue))
    case x: java.lang.Double => Some(("double", x.doubleValue))
    case x: String => Some(("string", x))
    case x: java.sql.Date => Some(("long", x.toLocalDate.toEpochDay))
    case x: java.time.LocalDate => Some(("long", x.toEpochDay))
    case _ => None
  }

  /** The synthetic per-file stats a partitioned ref carries in its path:
    * exact min=max point entries for each partition column — available
    * with no stats table at all, and exact by construction (a file under
    * `p__date=2024-01-01/` holds ONLY that date). */
  private def partSynthStats(
      p: String, reverse: Map[String, String],
      types: Map[String, org.apache.spark.sql.types.DataType],
      bareCols: Set[String] = Set.empty)
      : Map[String, (String, Option[String], Option[String], Long, Long)] =
    partRawValues(p, reverse, bareCols).flatMap { case (c, raw) =>
      raw match {
        case None =>
          // all-null partition: nulls == rows refutes col-op-lit, keeps
          // IS NULL — exactly the pruner's all-null file handling
          Some(c -> (("long", None: Option[String], None: Option[String], 1L, 1L)))
        case Some(s) => types.get(c).flatMap(dt => canonPartValue(dt, s)).map {
          case (k, v2) =>
            c -> ((k, Some(v2.toString), Some(v2.toString), 0L, 1L))
        }
      }
    }

  /** The generators SAFE TO DERIVE FROM in this session: all of them
    * under the recorded birth zone ([[GeneratedCols.ZoneProp]]); under a
    * mismatched session zone, only those whose base column is zone-FREE
    * (date / timestamp_ntz) — a TimestampType base evaluated in the
    * wrong zone would prune or drop the wrong partitions. */
  private def zoneSafeGens(
      spark: SparkSession, props: Map[String, String],
      types: Map[String, org.apache.spark.sql.types.DataType])
      : Map[String, GeneratedCols.Generator] = {
    val gens = GeneratedCols.of(props)
    if (gens.isEmpty) gens
    else {
      val sessionZone = spark.sessionState.conf.sessionLocalTimeZone
      if (props.get(GeneratedCols.ZoneProp).forall(_ == sessionZone)) gens
      else gens.filter { case (_, g) =>
        !types.exists { case (n, t) =>
          n.equalsIgnoreCase(g.base) &&
            t == org.apache.spark.sql.types.TimestampType
        }
      }
    }
  }

  /** Decide one optimizer conjunct against a file's partition POINT
    * values: Some(true/false) = every row of the file agrees (partition
    * columns are constant per file), None = undecidable (unknown shape,
    * non-partition column, incomparable domains) — the caller must fall
    * back to the row-level path. SQL semantics: a null partition value
    * makes comparisons not-TRUE, `IS NULL` true. */
  private def evalPartitionConjunct(
      conj: org.apache.spark.sql.catalyst.expressions.Expression,
      tuple: Map[String, Option[(String, Any)]]): Option[Boolean] = {
    import org.apache.spark.sql.catalyst.expressions._
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(a.name)
      case _ => None
    }
    def point(a: Expression): Option[Option[(String, Any)]] =
      attr(a).flatMap(tuple.get)
    def decide(a: Expression, l: Literal)(f: Int => Boolean): Option[Boolean] =
      (point(a), TableStats.literalValue(l)) match {
        case (Some(None), Some(_)) => Some(false) // null op lit: not TRUE
        case (Some(Some((k, v))), Some((lk, lv)))
            if lk == k || (lk != "string" && k != "string") =>
          Some(f(TableStats.cmp(k, v, lv)))
        case _ => None
      }
    conj match {
      case EqualTo(a, l: Literal) => decide(a, l)(_ == 0)
      case EqualTo(l: Literal, a) => decide(a, l)(_ == 0)
      case EqualNullSafe(a, l: Literal) if l.value != null => decide(a, l)(_ == 0)
      case EqualNullSafe(l: Literal, a) if l.value != null => decide(a, l)(_ == 0)
      case LessThan(a, l: Literal) => decide(a, l)(_ < 0)
      case LessThan(l: Literal, a) => decide(a, l)(_ > 0)
      case LessThanOrEqual(a, l: Literal) => decide(a, l)(_ <= 0)
      case LessThanOrEqual(l: Literal, a) => decide(a, l)(_ >= 0)
      case GreaterThan(a, l: Literal) => decide(a, l)(_ > 0)
      case GreaterThan(l: Literal, a) => decide(a, l)(_ < 0)
      case GreaterThanOrEqual(a, l: Literal) => decide(a, l)(_ >= 0)
      case GreaterThanOrEqual(l: Literal, a) => decide(a, l)(_ <= 0)
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        val ds = vs.map { case l: Literal => decide(a, l)(_ == 0) }
        if (ds.contains(None)) None else Some(ds.flatten.contains(true))
      case IsNull(a) => point(a).map(_.isEmpty)
      case IsNotNull(a) => point(a).map(_.nonEmpty)
      case _ => None
    }
  }

  /** Plan `DELETE WHERE predicate` as a METADATA-ONLY partition drop at
    * version `cur`: Some(refs to drop) when every conjunct decides
    * wholly-in/wholly-out for every data file from partition values
    * alone; None = not answerable by metadata (row-level path takes
    * over). Empty Seq = provably nothing matches. */
  private def partitionDropPlan(
      spark: SparkSession, root: String, cur: Long,
      predicate: Column): Option[Seq[String]] = {
    if (partitionColumnsOf(spark, root, cur).isEmpty) return None
    val types = schemaOf(spark, root, cur).map(f => f.name -> f.dataType).toMap
    val optimized = versionFrame(spark, root, cur, synth = false)
      .where(predicate).queryExecution.optimizedPlan
    val conjs0 = optimized.collect {
      case fl: org.apache.spark.sql.catalyst.plans.logical.Filter => fl.condition
    }.flatMap(TableStats.conjuncts)
    // no Filter in the optimized plan = the predicate folded away (or the
    // plan shape is unexpected) — never treat that as "drop everything"
    if (conjs0.isEmpty) return None
    // GENERATED-COLUMN REPLACEMENT ([[GeneratedCols.replacementFor]]):
    // a base-column conjunct provably EQUIVALENT to a partition-column
    // conjunct substitutes, so `DELETE WHERE ts < '2024-03-01'` against
    // a table partitioned by `ds = date(ts)` decides whole partitions —
    // the retention delete stays metadata-only in EVENT TIME. Inexact
    // conjuncts stay as written (undecidable → the row road, correct).
    // Zone-sensitive generators derive ONLY under the recorded birth
    // zone ([[zoneSafeGens]]) — a mismatched session falls back to the
    // row road rather than dropping the wrong partitions.
    // each conjunct carries BOTH forms when a replacement exists — the
    // generated form decides when the generated column is the partition
    // column (the common layout), the original when the BASE itself is
    // (or the generated column isn't in the spec at all). They are
    // provably equivalent, so whichever decides for a file is the truth;
    // substituting unconditionally used to demote the latter layouts to
    // a COW rewrite (original conjunct discarded → undecidable).
    val gens = zoneSafeGens(spark, propertiesOf(spark, root, cur), types)
    val conjCands: Seq[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] =
      if (gens.isEmpty) conjs0.map(Seq(_))
      else {
        val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
        conjs0.map { c =>
          GeneratedCols.replacementFor(c, gens, zone) match {
            case Some(r) => Seq(r, c)
            case None => Seq(c)
          }
        }
      }
    val reverse = columnMapping(spark, root, cur).map(_.swap)
    val bareCols = partitionColumnsOf(spark, root, cur).toSet
    val refs = dataFileRefs(spark, root, cur)
    val decisions = refs.map { r =>
      val tuple: Map[String, Option[(String, Any)]] =
        partRawValues(r, reverse, bareCols).flatMap { case (c, raw) =>
          raw match {
            case None => Some(c -> (None: Option[(String, Any)]))
            case Some(s) =>
              types.get(c).flatMap(dt => canonPartValue(dt, s)).map(kv => c -> Some(kv))
          }
        }
      val per = conjCands.map(cands =>
        cands.iterator.map(c => evalPartitionConjunct(c, tuple))
          .collectFirst { case Some(d) => d })
      if (per.contains(None)) None else Some(per.forall(_.contains(true)))
    }
    if (decisions.contains(None)) None
    else Some(refs.zip(decisions).collect { case (r, Some(true)) => r })
  }

  /** The metadata-only partition-drop commit: manifest = current refs
    * minus `dropRefs`, zero fresh data rows, dropped files' masks NOT
    * carried (their rows are gone with them). The change feed, when
    * requested, reads the dropped files once (feed bytes, not data
    * bytes). */
  private def commitPartitionDrop(
      spark: SparkSession, root: String, cur: Long,
      dropRefs: Seq[String], changeFeed: Boolean,
      preCommit: Long => Unit = _ => ()): Long = {
    val schema = schemaOf(spark, root, cur)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val kept = dataFileRefs(spark, root, cur).filterNot(dropRefs.toSet)
    val extras =
      if (!changeFeed) Map.empty[String, DataFrame]
      else Map("changes" -> feedWritable(
        readFilesOf(spark, root, cur, dropRefs).withColumn("_change_type",
          org.apache.spark.sql.functions.lit("delete"))))
    // caller's in-claim gate (txn idempotence, validation) runs on this
    // road too — the COW and MOR roads of the same deleteWhere honor it
    commitCowInternal(empty, root, cur, kept, extras, Nil,
      preCommit = v => { preCommit(v); occValidate(spark, root, cur)(v) },
      recordSchema = Some(schema),
      recordInfo = Map("operation" -> "delete", "partitionDrop" -> "true") ++
        Bucketing.carryStamp(spark, root, cur))
  }

  /** PARTITION-SPEC EVOLUTION: re-lay the table out under a NEW
    * partition spec (or none) and record it — a FULL-REWRITE commit, by
    * design: on this format the spec IS the data placement (Hive-style
    * `p__<col>=<val>/` leaves), so unlike Iceberg's per-file spec-id a
    * spec change genuinely has to move bytes, and pretending otherwise
    * would leave files that disagree with the recorded layout
    * (setProperties refuses PartitionByProp for exactly that reason).
    * Runs under the OCC rebase loop; layout-only, so the change feed is
    * zero-row and rows are unchanged. The old spec's versions stay
    * time-travelable with their own layout. */
  def repartitionTable(
      spark: SparkSession, root: String, newSpec: Seq[String],
      bloomCols: Seq[String] = Nil): Long =
    occRetry(spark, root) { cur =>
      val df = readVersion(spark, root, cur)
      val missing = newSpec.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"partition column(s) not in $root: ${missing.mkString(", ")}")
      val props0 = propertiesOf(spark, root, cur)
      val props = if (newSpec.isEmpty) props0 - PartitionByProp
                  else props0.updated(PartitionByProp, newSpec.mkString(","))
      commitWith(df, root, collectStats = true,
        extras = Map.empty, // layout-only: virtual zero-row feed
        (_, _, _) => (), bloomCols,
        preCommit = occValidate(spark, root, cur),
        recordProperties = Some(props),
        partitionBy = newSpec,
        recordInfo = Map("operation" -> "repartition",
          ChangesFormKey -> "none"))
    }

  /** DYNAMIC PARTITION OVERWRITE (Delta's `partitionOverwriteMode=
    * dynamic` / Hive insert-overwrite-partitions, on this format):
    * replace exactly the partition tuples PRESENT IN `newData`, carrying
    * every other partition's files by reference — the hourly-reload verb
    * (re-land one `loaded_date` without touching ten years of history).
    * The distinct-tuple collect is metadata-scale (O(partitions in the
    * batch)); untouched partitions cost zero read and zero write.
    * Optimistic-concurrent like every writer. Refuses when an existing
    * file's partition values cannot be decided from its path (pre-spec
    * files — run [[compact]] once to re-layout). */
  def overwritePartitions(
      spark: SparkSession, root: String, newData: DataFrame,
      changeFeed: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val v0 = currentVersion(spark, root).getOrElse(throw new java.io.IOException(
      s"dynamic partition overwrite needs an existing snapshot under $root"))
    require(partitionColumnsOf(spark, root, v0).nonEmpty,
      s"$root has no partition spec ($PartitionByProp) — " +
        "dynamic partition overwrite is only defined on partitioned tables")
    // generated partition columns populate BEFORE the touched-tuple
    // collect below reads them (a raw hourly reload naming only `ts` is
    // the intended shape); zone pinned as on every population site
    val props0 = propertiesOf(spark, root, v0)
    val newData0 = GeneratedCols.populate(newData,
      GeneratedCols.of(props0),
      bornZone = props0.get(GeneratedCols.ZoneProp),
      sessionZone = spark.sessionState.conf.sessionLocalTimeZone)
    occRetry(spark, root) { cur =>
      val spec = partitionColumnsOf(spark, root, cur)
      val touched: Set[Seq[Option[(String, Any)]]] =
        newData0.select(spec.map(col): _*).distinct().collect()
          .map(r => spec.indices.map(i => canonRuntimeValue(r.get(i)))).toSet
      val reverse = columnMapping(spark, root, cur).map(_.swap)
      val types = schemaOf(spark, root, cur).map(f => f.name -> f.dataType).toMap
      val refs = dataFileRefs(spark, root, cur)
      val tuples: Seq[(String, Option[Seq[Option[(String, Any)]]])] = refs.map { r =>
        val raw = partRawValues(r, reverse, spec.toSet)
        val t = spec.map { c =>
          raw.get(c) match {
            case Some(None) => Some(None: Option[(String, Any)]) // null value
            case Some(Some(s)) =>
              types.get(c).flatMap(dt => canonPartValue(dt, s)).map(Some(_))
            case None => None // segment missing: undecidable
          }
        }
        (r, if (t.contains(None)) None else Some(t.map(_.get)))
      }
      val undecidable = tuples.collect { case (r, None) => r }
      require(undecidable.isEmpty,
        s"$root holds ${undecidable.size} file(s) without decidable " +
          s"partition values (written before the spec?) — compact() once " +
          s"to re-layout, e.g. ${undecidable.take(3).mkString(", ")}")
      val dropped = tuples.collect {
        case (r, Some(t)) if touched(t) => r
      }
      val kept = refs.filterNot(dropped.toSet)
      val extras =
        if (!changeFeed) Map.empty[String, DataFrame]
        else {
          val inserts = newData0.withColumn("_change_type", lit("insert"))
          val feed =
            if (dropped.isEmpty) inserts
            else readFilesOf(spark, root, cur, dropped)
              .withColumn("_change_type", lit("delete")).unionByName(inserts)
          Map("changes" -> feedWritable(feed))
        }
      commitCow(newData0, root, kept, extras = extras,
        preCommit = occValidate(spark, root, cur))
    }
  }

  /** Broadcast threshold (bytes) for deletion-vector masks — above it the
    * anti-join goes distributed (sort-merge) instead of driver-collected.
    * Tunable per session; the default tracks a comfortably-broadcastable
    * sidecar (64 MiB of compressed (file,pos) parquet ≈ tens of millions
    * of masked rows). */
  private[graft] val DvBroadcastThresholdKey = "spark.graft.dv.broadcastThreshold"
  private val DvBroadcastThresholdDefault: Long = 64L << 20

  /** Write-side floor (bytes) below which a DV commit SKIPS deriving the
    * per-file bitmap index: an hourly 10-row GDPR delete must not pay a
    * Spark job deriving a 90-byte bitmap that no read will consult (a
    * mask this small rides the broadcast road at any sane threshold).
    * The mask carried by each commit is CUMULATIVE, so the commit whose
    * union crosses the floor derives the index — later reads above the
    * broadcast gate find it. A session that lowers the broadcast
    * threshold below this floor falls back to the distributed-join road
    * for the un-indexed versions: correct, just not exchange-free (set
    * both knobs together when simulating above-gate reads at toy scale,
    * as the specs and DvBench do). */
  private[graft] val DvBitmapFloorKey = "spark.graft.dv.bitmapFloorBytes"
  private val DvBitmapFloorDefault: Long = 1L << 20

  /** On-disk bytes of version `v`'s `_name` sidecar (0 when absent) — an
    * O(#sidecar-files) listing, no Spark job. The size gate for
    * [[dvMaskSide]]. MEMOIZED per (root, version, name) — a version's
    * sidecar is immutable once published, but every masked-read plan
    * build consults this, and a DV-heavy workload would otherwise
    * re-list the sidecar dir at each one. Keyed on the commit marker's
    * mtime like the protocol-gate memo, so a recreated table at the
    * same root pays a fresh listing instead of riding a stale size. */
  private val extraBytesMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String, Long), java.lang.Long]()

  /** Count of REAL sidecar listings performed (memo misses) — a test
    * probe for the memoization contract, not an operational metric. */
  private[graft] val extraBytesListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def extraBytes(
      spark: SparkSession, root: String, v: Long, name: String): Long = {
    val key = (root, v, name, markerIdentity(spark, root, v))
    val got = extraBytesMemo.get(key)
    if (got != null) got.longValue()
    else {
      extraBytesListings.incrementAndGet()
      val p = new Path(dataDir(spark, root, v), s"_$name")
      val f = fs(spark, root)
      // DIRECT file children only: sidecar parquet is written flat, and
      // derived subdirs (the `_dv/_bitmaps` index) must not inflate the
      // size the broadcast gate / DESCRIBE DETAIL / dvFraction measure —
      // a bitmap-carrying sidecar would otherwise read ~2x its mask
      val bytes =
        if (!f.exists(p)) 0L
        else {
          val children = f.listStatus(p)
          // FLAT-LAYOUT GUARD: the direct-children sum is correct only
          // while sidecar parquet is written flat (it is — no extra table
          // writes with partitionBy). A future partitioned sidecar would
          // measure 0 here and, for a DV mask, sneak a huge vector through
          // the broadcast gate — so an unexpected subdir fails loudly. The
          // derived `_bitmaps` index is the one known (and intended) subdir.
          val (routedDirs, otherDirs) = children.iterator.filter(_.isDirectory)
            .toSeq.partition(_.getPath.getName.startsWith(RoutedCtCol + "="))
          val unexpected = otherDirs
            .map(_.getPath.getName).filterNot(_ == DvBitmaps.DirName)
          require(unexpected.isEmpty,
            s"sidecar _$name under $p is not flat (subdirs: " +
              s"${unexpected.mkString(",")}); extraBytes would undercount it")
          // routed change feeds ([[readChangesSidecar]]) nest one level of
          // `graft_ct=<type>/` dirs — count their direct files (one extra
          // listing per type, ≤4 types)
          children.iterator.filter(_.isFile).map(_.getLen).sum +
            routedDirs.iterator.flatMap(d => f.listStatus(d.getPath))
              .filter(_.isFile).map(_.getLen).sum
        }
      memoPut(extraBytesMemo, key, java.lang.Long.valueOf(bytes))
      bytes
    }
  }

  /** The deletion-vector mask as an anti-join build side, SIZE-GATED:
    * below [[DvBroadcastThresholdKey]] the mask is broadcast (one tiny
    * table to every scan task, no shuffle of the data side); above it the
    * hint flips to a sort-merge join — both sides shuffle on
    * (`__dv_file`, `__dv_pos`), which is spillable and never materializes
    * the mask on the driver. A large MOR delete (the workload DVs exist
    * for — delete 30% of a 100 TB table) produces a mask of billions of
    * rows; an unconditional `broadcast()` hint would collect it to the
    * driver and OOM, regardless of what the optimizer knows. `dvBytes` is
    * the sidecar's on-disk size ([[extraBytes]] — metadata-scale probe). */
  private def dvMaskSide(
      spark: SparkSession, dv: DataFrame, dvBytes: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val mask = dv.select(
      col("file").as("__dv_file"), col("pos").as("__dv_pos"))
    val threshold = spark.conf
      .get(DvBroadcastThresholdKey, DvBroadcastThresholdDefault.toString).toLong
    if (dvBytes <= threshold) broadcast(mask) else mask.hint("merge")
  }

  /** Version `v`'s per-file bitmap dir URI under sidecar `name`
    * (`_dv` for full-form masks, `_dvdelta` for chain levels), when it
    * carries a COMPLETE derived index ([[DvBitmaps]] `_DONE` marker
    * present). Memoized beside [[extraBytes]] — same immutability
    * argument, same marker-mtime identity (a vacuum materialization can
    * leave a stale None for its version, which only costs the join-road
    * fallback until the JVM re-probes). None for pre-bitmap versions,
    * which keep the join road. */
  private val dvBitmapsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, String), Option[String]]()
  private def dvBitmapsDir(
      spark: SparkSession, root: String, v: Long,
      sidecar: String): Option[String] = {
    val key = (root, v, markerIdentity(spark, root, v), sidecar)
    val got = dvBitmapsMemo.get(key)
    if (got != null) got
    else {
      val dir = new Path(new Path(dataDir(spark, root, v), sidecar),
        DvBitmaps.DirName)
      val f = fs(spark, root)
      val res =
        if (f.exists(new Path(dir, DvBitmaps.DoneMarker)))
          Some(f.makeQualified(dir).toString)
        else None
      memoPut(dvBitmapsMemo, key, res)
      res
    }
  }

  /** Fold the deletion-vector mask out of `tagged` (a frame already
    * carrying `__dv_file`/`__dv_pos`), picking the road by mask size:
    *
    *  - at or below [[DvBroadcastThresholdKey]]: BROADCAST anti-join —
    *    one tiny table to every scan task, no exchange on the data side;
    *  - above it with a derived bitmap index: SCAN-INTEGRATED filter
    *    ([[graft.plans.DvMasked]]) — each task probes its own file's
    *    bitmap inside WholeStageCodegen; NO exchange on the data side
    *    and nothing DV-sized on the driver (the per-task cost is one
    *    bitmap load, O(that file's mask));
    *  - above it on a pre-bitmap version: distributed sort-merge
    *    anti-join — correct and spillable, but it shuffles the entire
    *    data side on (file, pos); kept only as the legacy road.
    *
    * At 100 TB the middle road is the one that matters: a masked read
    * between a large MOR delete and compaction pays per-task bitmap
    * probes instead of a full data-side exchange. */
  private def foldMask(
      spark: SparkSession, root: String, v: Long,
      tagged: DataFrame, dv: DataFrame, chain: DvChain): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val dvBytes = dvBytesOfChain(spark, root, chain)
    val threshold = spark.conf
      .get(DvBroadcastThresholdKey, DvBroadcastThresholdDefault.toString).toLong
    lazy val joined = tagged.join(dvMaskSide(spark, dv, dvBytes),
      Seq("__dv_file", "__dv_pos"), "left_anti")
    if (dvBytes <= threshold) joined
    else dvChainBitmapDirs(spark, root, chain) match {
      case Some(dirs) if dirs.nonEmpty =>
        tagged.where(not(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.DvMasked.forVersion(spark, root, v, dirs,
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq("__dv_file")),
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq("__dv_pos"))))))
      case _ => joined
    }
  }

  /** Mask `dv`'s (file, pos) rows out of `df` (a scan of this snapshot's
    * files): the merge-on-read fold on the row's physical identity
    * (`_metadata` file + row index — stable for parquet, the same
    * identity Delta's deletion vectors address). Road selection is
    * [[foldMask]]'s; [[compact]]/[[optimize]] fold the mask away
    * entirely either way. */
  private def applyDv(
      spark: SparkSession, root: String, v: Long,
      df: DataFrame, chain: DvChain): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = df.columns.toSeq
    val tagged = df.withColumn("__dv_file", fileRefCol)
      .withColumn("__dv_pos", col("_metadata.row_index"))
    foldMask(spark, root, v, tagged, dvOfChain(spark, root, v, chain), chain)
      .select(cols.map(col): _*)
  }

  /** TIMESTAMP-based time travel (Delta's `TIMESTAMP AS OF`): the
    * highest version whose commit time is at or before `ts` — resolved
    * from the IN-COMMIT timestamps ([[commitTimeOf]]: marker line 2,
    * mtime fallback for pre-upgrade vintages), the same clock
    * [[history]] reports, with a READ-SIDE running-max clamp so a mixed
    * history (old mtime-dated commits interleaved with in-commit-stamped
    * ones, or skewed legacy writers) still resolves monotone — version
    * order is the truth, time must follow it. Throws when `ts` predates
    * the earliest retained commit (vacuum may have dropped the version
    * that was current then — returning a later snapshot would silently
    * lie). */
  def versionAsOf(
      spark: SparkSession, root: String, ts: java.sql.Timestamp): Long = {
    val committed = versions(spark, root)
    var run = Long.MinValue
    val at = committed.filter { v =>
      run = math.max(run, commitTimeOf(spark, root, v))
      run <= ts.getTime
    }
    at.lastOption.getOrElse(throw new java.io.IOException(
      s"no committed version of $root at or before $ts " +
        s"(earliest retained commit is " +
        s"${committed.headOption.map(v => new java.sql.Timestamp(
          commitTimeOf(spark, root, v))).getOrElse("none")})"))
  }

  /** Time travel: read an exact committed version (deletion-vector rows
    * masked out — the read is always the table's logical content). */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    versionFrame(spark, root, v, synth = true)

  /** [[readVersion]] with the Hive-convert partition synthesis
    * optionally SKIPPED (`synth = false`): the conjunct-extraction
    * sites ([[prunedFiles]], [[partitionDropPlan]]) resolve predicates
    * against this plain frame, because the optimizer pushes a filter
    * through the synthesis Project by SUBSTITUTING the coalesce — a
    * partition conjunct would reach the pruner coalesce-shaped and
    * undecidable. Execution reads always synthesize. */
  private def versionFrame(
      spark: SparkSession, root: String, v: Long, synth: Boolean): DataFrame = {
    require(isCommitted(spark, root, v), s"version $v is not committed under $root")
    assertReadable(spark, root, v)
    val reader = versionReader(spark, root, v)
    val scan = manifestOf(spark, root, v) match {
      case Some(refs) =>
        reader.parquet(refs.map(r => new Path(root, r).toString): _*)
      case None => reader.parquet(dataDir(spark, root, v).toString)
    }
    val base = if (synth) synthHiveParts(spark, root, v, scan) else scan
    toLogical(
      dvChainInfo(spark, root, v)
        .map(applyDv(spark, root, v, base, _)).getOrElse(base),
      columnMapping(spark, root, v))
  }

  /** [[readVersion]] with each row's root-relative file ref exposed as
    * column `refCol` — the TOUCHED-FILE DETECTION scan for copy-on-write
    * writers (Delta's findTouchedFiles job on this format): join this
    * against a source on an arbitrary match condition, and the distinct
    * `refCol` values are the files a matched-row rewrite must touch.
    * DV-masked like every read; Catalyst prunes the scan to the join's
    * columns + the metadata ref, so detection reads a column slice, not
    * the table. */
  def readVersionWithFileRef(
      spark: SparkSession, root: String, v: Long, refCol: String,
      onlyRefs: Option[Seq[String]] = None): DataFrame = {
    require(isCommitted(spark, root, v), s"version $v is not committed under $root")
    assertReadable(spark, root, v)
    val reader = versionReader(spark, root, v)
    // `onlyRefs` bounds the scan to a candidate subset (e.g. the files
    // whose key stats admit a source key): detection then reads
    // O(candidates), not the table
    val base = synthHiveParts(spark, root, v, onlyRefs match {
      case Some(refs) =>
        require(refs.nonEmpty, "onlyRefs must be non-empty — skip the scan instead")
        reader.parquet(refs.map(r => new Path(root, r).toString): _*)
      case None => manifestOf(spark, root, v) match {
        case Some(refs) =>
          reader.parquet(refs.map(r => new Path(root, r).toString): _*)
        case None => reader.parquet(dataDir(spark, root, v).toString)
      }
    })
    val withRef = base.withColumn(refCol, fileRefCol)
    toLogical(
      dvChainInfo(spark, root, v)
        .map(applyDv(spark, root, v, withRef, _)).getOrElse(withRef),
      columnMapping(spark, root, v))
  }

  /** Read a SUBSET of version `v`'s files (root-relative refs, as listed
    * by [[dataFileRefs]]) through the version's recorded schema and
    * deletion-vector masks — the touched-slice read of a COW rewrite.
    * Raw per-file reads would resurrect MOR-deleted rows; this is the
    * safe form. */
  def readFilesOf(
      spark: SparkSession, root: String, v: Long, refs: Seq[String]): DataFrame = {
    require(refs.nonEmpty, "readFilesOf needs at least one file ref")
    val sub = synthHiveParts(spark, root, v, versionReader(spark, root, v)
      .parquet(refs.map(r => new Path(root, r).toString): _*))
    toLogical(
      dvChainInfo(spark, root, v)
        .map(applyDv(spark, root, v, sub, _)).getOrElse(sub),
      columnMapping(spark, root, v))
  }

  /** [[read]] with FILE-LEVEL DATA SKIPPING: files whose footer min/max
    * statistics prove they cannot contain a row satisfying `predicate`
    * are never opened; the predicate is then still applied row-level, so
    * the result is always exactly `read(...).where(predicate)`. Falls
    * back to the full scan for snapshots committed without stats or
    * predicates the pruner cannot reason about (pruning is only ever an
    * optimization, never a semantics change). */
  def readWhere(spark: SparkSession, root: String, predicate: Column): DataFrame =
    readVersionWhere(spark, root,
      currentVersion(spark, root).getOrElse(
        throw new java.io.IOException(s"no committed version under $root")),
      predicate)

  def readVersionWhere(
      spark: SparkSession, root: String, v: Long, predicate: Column): DataFrame = {
    val (kept, total) = prunedFiles(spark, root, v, predicate)
    if (kept.size == total) readVersion(spark, root, v).where(predicate)
    else if (kept.isEmpty)
      // all files pruned: zero-row result with the snapshot schema (the
      // false filter folds to an empty LocalRelation — nothing is scanned)
      readVersion(spark, root, v)
        .where(org.apache.spark.sql.functions.lit(false)).where(predicate)
    else {
      val sub = synthHiveParts(spark, root, v,
        versionReader(spark, root, v).parquet(kept: _*))
      toLogical(
        dvChainInfo(spark, root, v)
        .map(applyDv(spark, root, v, sub, _)).getOrElse(sub),
        columnMapping(spark, root, v))
        .where(predicate)
    }
  }

  /** [[prunedFiles]] in ROOT-RELATIVE ref space: the manifest refs of
    * version `v` whose stats ADMIT `predicate` (may contain a satisfying
    * row). The MERGE NOT-MATCHED-BY-SOURCE planner consumes this — its
    * touched/kept split lives in ref space, while prunedFiles returns
    * FileStatus path strings. */
  def prunedFileRefs(
      spark: SparkSession, root: String, v: Long,
      predicate: Column): Seq[String] = {
    val (may, _) = prunedFiles(spark, root, v, predicate)
    val f = fs(spark, root)
    val maySet = may.map(s => f.makeQualified(new Path(s)).toString).toSet
    dataFileRefs(spark, root, v)
      .filter(r => maySet(f.makeQualified(new Path(root, r)).toString))
  }

  /** The file-pruning decision itself, exposed for specs and runtime
    * metrics: (files kept, total data files) for `predicate` against
    * version `v`'s footer stats. No stats → everything kept. */
  def prunedFiles(
      spark: SparkSession, root: String, v: Long,
      predicate: Column): (Seq[String], Int) = {
    require(isCommitted(spark, root, v), s"version $v is not committed under $root")
    val dir = dataDir(spark, root, v)
    // (absolute path, stats-lookup key): plain snapshots key stats by
    // DIR-RELATIVE path; manifest snapshots by root-relative path (bare
    // names collide across version dirs AND across partition subdirs —
    // Spark's partitioned writer reuses one part name per task)
    val files: Seq[(Path, String)] = manifestOf(spark, root, v) match {
      case Some(refs) => refs.map(r => (new Path(root, r), r))
      case None => dataFileRels(fs(spark, root), dir)
        .map { case (st, rel) => (st.getPath, rel) }
    }
    val stats = statsOf(spark, root, v)
    // resolve the predicate against the snapshot schema through the
    // analyzer + optimizer: Column expressions are lazy ColumnNode
    // wrappers in Spark 4, and optimization also constant-folds literal
    // casts — the Filter conditions below are plain resolved conjuncts
    // (synth=false: the Hive-convert coalesce Project would otherwise
    // substitute into pushed-down partition conjuncts)
    val optimized = versionFrame(spark, root, v, synth = false)
      .where(predicate).queryExecution.optimizedPlan
    val conjs0 = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.flatMap(TableStats.conjuncts)
    val partTypes: Map[String, org.apache.spark.sql.types.DataType] =
      scala.util.Try(schemaOf(spark, root, v)).toOption
        .map(_.map(sf => sf.name -> sf.dataType).toMap).getOrElse(Map.empty)
    // GENERATED-COLUMN IMPLICATION ([[GeneratedCols.impliedFor]]): a
    // conjunct on a generator's BASE column derives sound partition-
    // column bounds, APPENDED (the base conjunct still prunes through
    // its own min/max stats) — a query in event time skips derived-
    // period partitions even where the stats table is absent.
    // Zone-sensitive generators derive only under their birth zone
    // ([[zoneSafeGens]]): a mismatched session keeps every file the
    // base conjunct can't refute, which is conservative and correct.
    val genDefs = zoneSafeGens(spark,
      scala.util.Try(propertiesOf(spark, root, v)).getOrElse(Map.empty),
      partTypes)
    val conjs =
      if (genDefs.isEmpty) conjs0
      else {
        val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
        conjs0 ++ conjs0.flatMap(c =>
          GeneratedCols.impliedFor(c, genDefs, zone))
      }
    // PARTITIONS PRUNE BEFORE (and without) FILE STATS: each
    // `p__<col>=<val>` path segment is an exact min=max point stat,
    // synthesized into the pruner's domain — so a partitioned snapshot
    // skips non-matching partitions even when the stats table is absent
    // or uncovered, and keeps skipping across renames (segments resolve
    // physical → logical through the mapping).
    val reverseMap = columnMapping(spark, root, v).map(_.swap)
    val bareCols = partitionColumnsOf(spark, root, v).toSet
    def synth(p: Path) = partSynthStats(p.toString, reverseMap, partTypes, bareCols)
    val anyPartitioned = bareCols.nonEmpty ||
      files.exists(_._1.toString.contains("/" + PartDirPrefix))
    val statsKept =
      if (stats.isEmpty && !anyPartitioned) files
      else files.filter { case (p, key) =>
        val fileStats = stats.getOrElse(key, Map.empty) ++ synth(p)
        conjs.forall(c => TableStats.mayMatch(c, fileStats))
      }
    // BLOOM refinement for equality/IN conjuncts: min/max cannot prune a
    // point lookup on an unclustered column (every file's range admits
    // it); a per-file parquet bloom can. Probed only for files min/max
    // kept — a plan-time footer read per file, conservative when a file
    // carries no bloom for the column. The probe loop DISTRIBUTES beyond
    // a fixed driver budget: the unclustered point lookup is exactly the
    // case where min/max keeps (nearly) ALL files, and a serial driver
    // pass over 800k footers would stall every query's planning — the
    // same O(files)-driver-I/O class the stats collection already
    // eliminated on the write side.
    val probes = conjs.flatMap(TableStats.equalityProbes)
    val hconf = spark.sparkContext.hadoopConfiguration
    def survives(conf: org.apache.hadoop.conf.Configuration, p: Path): Boolean =
      probes.forall { case (c, vs) =>
        vs.exists(vv => TableStats.bloomMayContain(conf, p, c, vv))
      }
    val bloomDriverBudget = 32
    val kept =
      if (probes.isEmpty) statsKept
      else if (statsKept.size <= bloomDriverBudget)
        statsKept.filter { case (p, _) => survives(hconf, p) }
      else {
        import scala.jdk.CollectionConverters._
        val confEntries = hconf.iterator().asScala
          .map(e => (e.getKey, e.getValue)).toVector
        val paths = statsKept.map(_._1.toString)
        val slices = math.min(paths.size,
          math.max(1, spark.sparkContext.defaultParallelism))
        val probesB = probes // stable local for the closure
        val keptPaths = spark.sparkContext.parallelize(paths, slices)
          .mapPartitions { it =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confEntries.foreach { case (k, v2) => conf.set(k, v2) }
            it.filter { s =>
              probesB.forall { case (c, vs) =>
                vs.exists(vv => TableStats.bloomMayContain(conf, new Path(s), c, vv))
              }
            }
          }
          .collect().toSet
        statsKept.filter { case (p, _) => keptPaths(p.toString) }
      }
    (kept.map(_._1.toString), files.size)
  }

  /** One column's metadata-derived aggregate: `rows` (table-wide),
    * non-null count, and typed min/max (`kind` ∈ long/double/string —
    * timestamps surface as epoch-micros longs, dates as epoch-day longs,
    * exactly the canonical form the stats store). min/max are null for an
    * all-null column. */
  final case class ColStat(
      column: String, kind: String, rows: Long, nonNulls: Long, min: Any, max: Any)

  /** STATS-ONLY aggregation — `count(*)`, `count(c)`, `min(c)`, `max(c)`
    * answered from the commit's footer statistics WITHOUT opening a single
    * data file: the `SELECT count(*) FROM huge_table` that Delta/Iceberg
    * answer from their logs, on this format. At 100 TB the difference is a
    * driver-side read of one tsv versus a full-table scan.
    *
    * Sound by construction: parquet chunk statistics are exact-or-absent
    * (a writer that cannot store exact min/max omits them, which the
    * collection pass already records as unusable), so any answer returned
    * equals the scan's answer — and `None` means "stats cannot answer,
    * run the scan", never a wrong value. `None` whenever the snapshot
    * predates stats collection, a data file is missing from the stats, or
    * any requested column has unusable stats in any file. */
  def statsAggregate(
      spark: SparkSession,
      root: String,
      cols: Seq[String],
      version: Option[Long] = None): Option[(Long, Seq[ColStat])] = {
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new java.io.IOException(s"no committed version under $root"))
    require(isCommitted(spark, root, v), s"version $v is not committed under $root")
    // deletion vectors mask rows the footer stats still count — stats
    // cannot answer until a compaction folds the masks in
    if (hasDeletionVectors(spark, root, v)) return None
    val dir = dataDir(spark, root, v)
    val fileKeys: Seq[String] = manifestOf(spark, root, v) match {
      case Some(refs) => refs
      case None => dataFileRels(fs(spark, root), dir).map(_._2)
    }
    val stats = statsOf(spark, root, v)
    // stats are keyed by PHYSICAL column names; requests speak logical
    val mapping = columnMapping(spark, root, v)
    // every data file must be covered, else row counts are unknowable
    val perFile = fileKeys.map(k => stats.get(k).filter(_.nonEmpty))
    if (fileKeys.nonEmpty && perFile.exists(_.isEmpty)) None
    else {
      val fileMaps = perFile.flatten
      val totalRows = fileMaps.map(_.head._2._5).sum
      val colStats = cols.foldLeft(Option(Vector.empty[ColStat])) { (accO, c) =>
        accO.flatMap { acc =>
          val entries = fileMaps.map(_.get(physicalName(mapping, c)))
          if (entries.exists(_.isEmpty)) None
          else {
            val es = entries.map(_.get) // (kind, minO, maxO, nulls, rows)
            val kind = es.headOption.map(_._1).getOrElse("long")
            // nulls = -1 marks unusable stats; a missing min/max is only
            // legitimate for an all-null file (nulls == rows)
            if (es.exists(e => e._4 < 0 || (e._2.isEmpty && e._4 != e._5))) None
            else {
              val nonNulls = es.map(e => e._5 - e._4).sum
              val mins = es.flatMap(_._2).map(TableStats.parse(kind, _))
              val maxs = es.flatMap(_._3).map(TableStats.parse(kind, _))
              val mn = mins.reduceOption((a, b) => if (TableStats.cmp(kind, a, b) <= 0) a else b)
              val mx = maxs.reduceOption((a, b) => if (TableStats.cmp(kind, a, b) >= 0) a else b)
              Some(acc :+ ColStat(c, kind, totalRows, nonNulls,
                mn.orNull, mx.orNull))
            }
          }
        }
      }
      colStats.map(cs => (totalRows, cs.toSeq))
    }
  }

  /** Per-file key ranges for `column` from version `v`'s stats table:
    * `(root-relative path, Some((kind, min, max)))` per data file, or
    * `(path, None)` for a file that is ALL NULL in the column (it can
    * never contain a given key). Returns None — caller must fall back to
    * a full scan/rewrite — when any file lacks usable stats for the
    * column: partial range knowledge cannot prove a file untouched. */
  def fileKeyRanges(
      spark: SparkSession, root: String, v: Long, column: String)
      : Option[Seq[(String, Option[(String, Any, Any)])]] = {
    require(isCommitted(spark, root, v), s"version $v is not committed under $root")
    val dir = dataDir(spark, root, v)
    val entries: Seq[(String, String)] = manifestOf(spark, root, v) match {
      case Some(refs) => refs.map(r => (r, r))
      case None => dataFileRels(fs(spark, root), dir)
        .map { case (_, rel) => (dataDirName(spark, root, v) + "/" + rel, rel) }
    }
    val stats = statsOf(spark, root, v)
    val physCol = physicalName(columnMapping(spark, root, v), column)
    val out = entries.map { case (rel, sk) =>
      stats.get(sk).flatMap(_.get(physCol)) match {
        case Some((kind, Some(mn), Some(mx), nulls, _)) if nulls >= 0 =>
          Some((rel, Some((kind,
            TableStats.parse(kind, mn), TableStats.parse(kind, mx)))))
        case Some((_, None, None, nulls, rows)) if nulls == rows =>
          Some((rel, None))
        case _ => None
      }
    }
    if (out.exists(_.isEmpty)) None else Some(out.flatten)
  }

  /** COPY-ON-WRITE commit: publish a snapshot whose data is `newData`
    * (written fresh) PLUS `keptFiles` — root-relative paths of files from
    * the current snapshot that are carried forward BY REFERENCE, never
    * copied or rewritten. This is the Iceberg/Delta manifest idea on this
    * format: at 100 TB an hourly merge touches a sliver of the table, and
    * rewriting only that sliver turns the commit cost from O(table) into
    * O(touched). The new version dir holds the fresh files plus a
    * `_manifest/manifest.txt` naming every data file; kept files' column
    * stats are carried forward from their source snapshots' stats tables
    * (keyed by relative path — bare names collide across dirs), so data
    * skipping keeps working without reopening a single old footer.
    * Referenced files stay immutable in their original version dirs;
    * [[vacuum]] preserves any file a retained manifest still references.
    *
    * The caller owns ROW correctness (kept + new must partition the
    * intended table contents); SCHEMA compatibility is ENFORCED: the
    * commit throws [[SchemaMismatchException]] when `newData`'s columns
    * (by name and type) differ from the table's recorded schema — a
    * drifted writer must either [[evolveSchema]] first (column adds) or
    * take [[commit]]'s full-rewrite road (drops/retypes). Pre-tracking
    * tables validate against the inferred snapshot schema and record it
    * on this commit. `extras` as in [[commit]]. */
  def commitCow(
      newData: DataFrame, root: String, keptFiles: Seq[String],
      extras: Map[String, DataFrame] = Map.empty,
      bloomCols: Seq[String] = Nil,
      preCommit: Long => Unit = _ => (),
      rebase: Option[AppendRebase] = None,
      recordInfo: Map[String, String] = Map.empty,
      recordProperties: Option[Map[String, String]] = None,
      routeChanges: Boolean = false): Long = {
    val spark = newData.sparkSession
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.io.IOException(
        s"copy-on-write commit needs an existing snapshot under $root"))
    // GENERATED COLUMNS populate BEFORE the schema gate: an append of a
    // raw event frame (no `ds`) against a `ds = date(ts)` table is the
    // intended shape, not a schema drift. Idempotent — a frame already
    // carrying the column passes through. strict=false: a missing BASE
    // falls through to the schema gate, whose error names the drift.
    val curProps0 = propertiesOf(spark, root, cur)
    val curSchema = schemaOf(spark, root, cur)
    val newDataG = GeneratedCols.populate(newData,
      GeneratedCols.of(curProps0), strict = false,
      bornZone = curProps0.get(GeneratedCols.ZoneProp),
      sessionZone = spark.sessionState.conf.sessionLocalTimeZone)
    // stored expression columns + identity allocation on the COW/append
    // family too (population keyed on absence — a frame carrying the
    // columns passes through to commitWith's enforcement); the identity
    // basis re-validates inside the claim and the advance rides the same
    // commit, as on the full road. commitCow runs inside its callers'
    // OCC retry loops, so the conflict re-populates against fresh state.
    val newDataE = GeneratedCols.populateExprs(newDataG,
      GeneratedCols.exprsOf(curProps0),
      curSchema.map(sf => sf.name -> sf.dataType).toMap)
    val (newData0, idAdvProps, idCheck, idRelease) =
      identityAllocate(spark, root, newDataE, curProps0, Some(cur))
    val propsWithAdvance =
      if (idAdvProps.isEmpty) recordProperties
      else Some(recordProperties.getOrElse(curProps0) ++ idAdvProps)
    // schema gate: name→type equality (order-insensitive — read resolves
    // by name; nullability not compared — reading non-null data through a
    // nullable schema is always sound)
    val curMap = curSchema.map(sf => sf.name -> sf.dataType).toMap
    // the routed road's frame carries the `_change_type` router column —
    // layout, not data; the gate compares the data columns
    val newFields =
      if (!routeChanges) newData0.schema.toSeq
      else newData0.schema.toSeq.filterNot(_.name == "_change_type")
    val newMap = newFields.map(sf => sf.name -> sf.dataType).toMap
    if (curMap != newMap)
      throw new SchemaMismatchException(root, cur, curSchema, newData0.schema)
    // record the CURRENT schema (canonical order + evolve's nullability
    // marks), not newData's incidental one
    // release per call: commitCow runs once per OCC attempt inside its
    // callers' retry loops — freeing the pin here (win or lose) keeps a
    // contended writer from accumulating one pinned batch per lost race
    try commitCowInternal(newData0, root, cur, keptFiles, extras, bloomCols,
      preCommit = w => { idCheck(w); preCommit(w) },
      recordSchema = Some(curSchema), rebase = rebase,
      recordInfo = recordInfo, recordProperties = propsWithAdvance,
      routeChanges = routeChanges)
    finally idRelease()
  }

  /** Thrown by [[commitCow]]/[[commitAppend]] when the incoming frame's
    * columns differ from the table's schema — the silent-corruption
    * contract ("caller owns compatibility") replaced by a commit-time
    * refusal, as Delta does for mismatched writes. */
  final class SchemaMismatchException(
      root: String, v: Long,
      expected: org.apache.spark.sql.types.StructType,
      got: org.apache.spark.sql.types.StructType)
    extends RuntimeException({
      val e = expected.map(f => f.name -> f.dataType).toMap
      val g = got.map(f => f.name -> f.dataType).toMap
      val missing = e.keySet -- g.keySet
      val extra = g.keySet -- e.keySet
      val retyped = (e.keySet & g.keySet).filter(k => e(k) != g(k))
      s"schema mismatch against $root v$v: " +
        (if (missing.nonEmpty) s"missing ${missing.mkString(",")}; " else "") +
        (if (extra.nonEmpty) s"unexpected ${extra.mkString(",")}; " else "") +
        (if (retyped.nonEmpty)
          s"retyped ${retyped.map(k => s"$k: ${e(k)}->${g(k)}").mkString(",")}; "
         else "") +
        "evolveSchema() for column adds, a full commit() for drops/retypes"
    })

  private def commitCowInternal(
      newData: DataFrame, root: String, cur: Long, keptFiles: Seq[String],
      extras: Map[String, DataFrame],
      bloomCols: Seq[String],
      preCommit: Long => Unit,
      recordSchema: Option[org.apache.spark.sql.types.StructType],
      recordConstraints: Option[Map[String, String]] = None,
      recordProperties: Option[Map[String, String]] = None,
      recordMapping: Option[(Map[String, String], Set[String])] = None,
      carriedStatsMap: Option[
        (String, String, Option[String], Option[String]) =>
          (String, Option[String], Option[String])] = None,
      rebase: Option[AppendRebase] = None,
      recordInfo: Map[String, String] = Map.empty,
      routeChanges: Boolean = false): Long = {
    val spark = newData.sparkSession
    val f = fs(spark, root)
    // kept files were written under the current mapping's physical names:
    // every snapshot-derived commit CARRIES the mapping unless the caller
    // (rename/drop/evolve) hands in an updated one
    val mappingToRecord = recordMapping.getOrElse(
      (columnMapping(spark, root, cur), retiredPhysicals(spark, root, cur)))
    // WHOLE-KEPT FAST PATH: callers that carry the entire current
    // snapshot (appends, MOR deletes — the per-commit hot paths) pass
    // the exact Seq instance [[manifestOf]]'s memo serves, so "kept ⊆
    // current refs" holds BY IDENTITY and every O(refs) driver pass
    // below (the keyed map, the membership validation, the removed-set
    // arithmetic) is skipped — the delta-form commit then does O(own)
    // driver work however many refs the table carries. Still validated
    // inside the publish claim: preCommit re-checks the pinned version,
    // exactly as the identity basis is.
    val keptIsWhole = manifestOf(spark, root, cur).exists(_ eq keptFiles)
    // stats of the CURRENT snapshot, keyed as stored (name or relpath);
    // lazy — the fast path and the delta form never build it
    lazy val curKeyed: Map[String, String] = manifestOf(spark, root, cur)
      .map(_.map(r => r -> r).toMap)
      .getOrElse(dataFileRels(f, dataDir(spark, root, cur))
        .map { case (_, rel) => (dataDirName(spark, root, cur) + "/" + rel) -> rel }.toMap)
    if (!keptIsWhole) {
      val badKept = keptFiles.filterNot(curKeyed.contains)
      if (badKept.nonEmpty)
        // refs the current snapshot no longer holds: either the caller's
        // pinned version was REWRITTEN by a concurrent compact/COW (the
        // common case — thrown as the conflict type so every OCC retry
        // loop REBASES instead of failing the batch outright), or the refs
        // are genuinely bogus (then the rebase recomputes them and the
        // retry bound surfaces the error)
        throw new Sinks.ConcurrentWriteException(root,
          None, currentVersion(spark, root))
    }
    // lazy: the delta form never carries kept stats, so it must not pay
    // the O(files) folded-stats read the full form's carry needs
    lazy val curStats = statsOf(spark, root, cur)
    // DELTA-FORM DECISION, made before commitWith so the protocol gate
    // records the reader feature with the version: write adds/removes
    // only when (a) no widening re-key is in flight (carried stat VALUES
    // change — only the full rewrite expresses that), (b) the carried
    // set clears the floor (small tables gain nothing from a chain),
    // (c) the base itself is manifest-formed (uniform root-relative
    // keys), and (d) the chain stays under the fold interval — the
    // interval-th commit folds everything into a full form again.
    val deltaInterval = spark.conf
      .get(DeltaFoldIntervalKey, DeltaFoldIntervalDefault.toString).toInt
    val deltaFloor = spark.conf
      .get(DeltaFloorKey, DeltaFloorDefault.toString).toInt
    val deltaDepth =
      manifestDeltaOf(spark, root, cur).map(_.depth + 1).getOrElse(1)
    val deltaForm = carriedStatsMap.isEmpty && deltaInterval > 0 &&
      keptFiles.size >= deltaFloor &&
      manifestOf(spark, root, cur).isDefined &&
      deltaDepth < deltaInterval
    // DELETION-VECTOR CARRY: kept files keep their masks (their rows were
    // not rewritten), rewritten files drop theirs (the rewrite read
    // through the masks, so fresh files contain no masked rows).
    //
    // DELTA FORM: the commit writes ONLY its own new deletions (the
    // caller's "dv" extra) as a `_dvdelta` level — O(own deletions)
    // bytes, never the cumulative mask. Readers fold the chain
    // ([[dvOf]]): the kept-file filter is implicit (the manifest delta's
    // removed set subtracts rewritten files' rows), so the carried-mask
    // READ this road used to pay per commit is gone too. The FIRST mask
    // on a table, and every fold-interval barrier, still write the full
    // `_dv` — the chain always folds into a full form.
    //
    // FULL FORM: carried ∪ own, as before — with the carry served by
    // the chain-aware [[dvOf]], so the interval-th commit CONSOLIDATES
    // the chain into its own complete `_dv` (the DV fold, riding the
    // manifest fold's cadence).
    val baseChain = dvChainInfo(spark, root, cur)
    val baseHasDv = baseChain.isDefined
    val extrasWithDv: Map[String, DataFrame] =
      if (!baseHasDv) extras
      else if (deltaForm)
        extras.get("dv") match {
          case Some(newDel) => extras - "dv" + ("dvdelta" -> newDel)
          case None => extras // carried-only level: masks ride the chain
        }
      else CommitProfiler.phase("dv_carry_probe") {
        import org.apache.spark.sql.functions.col
        // isInCollection folds to an InSet literal — metadata-scale,
        // codegen'd. Keys compare as vNNNNNNNN/name TAILS: dv entries are
        // always tail-keyed ([[fileRefCol]]), while a shallow clone's
        // manifest refs are absolute — tails are unique per snapshot
        // (UUID part names), so the normalization is lossless.
        val carried = dvOfChain(spark, root, cur, baseChain.get)
          .where(col("file").isInCollection(keptFiles.map(refTail)))
        val merged = extras.get("dv").map(_.unionByName(carried).distinct())
          .getOrElse(carried)
        // skip the sidecar entirely when nothing survives (all masked
        // files were rewritten): the new version then reads mask-free and
        // stats-only aggregation re-enables. WHOLE-KEPT commits (the MOR
        // per-commit hot path) skip the emptiness PROBE: their carried
        // set is the base's complete mask, nonempty by induction (an
        // empty merged mask is never written — this very gate), so the
        // probe's Spark job would only ever confirm what the manifest
        // already proves.
        if (keptIsWhole) extras.updated("dv", merged)
        else if (merged.limit(1).count() == 0L) extras - "dv"
        else extras.updated("dv", merged)
      }
    commitWith(newData, root, collectStats = true, extras = extrasWithDv,
      bloomCols = bloomCols, preCommit = preCommit,
      recordSchema = recordSchema, recordConstraints = recordConstraints,
      recordProperties = recordProperties,
      recordMapping = Some(mappingToRecord),
      recordInfo = recordInfo,
      routeChanges = routeChanges,
      finalizeVersion = (fh, dir, v) => {
        // refs TOLERATED in at claim time ([[AppendRebase]]): blind
        // appends (added) and disjoint DML winners (added + removed)
        // that published between this commit's pinned version and its
        // claim. Frozen before this finalizer runs — the validator is
        // strict once the manifest is on disk.
        // empty-rebase short-circuits: the common per-commit path
        // (nothing tolerated in) must not pay an O(refs) set build or
        // filter walk — the whole-kept fast path's point
        val extraRefs0 = rebase.map(_.extraRefs).getOrElse(Nil)
        val extraRefs =
          if (extraRefs0.isEmpty) Nil
          else extraRefs0.filterNot(keptFiles.toSet)
        val removedRefs = rebase.map(_.removedRefs).getOrElse(Set.empty)
        val keptEff =
          if (removedRefs.isEmpty) keptFiles
          else keptFiles.filterNot(removedRefs)
        val own = dataFileRels(fh, dir)
        // lazy: only the full form writes the whole ref list
        lazy val refs = own.map { case (_, rel) => f"v$v%08d/" + rel } ++
          keptEff ++ extraRefs
        // merged stats: fresh files' rows (just collected, keyed by bare
        // name) re-keyed to relpath + kept files' rows carried forward
        val ownStats = TableStats.load(spark, new Path(dir, "_stats"))
        // lazy: only the full form pays the O(files) kept-stats carry
        lazy val rows =
          own.flatMap { case (_, rel) =>
            ownStats.getOrElse(rel, Map.empty).toSeq
              .map { case (c, (k, mn, mx, nu, nr)) =>
                (f"v$v%08d/" + rel, c, k, mn, mx, nu, nr)
              }
          } ++
          keptEff.flatMap { r =>
            curStats.getOrElse(curKeyed(r), Map.empty).toSeq
              .map { case (c, (k, mn, mx, nu, nr)) =>
                // metadata-evolution hook: a widening commit converts the
                // carried rows' UNIT (e.g. date days → ntz micros) so the
                // stats stay comparable with the new type's literals
                val (k2, mn2, mx2) = carriedStatsMap
                  .map(_(c, k, mn, mx)).getOrElse((k, mn, mx))
                (r, c, k2, mn2, mx2, nu, nr)
              }
          }
        // rebased-in refs carry THEIR committed stats (the tolerated
        // append version's table is ref-keyed — appends always manifest)
        val rbStats: Map[String, Map[String,
            (String, Option[String], Option[String], Long, Long)]] =
          if (extraRefs.isEmpty) Map.empty
          else rebase.map(rb => statsOf(spark, root, rb.through))
            .getOrElse(Map.empty)
        val rbRows = extraRefs.flatMap { r =>
          rbStats.getOrElse(r, Map.empty).toSeq
            .map { case (c, (k, mn, mx, nu, nr)) =>
              val (k2, mn2, mx2) = carriedStatsMap
                .map(_(c, k, mn, mx)).getOrElse((k, mn, mx))
              (r, c, k2, mn2, mx2, nu, nr)
            }
        }
        if (deltaForm) {
          // DELTA FORM: sidecars carry only this commit's ADDS — own
          // files' stats re-keyed to refs (+ rebased-in rows), own sizes
          // (already listed by commitWith) + the rebased-in refs' — and
          // the manifest is the base pointer with removes/adds. The
          // O(files) kept-carry above never runs; readers fold. A
          // partially-covered adds set writes what it has: the folded
          // view leaves the uncovered file ABSENT, which every consumer
          // treats conservatively (pruning keeps it, aggregates decline).
          val ownRows = own.flatMap { case (_, rel) =>
            ownStats.getOrElse(rel, Map.empty).toSeq
              .map { case (c, (k, mn, mx, nu, nr)) =>
                (f"v$v%08d/" + rel, c, k, mn, mx, nu, nr)
              }
          }
          if ((ownRows ++ rbRows).nonEmpty)
            TableStats.writeRows(fh, dir, ownRows ++ rbRows)
          else fh.delete(new Path(dir, "_stats"), true)
          if (extraRefs.nonEmpty)
            try {
              val rbSizes = fileSizes(spark, root,
                rebase.map(_.through).getOrElse(cur))
              FileSizes.append(fh, dir, extraRefs.map(r => r -> rbSizes(r)))
            } catch {
              case e: Exception =>
                maintLog.warn(s"size-sidecar carry skipped for $dir", e)
            }
          // whole-kept + nothing-removed ⇒ removed = ∅ by identity; the
          // general form pays the O(refs) set arithmetic only when a
          // rewrite actually dropped refs
          val removed =
            if (keptIsWhole && removedRefs.isEmpty) Set.empty[String]
            else curKeyed.keySet -- keptEff
          writeManifestDelta(fh, dir, ManifestDelta(cur, deltaDepth,
            removed = removed,
            added = own.map { case (_, rel) => f"v$v%08d/" + rel } ++ extraRefs))
        } else {
        // a stats table must cover ALL files or claim none: a fresh file
        // whose footer pass failed, or a kept file with no carried rows,
        // would otherwise silently disable pruning only for itself
        val covered = (own.map { case (_, rel) => ownStats.contains(rel) } ++
          keptEff.map(r => curStats.contains(curKeyed(r))) ++
          extraRefs.map(rbStats.contains)).forall(identity)
        if (rows.nonEmpty && covered)
          TableStats.writeRows(fh, dir, rows ++ rbRows)
        else fh.delete(new Path(dir, "_stats"), true)
        // kept files' byte sizes carry beside their stats (own files'
        // rows were recorded by commitWith's listing already). Derived
        // optimization: a failure here (e.g. the legacy-vintage stat
        // fallback hitting a transient store error) must not abort a
        // data commit that never needed sizes — readers fall back.
        // Rebased-in refs read their sizes from the tolerated version
        // (appends only add, so its sidecar covers the kept refs too).
        try {
          val sizeV = rebase.map(_.through).getOrElse(cur)
          val curSizes = fileSizes(spark, root, sizeV)
          FileSizes.append(fh, dir,
            (keptEff ++ extraRefs).map(r => r -> curSizes(r)))
        } catch {
          case e: Exception =>
            maintLog.warn(s"size-sidecar carry skipped for $dir", e)
        }
        val out = fh.create(
          new Path(new Path(dir, "_manifest"), "manifest.txt"), true)
        try out.write(refs.mkString("", "\n", "\n").getBytes("UTF-8"))
        finally out.close()
        }
      },
      extraReaderFeatures =
        (if (deltaForm) Set("delta-manifest") else Set.empty) ++
          // a chain-carried mask is invisible to a build that only reads
          // `_dv` — it would RESURRECT the deleted rows; gate loudly
          (if (deltaForm && baseHasDv) Set("deletion-vectors", "dv-delta")
           else Set.empty))
  }

  /** Row-level DELETE, copy-on-write (Delta/Iceberg `DELETE WHERE` on
    * this format — the GDPR/retention primitive a 100 TB table cannot
    * answer with a full rewrite): files whose stats/blooms ADMIT the
    * predicate are rewritten without the matching rows; every other file
    * rides the new snapshot by manifest reference, untouched. On a
    * clustered table a key-scoped delete rewrites O(matching files), not
    * O(table); without usable stats the pruner keeps everything and the
    * delete degrades to a correct full rewrite.
    *
    * SQL semantics: rows where the predicate is TRUE are removed; FALSE
    * and NULL rows stay. Optimistic-concurrent like the upsert paths:
    * the rewrite pins the version it read, re-validates it inside the
    * commit claim, and recomputes on conflict. Returns the new version —
    * or the CURRENT one unchanged when no file can match (a no-op delete
    * publishes nothing).
    *
    * `mor = true` switches to MERGE-ON-READ (Delta deletion vectors /
    * Iceberg positional deletes): instead of rewriting every admitting
    * file, the commit records the deleted rows' (file, position) pairs in
    * a `_dv` sidecar and carries EVERY data file by reference — bytes
    * written scale with DELETED ROWS, not touched files, which is the
    * only write cost an hourly GDPR/retention delete can afford at
    * 100 TB. Reads mask the vector out ([[readVersion]]), so results are
    * identical to the copy-on-write form; [[compact]]/[[optimize]] fold
    * the masks into a clean rewrite (and stats-only aggregation, which a
    * mask would falsify, stands down until then). */
  def deleteWhere(
      spark: SparkSession, root: String, predicate: Column,
      mor: Boolean = false, changeFeed: Boolean = true,
      preCommit: Long => Unit = _ => ()): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    def deleteFeed(slice: DataFrame): Option[DataFrame] =
      if (!changeFeed) None
      else Some(slice.where(coalesce(predicate, lit(false)))
        .withColumn("_change_type", lit("delete")))
    if (!mor)
      occRetry(spark, root) { cur =>
        // METADATA-ONLY FAST PATH: a predicate decidable from partition
        // values alone (the retention verb — `DELETE WHERE date < X` on a
        // date-partitioned table) drops whole partitions from the
        // manifest: zero data bytes written, whatever the partitions
        // hold. Undecidable → the row-level COW/pruned rewrite, same
        // result row-for-row.
        partitionDropPlan(spark, root, cur, predicate) match {
          case Some(dropRefs) =>
            if (dropRefs.isEmpty) cur // provably nothing matches: no-op
            else commitPartitionDrop(spark, root, cur, dropRefs, changeFeed,
              preCommit)
          case None =>
            cowRewriteAt(spark, root, cur, predicate, "delete", preCommit)(
              df => df.where(not(coalesce(predicate, lit(false)))),
              feed = deleteFeed,
              // one pass: a slice row is EITHER a survivor (data) or a
              // delete image (feed) — the router column decides per row
              routed =
                if (!changeFeed) None
                else Some(slice => slice.withColumn("_change_type",
                  org.apache.spark.sql.functions.when(
                    coalesce(predicate, lit(false)), lit("delete")))))
        }
      }
    else occRetry(spark, root) { cur =>
      morVisibleTagged(spark, root, cur, predicate) match {
        case None => cur // provably no row matches: no-op, no commit
        case Some(visible) =>
          // the matched slice feeds the dv sidecar, the change feed AND
          // the masked-file interest set — pin it once; the distinct-file
          // collect below IS the emptiness probe (one job where this
          // road paid a limit(1) probe + a separate interest collect,
          // then re-ran the masked join per staged write)
          val hit = visible.where(coalesce(predicate, lit(false))).persist()
          try {
            val newDel = hit.select(col("__dv_file").as("file"),
              col("__dv_pos").as("pos"))
            val tails = newDel.select("file").distinct()
              .collect().map(_.getString(0)).toSet // metadata-scale: ≤ #files
            if (tails.isEmpty) cur // admitted but nothing matched
            else {
              val empty = spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                schemaOf(spark, root, cur))
              val tableCols = schemaOf(spark, root, cur).fieldNames.toSeq
              val extras = Map("dv" -> newDel) ++
                (if (!changeFeed) Map.empty[String, DataFrame]
                 else Map("changes" -> feedWritable(
                   hit.select(tableCols.map(col): _*)
                     .withColumn("_change_type", lit("delete")))))
              // interest = the files this commit masks: a tolerated winner
              // must not have rewritten them (its rewrite read the masks of
              // ITS pinned version — these fresh deletions would be lost)
              val maskedRefs = () =>
                dataFileRefs(spark, root, cur).filter(r => tails(refTail(r))).toSet
              val rb = new AppendRebase(spark, root, cur,
                allowDml = true, interest = maskedRefs,
                readPredicate = Some(predicate))
              commitCowInternal(empty, root, cur, dataFileRefs(spark, root, cur),
                extras = extras, bloomCols = Nil,
                preCommit = v => { preCommit(v); rb.validate(v) },
                recordSchema = Some(schemaOf(spark, root, cur)),
                rebase = Some(rb),
                recordInfo = Map("operation" -> "delete", "mor" -> "true") ++
                  Bucketing.carryStamp(spark, root, cur))
            }
          } finally hit.unpersist()
      }
    }
  }

  /** The MERGE-ON-READ DML primitive: every row of version `cur` that is
    * VISIBLE (existing deletion-vector masks folded) in the files whose
    * stats admit `predicate`, tagged with its physical location as
    * (`__dv_file`, `__dv_pos`) — the coordinates a new mask entry needs.
    * Rows a previous MOR commit masked are anti-joined out, so they can
    * neither re-match nor re-enter a vector or change feed. None when
    * pruning proves no file can match (the caller's no-op shortcut). */
  private def morVisibleTagged(
      spark: SparkSession, root: String, cur: Long,
      predicate: Column): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val (mayMatch, _) = prunedFiles(spark, root, cur, predicate)
    if (mayMatch.isEmpty) None
    else {
      val raw = synthHiveParts(spark, root, cur,
          versionReader(spark, root, cur).parquet(mayMatch: _*))
        .withColumn("__dv_file", fileRefCol)
        .withColumn("__dv_pos", col("_metadata.row_index"))
      val folded = dvChainInfo(spark, root, cur) match {
        case Some(chain) =>
          foldMask(spark, root, cur, raw, dvOfChain(spark, root, cur, chain), chain)
        case None => raw
      }
      Some(toLogical(folded, columnMapping(spark, root, cur)))
    }
  }

  /** [[readFilesOf]] with each VISIBLE row's physical location exposed as
    * `__dv_file`/`__dv_pos` (existing masks already folded) — the tagged
    * slice a MERGE-ON-READ writer (the SQL MERGE's DV form) needs to mask
    * matched rows where they sit instead of rewriting their files. */
  private[graft] def readFilesTagged(
      spark: SparkSession, root: String, v: Long, refs: Seq[String]): DataFrame =
    foldMaskOnce(spark, root, v, readFilesRawTagged(spark, root, v, refs))

  /** The UNMASKED half of [[readFilesTagged]]: the slice read with its
    * physical tags but existing masks NOT yet folded. Exists for the
    * bucket-aligned roads ([[Bucketing]]), which read one frame PER
    * BUCKET — folding inside each bucket frame costs one chain
    * resolution and one mask broadcast build per bucket (n per slice,
    * measured ~2x wall on a masked 16-bucket merge); the aligned slice
    * instead folds ONCE above the claimed concatenation, which both
    * mask roads preserve (a broadcast anti-join keeps the streamed
    * side's partitioning; the bitmap road is a filter). */
  private[sources] def readFilesRawTagged(
      spark: SparkSession, root: String, v: Long, refs: Seq[String]): DataFrame =
    readFilesRaw(spark, root, v, refs, tagFile = true, tagPos = true)

  /** [[readFilesRawTagged]] with the tags OPTIONAL: the per-row file-ref
    * string and row index are codegen'd per row, so an UNMASKED slice
    * that doesn't need them (the common steady-state COW merge) should
    * not pay them — and the claimed-slice construction is an optimizer
    * barrier, so a downstream projection can't prune them after the
    * fact. */
  private[sources] def readFilesRaw(
      spark: SparkSession, root: String, v: Long, refs: Seq[String],
      tagFile: Boolean, tagPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(refs.nonEmpty, "readFilesRaw needs at least one file ref")
    val base = synthHiveParts(spark, root, v, versionReader(spark, root, v)
      .parquet(refs.map(r => new Path(root, r).toString): _*))
    val f = if (tagFile) base.withColumn("__dv_file", fileRefCol) else base
    val p = if (tagPos) f.withColumn("__dv_pos", col("_metadata.row_index")) else f
    toLogical(p, columnMapping(spark, root, v))
  }

  /** Fold version `v`'s mask out of a `__dv_file`/`__dv_pos`-tagged
    * frame, resolving the chain ONCE; identity when the version carries
    * no mask. The tag columns stay on the output. */
  private[sources] def foldMaskOnce(
      spark: SparkSession, root: String, v: Long,
      tagged: DataFrame): DataFrame =
    dvChainInfo(spark, root, v) match {
      case Some(chain) =>
        foldMask(spark, root, v, tagged, dvOfChain(spark, root, v, chain), chain)
      case None => tagged
    }

  /** Row-level UPDATE, copy-on-write (Delta/Iceberg `UPDATE ... SET` on
    * this format): rows where `predicate` is TRUE get each `set` column
    * replaced by its expression (cast to the column's existing type);
    * FALSE/NULL rows and unlisted columns pass through unchanged. File
    * handling, pruning, no-op shortcut, and optimistic concurrency are
    * exactly [[deleteWhere]]'s; fresh files get fresh footer stats, so
    * updated values re-enter data skipping correctly. Unknown `set`
    * columns throw — a typo must not silently no-op.
    *
    * `mor = true` switches to MERGE-ON-READ (the Delta DV-update shape):
    * the matched rows' (file, position) pairs land in the `_dv` sidecar
    * — masking the OLD copies in place — and the SET-projected
    * replacements are appended as fresh files; every existing data file
    * rides by reference. Bytes written scale with MATCHED ROWS, not
    * touched files: a one-row update of a wide file costs one row, not a
    * file rewrite. Reads mask-then-union, so results equal the
    * copy-on-write form; [[compact]]/[[optimize]] fold the masks (and the
    * update's small files) back into a clean layout. */
  def updateWhere(
      spark: SparkSession, root: String, predicate: Column,
      set: Map[String, Column], mor: Boolean = false,
      changeFeed: Boolean = true,
      preCommit: Long => Unit = _ => ()): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    // GENERATED COLUMNS REGENERATE on base update (the Delta rule): an
    // UPDATE that sets a generator's base but not the generated column
    // gets the generated assignment added — otherwise the row would keep
    // its stale partition value and silently disagree with its data
    // (the caller CAN set both explicitly; then the enforcement scan
    // validates the pair). Computed from the new base EXPRESSION, so
    // one projection serves both.
    val updProps = currentVersion(spark, root)
      .map(cv => propertiesOf(spark, root, cv)).getOrElse(Map.empty)
    val setG = GeneratedCols.of(updProps)
      .foldLeft(set) { case (s0, (c, g)) =>
        if (s0.keys.exists(_.equalsIgnoreCase(c))) s0
        else s0.keys.find(_.equalsIgnoreCase(g.base)) match {
          case Some(baseKey) => s0.updated(c, g.expr(s0(baseKey)))
          case None => s0
        }
      }
    // STORED expression columns regenerate too — over the POST-image, in
    // a second projection, because the expression may reference ANY
    // column the SET just rewrote (the partition generators above ride
    // the same projection only because their base's new EXPRESSION is at
    // hand). Unconditional over the slice: non-matching rows recompute
    // to themselves (deterministic exprs), matching rows get the fresh
    // value — without this, `UPDATE SET amount=…` would silently keep a
    // stale `band = floor(amount/50)` forever, the read-carried populate
    // marker waving it past enforcement. An explicit SET of the column
    // wins (projection drops the marker → the enforcement scan verifies
    // the caller's pair).
    val updExprGens = GeneratedCols.exprsOf(updProps)
      .filterNot { case (c, _) => set.keys.exists(_.equalsIgnoreCase(c)) }
    def regenerated(d: DataFrame): DataFrame =
      updExprGens.toSeq.sortBy(_._1).foldLeft(d) { case (dd, (c, text)) =>
        dd.schema.find(_.name.equalsIgnoreCase(c)) match {
          case None => dd
          case Some(fld) =>
            val meta = new org.apache.spark.sql.types.MetadataBuilder()
              .putBoolean(GeneratedCols.PopulatedKey, true).build()
            dd.withColumn(fld.name, org.apache.spark.sql.functions
              .expr(text).cast(fld.dataType).as(fld.name, meta))
        }
      }
    def applySet(df: DataFrame): DataFrame = {
      val bad = setG.keySet -- df.columns.toSet
      require(bad.isEmpty, s"unknown columns in SET: ${bad.mkString(", ")}")
      val cond = coalesce(predicate, lit(false))
      regenerated(df.select(df.columns.toSeq.map { c =>
        setG.get(c) match {
          case Some(v) =>
            when(cond, v.cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*))
    }
    if (!mor)
      cowRewrite(spark, root, predicate, "update", preCommit)(
        applySet, feed = slice =>
        if (!changeFeed) None
        else {
          // pre/post image pairs for the rows the predicate selects — the
          // post image is the SET projection of the pre row, so the feed
          // needs no second pass over the rewrite's output
          val pre = slice.where(coalesce(predicate, lit(false)))
          Some(pre.withColumn("_change_type", lit("update_preimage"))
            .unionByName(applySet(pre)
              .withColumn("_change_type", lit("update_postimage"))))
        },
        // one pass: every slice row emits its data image (the SET
        // projection — identity on unmatched rows) plus, when matched,
        // its pre/post change images. Same per-field expressions as
        // applySet (routable tables have no expression generators, so
        // `regenerated` would be identity there anyway).
        routed =
          if (!changeFeed) None
          else Some { slice =>
            import org.apache.spark.sql.functions.{array, explode, filter, struct}
            val badSet = setG.keySet -- slice.columns.toSet
            require(badSet.isEmpty,
              s"unknown columns in SET: ${badSet.mkString(", ")}")
            val cond = coalesce(predicate, lit(false))
            val names = slice.columns.toSeq
            def postExpr(c: String): Column = setG.get(c) match {
              case Some(v) =>
                when(cond, v.cast(slice.schema(c).dataType)).otherwise(col(c))
              case None => col(c)
            }
            val ctNull = lit(null).cast("string").as("_change_type")
            val dataImg = struct(
              (names.map(c => postExpr(c).as(c)) :+ ctNull): _*)
            val preImg = when(cond, struct(
              (names.map(c => col(c).as(c)) :+
                lit("update_preimage").as("_change_type")): _*))
            val postImg = when(cond, struct(
              (names.map(c => postExpr(c).as(c)) :+
                lit("update_postimage").as("_change_type")): _*))
            slice.select(explode(filter(array(dataImg, preImg, postImg),
                x => x.isNotNull)).as("__cdf"))
              .select(col("__cdf.*"))
          })
    else occRetry(spark, root) { cur =>
      // the unknown-column contract holds regardless of matches: a typo'd
      // SET must throw, not silently no-op through the pruning shortcut
      val schema = schemaOf(spark, root, cur)
      val bad = set.keySet -- schema.fieldNames.toSet
      require(bad.isEmpty, s"unknown columns in SET: ${bad.mkString(", ")}")
      morVisibleTagged(spark, root, cur, predicate) match {
        case None => cur // provably no row matches: no-op, no commit
        case Some(visible) =>
          // pin the matched slice once (dv sidecar, feed pre/post images,
          // the appended post rows and the interest set all read it); the
          // distinct-file collect doubles as the emptiness probe — one
          // job where this road paid a limit(1) probe plus a separate
          // interest collect and re-ran the masked join per staged write
          val hit = visible.where(coalesce(predicate, lit(false))).persist()
          try {
            val newDel = hit.select(col("__dv_file").as("file"),
              col("__dv_pos").as("pos"))
            val tails = newDel.select("file").distinct()
              .collect().map(_.getString(0)).toSet // metadata-scale: ≤ #files
            if (tails.isEmpty) cur // admitted but nothing matched
            else {
              val tableCols = schema.fieldNames.toSeq
              // mask the old copies where they sit, append the updated
              // copies as fresh rows (fresh footer stats, so the new
              // values re-enter data skipping)
              val pre = hit.select(tableCols.map(col): _*)
              val post = applySet(pre)
              val extras = Map("dv" -> newDel) ++
                (if (!changeFeed) Map.empty[String, DataFrame]
                 else Map("changes" -> feedWritable(
                   pre.withColumn("_change_type", lit("update_preimage"))
                     .unionByName(post
                       .withColumn("_change_type", lit("update_postimage"))))))
              // as the MOR delete: the masked files are the interest set
              val maskedRefs = () =>
                dataFileRefs(spark, root, cur).filter(r => tails(refTail(r))).toSet
              val rb = new AppendRebase(spark, root, cur,
                allowDml = true, interest = maskedRefs,
                readPredicate = Some(predicate))
              commitCowInternal(post, root, cur, dataFileRefs(spark, root, cur),
                extras = extras, bloomCols = Nil,
                preCommit = v => { preCommit(v); rb.validate(v) },
                recordSchema = Some(schema),
                rebase = Some(rb),
                recordInfo = Map("operation" -> "update", "mor" -> "true"))
            }
          } finally hit.unpersist()
      }
    }
  }

  /** `preCommit` validation that rejects the commit when the table
    * advanced past the pinned version `cur` — the lost-update guard every
    * path that computes against a snapshot must run inside its claim. */
  private def occValidate(spark: SparkSession, root: String, cur: Long): Long => Unit =
    _ => {
      val now = currentVersion(spark, root)
      if (now != Some(cur))
        throw new Sinks.ConcurrentWriteException(root, Some(cur), now)
    }

  /** Write-isolation level for snapshot-deriving commits (Delta's
    * `delta.isolationLevel`, same default):
    *
    *  - `write-serializable` (default): a DML/append/maintenance commit
    *    that loses its claim race to nothing but BLIND APPENDS publishes
    *    anyway, with the appended files merged into its manifest — the
    *    history is equivalent to the losing commit having serialized
    *    BEFORE the appends (so a `DELETE WHERE` does not apply to rows
    *    appended mid-flight). Writes stay serializable; reads may
    *    observe the DML "before" an append that wall-clock preceded its
    *    publish. At 100 TB this is the difference between an hourly
    *    streaming append costing a multi-minute merge RECOMPUTE and it
    *    costing two driver-side manifest reads.
    *  - `serializable`: any intervening commit conflicts; the loser
    *    recomputes against the new snapshot (appended rows become
    *    subject to the DML's predicate). */
  private[graft] val IsolationKey = "spark.graft.isolation"

  private def writeSerializable(spark: SparkSession): Boolean =
    spark.conf.get(IsolationKey, "write-serializable")
      .trim.toLowerCase(java.util.Locale.ROOT) != "serializable"

  /** The operation record stamped with version `v` ([[commitWith]] 1f) —
    * Delta's commitInfo. Empty for versions committed by paths that
    * don't stamp (or pre-upgrade vintages): conflict resolution treats
    * those as opaque and falls back to a full recompute. */
  def commitInfoOf(
      spark: SparkSession, root: String, v: Long): Map[String, String] = {
    val g = groupedMetaOf(spark, root, v)
    if (g.nonEmpty) groupedSection(g, GroupedInfoPrefix)
    else readVersionProps(spark, root, v, new Path(new Path(
      dataDir(spark, root, v), "_commitinfo"), "info.properties"))
  }

  /** Winner operations a losing DML may compose with by manifest
    * arithmetic: file-local COW rewrites (their whole effect is "these
    * refs removed, those added"). MOR commits are excluded by their
    * stamp — their new masks would not reach the loser's carried dv. */
  private val TolerableDmlOps = Set("delete", "update", "merge", "optimize-where")

  /** Some((addedRefs, removedRefs)) iff every commit in (base, now] is
    * composable with the losing writer by manifest arithmetic — the
    * Delta ConflictChecker decision, answered from commit metadata:
    *
    *  - a stamped BLIND APPEND composes with anything (write-serializable
    *    isolation; the caller gates that);
    *  - a stamped non-MOR DML ([[TolerableDmlOps]]) composes iff the
    *    files it REMOVED don't intersect the loser's interest set (the
    *    files the loser rewrote or masks) and the files it ADDED provably
    *    cannot match the loser's read predicate (footer stats/blooms at
    *    `now` — Delta's added-files-vs-read-predicate check, resolved
    *    exactly instead of conservatively aborting);
    *  - anything else (unstamped vintages, restore, metadata changes,
    *    MOR) → None, the safe recompute.
    *
    * Belt checks (schema, constraints, properties, mapping equality
    * between `base` and `now`) are driver-sized reads; tolerated
    * operations change none of them. */
  private def rebasePlanSince(
      spark: SparkSession, root: String,
      base: Long, now: Long,
      allowDml: Boolean,
      interest: () => Set[String],
      readPredicate: Option[Column]): Option[(Seq[String], Set[String])] = {
    val infos = (base + 1 to now).map(w => commitInfoOf(spark, root, w))
    def blind(i: Map[String, String]) = i.get("blindAppend").contains("true")
    val allTolerable = infos.forall { i =>
      blind(i) || (allowDml &&
        i.get("operation").exists(TolerableDmlOps) &&
        !i.get("mor").contains("true"))
    }
    if (!allTolerable) None
    else {
      val baseRefs = dataFileRefs(spark, root, base).toSet
      val nowRefs = dataFileRefs(spark, root, now)
      val metaUnchanged =
        schemaOf(spark, root, base).map(f => (f.name, f.dataType)) ==
          schemaOf(spark, root, now).map(f => (f.name, f.dataType)) &&
        constraintsOf(spark, root, base) == constraintsOf(spark, root, now) &&
        propertiesOf(spark, root, base) == propertiesOf(spark, root, now) &&
        columnMapping(spark, root, base) == columnMapping(spark, root, now) &&
        retiredPhysicals(spark, root, base) == retiredPhysicals(spark, root, now)
      if (!metaUnchanged) None
      else {
        val added = nowRefs.filterNot(baseRefs)
        val removed = baseRefs -- nowRefs.toSet
        val anyDml = infos.exists(i => !blind(i))
        if (!anyDml) {
          // blind appends only: add-only by construction — a removal
          // means the stamp lied or the window was misread; recompute
          if (removed.nonEmpty) None else Some((added, removed))
        } else if ((removed & interest()).nonEmpty) None
        else {
          val predicateSafe = readPredicate match {
            case None => true
            case Some(p) =>
              // do the winner's fresh files provably refute the loser's
              // read predicate? (stats + blooms of the `now` snapshot)
              val (mayMatch, _) = prunedFiles(spark, root, now, p)
              val f = fs(spark, root)
              val mayQ = mayMatch
                .map(s => f.makeQualified(new Path(s)).toString).toSet
              !added.exists(r =>
                mayQ(f.makeQualified(new Path(root, r)).toString))
          }
          if (predicateSafe) Some((added, removed)) else None
        }
      }
    }
  }

  /** Claim-time conflict RESOLUTION for snapshot-deriving commits (the
    * Delta ConflictChecker shape): used as the commit's `preCommit`
    * validator in place of [[occValidate]]. The first validation (inside
    * the version claim, before the manifest is finalized) may TOLERATE
    * intervening commits per [[rebasePlanSince]] — it records the
    * added/removed refs, which [[commitCowInternal]] folds into the
    * manifest with stats and sizes carried — so the expensive staged
    * work (a COW merge's rewrite, an append's batch write) publishes
    * instead of burning. Later validations (inside the publish lock,
    * after the manifest is on disk) are STRICT against the
    * rebased-through version: a commit landing in that last
    * millisecond-scale window falls back to the occRetry recompute,
    * which is always correct.
    *
    * `interest`: the refs whose CONTENT the loser's commit depends on —
    * the files a COW rewrite replaces, or a MOR commit masks (evaluated
    * lazily, only on an actual conflict). `readPredicate`: the DML's
    * WHERE — a tolerated winner's fresh files must provably refute it.
    * `allowDml = false` (appends-only tolerance) for losers whose reads
    * cannot be file-scoped: full-table merges and layout rewrites. */
  private[graft] final class AppendRebase(
      spark: SparkSession, root: String, cur: Long,
      allowDml: Boolean = false,
      interest: () => Set[String] = () => Set.empty,
      readPredicate: Option[Column] = None) {
    private var throughV: Long = cur
    private var extra: Seq[String] = Nil
    private var removed: Set[String] = Set.empty
    private var calls: Int = 0
    /** The newest version whose state the pending commit now reflects. */
    def through: Long = throughV
    /** Refs added by tolerated commits in (pinned, through]. */
    def extraRefs: Seq[String] = extra
    /** Refs removed by tolerated commits — subtracted from the loser's
      * kept list at finalize time. */
    def removedRefs: Set[String] = removed
    def validate(v: Long): Unit = synchronized {
      calls += 1
      val now = currentVersion(spark, root)
      if (now != Some(throughV)) {
        val tolerated =
          if (calls > 1 || !writeSerializable(spark)) None
          else now.filter(_ > throughV).flatMap(n =>
            rebasePlanSince(spark, root, throughV, n,
              allowDml, interest, readPredicate))
        tolerated match {
          case Some((added, rem)) =>
            // the winner may be a newer build: re-run the protocol gate
            // against the state this commit now claims to derive from
            now.foreach(assertWritable(spark, root, _))
            extra = ((extra ++ added).toSet -- rem).toSeq
            removed = removed ++ rem
            throughV = now.get
          case None =>
            throw new Sinks.ConcurrentWriteException(root, Some(throughV), now)
        }
      }
    }
  }

  /** The optimistic-concurrency loop shared by every writer that derives
    * its commit from the current snapshot (COW row rewrites, appends,
    * maintenance): pin the version, run `body` against it (whose commit
    * must re-validate via [[occValidate]] inside the claim), and on
    * conflict REBASE — re-read the new current and recompute. Bounded
    * attempts with JITTERED BACKOFF (the Delta commit-retry shape): under
    * an N-writer burst every loser re-stages simultaneously and exactly
    * one wins per round, so without backoff a writer can lose ⌈N⌉
    * straight races; the jitter de-synchronizes the burst instead.
    * Persistent contention past the bound surfaces the conflict rather
    * than spinning forever. */
  private def occRetry(spark: SparkSession, root: String)(body: Long => Long): Long = {
    val maxAttempts = 20
    var attempt = 0
    var out: Option[Long] = None
    while (out.isEmpty) {
      attempt += 1
      val cur = currentVersion(spark, root).getOrElse(
        throw new java.io.IOException(s"no committed version under $root"))
      try out = Some(body(cur))
      catch {
        case _: Sinks.ConcurrentWriteException if attempt < maxAttempts =>
          Sinks.backoff(attempt)
      }
    }
    out.get
  }

  /** Shared COW row-rewrite loop of [[deleteWhere]]/[[updateWhere]]:
    * prune to the files the predicate may touch, apply `rewrite` to that
    * slice only, carry the rest by manifest reference, re-validate the
    * pinned version inside the commit claim and retry on conflict.
    * `feed(slice)` builds the commit's CHANGE FEED from the touched slice
    * (table columns + `_change_type`) — every DML commit carries one, so
    * incremental consumers ([[readChanges]], the streaming source) never
    * hit a feed gap on a table that mixes upserts with DML. */
  private def cowRewrite(
      spark: SparkSession, root: String, predicate: Column, op: String,
      hook: Long => Unit = _ => ())(
      rewrite: DataFrame => DataFrame,
      feed: DataFrame => Option[DataFrame] = _ => None,
      routed: Option[DataFrame => DataFrame] = None): Long =
    occRetry(spark, root) { cur =>
      cowRewriteAt(spark, root, cur, predicate, op, hook)(rewrite, feed, routed)
    }

  /** One attempt of [[cowRewrite]] against a pinned `cur` — split out so
    * [[deleteWhere]] can choose per-attempt between this and the
    * metadata-only partition drop inside ONE occRetry loop. */
  private def cowRewriteAt(
      spark: SparkSession, root: String, cur: Long, predicate: Column,
      op: String, hook: Long => Unit)(
      rewrite: DataFrame => DataFrame,
      feed: DataFrame => Option[DataFrame],
      routed: Option[DataFrame => DataFrame] = None): Long = {
      val (mayMatch, _) = prunedFiles(spark, root, cur, predicate)
      if (mayMatch.isEmpty) cur // provably no row matches: no-op, no commit
      else {
        // compare scheme-qualified: prunedFiles returns FileStatus paths
        // (file:/...), dataFileRefs are root-relative
        val f = fs(spark, root)
        val mayMatchSet = mayMatch.map(s => f.makeQualified(new Path(s)).toString).toSet
        val allRefs = dataFileRefs(spark, root, cur)
        val keptRefs = allRefs
          .filterNot(r => mayMatchSet(f.makeQualified(new Path(root, r)).toString))
        val touchedRefs = allRefs.toSet -- keptRefs
        // the touched slice reads THROUGH the deletion vectors (a rewrite
        // of a masked file must not resurrect its masked rows); kept
        // files' masks carry forward via commitCow's dv carry
        val sliceRaw = synthHiveParts(spark, root, cur,
          versionReader(spark, root, cur).parquet(mayMatch: _*))
        val slice = toLogical(
          dvChainInfo(spark, root, cur)
            .map(applyDv(spark, root, cur, sliceRaw, _)).getOrElse(sliceRaw),
          columnMapping(spark, root, cur))
        // claim-time rebase: a blind append landing during the rewrite
        // merges into the manifest instead of forcing a recompute
        // (write-serializable — the DML serializes BEFORE the append, so
        // appended rows are not subject to the predicate), and a DML
        // winner whose rewrite is provably disjoint (files AND predicate)
        // composes by manifest arithmetic
        val rb = new AppendRebase(spark, root, cur,
          allowDml = true, interest = () => touchedRefs,
          readPredicate = Some(predicate))
        // ROUTED single-execution form (guide §1.2 — the touched slice
        // used to be read TWICE, once by the rewrite's staged write and
        // once by the feed's): the caller's `routed` builder emits every
        // row's data image and change images in one pass, and the commit
        // stages them in one write ([[commitWith]]'s routeChanges)
        val routedFrame =
          if (routed.isEmpty || feed(slice).isEmpty ||
              !routeWorthwhile(spark, root, cur, touchedRefs.toSeq)) None
          else routed.map(_(slice))
        routedFrame match {
          case Some(rf) =>
            commitCow(rf, root, keptRefs, extras = Map.empty,
              preCommit = v => { hook(v); rb.validate(v) },
              rebase = Some(rb), recordInfo = Map("operation" -> op),
              routeChanges = true)
          case None =>
            val rewritten = rewrite(slice)
            val extras = feed(slice)
              .map(fd => Map("changes" -> feedWritable(fd))).getOrElse(Map.empty)
            commitCow(rewritten, root, keptRefs, extras = extras,
              preCommit = v => { hook(v); rb.validate(v) },
              rebase = Some(rb), recordInfo = Map("operation" -> op))
        }
      }
    }

  /** A feed frame safe to land as an extra even when EMPTY. Historically
    * this probed `fd.rdd.getNumPartitions` and repartition(1)-ed the
    * 0-partition case — but under AQE `.rdd` materializes EVERY query
    * stage just to count partitions, so each feed frame computed twice
    * (once for the probe, once for the staged write). The schema-
    * recovery invariant ([[readExtra]]/[[readChanges]] need at least one
    * part file) is now enforced post-hoc at staging time
    * ([[ensureExtraReadable]]) with one driver listStatus per extra, so
    * this is identity. Kept as the documented seam every feed passes
    * through. */
  private[graft] def feedWritable(fd: DataFrame): DataFrame = fd

  /** The zero-row change feed of a LAYOUT-ONLY commit (compaction,
    * clustering, schema evolution): "this version changed no rows",
    * stated explicitly so incremental consumers pass through instead of
    * failing on a feed gap. */
  private def emptyFeed(df: DataFrame): DataFrame =
    feedWritable(df.limit(0).withColumn("_change_type",
      org.apache.spark.sql.functions.lit("")))

  // ---- VIRTUAL change feeds (the Delta CDF blind-append rule) --------------
  //
  // Two feed shapes are fully determined by the commit itself, so writing
  // a parquet sidecar for them is a pure waste — one extra staged WRITE
  // JOB per commit locally, one PUT-class round trip per commit on an
  // object store, and O(batch) duplicate bytes for the insert form:
  //
  //  - "none": a layout/metadata-only commit changed no rows — the feed
  //    is zero rows of the version's recorded schema;
  //  - "insertAll": a birth or blind append inserted EXACTLY the files
  //    in its own version dir — the feed is those files' rows stamped
  //    'insert' (Delta serves CDF for blind appends from the data files
  //    for the same reason).
  //
  // Producers record `changesForm` in the commit info (rides the grouped
  // _meta object — zero extra files) instead of an extra; readers
  // synthesize below. Every such commit records the
  // `virtual-change-feed` READER feature, so a pre-virtual build refuses
  // the version loudly instead of raising a confusing feed-gap error.
  private[graft] val ChangesFormKey = "changesForm"

  // ---- ROUTED change feeds (single-execution data + feed writes) ----------
  //
  // A feed-carrying COW/MERGE commit used to stage TWO executions — the
  // data frame and the change-image frame — each one pass over the same
  // join/slice (concurrent, so local wall hides some of it, but the
  // join's compute and the touched slice's read are PAID TWICE at any
  // scale). A routed commit stages ONE execution: the caller hands
  // commitWith a single frame whose `_change_type` column is NULL on
  // data rows and the image type on change rows; the write partitions by
  // it (`graft_ct=<type>/` dirs — deliberately NOT underscore-prefixed,
  // so the feed reader's listing can see them once they live under
  // `_changes/`, while Spark's hidden-path filter keeps `_changes`
  // itself invisible to every data scan), and the driver promotes the
  // null-partition files to the flat data layout. Readers branch on the
  // recorded `changesLayout=routed` marker; such versions also record
  // the `routed-change-feed` READER feature so a pre-routing build
  // refuses them loudly instead of serving an empty feed.
  private[graft] val RoutedCtCol = "graft_ct"
  private[graft] val ChangesLayoutKey = "changesLayout"

  /** Whether a feed-carrying write against version `v` of `root` may use
    * the routed single-execution form: the table must be unpartitioned
    * (the routed layout owns the partition dirs), identity-mapped (feed
    * files are read back under the recorded schema directly), and free
    * of generated/identity columns (population would have to see the
    * data rows only). Everything else keeps the two-execution road. */
  private[graft] def routableFeedTable(
      spark: SparkSession, root: String, v: Long): Boolean = {
    val props = propertiesOf(spark, root, v)
    !props.contains(PartitionByProp) &&
      GeneratedCols.of(props).isEmpty &&
      GeneratedCols.exprsOf(props).isEmpty &&
      GeneratedCols.identitiesOf(props).isEmpty &&
      columnMapping(spark, root, v).isEmpty &&
      retiredPhysicals(spark, root, v).isEmpty
  }

  /** Byte floor for taking the routed road (`spark.graft.routeChanges.
    * minBytes`). MEASURED crossover shape (r21, local[32], sf0.1 paired
    * best-of-5): on KB-scale touched slices the routed form REGRESSES
    * ~10% (d10 1.52→1.73, q27 1.80→1.97, q43 4.17→4.65) — the two
    * branch executions are launch-bound and overlap for free on idle
    * cores, while the unified frame pays a bigger plan, an explode and
    * the dynamic-partition sort in one serial execution. Above the
    * floor the duplicated road's cost is real at any concurrency: the
    * touched slice is scanned and the join computed TWICE, 2× the
    * cluster's scan+join work per DML/refresh. The default routes
    * slices past ~2 scan tasks' worth (guide §1.2/§6); `0` routes
    * everything (what the RoutedFeedSpec pins to cover the road). */
  private[graft] val RouteMinBytesKey = "spark.graft.routeChanges.minBytes"
  private[graft] val RouteMinBytesDefault: Long = 256L * 1024 * 1024

  /** [[routableFeedTable]] AND the touched slice clears the byte floor —
    * the per-write decision of every routed call site. `touchedRefs` is
    * by-name: the floor-disabled and non-routable cases never resolve
    * it. Byte lookups ride the memoized size sidecar (metadata-scale). */
  private[graft] def routeWorthwhile(
      spark: SparkSession, root: String, v: Long,
      touchedRefs: => Seq[String]): Boolean =
    routableFeedTable(spark, root, v) && {
      val floor = spark.conf
        .get(RouteMinBytesKey, RouteMinBytesDefault.toString).toLong
      floor <= 0L || {
        val sizes = fileSizes(spark, root, v)
        touchedRefs.iterator.map(r => sizes.getOrElse(r, 0L)).sum >= floor
      }
    }

  /** Version `v`'s change feed from its sidecar, layout-aware: routed
    * versions reassemble `_change_type` from the `graft_ct=<type>/` dir
    * names (the files carry exactly the recorded data schema); everything
    * else reads the flat sidecar as always. None when the version has no
    * sidecar at all (virtual feeds are the caller's next stop). */
  private[graft] def readChangesSidecar(
      spark: SparkSession, root: String, v: Long): Option[DataFrame] =
    if (!commitInfoOf(spark, root, v).get(ChangesLayoutKey).contains("routed"))
      readExtra(spark, root, v, "changes")
    else {
      val dir = new Path(dataDir(spark, root, v), "_changes")
      val f = fs(spark, root)
      val sch = schemaOf(spark, root, v)
      val typed = f.listStatus(dir).toSeq.filter { s =>
        s.isDirectory && s.getPath.getName.startsWith(RoutedCtCol + "=")
      }
      // routed is only recorded when typed dirs landed; an empty listing
      // here would mean the sidecar was tampered with — serve the empty
      // feed (what zero images mean), not a schema-inference crash
      if (typed.isEmpty) Some(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(sch.fields.toSeq :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType))))
      else Some(typed.map { d =>
        val t = d.getPath.getName.substring(RoutedCtCol.length + 1)
        spark.read.schema(sch).parquet(d.getPath.toString)
          .withColumn("_change_type", org.apache.spark.sql.functions.lit(t))
      }.reduce(_.unionByName(_)))
    }

  /** recordInfo for a commit whose feed is "insert of exactly this
    * commit's own files" — seeds, bootstraps, the append road. */
  private[graft] val InsertFeedInfo: Map[String, String] =
    Map("operation" -> "write", ChangesFormKey -> "insertAll")

  /** The virtual feed of version `v`, or None when the version records
    * no `changesForm` (its feed, if any, is the `_changes` sidecar). */
  private[graft] def syntheticChanges(
      spark: SparkSession, root: String, v: Long): Option[DataFrame] = {
    def emptyOf(sch: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(sch.fields.toSeq :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)))
    commitInfoOf(spark, root, v).get(ChangesFormKey).map {
      case "none" => emptyOf(schemaOf(spark, root, v))
      case "insertAll" =>
        // the version's OWN files (its dir, never the manifest): exactly
        // the appended/seeded batch. Physical names in the files, logical
        // out — the same mapping rule every snapshot read applies.
        val files = dataFiles(fs(spark, root), dataDir(spark, root, v))
          .map(_.getPath.toString)
        val sch = schemaOf(spark, root, v)
        if (files.isEmpty) emptyOf(sch)
        else {
          val mapping = columnMapping(spark, root, v)
          toLogical(
            spark.read.schema(physicalSchema(sch, mapping))
              .parquet(files: _*), mapping)
            .withColumn("_change_type",
              org.apache.spark.sql.functions.lit("insert"))
        }
      case other => throw new java.io.IOException(
        s"version $v under $root records unknown changesForm '$other'")
    }
  }

  /** Feed bytes for admission control ([[graft.streaming.ChangeFeedStream]]'s
    * maxBytesPerBatch): the sidecar's bytes, or the version's own data
    * bytes for a virtual insertAll feed (that IS what the batch will
    * read). Virtual "none" admits free, correctly. */
  private[graft] def feedBytesOf(
      spark: SparkSession, root: String, v: Long): Long = {
    val b = extraBytes(spark, root, v, "changes")
    if (b > 0L) b
    else if (commitInfoOf(spark, root, v).get(ChangesFormKey)
        .contains("insertAll"))
      dataFiles(fs(spark, root), dataDir(spark, root, v)).map(_.getLen).sum
    else b
  }

  /** APPEND commit: publish a new snapshot = the current snapshot
    * carried entirely BY REFERENCE + `newData` written fresh — the
    * O(batch) ingest commit (Delta append): no existing file is read,
    * rewritten, or copied, whatever the table size. Stats for kept files
    * carry forward, so data skipping keeps working across appends. The
    * caller owns schema compatibility (same-schema fast path, as
    * [[commitCow]]).
    *
    * Optimistic-concurrent like the DML paths: the kept-file list is
    * computed against a pinned version, re-validated inside the commit
    * claim, and recomputed on conflict — two parallel appenders (the
    * [[graft.operators.Dedup.appendToDedupIndex]] ingest pattern) each
    * land with BOTH batches' files in the final manifest, instead of the
    * later publish silently dropping the earlier one's. `preCommit` is
    * the caller's own in-claim validation (e.g. a txn idempotence gate),
    * run before the conflict check on every attempt. */
  def commitAppend(
      newData: DataFrame, root: String,
      extras: Map[String, DataFrame] = Map.empty,
      bloomCols: Seq[String] = Nil,
      preCommit: Long => Unit = _ => (),
      changeFeed: Boolean = false): Long = {
    val spark = newData.sparkSession
    if (currentVersion(spark, root).isEmpty)
      throw new java.io.IOException(
        s"append needs an existing snapshot under $root — use commit() first")
    // GENERATED COLUMNS populate before the FEED is built: the insert
    // feed must carry what the table stores — a raw-frame feed would
    // serve null for the generated column to every CDC consumer while
    // the table holds real values. (commitCow's own populate then
    // no-ops on the already-carrying frame.)
    val appendProps = currentVersion(spark, root)
      .map(cv => propertiesOf(spark, root, cv)).getOrElse(Map.empty)
    val newData1 = GeneratedCols.populate(newData,
      GeneratedCols.of(appendProps), strict = false,
      bornZone = appendProps.get(GeneratedCols.ZoneProp),
      sessionZone = spark.sessionState.conf.sessionLocalTimeZone)
    // a caller-supplied "dv" extra masks rows of EXISTING files by
    // (file, pos); the masked tails anchor both the conflict interest
    // set and the per-attempt dangling-mask gate below. One collect,
    // O(distinct masked files) — the MOR roads pay the same.
    val dvTails: Set[String] = extras.get("dv") match {
      case Some(dv) =>
        dv.select("file").distinct().collect().map(_.getString(0)).toSet
      case None => Set.empty
    }
    occRetry(spark, root) { cur =>
      // stored expression columns + identity allocation PER ATTEMPT (an
      // identity basis conflict retries with fresh properties) and
      // BEFORE the feed below, for the same reason the partition
      // generators populate above it: the insert feed must carry what
      // the table stores. commitCow's own populate then no-ops on the
      // already-carrying frame; the advance + basis check thread through
      // explicitly because this road built them, not commitCow.
      val curProps = propertiesOf(spark, root, cur)
      val appendExprs = GeneratedCols.exprsOf(curProps)
      val newDataE =
        if (appendExprs.isEmpty) newData1
        else GeneratedCols.populateExprs(newData1, appendExprs,
          schemaOf(spark, root, cur).map(sf => sf.name -> sf.dataType).toMap)
      val (newData2, idAdvProps, idCheck, idRelease) =
        identityAllocate(spark, root, newDataE, curProps, Some(cur))
      val propsWithAdvance =
        if (idAdvProps.isEmpty) None
        else Some(curProps ++ idAdvProps)
      // opt-in insert feed — VIRTUAL ([[syntheticChanges]]): an append's
      // feed is definitionally 'insert' of exactly its own new files, so
      // it rides as a commit-info marker (zero extra bytes, one staged
      // write job deleted per feed-carrying append) instead of a second
      // O(batch) write. A caller-supplied "changes" extra always wins.
      val withFeed = extras
      val feedInfo: Map[String, String] =
        if (!changeFeed || extras.contains("changes")) Map.empty
        else Map(ChangesFormKey -> "insertAll")
      // BLIND-APPEND stamp: this commit reads nothing it doesn't carry
      // forward verbatim, so concurrent writers may rebase onto it by
      // manifest-union. A caller-supplied "dv" extra would mutate the
      // visible rows of EXISTING files — not blind; don't stamp it.
      val info = Map("operation" -> "append") ++ feedInfo ++
        (if (dvTails.nonEmpty) Map.empty[String, String]
         else Map("blindAppend" -> "true"))
      // A dv-carrying append's masks are only meaningful while the files
      // they key are in the manifest. Positions don't survive a rewrite,
      // so a conflict here is NOT rebasable — surface it (the caller
      // must recompute its masks against the new snapshot) rather than
      // silently publishing masks nothing resolves.
      if (dvTails.nonEmpty) {
        val present = dataFileRefs(spark, root, cur).map(refTail).toSet
        val dangling = dvTails -- present
        if (dangling.nonEmpty) throw new java.io.IOException(
          s"dv extra masks file(s) not in $root's current manifest " +
            s"(a concurrent rewrite won — recompute the masks): " +
            dangling.toSeq.sorted.mkString(", "))
      }
      // a PLAIN append reads nothing and rides on top of ANY composable
      // winner: empty interest set, no read predicate — a disjoint DML
      // landing mid-append just reshapes the kept list. A dv-carrying
      // append declares the masked files as its interest, exactly as
      // the MOR deleteWhere/updateWhere roads do: a tolerated winner
      // that rewrote one of them would leave the mask dangling (keyed
      // to a ref gone from the manifest — the intended deletions would
      // silently survive in the rewritten file).
      val rb =
        if (dvTails.isEmpty) new AppendRebase(spark, root, cur, allowDml = true)
        else new AppendRebase(spark, root, cur, allowDml = true,
          interest = () =>
            dataFileRefs(spark, root, cur).filter(r => dvTails(refTail(r))).toSet)
      // release per attempt (finally: a lost race re-enters this
      // closure and re-allocates against fresh properties — the
      // superseded attempt's pinned blocks must not outlive it)
      try commitCow(newData2, root, dataFileRefs(spark, root, cur), withFeed,
        bloomCols,
        preCommit = v => { idCheck(v); preCommit(v); rb.validate(v) },
        rebase = Some(rb), recordInfo = info,
        recordProperties = propsWithAdvance)
      finally idRelease()
    }
  }

  /** EXPLICIT schema evolution — a METADATA-ONLY commit (Delta's
    * schema-in-the-log evolution): publish a new version that carries
    * every current data file by reference, zero fresh data rows (one
    * footer-only empty part file, O(1) bytes), and the new schema
    * recorded. Old files read through the new schema resolve by
    * name, so added columns backfill null at read time; the previous
    * schema stays time-travelable with its versions.
    *
    * Additive only: every existing column must survive with its type, and
    * added columns must be nullable (existing files have no values for
    * them). Drops and retypes need [[commit]]'s full rewrite — on this
    * format a narrowing/retyping projection has to materialize. This is
    * the DDL face of the q3b `sync_all_columns` motion: run it before a
    * drifted [[commitAppend]]/[[commitCow]] writer, which otherwise
    * refuses with [[SchemaMismatchException]]. */
  def evolveSchema(
      spark: SparkSession, root: String,
      newSchema: org.apache.spark.sql.types.StructType): Long =
    occRetry(spark, root) { cur =>
      evolveSchemaAt(spark, root, cur, newSchema)
    }

  /** `ALTER TABLE ... ADD COLUMN(S)`: [[evolveSchema]] with the new
    * columns APPENDED to whatever the current schema is at commit time —
    * the caller names only the additions, so the read-modify-write of
    * the full schema happens INSIDE the OCC retry loop (a concurrent
    * rename/add between "read schema" and "publish" rebases instead of
    * silently reverting it). Added columns are forced nullable (existing
    * files carry no values for them — they backfill null at read time,
    * metadata-only, zero data bytes whatever the table size). */
  def addColumns(
      spark: SparkSession, root: String,
      added: org.apache.spark.sql.types.StructType): Long = {
    require(added.nonEmpty, "ADD COLUMNS needs at least one column")
    occRetry(spark, root) { cur =>
      val curSchema = schemaOf(spark, root, cur)
      val dup = added.filter(f => curSchema.exists(_.name.equalsIgnoreCase(f.name)))
      require(dup.isEmpty,
        s"column(s) already exist: ${dup.map(_.name).mkString(", ")}")
      val dupIn = added.groupBy(_.name.toLowerCase).filter(_._2.size > 1).keys
      require(dupIn.isEmpty,
        s"ADD COLUMNS names a column more than once: ${dupIn.mkString(", ")}")
      evolveSchemaAt(spark, root, cur,
        org.apache.spark.sql.types.StructType(
          curSchema ++ added.map(_.copy(nullable = true))))
    }
  }

  /** Widenings servable METADATA-ONLY: every probe-backed pair this
    * Spark's parquet readers resolve from the narrower physical type
    * (WideningProbeSpec is the empirical gate), restricted further to
    * pairs the footer-stats domain keeps comparable (ints are long-kind,
    * long-vs-double promotes in cmp, decimals are never pruned on).
    * date→timestamp_ntz is admissible because the widening COMMIT
    * CONVERTS the carried stats rows from epoch days to micro bounds
    * (day d covers [d·86400e6, (d+1)·86400e6)) — so pruning compares in
    * one unit on either side of the evolution; the r9 refusal reason
    * (day stats vs micro literals) is engineered away at the only place
    * the units could meet. date→TIMESTAMP (tz-adjusted) stays refused:
    * a date names no instant, and this Spark's parquet reader resolves
    * DATE under TimestampNTZType only (WideningProbeSpec). */
  private[sources] val MicrosPerDay = 86400000000L
  private def widenOk(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (a: DecimalType, b: DecimalType) =>
        // precision AND scale may grow as long as the integral digits
        // don't shrink — this Spark's vectorized reader RESCALES stored
        // unscaled values on read (probe-backed: decimal(5,2) files read
        // exactly as 123.4500 under decimal(10,4); scale NARROWING
        // throws). Decimals are never pruned on, so no stats-unit work.
        (a.precision, a.scale) != (b.precision, b.scale) &&
          b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale
      case _ => false
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN c TYPE t` — METADATA-ONLY type
    * widening (the Delta type-widening feature on this format): the new
    * type is recorded in the schema, every data file rides by reference,
    * and readers serve old narrow-typed files through the widened reader
    * schema (parquet widening resolution — WideningProbeSpec proves each
    * allowed pair on this Spark). Appends from then on write the wide
    * type; the drift gate holds writers to the widened schema. Only
    * [[widenOk]] pairs qualify — anything else needs [[commit]]'s full
    * rewrite. Partition columns refuse (their values are parsed from the
    * recorded spec's layout; a type flip under that parse is not worth
    * the footgun). */
  def widenColumn(
      spark: SparkSession, root: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long =
    occRetry(spark, root) { cur =>
      val curSchema = schemaOf(spark, root, cur)
      val field = curSchema.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"no column $name in $root (columns: ${curSchema.fieldNames.mkString(", ")})"))
      require(widenOk(field.dataType, to),
        s"cannot widen $name from ${field.dataType.simpleString} to " +
          s"${to.simpleString} metadata-only — allowed: int->bigint, " +
          "int->double, float->double, date->timestamp_ntz, " +
          "decimal growth that keeps integral digits (p-s) non-shrinking; " +
          "anything else is a full-rewrite commit()")
      require(!partitionColumnsOf(spark, root, cur).contains(name),
        s"$name is a partition column — repartition via a full commit()")
      val newSchema = org.apache.spark.sql.types.StructType(
        curSchema.map(x => if (x.name == name) x.copy(dataType = to) else x))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newSchema)
      // date→ntz: convert the carried stats from epoch DAYS to MICRO
      // bounds for the widened column, so post-evolution literals (micros)
      // compare against post-evolution stats (micros) — prune-correct
      // across vintages with zero data bytes touched
      val phys = physicalName(columnMapping(spark, root, cur), name)
      val statsMap: Option[(String, String, Option[String], Option[String]) =>
          (String, Option[String], Option[String])] =
        (field.dataType, to) match {
          case (org.apache.spark.sql.types.DateType,
                org.apache.spark.sql.types.TimestampNTZType) =>
            Some((c, k, mn, mx) =>
              if (c != phys || k != "long") (k, mn, mx)
              else ("long",
                mn.flatMap(_.toLongOption).map(d => (d * MicrosPerDay).toString),
                mx.flatMap(_.toLongOption)
                  .map(d => ((d + 1) * MicrosPerDay - 1).toString)))
          case _ => None
        }
      commitCowInternal(empty, root, cur, dataFileRefs(spark, root, cur),
        Map.empty, // metadata-only: virtual zero-row feed
        Nil, preCommit = occValidate(spark, root, cur),
        recordSchema = Some(newSchema),
        // sticky feature flag: narrow-typed files now live under a wider
        // schema — the protocol gate requires widening-capable readers
        recordProperties = Some(Bucketing.dropSpecIfKey(
          propertiesOf(spark, root, cur), name)
          .updated(WidenedTypesProp, "true")),
        carriedStatsMap = statsMap,
        recordInfo = Map("operation" -> "widen-column",
          ChangesFormKey -> "none") ++
          Bucketing.stampOf(Bucketing.dropSpecIfKey(
            propertiesOf(spark, root, cur), name)))
    }

  private def evolveSchemaAt(
      spark: SparkSession, root: String, cur: Long,
      newSchema: org.apache.spark.sql.types.StructType): Long = {
      val curSchema = schemaOf(spark, root, cur)
      val newByName = newSchema.map(f => f.name -> f).toMap
      val dropped = curSchema.filterNot(f => newByName.contains(f.name))
      require(dropped.isEmpty,
        s"evolveSchema cannot drop columns (${dropped.map(_.name).mkString(", ")}) " +
          "— a narrowing rewrite must go through commit()")
      val retyped = curSchema.filter(f =>
        newByName(f.name).dataType != f.dataType)
      require(retyped.isEmpty,
        s"evolveSchema cannot change column types (${retyped.map(_.name).mkString(", ")}) " +
          "— a retyping rewrite must go through commit()")
      val added = newSchema.filterNot(f => curSchema.exists(_.name == f.name))
      require(added.forall(_.nullable),
        s"added columns must be nullable (${added.filterNot(_.nullable).map(_.name).mkString(", ")}) " +
          "— existing files carry no values for them")
      // BIRTH-NAME COLLISIONS: an added column whose logical name equals
      // a retired physical (dropped column) or a still-live physical
      // (freed by a rename) must mint a FRESH physical name — by-name
      // parquet resolution would otherwise resurrect old files' stale
      // values under the new column
      val mapping = columnMapping(spark, root, cur)
      val retired = retiredPhysicals(spark, root, cur)
      val usedPhys = curSchema.map(f => physicalName(mapping, f.name)).toSet ++ retired
      val minted = added.collect {
        case f if usedPhys(f.name) =>
          f.name -> s"${f.name}_${java.util.UUID.randomUUID().toString.take(8)}"
      }.toMap
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newSchema)
      commitCowInternal(empty, root, cur, dataFileRefs(spark, root, cur),
        Map.empty, // metadata-only: virtual zero-row feed
        Nil, preCommit = occValidate(spark, root, cur),
        recordSchema = Some(newSchema),
        recordMapping = Some((mapping ++ minted, retired)),
        recordInfo = Map("operation" -> "evolve-schema",
          ChangesFormKey -> "none") ++
          Bucketing.carryStamp(spark, root, cur))
    }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): publish
    * `destRoot`'s first version as a manifest of ABSOLUTE references into
    * `srcRoot`'s version `v` — zero data bytes copied, O(files) metadata,
    * whatever the table size. The clone is a fully independent table from
    * that instant: its own version log, OCC writers, schema/constraints/
    * properties (all carried from the source version), stats (re-keyed to
    * the absolute refs, so data skipping keeps working), and
    * deletion-vector sidecar (copied — O(masked rows) — so the clone
    * reads the source's logical content, masks included). COW/DML commits
    * on the clone write fresh files under ITS root and drop refs into the
    * source naturally; the source never observes the clone.
    *
    * The test/dev-branch motion of a 100 TB table: experiment on a clone
    * (DML, OPTIMIZE, schema changes) without copying the table or
    * touching production. THE standard shallow-clone hazard applies
    * (exactly Delta's): VACUUM on the SOURCE does not know about clone
    * references — size source retention to cover live clones, or compact
    * the clone (its rewrite localizes every file) before vacuuming the
    * source aggressively. */
  def shallowClone(
      spark: SparkSession, destRoot: String, srcRoot: String,
      version: Option[Long] = None): Long = {
    require(currentVersion(spark, destRoot).isEmpty,
      s"shallow clone target $destRoot already holds a versioned table")
    val v = version.orElse(currentVersion(spark, srcRoot)).getOrElse(
      throw new java.io.IOException(s"no committed version under $srcRoot"))
    require(isCommitted(spark, srcRoot, v),
      s"version $v is not committed under $srcRoot")
    val srcFs = fs(spark, srcRoot)
    // fs-qualified absolute refs: resolvable from any root (Path(parent,
    // child) returns an absolute child unchanged at every read site)
    val srcRefs = dataFileRefs(spark, srcRoot, v)
    val refs = srcRefs.map(r =>
      srcFs.makeQualified(new Path(srcRoot, r)).toString)
    val schema = schemaOf(spark, srcRoot, v)
    // the clone's own version dir holds only metadata; data rides by ref
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // chain-aware: a source mid-chain clones its FOLDED mask — the
    // clone's sidecar must be self-contained (its reader never walks
    // the source's delta chain)
    val extras = dvOf(spark, srcRoot, v)
      .map(d => Map("dv" -> d)).getOrElse(Map.empty) ++
      // the COPY INTO ledger rides along: re-running the source's ingest
      // against the clone must not double-load the same landing files.
      // Folded to a complete "copyfull" BARRIER — the clone's ledger walk
      // must never reach back into the source's log
      copyLedger(spark, srcRoot, v)
        .map(l => "copyfull" -> l.localCheckpoint(eager = true)).toMap
      // clones re-emit no history: virtual zero-row feed (recordInfo)
    // stats re-key: source rows are keyed bare-name (dir snapshot) or
    // ref (manifest snapshot); the clone keys them by its absolute refs
    val srcKeyOf: Map[String, String] = manifestOf(spark, srcRoot, v)
      .map(_.map(r => r -> r).toMap)
      .getOrElse(srcRefs.map(r => r -> r.split('/').last).toMap)
    val srcStats = statsOf(spark, srcRoot, v)
    commitWith(empty, destRoot, collectStats = false, extras = extras,
      recordInfo = Map("operation" -> "clone", ChangesFormKey -> "none"),
      // re-assert emptiness inside the claim: two racing cloners must not
      // both report success with one silently shadowed
      preCommit = _ => currentVersion(spark, destRoot).foreach(dv =>
        throw new IllegalStateException(
          s"concurrent CREATE: $destRoot gained v$dv while this clone ran")),
      finalizeVersion = (fh, dir, _) => {
        val rows = srcRefs.zip(refs).flatMap { case (r, abs) =>
          srcStats.getOrElse(srcKeyOf(r), Map.empty).toSeq.map {
            case (c, (k, mn, mx, nu, nr)) => (abs, c, k, mn, mx, nu, nr)
          }
        }
        // all-or-none coverage, as every stats carry
        val covered = srcRefs.forall(r => srcStats.contains(srcKeyOf(r)))
        if (rows.nonEmpty && covered) TableStats.writeRows(fh, dir, rows)
        else fh.delete(new Path(dir, "_stats"), true)
        // sizes carry re-keyed to the clone's absolute refs (derived
        // optimization — a failure must not block the clone)
        try {
          val srcSizes = fileSizes(spark, srcRoot, v)
          FileSizes.append(fh, dir,
            srcRefs.zip(refs).map { case (r, abs) => abs -> srcSizes(r) })
        } catch {
          case e: Exception =>
            maintLog.warn(s"size-sidecar carry skipped for clone $dir", e)
        }
        val out = fh.create(
          new Path(new Path(dir, "_manifest"), "manifest.txt"), true)
        try out.write(refs.mkString("", "\n", "\n").getBytes("UTF-8"))
        finally out.close()
      },
      recordSchema = Some(schema),
      recordConstraints = Some(constraintsOf(spark, srcRoot, v)),
      recordProperties = Some(propertiesOf(spark, srcRoot, v)),
      recordMapping = Some((columnMapping(spark, srcRoot, v),
        retiredPhysicals(spark, srcRoot, v))))
  }

  /** DEEP CLONE (Delta's `CREATE TABLE ... DEEP CLONE`): an INDEPENDENT
    * copy of `srcRoot`'s snapshot at `version` — where a shallow clone
    * references the source's files (vacuuming the source can strand it),
    * a deep clone OWNS its bytes: the data files are copied byte-for-
    * byte by a DISTRIBUTED job (one task per slice of files — the
    * driver never streams data), landing as version 1's own snapshot
    * with the source's schema/constraints/properties/mapping and its
    * per-file STATS AND SIZES carried re-keyed (no footer re-read, no
    * stat walk — the copy is the only data I/O). Clones re-emit no
    * history (a zero-row feed, as shallow clones).
    *
    * A snapshot carrying DELETION VECTORS stays on the byte-copy road
    * (Delta's deep clone copies DV files too): the mask rides along
    * RE-KEYED — each (file, pos) entry's file tail maps through the
    * same ref→copied-name mapping the data files take, so the clone
    * reads identically to the source at a fraction of the write cost a
    * mask-folding rewrite would pay on a lightly-masked 100 TB table.
    * The per-file BITMAP index is re-derived above the usual floor
    * (positions are unchanged — only names moved — but the index keys
    * by name, so a re-derive is the correct cheap form; below the
    * floor reads broadcast the mask as everywhere else).
    *
    * A PARTITIONED layout takes the REWRITE road instead: a flat byte
    * copy would flatten the `p__col=val` layout the partition verbs
    * depend on ([[readVersion]] folds any masks in the same pass, so a
    * partitioned+masked source rewrites clean). */
  def deepClone(
      spark: SparkSession, destRoot: String, srcRoot: String,
      version: Option[Long] = None): Long = {
    require(currentVersion(spark, destRoot).isEmpty,
      s"deep clone target $destRoot already holds a versioned table")
    val v = version.orElse(currentVersion(spark, srcRoot)).getOrElse(
      throw new java.io.IOException(s"no committed version under $srcRoot"))
    require(isCommitted(spark, srcRoot, v),
      s"version $v is not committed under $srcRoot")
    assertReadable(spark, srcRoot, v)
    val schema = schemaOf(spark, srcRoot, v)
    val emptyGuard: Long => Unit =
      _ => currentVersion(spark, destRoot).foreach(dv =>
        throw new IllegalStateException(
          s"concurrent CREATE: $destRoot gained v$dv while this clone ran"))
    // the COPY INTO ledger rides along (as in shallowClone): re-running
    // the source's ingest against the clone must not double-load
    val ledgerExtra = copyLedger(spark, srcRoot, v)
      .map(l => "copyfull" -> l.localCheckpoint(eager = true)).toMap
    if (partitionColumnsOf(spark, srcRoot, v).nonEmpty) {
      // partitioned snapshot: rewrite road — one clean write (the
      // recorded PartitionByProp, carried via recordProperties, shapes
      // the layout exactly as any commit against the spec; masks fold
      // in the same readVersion pass)
      return commitWith(readVersion(spark, srcRoot, v), destRoot,
        collectStats = true,
        extras = ledgerExtra,
        finalizeVersion = (_, _, _) => (),
        preCommit = emptyGuard,
        recordSchema = Some(schema),
        recordConstraints = Some(constraintsOf(spark, srcRoot, v)),
        recordProperties = Some(propertiesOf(spark, srcRoot, v)),
        recordInfo = Map("operation" -> "deep-clone",
          ChangesFormKey -> "none"))
    }
    val srcFs = fs(spark, srcRoot)
    val srcRefs = dataFileRefs(spark, srcRoot, v)
    // one unique flat name per source ref: tails are unique within a
    // snapshot but can collide ACROSS manifest vintages' dirs, so the
    // name hashes the full ref; the part- prefix keeps the plain
    // dir-snapshot listing ([[dataFiles]]) finding them
    val newRel = srcRefs.map(r => r -> ("part-" + DvBitmaps.sha1hex(r) + ".parquet")).toMap
    val srcKeyOf: Map[String, String] = manifestOf(spark, srcRoot, v)
      .map(_.map(r => r -> r).toMap)
      .getOrElse(srcRefs.map(r => r -> r.split('/').last).toMap)
    val srcStats = statsOf(spark, srcRoot, v)
    val srcSizes =
      try fileSizes(spark, srcRoot, v)
      catch { case _: Exception => Map.empty[String, Long] }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // a masked source's dv rides along: the zero-row placeholder records
    // the deletion-vectors protocol feature at staging (and skips the
    // bitmap derivation there — the staged keys would be the SOURCE
    // tails); the real mask lands RE-KEYED in finalizeVersion below,
    // where the clone's version dir name is known
    val dvSrc = dvOf(spark, srcRoot, v) // folded: self-contained copy
    commitWith(empty, destRoot, collectStats = false,
      extras = ledgerExtra ++
        dvSrc.map(d => "dv" -> d.limit(0)).toMap,
      preCommit = emptyGuard,
      recordInfo = Map("operation" -> "deep-clone",
        ChangesFormKey -> "none"),
      finalizeVersion = (fh, dir, ver) => {
        // the zero-row commit frame leaves one empty part file in the
        // dir — drop it so the snapshot lists EXACTLY the copied files
        dataFiles(fh, dir).foreach(s => fh.delete(s.getPath, false))
        // DISTRIBUTED byte copy into the (already-renamed) version dir:
        // each task streams its slice of files src → dest through the
        // executor-side filesystems; O(bytes/parallelism) wall time,
        // zero driver data I/O
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val pairs = srcRefs.map { r =>
          (srcFs.makeQualified(new Path(srcRoot, r)).toString,
            new Path(dir, newRel(r)).toString)
        }
        val slices = math.min(pairs.size,
          math.max(1, spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(pairs, slices).foreachPartition { it =>
          it.foreach { case (srcP, dstP) =>
            val sp = new Path(srcP); val dp = new Path(dstP)
            org.apache.hadoop.fs.FileUtil.copy(
              sp.getFileSystem(hconf.value), sp,
              dp.getFileSystem(hconf.value), dp,
              false, true, hconf.value)
          }
        }
        // stats carry re-keyed to the copied names (plain dir snapshot:
        // bare-name keys), all-or-none as every carry
        val rows = srcRefs.flatMap { r =>
          srcStats.getOrElse(srcKeyOf(r), Map.empty).toSeq.map {
            case (c, (k, mn, mx, nu, nr)) => (newRel(r), c, k, mn, mx, nu, nr)
          }
        }
        val covered = srcRefs.forall(r => srcStats.contains(srcKeyOf(r)))
        if (rows.nonEmpty && covered) TableStats.writeRows(fh, dir, rows)
        else fh.delete(new Path(dir, "_stats"), true)
        try FileSizes.append(fh, dir, srcRefs.flatMap(r =>
          srcSizes.get(r).map(len => (f"v$ver%08d/" + newRel(r)) -> len)))
        catch {
          case e: Exception =>
            maintLog.warn(s"size-sidecar carry skipped for deep clone $dir", e)
        }
        // mask carry: each (file, pos) entry re-keys from the source
        // file's tail to its copied name under THIS version dir —
        // positions are byte-copy-invariant. The bitmap index keys by
        // file name, so it re-derives here (above the usual floor)
        // instead of copying stale keys.
        dvSrc.foreach { dv =>
          import org.apache.spark.sql.functions.{broadcast, col}
          import spark.implicits._
          val keyDf = srcRefs
            .map(r => refTail(r) -> (dir.getName + "/" + newRel(r)))
            .toDF("file", "__clone_file")
          val reKeyed = dv.join(broadcast(keyDf), Seq("file"))
            .select(col("__clone_file").as("file"), col("pos"))
          val dvDir = new Path(dir, "_dv")
          fh.delete(dvDir, true)
          reKeyed.write.parquet(dvDir.toString)
          val bytes = fh.listStatus(dvDir).iterator
            .filter(_.isFile).map(_.getLen).sum
          val floor = spark.conf
            .get(DvBitmapFloorKey, DvBitmapFloorDefault.toString).toLong
          if (bytes > floor) DvBitmaps.write(spark, dvDir)
        }
      },
      recordSchema = Some(schema),
      recordConstraints = Some(constraintsOf(spark, srcRoot, v)),
      recordProperties = Some(propertiesOf(spark, srcRoot, v)),
      recordMapping = Some((columnMapping(spark, srcRoot, v),
        retiredPhysicals(spark, srcRoot, v))))
  }

  /** Driver budget (number of `listStatus` calls) for [[convertToGraft]]'s
    * directory walk — a small table must not pay a Spark-job launch to
    * list a handful of dirs. Past the budget the REMAINING frontier
    * lists through ONE distributed job (one recursive `listFiles` per
    * task), so a million-file conversion never loops O(dirs) on the
    * driver — the [[FileSizes.statRefs]] pattern, applied to the last
    * O(files) driver loop the convert road had. */
  private[graft] val ConvertListBudgetKey = "spark.graft.convert.driverListBudget"
  private val ConvertListBudgetDefault = 256

  /** Recursive (qualified path, byte length) listing of every visible
    * `*.parquet` under `rootPath`: breadth-first on the driver up to
    * [[ConvertListBudgetKey]] dir listings, then the remaining frontier
    * distributes. Hidden dirs/files (`_`/`.` prefixed) are skipped on
    * both roads — the distributed road re-checks every path segment
    * below its frontier dir, so the two roads accept identical sets. */
  private def convertListing(
      spark: SparkSession, f: org.apache.hadoop.fs.FileSystem,
      rootPath: Path): Seq[(String, Long)] = {
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    val budget = spark.conf.getOption(ConvertListBudgetKey)
      .map(_.toInt).getOrElse(ConvertListBudgetDefault)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val frontier = scala.collection.mutable.Queue(rootPath)
    var listed = 0
    while (frontier.nonEmpty && listed < budget) {
      val d = frontier.dequeue(); listed += 1
      f.listStatus(d).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory) { if (!hidden(n)) frontier.enqueue(s.getPath) }
        else if (n.endsWith(".parquet") && !hidden(n))
          files += ((f.makeQualified(s.getPath).toString, s.getLen))
      }
    }
    if (frontier.isEmpty) files.toSeq
    else {
      val pending = frontier.toSeq.map(p => f.makeQualified(p).toString)
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val slices = math.min(pending.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      val extra = spark.sparkContext.parallelize(pending, slices)
        .flatMap { (dirStr: String) =>
          val dp = new Path(dirStr)
          val dfs = dp.getFileSystem(hconf.value)
          val it = dfs.listFiles(dp, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          while (it.hasNext) {
            val s = it.next()
            val p = s.getPath.toString
            val below = p.stripPrefix(dirStr).split('/')
            if (s.getPath.getName.endsWith(".parquet") &&
                below.forall(seg => seg.isEmpty || !hidden(seg)))
              buf += ((p, s.getLen))
          }
          buf
        }.collect().toSeq
      files.toSeq ++ extra
    }
  }

  /** The narrowest partition-column type every raw dir value fits —
    * the [[canonPartValue]] domains (long, date, double, string), so
    * partition pruning on the synthesized column always compares in a
    * canonical stats kind. */
  private def inferPartType(
      vals: Seq[String]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def all(p: String => Unit): Boolean =
      vals.nonEmpty && vals.forall(s =>
        try { p(s); true } catch { case _: Exception => false })
    if (all(_.toLong)) LongType
    else if (all(java.time.LocalDate.parse(_))) DateType
    else if (all(_.toDouble)) DoubleType
    else StringType
  }

  /** CONVERT an existing plain-parquet directory into a versioned table
    * IN PLACE (Delta's `CONVERT TO DELTA`): version 1 is a MANIFEST
    * commit referencing the existing files by absolute path — ZERO data
    * bytes move at any table size — with the inferred schema recorded,
    * per-file stats collected (distributed footer read beyond the
    * driver budget, so a million-file conversion never loops on the
    * driver), byte sizes recorded from the same listing, and the
    * listing itself distributed past [[ConvertListBudgetKey]]. After
    * the convert the directory is a full citizen: append/delete/update/
    * optimize/time-travel all work, and new commits land in version
    * dirs beside the original files (which vacuum never touches — they
    * are referenced data, exactly like a shallow clone's source).
    *
    * Hive-PARTITIONED layouts (`col=val/` subdirectories — the most
    * common real-world lake layout, the reference's own date-batched
    * load shape: /root/reference/dags/retail_hourly_etl.py) convert in
    * place too, Delta-CONVERT style: the partition columns are inferred
    * from the dir segments (names from the layout, each type the
    * narrowest [[canonPartValue]] domain every value fits), recorded in
    * the schema and [[PartitionByProp]], and [[HivePartitionedProp]]
    * marks the table so reads synthesize the values from each file's
    * path ([[synthHiveParts]]) — the original files stay byte-identical
    * and pruning/partition-drop work from the same segments
    * ([[partRawValues]]' bare form). Refused honestly: an inconsistent
    * partition dir chain across files, a partition column that also
    * exists inside the files (the dir value could contradict it), and
    * malformed `%` escapes (the read-side decode is exact and must not
    * throw later). No change feed is recorded (the files predate the
    * log — same as Delta); streaming consumers start with
    * [[graft.streaming.ChangeFeedStream]]'s `initialSnapshot`. */
  def convertToGraft(spark: SparkSession, root: String): Long = {
    require(currentVersion(spark, root).isEmpty,
      s"$root already holds a versioned table")
    val f = fs(spark, root)
    val rootPath = f.makeQualified(new Path(root))
    require(f.exists(rootPath) && f.getFileStatus(rootPath).isDirectory,
      s"CONVERT TO GRAFT needs an existing directory: $root")
    val listed = convertListing(spark, f, rootPath).sortBy(_._1)
    require(listed.nonEmpty, s"no parquet files under $root to convert")
    val refs = listed.map(_._1)
    val rootPrefix = rootPath.toString.stripSuffix("/") + "/"
    // ---- Hive partition inference from the dir chain below the root
    val chains: Seq[Seq[(String, String)]] = refs.map { p =>
      p.stripPrefix(rootPrefix).split('/').toSeq.dropRight(1).collect {
        case seg if seg.contains('=') && seg.indexOf('=') > 0 =>
          val i = seg.indexOf('=')
          (seg.substring(0, i), seg.substring(i + 1))
      }
    }
    val specs = chains.map(_.map(_._1)).distinct
    require(specs.size == 1,
      s"inconsistent Hive partition layout under $root — every file must " +
        s"sit under the same partition dir chain; found: " +
        specs.take(3).map(s => if (s.isEmpty) "(none)" else s.mkString("/"))
          .mkString(" vs "))
    val partCols = specs.head
    require(partCols.distinct == partCols,
      s"partition dir chain repeats a column under $root: " +
        partCols.mkString("/"))
    require(partCols.forall(c => !c.startsWith(PartDirPrefix) && !c.startsWith("__")),
      s"partition dir names $PartDirPrefix*/__* are reserved; " +
        s"found: ${partCols.mkString("/")}")
    // the read-side decode (url_decode) is exact only for well-formed
    // %XX escapes — refuse a malformed one now, not at first read
    val badEscape = chains.flatten.map(_._2).distinct
      .filter(v => "%(?![0-9A-Fa-f]{2})".r.findFirstIn(v).isDefined)
    require(badEscape.isEmpty,
      s"malformed % escape in partition dir value(s) under $root: " +
        badEscape.take(3).mkString(", "))
    // schema inference never needs every footer: sample across the
    // listing (files of one layout share a schema; a genuinely drifted
    // layout should COPY INTO with an explicit schema instead)
    val sample =
      if (refs.size <= 32) refs
      else {
        val step = refs.size / 32
        (0 until 32).map(i => refs(i * step))
      }
    val dataSchema = spark.read.option("recursiveFileLookup", "true")
      .parquet(sample: _*).schema
    val collide = dataSchema.fieldNames
      .filter(n => partCols.exists(_.equalsIgnoreCase(n)))
    require(collide.isEmpty,
      s"partition column(s) ${collide.mkString(", ")} also exist inside " +
        s"$root's files — the dir value could contradict the stored one; " +
        "re-load with COPY INTO / commit(partitionBy) instead")
    val partFields = partCols.map { c =>
      val vals = chains.flatMap(_.collect {
        case (n, v) if n == c => unescapePathName(v)
      }).distinct.filterNot(_ == HiveNullPartition)
      org.apache.spark.sql.types.StructField(c, inferPartType(vals),
        nullable = true)
    }
    val schema = org.apache.spark.sql.types.StructType(
      dataSchema.fields.toSeq ++ partFields)
    val props: Option[Map[String, String]] =
      if (partCols.isEmpty) None
      else Some(Map(PartitionByProp -> partCols.mkString(","),
        HivePartitionedProp -> "true"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    commitWith(empty, root, collectStats = false, extras = Map.empty,
      recordInfo = Map("operation" -> "convert"),
      // two racing converters must not both claim success
      preCommit = _ => currentVersion(spark, root).foreach(cv =>
        throw new IllegalStateException(
          s"concurrent CONVERT: $root gained v$cv while this one ran")),
      finalizeVersion = (fh, dir, _) => {
        val rows = TableStats.collectRows(spark, fh,
          listed.map { case (p, _) => (new Path(p), p) })
        // all-or-none coverage, as every stats table
        val keyed = rows.map(_._1).toSet
        if (rows.nonEmpty && refs.forall(keyed))
          TableStats.writeRows(fh, dir, rows)
        try FileSizes.append(fh, dir, listed)
        catch {
          case e: Exception =>
            maintLog.warn(s"size-sidecar write skipped for convert $dir", e)
        }
        val out = fh.create(
          new Path(new Path(dir, "_manifest"), "manifest.txt"), true)
        try out.write(refs.mkString("", "\n", "\n").getBytes("UTF-8"))
        finally out.close()
      },
      recordSchema = Some(schema),
      recordProperties = props)
  }

  /** Constraints whose expression mentions `column` as a word — the
    * conservative guard rename/drop use to refuse breaking a recorded
    * CHECK silently. */
  private def constraintsMentioning(
      spark: SparkSession, root: String, v: Long, column: String): Seq[String] = {
    val re = ("(?i)\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
    constraintsOf(spark, root, v).collect {
      case (n, e) if re.findFirstIn(e).isDefined => n
    }.toSeq
  }

  /** METADATA-ONLY column RENAME (Delta column mapping): publish a new
    * version whose logical schema carries the new name while the
    * logical→physical map keeps pointing at the column's BIRTH name —
    * zero data files read or written, whatever the table size. Reads of
    * the new version surface the new name over all existing data; time
    * travel keeps showing each version under its own names; writers use
    * the new name from the next commit on (drifted writers are refused by
    * the schema gate, exactly as before). Refuses when a CHECK constraint
    * references the column — drop or re-add the constraint around the
    * rename, or it would silently stop binding. */
  def renameColumn(
      spark: SparkSession, root: String, from: String, to: String): Long =
    occRetry(spark, root) { cur =>
      val schema = schemaOf(spark, root, cur)
      require(schema.fieldNames.contains(from),
        s"no column $from in $root (columns: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column $to already exists in $root")
      require(!to.startsWith("__"),
        s"column names starting with __ are reserved (got $to)")
      val broken = constraintsMentioning(spark, root, cur, from)
      require(broken.isEmpty,
        s"CHECK constraint(s) ${broken.mkString(", ")} reference $from — " +
          "drop them before the rename and re-add against the new name")
      val mapping = columnMapping(spark, root, cur)
      val phys = physicalName(mapping, from)
      val newMapping = (mapping - from) ++
        (if (to == phys) Map.empty[String, String] else Map(to -> phys))
      val newSchema = org.apache.spark.sql.types.StructType(schema.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newSchema)
      // the partition property speaks LOGICAL names: follow the rename
      // (dir segments keep the frozen physical name and resolve through
      // the mapping, so pruning and drops keep working)
      val curProps = propertiesOf(spark, root, cur)
      val partRenamed = curProps.get(PartitionByProp) match {
        case Some(specStr) if specStr.split(',').contains(from) =>
          curProps.updated(PartitionByProp,
            specStr.split(',').toSeq.map(c => if (c == from) to else c)
              .mkString(","))
        case _ => curProps
      }
      // generated-column definitions FOLLOW the rename too (the same
      // logical-names rule): renaming the generated column moves its
      // property key; renaming the BASE rewrites each generator's text.
      // Without this, every later commit would try to enforce/populate
      // against a column that no longer exists — an unwritable table,
      // since the definitions are immutable; or worse, a later re-add of
      // the old name would silently feed the generator the wrong data.
      val gensRenamed = GeneratedCols.of(curProps).foldLeft(partRenamed) {
        case (p, (c, g)) =>
          val p1 =
            if (!c.equalsIgnoreCase(from)) p
            else (p - (GeneratedCols.Prefix + c))
              .updated(GeneratedCols.Prefix + to, g.text)
          if (!g.base.equalsIgnoreCase(from)) p1
          else {
            val key = if (c.equalsIgnoreCase(from)) GeneratedCols.Prefix + to
                      else GeneratedCols.Prefix + c
            p1.updated(key, g.render(to))
          }
      }
      val specAdjusted = Bucketing.dropSpecIfKey(gensRenamed, from)
      val renamedProps =
        if (specAdjusted == curProps) None else Some(specAdjusted)
      commitCowInternal(empty, root, cur, dataFileRefs(spark, root, cur),
        Map.empty, // metadata-only: virtual zero-row feed
        Nil, preCommit = occValidate(spark, root, cur),
        recordSchema = Some(newSchema),
        recordProperties = renamedProps,
        recordMapping = Some((newMapping, retiredPhysicals(spark, root, cur))),
        recordInfo = Map("operation" -> "rename-column",
          ChangesFormKey -> "none") ++
          Bucketing.stampOf(specAdjusted))
    }

  /** METADATA-ONLY column DROP (Delta column mapping): the logical schema
    * loses the field and its physical birth name is RETIRED — the bytes
    * stay in the existing files (readers never request the column;
    * columnar pruning means they never pay for it either) and fold away
    * as compaction/optimize rewrites touch each file. A later add of the
    * same logical name mints a fresh physical name, so the dropped
    * column's stale values can never resurrect. Refuses to drop the last
    * column or one a CHECK constraint references. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long =
    occRetry(spark, root) { cur =>
      require(!partitionColumnsOf(spark, root, cur).contains(name),
        s"$name is a partition column of $root — the layout depends on it; " +
          "repartition via a full rewrite before dropping")
      // generated-column references: dropping the GENERATED column or a
      // generator's BASE would leave an unsatisfiable immutable
      // definition — every later commit would fail resolving it (and the
      // definitions cannot be unset), so refuse up front
      GeneratedCols.of(propertiesOf(spark, root, cur)).foreach { case (c, g) =>
        require(!c.equalsIgnoreCase(name),
          s"$name is a generated column of $root ($c = ${g.text}); its " +
            "definition is fixed at birth — repartition via a full rewrite")
        require(!g.base.equalsIgnoreCase(name),
          s"$name is the base of generated column $c = ${g.text} — " +
            "dropping it would leave the generator unsatisfiable")
      }
      val schema = schemaOf(spark, root, cur)
      require(schema.fieldNames.contains(name),
        s"no column $name in $root (columns: ${schema.fieldNames.mkString(", ")})")
      require(schema.size > 1, s"cannot drop the last column of $root")
      val broken = constraintsMentioning(spark, root, cur, name)
      require(broken.isEmpty,
        s"CHECK constraint(s) ${broken.mkString(", ")} reference $name — " +
          "drop them before dropping the column")
      val mapping = columnMapping(spark, root, cur)
      val phys = physicalName(mapping, name)
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.filterNot(_.name == name))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newSchema)
      commitCowInternal(empty, root, cur, dataFileRefs(spark, root, cur),
        Map.empty, // metadata-only: virtual zero-row feed
        Nil, preCommit = occValidate(spark, root, cur),
        recordSchema = Some(newSchema),
        recordProperties = Some(Bucketing.dropSpecIfKey(
          propertiesOf(spark, root, cur), name)),
        recordMapping = Some((mapping - name,
          retiredPhysicals(spark, root, cur) + phys)),
        recordInfo = Map("operation" -> "drop-column",
          ChangesFormKey -> "none") ++
          Bucketing.stampOf(Bucketing.dropSpecIfKey(
            propertiesOf(spark, root, cur), name)))
    }

  /** `SHOW PARTITIONS`: the current snapshot's live partition tuples —
    * METADATA-ONLY, derived from the manifest's dir segments (native
    * `p__col=val` and a converted table's bare `col=val` alike), with
    * per-partition file counts and recorded bytes. One row per tuple,
    * rendered Spark-style (`c1=v1/c2=v2`, nulls as the Hive marker),
    * sorted. Refuses on an unpartitioned table, as Spark's own verb
    * does. O(files) driver string work — the same scale class as every
    * manifest operation; zero data I/O. */
  def partitions(
      spark: SparkSession, root: String): Seq[(String, Int, Long)] = {
    val v = currentVersion(spark, root).getOrElse(
      throw new java.io.IOException(s"no committed version under $root"))
    val spec = partitionColumnsOf(spark, root, v)
    require(spec.nonEmpty,
      s"SHOW PARTITIONS is only defined on partitioned tables — " +
        s"$root records no $PartitionByProp")
    val reverse = columnMapping(spark, root, v).map(_.swap)
    val sizes =
      try fileSizes(spark, root, v)
      catch { case _: Exception => Map.empty[String, Long] }
    dataFileRefs(spark, root, v)
      .map { r =>
        val raw = partRawValues(r, reverse, spec.toSet)
        val rendered = spec.map { c =>
          raw.get(c) match {
            case Some(Some(s)) => s"$c=$s"
            case Some(None) => s"$c=$HiveNullPartition"
            case None => s"$c=<undecidable>" // pre-spec vintage file
          }
        }.mkString("/")
        (rendered, r)
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (part, refs) =>
        (part, refs.size, refs.map(x => sizes.getOrElse(x._2, 0L)).sum)
      }
  }

  /** One-row current-snapshot summary — `DESCRIBE DETAIL`'s body (the
    * Delta shape): metadata-only, no data read. Row layout matches
    * [[org.apache.spark.sql.graft.GraftDetailCommand]]. */
  def detail(spark: SparkSession, root: String): org.apache.spark.sql.Row = {
    val v = currentVersion(spark, root).getOrElse(
      throw new java.io.IOException(s"no committed version under $root"))
    val refs = dataFileRefs(spark, root, v)
    val ledger = copyLedger(spark, root, v).map(_.count()).getOrElse(0L)
    org.apache.spark.sql.Row(
      root, v, refs.size, snapshotBytes(spark, root, v),
      schemaOf(spark, root, v).size,
      columnMapping(spark, root, v).size,
      constraintsOf(spark, root, v).size,
      propertiesOf(spark, root, v).size,
      hasDeletionVectors(spark, root, v),
      ledger,
      versions(spark, root).size,
      protocolOf(spark, root, v)._1.toSeq.sorted.mkString(","),
      // metadata-only, per this function's contract: the ANN drift probe
      // reads data (sampled brute-force recall) so DESCRIBE DETAIL skips
      // it — MAINTAIN [DRY RUN] is the face that measures everything
      maintenanceReport(spark, root, measureAnnDrift = false)
        .recommendations.mkString(","))
  }

  // ---- auto-maintenance policy --------------------------------------------

  /** Table property recording the clustering columns of the last full
    * [[optimize]]/[[optimizeZOrder]] — carried forward by every commit
    * like any property, so [[maintenanceReport]] knows WHICH columns the
    * layout is supposed to be clustered on. */
  val ClusteredByProp = "graft.clusteredBy"

  /** What [[maintenanceReport]] measured and concluded. `avgRangeOverlap`
    * = mean number of OTHER files whose lead-clustering-column [min,max]
    * range overlaps a file's range (0 = perfectly disjoint layout; it
    * grows as appends interleave key ranges). */
  final case class MaintenanceReport(
      version: Long,
      dataFiles: Int,
      tableBytes: Long,
      dvBytes: Long,
      dvFraction: Double,
      smallFiles: Int,
      smallFileFraction: Double,
      clusteredBy: Seq[String],
      avgRangeOverlap: Double,
      copyLedgerDepth: Int,
      retainedVersions: Int,
      recommendations: Seq[String],
      annRecall: Seq[(String, Double)] = Nil,
      mvVersionsBehind: Long = 0L)

  /** MEASURE-THEN-RECOMMEND maintenance policy (the shape of
    * [[graft.operators.Similarity.driftReport]] applied to table
    * layout): inspect the current snapshot's metadata — sidecar bytes,
    * file-size histogram, footer-stats range overlap, ledger depth,
    * retained-version count; all metadata-scale, no data scan — and
    * emit typed recommendations:
    *
    *  - `compact` when the deletion-vector sidecar reaches `dvFloor` of
    *    the table's data bytes (a masked read pays the mask on every
    *    scan until a rewrite folds it), or when at least
    *    `smallFileFloor` of the files are under half `targetFileBytes`
    *    (a year of micro-batch commits should not cost a file-open per
    *    batch per reader);
    *  - `optimize` when the table records a clustering
    *    ([[ClusteredByProp]]) but the lead column's file ranges overlap
    *    beyond `overlapFloor` — appends since the last optimize have
    *    interleaved the key space and range pruning is decaying;
    *  - `foldCopyLedger` when the incremental COPY INTO ledger's
    *    version walk exceeds the fold cadence;
    *  - `vacuum` when more than `keepVersions` versions are retained;
    *  - `rebuild_ann:<name>` when a REGISTERED ANN index's measured
    *    recall@k ([[graft.operators.AnnIndexes.drift]] — brute-force
    *    ground truth on a deterministic sample) falls under its floor:
    *    appends between rebuilds froze the trained geometry while the
    *    corpus distribution moved (the faiss operating rule, measured).
    *    The drift probe is the ONE recommendation that reads data — its
    *    cost is bounded by each index's recorded `sampleEvery`; pass
    *    `measureAnnDrift = false` for a metadata-only report (what
    *    `DESCRIBE DETAIL` does).
    *
    * Delta/Iceberg ship auto-compaction heuristics for the same reason:
    * an operator should be TOLD a table needs maintenance, not notice.
    * Wire this to a scheduler (run per ingest epoch beside driftReport)
    * and dispatch the verbs it names; surfaced in `DESCRIBE DETAIL` as
    * the `maintenance` column. */
  def maintenanceReport(
      spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      dvFloor: Double = 0.05,
      smallFileFloor: Double = 0.5,
      overlapFloor: Double = 2.0,
      keepVersions: Int = 96,
      measureAnnDrift: Boolean = true): MaintenanceReport = {
    val v = currentVersion(spark, root).getOrElse(
      throw new java.io.IOException(s"no committed version under $root"))
    val refs = dataFileRefs(spark, root, v)
    // commit-recorded sizes (AddFile shape) — NOT a per-file stat walk;
    // legacy vintages resolve via one distributed job ([[fileSizes]])
    val sizeOf = fileSizes(spark, root, v)
    // a ref with no resolvable size (cross-store legacy clone, dead
    // source) counts as unsized rather than failing the report
    val sizes = refs.flatMap(sizeOf.get)
    val tableBytes = sizes.sum
    val dvBytes = dvBytesOf(spark, root, v)
    val dvFraction =
      if (tableBytes == 0L) (if (dvBytes > 0) 1.0 else 0.0)
      else dvBytes.toDouble / tableBytes
    val small = sizes.count(_ < targetFileBytes / 2)
    val smallFraction = if (refs.isEmpty) 0.0 else small.toDouble / refs.size
    val clusteredBy = propertiesOf(spark, root, v).get(ClusteredByProp)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val overlap = clusteredBy.headOption.map { lead =>
      val phys = physicalName(columnMapping(spark, root, v), lead)
      rangeOverlapMetric(
        statsOf(spark, root, v),
        phys)
    }.getOrElse(0.0)
    val ledgerDepth = copyLedgerDepth(spark, root, v)
    val foldEvery = spark.conf.getOption("spark.graft.copy.foldEvery")
      .map(_.toInt).getOrElse(64)
    val retained = versions(spark, root).size
    val recs = scala.collection.mutable.LinkedHashSet.empty[String]
    if (dvBytes > 0L && dvFraction >= dvFloor) recs += "compact"
    if (refs.size > 1 && smallFraction >= smallFileFloor) recs += "compact"
    if (clusteredBy.nonEmpty && overlap >= overlapFloor) recs += "optimize"
    if (ledgerDepth > foldEvery) recs += "foldCopyLedger"
    if (retained > keepVersions) recs += "vacuum"
    // a MATERIALIZED VIEW trails its source by however many versions its
    // refresh high-water hasn't folded — staleness IS a maintenance
    // condition (the operator should be TOLD the view is behind, not
    // diff txn stamps by hand). Parameterized verb like rebuild_ann:
    // the lag rides the recommendation (and DESCRIBE DETAIL's
    // maintenance column); REFRESH is the dispatched action. Three
    // metadata reads, no data scan — a vanished source reports as
    // unmeasurable rather than failing the whole tick.
    // a join-backed view trails whichever of its sources (fact + every
    // star dim) is furthest ahead of its stamp — one refresh folds all
    // feeds, so the max IS the refresh's catch-up distance. Delegated
    // to the management face ([[AggReplica.versionsBehind]]) so SHOW
    // MATERIALIZED VIEWS and this report can never drift; it degrades a
    // vanished source or corrupted property to 0, the tick's rule.
    val mvBehind =
      if (!propertiesOf(spark, root, v).contains(AggReplica.MvSourceProp)) 0L
      else try AggReplica.versionsBehind(spark, root)
      catch { case _: Exception => 0L }
    if (mvBehind > 0) recs += s"refresh_view:$mvBehind"
    // registered ANN indexes: measure recall against the current corpus
    // and recommend a geometry rebuild under the recorded floor. A
    // broken registration (dropped index table) degrades to a logged
    // skip — one stale pointer must not kill the whole tick.
    val ann =
      if (!measureAnnDrift) Nil
      else graft.operators.AnnIndexes.registered(spark, root).flatMap { sp =>
        try {
          val d = graft.operators.AnnIndexes.drift(spark, root, sp)
          if (d.rebuildRecommended) recs += s"rebuild_ann:${sp.name}"
          Some(sp.name -> d.recallAtK)
        } catch {
          case e: Exception =>
            maintLog.warn(
              s"ANN drift probe for index '${sp.name}' on $root failed " +
                s"(skipping): ${e.getMessage}")
            None
        }
      }
    MaintenanceReport(v, refs.size, tableBytes, dvBytes, dvFraction,
      small, smallFraction, clusteredBy, overlap, ledgerDepth, retained,
      recs.toSeq, ann, mvBehind)
  }

  private val maintLog = org.slf4j.LoggerFactory.getLogger(getClass)
  private val tsWarnOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** EXECUTE the verbs [[maintenanceReport]] recommends — the dispatcher
    * an operator (or a scheduler tick per ingest epoch) calls so the
    * loop is measure → recommend → ACT, not measure → hope. Verb
    * resolution: a compact on a table with a recorded clustering runs
    * as [[optimize]] on those columns (a plain compact would DESTROY the
    * clustered layout it measures), so overlapping compact+optimize
    * recommendations collapse into one rewrite; `foldCopyLedger` and
    * `vacuum` (at `keepVersions`) run as themselves. Returns the verbs
    * actually executed, in order — empty means the table was healthy.
    * Each verb is the normal OCC-committing operation: concurrent
    * writers rebase exactly as against any maintenance commit. */
  def applyMaintenance(
      spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      dvFloor: Double = 0.05,
      smallFileFloor: Double = 0.5,
      overlapFloor: Double = 2.0,
      keepVersions: Int = 96): Seq[String] = {
    val rep = maintenanceReport(spark, root, targetFileBytes, dvFloor,
      smallFileFloor, overlapFloor, keepVersions)
    val verbs = rep.recommendations.toSet
    val done = scala.collection.mutable.ArrayBuffer.empty[String]
    if (verbs.contains("optimize") ||
        (verbs.contains("compact") && rep.clusteredBy.nonEmpty)) {
      optimize(spark, root, rep.clusteredBy, targetFileBytes)
      done += "optimize"
    } else if (verbs.contains("compact")) {
      compact(spark, root, targetFileBytes)
      done += "compact"
    }
    if (verbs.contains("foldCopyLedger")) {
      foldCopyLedger(spark, root)
      done += "foldCopyLedger"
    }
    if (verbs.contains("vacuum")) {
      vacuum(spark, root, keepVersions)
      done += "vacuum"
    }
    // a stale materialized view: dispatch its REFRESH (exactly-once —
    // a concurrent refresher's claim makes the loser a no-op)
    rep.recommendations.find(_.startsWith("refresh_view")).foreach { _ =>
      AggReplica.refreshView(spark, root)
      done += "refresh_view"
    }
    // drifted ANN indexes: re-train each named index's geometry on the
    // current corpus (SaveMode.Overwrite build — probes atomically see
    // the fresh geometry; identical to running build*Index by hand)
    rep.recommendations.filter(_.startsWith("rebuild_ann:")).foreach { verb =>
      val name = verb.stripPrefix("rebuild_ann:")
      graft.operators.AnnIndexes.registered(spark, root)
        .find(_.name == name).foreach { sp =>
          graft.operators.AnnIndexes.rebuild(spark, root, sp)
          done += verb
        }
    }
    done.toSeq
  }

  /** Mean count of OTHER files whose [min,max] range on `col` overlaps a
    * file's own range — 0 for a freshly range-clustered layout (disjoint
    * files; boundary-value ties count), approaching (files - 1) for a
    * fully interleaved one. Driver-side over the footer-stats table,
    * sampled to 256 files so the pairwise pass stays O(1)-ish whatever
    * the file count; files without usable stats are skipped
    * (conservative: unmeasurable ≠ drifted). */
  private def rangeOverlapMetric(
      stats: Map[String, Map[String, (String, Option[String], Option[String], Long, Long)]],
      col: String): Double = {
    val numeric = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val textual = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    stats.valuesIterator.foreach { cols =>
      cols.get(col).foreach {
        case (kind, Some(mn), Some(mx), _, _) =>
          if (kind == "string") textual += ((mn, mx))
          else for (a <- mn.toDoubleOption; b <- mx.toDoubleOption)
            numeric += ((a, b))
        case _ => ()
      }
    }
    def mean[T](rs: IndexedSeq[T])(overlaps: (T, T) => Boolean): Double = {
      val s = rs.take(256)
      if (s.length < 2) 0.0
      else {
        var total = 0L
        var i = 0
        while (i < s.length) {
          var j = 0
          while (j < s.length) {
            if (i != j && overlaps(s(i), s(j))) total += 1
            j += 1
          }
          i += 1
        }
        total.toDouble / s.length
      }
    }
    if (numeric.nonEmpty)
      mean(numeric.toIndexedSeq) { case ((aMin, aMax), (bMin, bMax)) =>
        aMin <= bMax && bMin <= aMax }
    else
      mean(textual.toIndexedSeq) { case ((aMin, aMax), (bMin, bMax)) =>
        aMin <= bMax && bMin <= aMax }
  }

  // ---- table properties ---------------------------------------------------

  /** The free-form table PROPERTIES recorded for version `v` (Delta's
    * TBLPROPERTIES): engine knobs — e.g. `graft.enableDeletionVectors` —
    * and user annotations, carried by every commit path like the schema
    * and constraints. Empty for versions before any [[setProperties]]. */
  def propertiesOf(
      spark: SparkSession, root: String, v: Long): Map[String, String] = {
    val g = groupedMetaOf(spark, root, v)
    if (g.nonEmpty) groupedSection(g, GroupedPropPrefix)
    else readVersionProps(spark, root, v,
      new Path(new Path(dataDir(spark, root, v), "_properties"),
        "table.properties"))
  }

  /** Convenience: a boolean property of the CURRENT version (false when
    * unset, the table is empty, or the value isn't `true`). */
  def boolProperty(spark: SparkSession, root: String, key: String): Boolean =
    currentVersion(spark, root)
      .exists(v => propertiesOf(spark, root, v).get(key).exists(_.trim
        .equalsIgnoreCase("true")))

  /** SET table properties (merge semantics, as `ALTER TABLE ... SET
    * TBLPROPERTIES`): a metadata-only commit carrying every data file by
    * reference and the merged property map. */
  def setProperties(
      spark: SparkSession, root: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties needs at least one property")
    occRetry(spark, root) { cur =>
      // the partition spec shapes the physical layout of every committed
      // file — flipping it via a metadata-only property write would leave
      // files that disagree with it; the spec is set at table birth only
      val curSpec = propertiesOf(spark, root, cur).get(PartitionByProp)
      require(!props.contains(PartitionByProp) ||
        props.get(PartitionByProp) == curSpec,
        s"$PartitionByProp is fixed at table birth (commit(partitionBy=...)); " +
          "it cannot be changed through setProperties")
      // load-bearing for reads of a converted table's original files
      // (partition values synthesize from paths only while it's set)
      val curHive = propertiesOf(spark, root, cur).get(HivePartitionedProp)
      require(!props.contains(HivePartitionedProp) ||
        props.get(HivePartitionedProp) == curHive,
        s"$HivePartitionedProp is set by CONVERT TO GRAFT only; " +
          "it cannot be changed through setProperties")
      // a generator governs committed data (population + layout): a
      // post-birth change would disagree with every existing file
      val curProps = propertiesOf(spark, root, cur)
      props.keys.filter(_.startsWith(GeneratedCols.Prefix)).foreach { k =>
        require(curProps.get(k).contains(props(k)),
          s"$k is fixed at table birth (commit(recordProperties=...)); " +
            "it cannot be changed through setProperties")
      }
      // the zone pin governs which timestamp-base generators are derivable
      // and which populated values are trusted; it does NOT share the
      // generatedCol.* prefix, so guard it explicitly — re-pinning a live
      // table would let predicates prune partitions populated under a
      // different zone
      require(!props.contains(GeneratedCols.ZoneProp) ||
        props.get(GeneratedCols.ZoneProp) == curProps.get(GeneratedCols.ZoneProp),
        s"${GeneratedCols.ZoneProp} is pinned at table birth; " +
          "it cannot be changed through setProperties")
      // stored-expression generators and identity definitions are fixed
      // at birth like the partition generators; the identity HIGH-WATER
      // advances only through allocating commits — a manual write would
      // fork or rewind the sequence
      (GeneratedCols.ExprPrefix :: GeneratedCols.IdentityPrefix :: Nil)
        .foreach { pfx =>
          props.keys.filter(_.startsWith(pfx)).foreach { k =>
            require(curProps.get(k).contains(props(k)),
              s"$k is fixed at table birth (commit(recordProperties=...)); " +
                "it cannot be changed through setProperties")
          }
        }
      require(!props.keys.exists(_.startsWith(GeneratedCols.IdentityHighPrefix)),
        s"${GeneratedCols.IdentityHighPrefix}* advances only through " +
          "identity-allocating commits; it cannot be set directly")
      metadataOnlyCommit(spark, root, cur,
        recordProperties = Some(propertiesOf(spark, root, cur) ++ props),
        op = "set-properties")
    }
  }

  /** UNSET table properties by key (`ALTER TABLE ... UNSET TBLPROPERTIES`);
    * unknown keys are ignored, as Spark's own UNSET is. */
  def unsetProperties(
      spark: SparkSession, root: String, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetProperties needs at least one key")
    require(!keys.contains(PartitionByProp),
      s"$PartitionByProp is fixed at table birth; it cannot be unset " +
        "(the committed layout depends on it)")
    require(!keys.contains(HivePartitionedProp),
      s"$HivePartitionedProp cannot be unset — a converted table's " +
        "original files carry partition values only in their dir names")
    require(!keys.exists(_.startsWith(GeneratedCols.Prefix)),
      "generated-column definitions are fixed at table birth; they " +
        "cannot be unset (population and derived pruning depend on them)")
    require(!keys.contains(GeneratedCols.ZoneProp),
      s"${GeneratedCols.ZoneProp} cannot be unset — without the birth-zone " +
        "pin, timestamp-base generators would derive pruning predicates " +
        "in whatever zone the reading session happens to run")
    require(!keys.exists(k => k.startsWith(GeneratedCols.ExprPrefix) ||
        k.startsWith(GeneratedCols.IdentityPrefix) ||
        k.startsWith(GeneratedCols.IdentityHighPrefix)),
      "stored-generator, identity and identity-high-water definitions " +
        "are fixed at table birth / advanced by allocating commits; they " +
        "cannot be unset")
    occRetry(spark, root) { cur =>
      metadataOnlyCommit(spark, root, cur,
        recordProperties = Some(propertiesOf(spark, root, cur) -- keys),
        op = "unset-properties")
    }
  }

  /** The shared metadata-only commit of [[setProperties]]/[[unsetProperties]]
    * (and structurally [[addConstraint]]/[[evolveSchema]]): zero fresh
    * rows, every file by reference, one recorded-metadata change. */
  private def metadataOnlyCommit(
      spark: SparkSession, root: String, cur: Long,
      recordProperties: Option[Map[String, String]] = None,
      recordConstraints: Option[Map[String, String]] = None,
      op: String = "metadata"): Long = {
    val schema = schemaOf(spark, root, cur)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    commitCowInternal(empty, root, cur, dataFileRefs(spark, root, cur),
      Map.empty, Nil, // metadata-only: virtual zero-row feed
      preCommit = occValidate(spark, root, cur),
      recordSchema = Some(schema),
      recordConstraints = recordConstraints,
      recordProperties = recordProperties,
      recordInfo = Map("operation" -> op, ChangesFormKey -> "none") ++
        Bucketing.carryStamp(spark, root, cur))
  }

  /** java-Properties file read shared by constraints and table
    * properties — Properties handles escaping, so arbitrary expression
    * strings round-trip. */
  /** Version-pinned sidecar properties, MEMOIZED on the marker identity
    * (the [[commitTimeOf]] key discipline: sidecars are immutable once
    * the version publishes — they rode the staging rename BEFORE the
    * marker landed — and a table recreated at the same root mid-JVM
    * changes the identity, so the memo re-reads). The commit path reads
    * the same properties/constraints/mapping several times per commit;
    * un-memoized, each read is an exists + open + parse — 2–3 round
    * trips per call on an object store, one stat per hit here. */
  private val versionPropsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), Map[String, String]]()
  private def readVersionProps(
      spark: SparkSession, root: String, v: Long, p: Path)
      : Map[String, String] = {
    val key = (root, v, markerIdentity(spark, root, v), p.toString)
    val got = versionPropsMemo.get(key)
    if (got != null) got
    else {
      val m = readProps(spark, p)
      memoPut(versionPropsMemo, key, m)
      m
    }
  }

  private def readProps(spark: SparkSession, p: Path): Map[String, String] = {
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // open directly and treat absent as empty: the exists() probe this
    // replaced was a SECOND round trip per metadata read (the counted
    // object-store axis); only FileNotFound maps to empty — any other
    // IO failure propagates exactly as it did past the old exists()
    try {
      val props = new java.util.Properties()
      val in = f.open(p)
      try props.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      props.asScala.toMap
    } catch { case _: java.io.FileNotFoundException => Map.empty }
  }

  private def writeProps(
      f: org.apache.hadoop.fs.FileSystem, p: Path,
      m: Map[String, String]): Unit = CommitProfiler.phase("meta_sidecars") {
    val props = new java.util.Properties()
    m.foreach { case (k, v) => props.setProperty(k, v) }
    val out = f.create(p, true)
    try props.store(out, null) finally out.close()
  }

  // ---- CHECK constraints (Delta invariants) ------------------------------

  /** The named CHECK constraints recorded for version `v` — name → SQL
    * boolean expression over the table's columns. A row VIOLATES a
    * constraint when the expression evaluates to FALSE; NULL passes
    * (ANSI CHECK semantics — express non-nullability as
    * `c IS NOT NULL`). Empty for versions committed before any
    * [[addConstraint]]. */
  def constraintsOf(
      spark: SparkSession, root: String, v: Long): Map[String, String] = {
    val g = groupedMetaOf(spark, root, v)
    if (g.nonEmpty) groupedSection(g, GroupedCheckPrefix)
    else readVersionProps(spark, root, v,
      new Path(new Path(dataDir(spark, root, v), "_constraints"),
        "constraints.properties"))
  }

  /** Thrown when a staged write violates an active CHECK constraint, or
    * [[addConstraint]] finds existing rows the new constraint rejects.
    * Carries per-constraint violation counts; the write left no shared
    * state behind. */
  final class ConstraintViolationException(
      root: String, violations: Map[String, (String, Long)])
    extends RuntimeException(
      s"CHECK constraint violation against $root: " +
        violations.map { case (n, (e, c)) => s"$n [$e] — $c row(s)" }
          .mkString("; "))

  /** One columnar pass over `batch` counting violations of every active
    * constraint; throws [[ConstraintViolationException]] when any row
    * fails. `count(when(...))` per constraint keeps the pass a single
    * whole-stage-codegen aggregate whatever the constraint count. */
  private def enforceConstraints(
      spark: SparkSession, batch: DataFrame,
      constraints: Map[String, String], root: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, count, expr, lit, not, when}
    val names = constraints.keys.toSeq
    val aggs = names.map { n =>
      count(when(not(coalesce(expr(constraints(n)), lit(true))), 1)).as(n)
    }
    val row = batch.agg(aggs.head, aggs.tail: _*).head
    val bad = names.flatMap { n =>
      val c = row.getAs[Long](n)
      if (c > 0) Some(n -> (constraints(n), c)) else None
    }.toMap
    if (bad.nonEmpty) throw new ConstraintViolationException(root, bad)
  }

  /** ADD a named CHECK constraint (`ALTER TABLE ... ADD CONSTRAINT name
    * CHECK (expr)`): validates the WHOLE current snapshot first — a
    * constraint that existing rows violate is refused, as Delta does —
    * then publishes a metadata-only commit carrying every data file by
    * reference and the enlarged constraint set. From that version on,
    * every commit's staged batch is scanned for the constraint and a
    * violating write aborts before touching shared state. */
  def addConstraint(
      spark: SparkSession, root: String, name: String, checkExpr: String): Long = {
    require(name.nonEmpty && name.forall(ch => ch.isLetterOrDigit || ch == '_'),
      s"constraint name must be alphanumeric/underscore: $name")
    occRetry(spark, root) { cur =>
      val existing = constraintsOf(spark, root, cur)
      require(!existing.contains(name),
        s"constraint $name already exists on $root (drop it first)")
      enforceConstraints(spark, readVersion(spark, root, cur),
        Map(name -> checkExpr), root)
      metadataOnlyCommit(spark, root, cur,
        recordConstraints = Some(existing + (name -> checkExpr)),
        op = "add-constraint")
    }
  }

  /** DROP a named CHECK constraint — metadata-only commit with the
    * shrunken set; unknown names throw (a typo must not silently no-op). */
  def dropConstraint(
      spark: SparkSession, root: String, name: String): Long =
    occRetry(spark, root) { cur =>
      val existing = constraintsOf(spark, root, cur)
      require(existing.contains(name),
        s"no constraint named $name on $root (have: " +
          s"${existing.keys.toSeq.sorted.mkString(", ")})")
      metadataOnlyCommit(spark, root, cur,
        recordConstraints = Some(existing - name),
        op = "drop-constraint")
    }

  /** Read a side table committed alongside version `v` via [[commit]]'s
    * `extras` (e.g. the change feed [[Sinks.upsertByKeyVersioned]]
    * stores as `changes`). None when that version carries no such extra —
    * the caller distinguishes "no feed recorded" from "an empty feed".
    *
    * Building the frame launches no Spark job: the schema the commit
    * staged the extra with is recorded in the version's grouped `_meta`
    * object ([[extraSchemaOf]]) and applied to the read, so Spark skips
    * its footer-inference job. Versions committed before the record
    * existed read with inference, as before. */
  def readExtra(
      spark: SparkSession, root: String, v: Long, name: String): Option[DataFrame] = {
    require(isCommitted(spark, root, v), s"version $v is not committed under $root")
    val p = new Path(dataDir(spark, root, v), s"_$name")
    if (!fs(spark, root).exists(p)) None
    else Some(extraSchemaOf(spark, root, v, name) match {
      case Some(sch) => spark.read.schema(sch).parquet(p.toString)
      case None => spark.read.parquet(p.toString)
    })
  }

  // ---- COPY INTO loaded-file ledger (incremental) -------------------------

  /** The complete COPY INTO loaded-file ledger as of version `v`, or None
    * when no COPY ever touched the table. INCREMENTAL shape: each COPY
    * commit carries only ITS OWN newly-loaded files (a "copyfiles" delta
    * extra, O(new files) bytes), and the complete set is the union folded
    * here — walking versions newest-first and stopping at the first
    * BARRIER, a version whose "copyfull" extra is the complete ledger as
    * of that version ([[foldCopyLedger]] commits, shallow clones). A
    * daily landing zone with millions of files thus pays O(new) per
    * commit, not O(files-ever); the fold is amortized. Pre-upgrade
    * tables (cumulative ledger carried on every version) fold correctly
    * too: unioning cumulative snapshots distinct-reduces to the newest.
    * The result is a distributed frame — probe it with an anti-join,
    * never a driver collect. */
  def copyLedger(
      spark: SparkSession, root: String, v: Long): Option[DataFrame] = {
    // intersect the memo with the LIVE listing: vacuumed versions keep
    // their cached classification but must not be read (their barriers
    // are covered by a surviving fold — the vacuum guard's invariant)
    val live = versions(spark, root)
    val scan = ledgerClassify(spark, root, live)
    val liveLe = live.filter(_ <= v).toSet
    val barrier = (scan.barriers & liveLe).maxOption
    val floor = barrier.getOrElse(0L)
    val deltas = (scan.deltas & liveLe).filter(_ > floor).toSeq.sorted
    val frames =
      barrier.flatMap(b => readExtra(spark, root, b, "copyfull")).toSeq ++
        deltas.flatMap(d => readExtra(spark, root, d, "copyfiles"))
    if (frames.isEmpty) None
    else Some(frames.reduce(_.unionByName(_)).select("file").distinct())
  }

  /** How many versions [[copyLedger]] must walk at `v` before hitting a
    * barrier (or the log's start) — the fold trigger's input. */
  private[graft] def copyLedgerDepth(
      spark: SparkSession, root: String, v: Long): Int = {
    val live = versions(spark, root)
    val scan = ledgerClassify(spark, root, live)
    val liveLe = live.filter(_ <= v).toSet
    (scan.barriers & liveLe).maxOption match {
      case Some(b) => liveLe.count(_ > b) + 1
      case None => liveLe.size
    }
  }

  /** In-JVM memo of the per-version ledger-extra classification. A
    * version's extras are IMMUTABLE once committed, so each version is
    * probed at most once per JVM — without this, every `DESCRIBE
    * DETAIL` / COPY INTO on a 100k-commit streaming table that never
    * saw a COPY would walk the whole log (two existence probes per
    * version, every call). Cold start still pays one full walk, the
    * same class as [[earliestFeedStart]]'s probe; after that only the
    * new suffix is probed. Vacuumed versions simply stop appearing in
    * the [[versions]] listing the callers intersect with. */
  private final case class LedgerScan(
      probed: Set[Long], barriers: Set[Long], deltas: Set[Long])
  private val ledgerScans =
    new java.util.concurrent.ConcurrentHashMap[String, LedgerScan]()
  private def ledgerClassify(
      spark: SparkSession, root: String, listed: Seq[Long]): LedgerScan = {
    val prev = Option(ledgerScans.get(root))
      .getOrElse(LedgerScan(Set.empty, Set.empty, Set.empty))
    val unprobed = listed.filterNot(prev.probed)
    if (unprobed.isEmpty) prev
    else {
      val f = fs(spark, root)
      var barriers = prev.barriers
      var deltas = prev.deltas
      unprobed.foreach { v =>
        val dir = dataDir(spark, root, v)
        if (f.exists(new Path(dir, "_copyfull"))) barriers += v
        else if (f.exists(new Path(dir, "_copyfiles"))) deltas += v
      }
      val next = LedgerScan(prev.probed ++ unprobed, barriers, deltas)
      ledgerScans.put(root, next)
      next
    }
  }

  /** Fold the incremental COPY ledger into one complete "copyfull"
    * barrier via a metadata-only commit (zero data bytes, every file by
    * reference, empty feed). Amortizes [[copyLedger]]'s walk back to
    * O(1 barrier read + short suffix); [[vacuum]] calls it before
    * dropping any version that still carries ledger deltas, so load
    * history survives retention. No-op (returns the current version)
    * when the table has no ledger. */
  def foldCopyLedger(spark: SparkSession, root: String): Long =
    occRetry(spark, root) { cur =>
      copyLedger(spark, root, cur) match {
        case None => cur
        case Some(folded) =>
          val schema = schemaOf(spark, root, cur)
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          commitCowInternal(empty, root, cur, dataFileRefs(spark, root, cur),
            // materialize BEFORE committing: the fold reads extras of
            // versions a concurrent vacuum could be dropping mid-write
            Map("copyfull" -> folded.localCheckpoint(eager = true)),
            Nil, preCommit = occValidate(spark, root, cur),
            recordSchema = Some(schema),
            recordInfo = Map("operation" -> "fold-copy-ledger",
              ChangesFormKey -> "none"))
      }
    }

  /** Highest transaction id committed under `appId` — the idempotent-sink
    * high-water mark (Delta's txnAppId/txnVersion pattern): a streaming
    * writer stamps each commit with a ("txn" extra) `(app_id, batch_id)`
    * row, and on restart/replay skips any batch at or below this mark.
    *
    * Resolution is CHECKPOINT-FIRST: versions the checkpoint already
    * covers are never probed — only the (normally empty) suffix published
    * after it is scanned newest-first for a fresher stamp. A streaming
    * table at micro-batch 100k answers this from one checkpoint read +
    * zero-or-one extra probes, not 100k parquet reads; and because the
    * marks live in the checkpoint, they survive [[vacuum]] dropping the
    * stamped commits (pre-checkpoint, vacuum silently reset the high-water
    * and a replayed batch could double-apply). Tables without a checkpoint
    * fall back to the full newest-first scan. */
  def lastTxn(spark: SparkSession, root: String, appId: String): Option[Long] = {
    import org.apache.spark.sql.functions.col
    val ckpt = readCheckpoint(spark, root)
    val from = ckpt.map(_.version).getOrElse(0L)
    versions(spark, root).filter(_ > from).sorted.reverse.iterator
      .flatMap(v => txnStampsOf(spark, root, v).get(appId))
      .nextOption()
      .orElse(ckpt.flatMap(_.txns.get(appId)))
  }

  /** CHANGE DATA FEED over a committed version range: the per-version
    * `changes` extras of `fromV..toV` (inclusive), each stamped with its
    * `_commit_version` — the incremental-consumer read path ("give me
    * everything that changed since version N", Delta's
    * `readChangeFeed` / Iceberg's incremental scan on this format).
    * Versions in range that carry no feed (e.g. committed by a
    * full-snapshot writer rather than the versioned upsert) raise — a
    * silent gap would hand the consumer an incomplete feed.
    *
    * Schema evolution across the range unions by NAME with null backfill,
    * so a feed spanning a column-add still reads as one frame. O(changed
    * rows in range): nothing reads the snapshots themselves. */
  def readChanges(
      spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    val vs = versions(spark, root).filter(v => v >= fromV && v <= toV)
    require(vs.nonEmpty, s"no committed versions in [$fromV, $toV] under $root")
    // DATA-LOSS GUARD: a version in range that vacuum dropped (tombstoned
    // AND no longer committed) means this consumer's feed is incomplete —
    // raise instead of silently skipping it. Claim-number gaps (versions
    // never published) are NOT in the ledger and pass through as always.
    val lost = vacuumedVersions(spark, root)
      .filter(v => v >= fromV && v <= toV) -- vs
    if (lost.nonEmpty)
      throw new java.io.IOException(
        s"change feed [$fromV, $toV] under $root lost version(s) " +
          s"${lost.toSeq.sorted.mkString(", ")} to vacuum — size the vacuum " +
          "retention (olderThanMs/keepLast) to cover the slowest consumer, " +
          s"or restart the consumer from earliestFeedStart = " +
          s"${earliestFeedStart(spark, root)}")
    val frames = vs.map { v =>
      // PROTOCOL GATE on the feed too: a version requiring an unknown
      // future feature must not serve its change feed either (a future
      // feature could alter the feed's encoding). Cheap — the probe is
      // memoized per JVM, so the tail pays one file read per version ever.
      assertReadable(spark, root, v)
      val df = readChangesSidecar(spark, root, v)
        .orElse(syntheticChanges(spark, root, v))
        .getOrElse(throw new java.io.IOException(
          s"version $v under $root has no change feed — feed range is incomplete"))
      df.withColumn("_commit_version", org.apache.spark.sql.functions.lit(v))
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** INCREMENTAL change-feed consumption — the Delta streaming-source
    * pattern in its checkpointed batch-poll form: each call reads the
    * feed of every version committed since the consumer's own checkpoint
    * (a driver-sized file under `checkpointDir`, one per consumer), hands
    * it to `process` as one micro-batch stamped with its version range,
    * and advances the checkpoint only after `process` returns — so
    * delivery is AT-LEAST-ONCE (a crash inside `process` replays the
    * range) and consumers that idempotently upsert by `(_commit_version,
    * key)` get exactly-once end to end, the same contract foreachBatch
    * gives a streaming sink. Returns the processed (fromV, toV), or None
    * when the table has nothing new — a no-op poll does one checkpoint
    * read and one log listing, nothing else.
    *
    * The consumer owns its checkpoint location (NOT inside the table
    * root): progress is the reader's state, exactly as a streaming
    * query's checkpointLocation — two consumers with two dirs advance
    * independently. Versions must still carry feeds ([[readChanges]]
    * raises on gaps) and must not have been vacuumed past the
    * checkpoint (the [[readChanges]] data-loss guard raises if they
    * were); pick vacuum retention to cover the slowest consumer, the
    * standard table-format contract. */
  def consumeChanges(
      spark: SparkSession, root: String, checkpointDir: String)(
      process: DataFrame => Unit): Option[(Long, Long)] = {
    val f = fs(spark, root)
    val ckFile = new Path(checkpointDir, "progress.txt")
    val last: Option[Long] =
      if (!f.exists(ckFile)) None
      else {
        val in = f.open(ckFile)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        text.trim.toLongOption
      }
    val cur = currentVersion(spark, root)
    val fromV = last.map(_ + 1).getOrElse(earliestFeedStart(spark, root))
    cur.filter(_ >= fromV).map { toV =>
      process(readChanges(spark, root, fromV, toV))
      // advance AFTER processing: tmp + rename, the same swap discipline
      // as the version-log checkpoint
      f.mkdirs(new Path(checkpointDir))
      val tmp = new Path(checkpointDir,
        "progress." + java.util.UUID.randomUUID().toString.take(8) + ".tmp")
      val out = f.create(tmp, true)
      try out.write(s"$toV\n".getBytes("UTF-8")) finally out.close()
      f.delete(ckFile, false)
      if (!f.rename(tmp, ckFile)) f.delete(tmp, false)
      (fromV, toV)
    }
  }

  /** The table's commit HISTORY as a frame — the `DESCRIBE HISTORY`
    * introspection face, derived entirely from stored metadata (no data
    * read): per retained version its publish time (commit-marker mtime),
    * data-file/byte totals, how many files the commit wrote fresh vs
    * carried by manifest reference, whether it carries a change feed /
    * deletion vectors / a txn stamp, and the recorded schema width.
    * O(retained versions) driver work, newest first. */
  def history(spark: SparkSession, root: String): DataFrame = {
    // ONE checkpoint read covers every checkpointed version's bytes —
    // the per-version snapshotBytes road (which also consults the
    // checkpoint) would re-read the file once per history row
    val ckptBytes = readCheckpoint(spark, root).map(_.bytes)
      .getOrElse(Map.empty[Long, Long])
    val rows = versions(spark, root).sorted.reverse.map { v =>
      val refs = dataFileRefs(spark, root, v)
      val ownPrefix = dataDirName(spark, root, v) + "/"
      val fresh = refs.count(_.startsWith(ownPrefix))
      // the commitinfo operation stamp (Delta's commitInfo.operation);
      // "" for pre-stamp vintages and unstamped paths
      val info = commitInfoOf(spark, root, v)
      (v,
        new java.sql.Timestamp(commitTimeOf(spark, root, v)),
        info.getOrElse("operation", ""),
        refs.size,
        ckptBytes.getOrElse(v, snapshotBytes(spark, root, v, Some(ckptBytes))),
        fresh, refs.size - fresh,
        // the same answer readChanges serves: sidecar OR virtual feed
        hasChangeFeed(spark, root, v),
        // chain-aware: a delta-form version's mask may live in its own
        // `_dvdelta` or ride the chain with no sidecar at all — the
        // introspection face must agree with what dvOf/readVersion serve
        hasDeletionVectors(spark, root, v),
        hasTxnStamps(spark, root, v),
        tableSchema(spark, root, v).map(_.size).getOrElse(-1))
    }
    import spark.implicits._
    rows.toDF("version", "committed_at", "operation", "files", "bytes",
      "fresh_files", "kept_refs", "change_feed", "deletion_vectors",
      "txn_stamp", "schema_fields")
  }

  private def dataFiles(
      f: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    f.listStatus(dir).toSeq.flatMap { s =>
      val n = s.getPath.getName
      // partitioned snapshots nest data files under `p__<col>=<val>/`
      // dirs (Hive layout); "_"/"." prefixed dirs are sidecars, never data
      if (s.isDirectory && !n.startsWith("_") && !n.startsWith("."))
        dataFiles(f, s.getPath)
      else if (n.startsWith("part-") && n.endsWith(".parquet")) Seq(s)
      else Nil
    }

  /** `dataFiles` with each file's DIR-RELATIVE path (e.g.
    * `p__date=2024-01-01/part-x.parquet`, or just `part-x.parquet` for
    * flat layouts) — the tail that joins a version prefix to form a
    * manifest ref. */
  private def dataFileRels(
      f: org.apache.hadoop.fs.FileSystem, dir: Path)
      : Seq[(org.apache.hadoop.fs.FileStatus, String)] = {
    val base = f.makeQualified(dir).toString.stripSuffix("/") + "/"
    dataFiles(f, dir).map { s =>
      val abs = f.makeQualified(s.getPath).toString
      require(abs.startsWith(base), s"$abs not under $base")
      (s, abs.stripPrefix(base))
    }
  }

  /** RESTORE the table to an earlier committed version (Delta's
    * `RESTORE TABLE ... VERSION AS OF` / Iceberg rollback): publish a NEW
    * commit whose manifest references exactly `toVersion`'s data files —
    * carrying its schema, its per-file stats, and its deletion-vector
    * sidecar — so the rollback is METADATA-ONLY (zero data bytes move),
    * lands at the top of history (the mistake-path versions stay
    * time-travelable, and so does the restore itself), and runs under the
    * same pin + in-claim re-validate + retry OCC as every writer. Refuses
    * when vacuum already dropped a data file the target references.
    *
    * The commit's CHANGE FEED is the FILE-GRANULAR diff between current
    * and target: rows of files only the target references are inserts,
    * rows of files only the current references are deletes, and
    * deletion-vector differences over shared files contribute the
    * re-surfaced (insert) / re-masked (delete) rows. Data files are
    * immutable, so shared files cannot otherwise differ — the feed costs
    * O(differing files + differing mask rows), never O(table). */
  def restore(spark: SparkSession, root: String, toVersion: Long,
      changeFeed: Boolean = true): Long =
    occRetry(spark, root) { cur =>
      require(isCommitted(spark, root, toVersion),
        s"version $toVersion is not committed under $root")
      if (toVersion == cur) cur
      else {
        val f = fs(spark, root)
        val tgtRefs = dataFileRefs(spark, root, toVersion)
        val missing = tgtRefs.filterNot(r => f.exists(new Path(root, r)))
        if (missing.nonEmpty) throw new java.io.IOException(
          s"cannot restore $root to v$toVersion: ${missing.size} of its " +
            s"data files were vacuumed (e.g. ${missing.take(3).mkString(", ")})")
        val schema = schemaOf(spark, root, toVersion)
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        val extras =
          // folded: the restore commit re-records the target's complete
          // mask as its own full-form sidecar, whatever form the target
          // stored it in (its chain may be vacuumed away later)
          dvOf(spark, root, toVersion).map("dv" -> _).toMap ++
            (if (!changeFeed) Map.empty[String, DataFrame]
             else Map("changes" -> feedWritable(
               restoreFeed(spark, root, cur, toVersion, schema))))
        // the target's stats carry forward re-keyed, exactly as
        // commitCowInternal carries a kept file's rows
        val tgtKeyed: Map[String, String] = manifestOf(spark, root, toVersion)
          .map(_.map(r => r -> r).toMap)
          .getOrElse(dataFileRels(f, dataDir(spark, root, toVersion))
            .map { case (_, rel) => (dataDirName(spark, root, toVersion) + "/" + rel) -> rel }
            .toMap)
        val tgtStats = statsOf(spark, root, toVersion)
        commitWith(empty, root, collectStats = false, extras = extras,
          recordInfo = Map("operation" -> "restore") ++
            Bucketing.carryStamp(spark, root, cur),
          finalizeVersion = (fh, dir, v) => {
            val rows = tgtRefs.flatMap { r =>
              tgtStats.getOrElse(tgtKeyed(r), Map.empty).toSeq
                .map { case (c, (k, mn, mx, nu, nr)) => (r, c, k, mn, mx, nu, nr) }
            }
            // all-or-none, as everywhere: partial stats would silently
            // disable pruning for just the uncovered files
            val covered = tgtRefs.forall(r => tgtStats.contains(tgtKeyed(r)))
            if (rows.nonEmpty && covered) TableStats.writeRows(fh, dir, rows)
            // the restored snapshot's sizes are the target's, re-carried
            // (derived optimization — never blocks the restore)
            try {
              val tgtSizes = fileSizes(spark, root, toVersion)
              FileSizes.append(fh, dir, tgtRefs.map(r => r -> tgtSizes(r)))
            } catch {
              case e: Exception =>
                maintLog.warn(s"size-sidecar carry skipped for restore $dir", e)
            }
            val out = fh.create(
              new Path(new Path(dir, "_manifest"), "manifest.txt"), true)
            try out.write(tgtRefs.mkString("", "\n", "\n").getBytes("UTF-8"))
            finally out.close()
          },
          preCommit = occValidate(spark, root, cur),
          recordSchema = Some(schema),
          // RESTORE rolls back table METADATA with the data: the
          // target's constraints and properties are re-recorded (a
          // current-version CHECK referencing a column the restored
          // schema lacks would otherwise fail every subsequent write)
          recordConstraints = Some(constraintsOf(spark, root, toVersion)),
          recordProperties = Some(propertiesOf(spark, root, toVersion)),
          // the restored snapshot reads under ITS mapping; retired names
          // union so a post-restore add can't collide with either era
          recordMapping = Some((columnMapping(spark, root, toVersion),
            retiredPhysicals(spark, root, toVersion) ++
              retiredPhysicals(spark, root, cur))))
      }
    }

  /** The file-granular change feed of [[restore]] — see its doc. */
  private def restoreFeed(
      spark: SparkSession, root: String, cur: Long, tgt: Long,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val curRefs = dataFileRefs(spark, root, cur)
    val tgtRefs = dataFileRefs(spark, root, tgt)
    val curSet = curRefs.toSet; val tgtSet = tgtRefs.toSet
    val shared = curRefs.filter(tgtSet)
    // one feed schema — the restored (target) one — even across a
    // schema-evolution rollback: deleted rows from a wider current
    // snapshot project onto it, missing columns backfill null
    def project(df: DataFrame): DataFrame =
      df.select(schema.map(sf =>
        if (df.columns.contains(sf.name)) col(sf.name).cast(sf.dataType).as(sf.name)
        else lit(null).cast(sf.dataType).as(sf.name)): _*)
    def dvFrameOf(v: Long): DataFrame = VersionedTable.dvOf(spark, root, v)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], DvSchema))
    val curDv = dvFrameOf(cur); val tgtDv = dvFrameOf(tgt)
    var parts = List.empty[DataFrame]
    val tgtOnly = tgtRefs.filterNot(curSet)
    if (tgtOnly.nonEmpty)
      parts ::= project(readFilesOf(spark, root, tgt, tgtOnly))
        .withColumn("_change_type", lit("insert"))
    val curOnly = curRefs.filterNot(tgtSet)
    if (curOnly.nonEmpty)
      parts ::= project(readFilesOf(spark, root, cur, curOnly))
        .withColumn("_change_type", lit("delete"))
    if (shared.nonEmpty) {
      // mask diffs on shared files: rows masked now but not at the target
      // re-surface; rows masked at the target but not now disappear
      val sharedSet = shared.toSet
      val resurfaced = curDv.where(col("file").isInCollection(sharedSet))
        .join(tgtDv, Seq("file", "pos"), "left_anti")
      val reMasked = tgtDv.where(col("file").isInCollection(sharedSet))
        .join(curDv, Seq("file", "pos"), "left_anti")
      // distinct touched files are metadata-scale (bounded by #files) and
      // bound the scan to exactly the differing-mask files; the position
      // join itself is size-gated like every DV fold ([[dvMaskSide]]) —
      // the diffs are subsets of the cumulative vectors, so their upper
      // bound is the larger sidecar's bytes
      val dvSize = math.max(dvBytesOf(spark, root, cur),
        dvBytesOf(spark, root, tgt))
      def rowsAt(positions: DataFrame, ct: String): Option[DataFrame] = {
        val files = positions.select("file").distinct()
          .collect().map(_.getString(0)).toSeq
        if (files.isEmpty) None
        else {
          val raw = toLogical(synthHiveParts(spark, root, tgt,
            versionReader(spark, root, tgt)
              .parquet(files.map(r => new Path(root, r).toString): _*))
            .withColumn("__dv_file", fileRefCol)
            .withColumn("__dv_pos", col("_metadata.row_index")),
            columnMapping(spark, root, tgt))
          Some(project(raw.join(dvMaskSide(spark, positions, dvSize),
            Seq("__dv_file", "__dv_pos"), "inner"))
            .withColumn("_change_type", lit(ct)))
        }
      }
      parts = parts ++ rowsAt(resurfaced, "insert") ++ rowsAt(reMasked, "delete")
    }
    parts.reduceOption(_.unionByName(_)).getOrElse(emptyFeed(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)))
  }

  /** COMPACTION: rewrite the current snapshot into ≈`targetFileBytes`
    * files and commit the result as a new version — the small-files
    * maintenance pass every streaming/hourly-upsert table needs (a year
    * of hourly merges is 8760 commits; readers should not pay 8760 file
    * opens). The rewrite is one round-robin exchange sized from the
    * CURRENT snapshot's actual bytes; the publish is the usual
    * metadata-only flip, so readers never see a half-compacted table and
    * the fragmented history stays time-travelable until vacuum. Returns
    * the new version. */
  /** Per-file byte sizes of version `v`'s data files, keyed by the refs
    * [[dataFileRefs]] returns. Served from the commit-recorded `_sizes`
    * sidecar ([[FileSizes]] — the AddFile.size shape, zero filesystem
    * I/O beyond one tiny tsv read); refs a pre-upgrade vintage never
    * recorded resolve through ONE distributed `getFileStatus` job, so
    * the driver NEVER walks O(files) metadata serially — the walk this
    * replaces was ~800k RPCs per maintenance tick at 100 TB / 128 MiB. */
  private[graft] def fileSizes(
      spark: SparkSession, root: String, v: Long): Map[String, Long] = {
    val refs = dataFileRefs(spark, root, v)
    val recorded = recordedSizes(spark, root, v)
    val missing = refs.filterNot(recorded.contains)
    if (missing.isEmpty) refs.map(r => r -> recorded(r)).toMap
    else {
      // a ref statRefs couldn't resolve (cross-store clone whose source
      // is unreachable) degrades to unsized — one dead legacy ref must
      // not fail the whole maintenance tick
      val resolved = FileSizes.statRefs(spark, root, missing)
      refs.flatMap(r => recorded.get(r).orElse(resolved.get(r)).map(r -> _)).toMap
    }
  }

  /** Total data bytes of version `v`, manifest-aware (a COW snapshot's
    * bytes live partly in earlier version dirs). MEMOIZED like
    * [[extraBytesMemo]] (one Long per version, keyed on the commit
    * marker's mtime): a published snapshot's bytes are immutable, and
    * `DESCRIBE HISTORY` on a PRE-UPGRADE table (no recorded `_sizes` for
    * old versions — they never heal) would otherwise re-run the
    * distributed stat fallback for every version on every call. */
  private val snapshotBytesMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  private def snapshotBytes(spark: SparkSession, root: String, v: Long,
      ckptBytes: Option[Map[Long, Long]] = None): Long = {
    val key = (root, v, markerIdentity(spark, root, v))
    val got = snapshotBytesMemo.get(key)
    if (got != null) got.longValue()
    else {
      // CHECKPOINT-FIRST (the txn-mark pattern): a covered version's
      // bytes come from the one checkpoint file — a cold DESCRIBE
      // HISTORY over a deep log reads the checkpoint + the short tail,
      // not O(versions) `_sizes` sidecars (and, for pre-sizes vintages,
      // not O(versions) distributed stat jobs). A caller already
      // holding the parsed checkpoint passes it via `ckptBytes` so a
      // per-version loop (history's tail) doesn't re-read the file —
      // megabytes at 100k commits — once per miss.
      val bytes = ckptBytes
        .orElse(readCheckpoint(spark, root).map(_.bytes))
        .flatMap(_.get(v))
        .getOrElse(fileSizes(spark, root, v).values.sum)
      memoPut(snapshotBytesMemo, key, java.lang.Long.valueOf(bytes))
      bytes
    }
  }

  /** [[snapshotBytes]]' strict twin for the CHECKPOINT WRITER: the total
    * only when EVERY ref of `v` resolved to a size (recorded or freshly
    * stat'ed), None when any degraded to unsized — the checkpoint must
    * never freeze a transient undercount into permanent coverage. Skips
    * the checkpoint-first road on purpose: gap versions are by
    * definition above the previous checkpoint's coverage.
    *
    * INCREMENTAL on delta-form versions whose base the caller already
    * sized (`knownBase` — the checkpoint's own previous entry): bytes =
    * base − removed + added, O(changed) instead of the O(refs) sizes
    * fold+sum — this ran once per COMMIT (the checkpoint advance), so
    * the full form here was the last per-commit O(refs) pass on the
    * append hot path. refs(v) = refs(base) − removed + added exactly,
    * and a ref's size is immutable, so the arithmetic is exact; any
    * unsizable piece falls back to the full road. */
  private def completeSnapshotBytes(
      spark: SparkSession, root: String, v: Long,
      knownBase: Long => Option[Long] = _ => None): Option[Long] =
    try {
      val incremental: Option[Long] =
        manifestDeltaOf(spark, root, v).flatMap { d =>
          knownBase(d.base).flatMap { baseBytes =>
            val own = FileSizes.load(fs(spark, root), dataDir(spark, root, v))
            // appends never touch baseSizes (their adds are their own
            // files); only a ref-removing rewrite pays the base fold
            lazy val baseSizes = recordedSizes(spark, root, d.base)
            def sizeOf(r: String): Option[Long] =
              own.get(r).orElse(baseSizes.get(r))
            val addedSz = d.added.map(sizeOf)
            val removedSz = d.removed.toSeq.map(baseSizes.get)
            if (addedSz.forall(_.isDefined) && removedSz.forall(_.isDefined))
              Some(baseBytes + addedSz.flatten.sum - removedSz.flatten.sum)
            else None
          }
        }
      incremental.orElse {
        val refs = dataFileRefs(spark, root, v)
        val sizes = fileSizes(spark, root, v)
        if (refs.forall(sizes.contains)) Some(sizes.values.sum) else None
      }
    } catch { case _: Exception => None }

  /** The shared publish of a FULL-LAYOUT maintenance rewrite
    * ([[compact]]/[[optimize]]/[[optimizeZOrder]]). On an unmapped table
    * it commits via the MANIFEST road so a concurrent blind append
    * merges in by union ([[AppendRebase]]) — the maintenance rewrite is
    * the longest-window writer there is (it reads the whole table), so
    * "hourly append lands mid-compaction" is the single most likely OCC
    * collision at 100 TB, and redoing the multi-hour rewrite for it is
    * the single most expensive recompute. A mapped table keeps the
    * legacy full-snapshot commit, which re-births columns under logical
    * names: resetting the mapping and unioning in appended files written
    * under the OLD physical names cannot coexist in one commit, so
    * there the append conflict stays a (correct) recompute. */
  private def commitLayoutRewrite(
      spark: SparkSession, root: String, v: Long,
      reshaped: DataFrame, feedSrc: DataFrame,
      bloomCols: Seq[String],
      preCommit: Long => Unit,
      op: String,
      recordProperties: Option[Map[String, String]] = None,
      extraInfo: Map[String, String] = Map.empty): Long = {
    val mapped = columnMapping(spark, root, v).nonEmpty ||
      retiredPhysicals(spark, root, v).nonEmpty
    if (mapped)
      commit(reshaped, root,
        extras = Map.empty, // layout-only: virtual zero-row feed
        bloomCols = bloomCols,
        preCommit = w => { preCommit(w); occValidate(spark, root, v)(w) },
        recordProperties = recordProperties,
        recordInfo = Map("operation" -> op,
          ChangesFormKey -> "none") ++ extraInfo)
    else {
      val rb = new AppendRebase(spark, root, v)
      commitCowInternal(reshaped, root, v, Nil,
        extras = Map.empty, // layout-only: virtual zero-row feed
        bloomCols = bloomCols,
        preCommit = w => { preCommit(w); rb.validate(w) },
        recordSchema = Some(schemaOf(spark, root, v)),
        recordProperties = recordProperties,
        rebase = Some(rb),
        recordInfo = Map("operation" -> op,
          ChangesFormKey -> "none") ++ extraInfo)
    }
  }

  def compact(
      spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      bloomCols: Seq[String] = Nil,
      preCommit: Long => Unit = _ => ()): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // OCC: a maintenance rewrite is the LONGEST-window writer (it reads
    // the whole table), so the in-claim re-validation matters most here —
    // an upsert landing mid-compaction must not be erased by the layout
    // rewrite's publish. Layout-only rewrites change no rows, so the
    // conflict resolution is a REBASE: blind appends merge in by
    // manifest-union ([[commitLayoutRewrite]]); anything else re-reads
    // the new current and redoes the rewrite.
    occRetry(spark, root) { v =>
      val bytes = snapshotBytes(spark, root, v)
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val df = readVersion(spark, root, v)
      // a partitioned table clusters by its spec so the partitionBy
      // write emits few files per task instead of (tasks x tuples)
      val pspec = partitionColumnsOf(spark, root, v)
        .map(org.apache.spark.sql.functions.col)
      // a BUCKETIZED table compacts WITHIN its layout: the steady MOR
      // merge stream accumulates one small file per touched bucket per
      // commit (plus masks this rewrite absorbs), and an
      // arbitrary-placement repartition here would orphan the layout
      // the merges ride — re-hash into the spec's buckets and re-stamp,
      // so compaction keeps the road. The file count is the layout's
      // bucket count by construction (resizing is a re-bucketize — a
      // workload decision, not maintenance).
      val spec = Bucketing.specOf(propertiesOf(spark, root, v))
      val (reshaped, stamp) = spec match {
        case Some((key, n)) if pspec.isEmpty =>
          Bucketing.relayout(df, key, n)
        case _ =>
          (if (pspec.isEmpty) df.repartition(nFiles)
           else df.repartitionByRange(nFiles, pspec: _*),
            Map.empty[String, String])
      }
      commitLayoutRewrite(spark, root, v, reshaped, df, bloomCols,
        preCommit, "compact", extraInfo = stamp)
    }
  }

  /** OPTIMIZE: range-cluster the current snapshot on `sortCols` and
    * commit it as a new version, so the footer min/max stats actually
    * BITE — on a write-order table every file spans the whole key range
    * and [[readWhere]] prunes nothing; after clustering, file ranges are
    * disjoint and a key-range query opens O(range/table) of the files
    * (the Delta/Iceberg OPTIMIZE ... ZORDER idea, single-dimension
    * form). `repartitionByRange` samples the key distribution, so skewed
    * keys still land in balanced files; rows are additionally sorted
    * WITHIN each file so parquet row-group stats nest inside the
    * file-level pruning. Sizing follows [[compact]]'s byte target —
    * optimize subsumes compaction. */
  def optimize(
      spark: SparkSession, root: String, sortCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      bloomCols: Seq[String] = Nil,
      preCommit: Long => Unit = _ => ()): Long = {
    require(sortCols.nonEmpty, "optimize needs at least one sort column")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // same OCC-rebase discipline as [[compact]]
    occRetry(spark, root) { v =>
      val bytes = snapshotBytes(spark, root, v)
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val df = readVersion(spark, root, v)
      // partition columns lead the clustering so the partitionBy write
      // stays tuple-contiguous (few files per task)
      val pspec = partitionColumnsOf(spark, root, v)
      val cols = (pspec ++ sortCols.filterNot(pspec.contains))
        .map(org.apache.spark.sql.functions.col)
      commitLayoutRewrite(spark, root, v,
        df.repartitionByRange(nFiles, cols: _*)
          .sortWithinPartitions(cols: _*),
        df, bloomCols, preCommit, "optimize",
        // record the clustering so maintenanceReport can measure its
        // decay — and DROP any bucket spec: the user chose the range
        // layout, and a stale spec would put a purity probe (always
        // declining after this rewrite) on every later merge
        recordProperties = Some(propertiesOf(spark, root, v)
          .updated(ClusteredByProp, sortCols.mkString(","))
          - Bucketing.BucketByProp))
    }
  }

  /** PREDICATE-SCOPED OPTIMIZE (Delta's `OPTIMIZE ... WHERE` on this
    * format): cluster/compact ONLY the files whose footer stats admit
    * `predicate`, carrying every other file into the new snapshot by
    * manifest reference — the incremental maintenance motion of a
    * 100 TB table, where rewriting the whole layout in one commit is not
    * an option (maintain yesterday's partition; leave the other 10 years
    * alone). `sortCols` empty = plain compaction of the touched slice;
    * non-empty = range-cluster the slice on those columns. The slice
    * reads through deletion-vector masks (touched files' masks fold
    * away with the rewrite; kept files' carry forward), and the commit
    * is layout-only: rows unchanged, zero-row change feed. Returns the
    * new version — or the current one unchanged when no file is
    * admitted. */
  def optimizeWhere(
      spark: SparkSession, root: String, predicate: Column,
      sortCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L * 1024 * 1024,
      bloomCols: Seq[String] = Nil): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    occRetry(spark, root) { v =>
      val (mayMatch, _) = prunedFiles(spark, root, v, predicate)
      if (mayMatch.isEmpty) v // nothing admitted: no-op, no commit
      else {
        val f = fs(spark, root)
        val mayMatchSet = mayMatch.toSet
        val all = dataFileRefs(spark, root, v)
        val kept = all.filterNot(r =>
          mayMatchSet(f.makeQualified(new Path(root, r)).toString))
        val touched = all.filterNot(kept.toSet)
        val sizeOf = fileSizes(spark, root, v)
        val bytes = touched.flatMap(sizeOf.get).sum
        val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        val slice = readFilesOf(spark, root, v, touched)
        val pspec = partitionColumnsOf(spark, root, v)
        val cols = (pspec ++ sortCols.filterNot(pspec.contains))
          .map(org.apache.spark.sql.functions.col)
        // the plain-compaction form on a BUCKETIZED table re-packs the
        // slice WITHIN the layout (compact()'s rule, slice-scoped): rows
        // re-hash into the spec's buckets — empty buckets write nothing,
        // so a small slice costs one file per bucket it touches — and
        // the stamp keeps the merge road. A sortCols form is the user
        // choosing a range layout for the slice; it stays unstamped and
        // the road declines, correctly.
        val spec =
          if (sortCols.isEmpty) Bucketing.specOf(propertiesOf(spark, root, v))
          else None
        val (clustered, stamp) = spec match {
          case Some((key, n)) if pspec.isEmpty =>
            Bucketing.relayout(slice, key, n)
          case _ =>
            (if (cols.isEmpty) slice.repartition(nFiles)
             else slice.repartitionByRange(nFiles, cols: _*)
               .sortWithinPartitions(cols: _*),
              Map.empty[String, String])
        }
        // blind appends landing during the slice rewrite merge in by
        // manifest-union, exactly as the DML COW paths
        val rb = new AppendRebase(spark, root, v)
        commitCow(clustered, root, kept,
          extras = Map.empty, // layout-only: virtual zero-row feed
          bloomCols = bloomCols,
          preCommit = rb.validate,
          rebase = Some(rb),
          recordInfo = Map("operation" -> "optimize-where",
            ChangesFormKey -> "none") ++ stamp)
      }
    }
  }

  /** Z-ORDER optimize: cluster the current snapshot on the INTERLEAVED
    * bits of 2–3 numeric columns, so file min/max ranges become tight on
    * EVERY participating dimension — the multi-dimensional counterpart of
    * [[optimize]] (a lexicographic sort gives the leading column tight
    * ranges and the trailing ones nothing; a 100 TB table queried by
    * both `user` and `time` needs both prunable). Same publish protocol,
    * any layout is semantically identical — this only moves rows.
    *
    * Bucketing is linear min/max scaling per column (the table-wide
    * min/max comes from [[statsAggregate]] when available, else one agg
    * scan): each value maps to a `bits`-wide bucket, buckets interleave
    * bit-by-bit into the z-value, and files are range-partitioned + sorted
    * on that z-value — a single codegen'd projection plus the one
    * exchange the rewrite needs anyway. Equi-depth bucketing (what Delta
    * does) would resist skew better; linear scaling keeps the pass
    * sketch-free and is the standard first form. Columns must be numeric
    * (long/double/date/timestamp). */
  def optimizeZOrder(
      spark: SparkSession, root: String, cols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      bloomCols: Seq[String] = Nil,
      equiDepth: Boolean = false,
      preCommit: Long => Unit = _ => ()): Long = {
    require(cols.size >= 2 && cols.size <= 3,
      "z-order interleaves 2 or 3 columns; use optimize() for one")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // same OCC-rebase discipline as [[compact]]
    occRetry(spark, root) { v =>
    val df = readVersion(spark, root, v)
    // equi-depth uses 8 bits: 256 balanced buckets per dimension is far
    // finer than any realistic file count, and keeps the one-pass
    // quantile sketch small; linear keeps the wider spaces (cheap, and
    // precision is all it has)
    val bits = if (equiDepth) 8 else if (cols.size == 2) 16 else 10
    import org.apache.spark.sql.functions._
    val maxBucket = (1L << bits) - 1
    val bucket: String => Column =
      if (equiDepth) {
        // EQUI-DEPTH bucketing (what Delta's OPTIMIZE does): cut points
        // from ONE approx-quantile pass (Greenwald-Khanna sketch over all
        // columns together), bucket = binary-search rank via the native
        // QuantileBucket expression. Robust to skew: a heavy hitter that
        // collapses the linear scale into one bucket here occupies its
        // own quantile range and every other value still spreads.
        val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
        val castDf = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
        val qs = castDf.stat.approxQuantile(cols.toArray, probs, 1.0 / (4 << bits))
        val bounds = cols.zip(qs.map(_.sorted)).toMap
        c => org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.QuantileBucket(
            org.apache.spark.sql.graft.ColumnBridge.expression(col(c).cast("double")),
            bounds(c)))
      } else {
        // table-wide min/max per column: metadata when stats cover the
        // snapshot, else one aggregation pass
        val ranges: Map[String, (Double, Double)] =
          statsAggregate(spark, root, cols, Some(v)) match {
            case Some((_, cs)) if cs.forall(c => c.min != null && c.max != null) =>
              cs.map(c => c.column -> (toD(c.min), toD(c.max))).toMap
            case _ =>
              val aggs = cols.flatMap(c =>
                Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
              val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
              cols.zipWithIndex.map { case (c, i) =>
                c -> (row.getDouble(2 * i), row.getDouble(2 * i + 1))
              }.toMap
          }
        c => {
          val (mn, mx) = ranges(c)
          val span = if (mx > mn) mx - mn else 1.0
          val scaled = ((col(c).cast("double") - lit(mn)) / lit(span)) * lit(maxBucket.toDouble)
          least(greatest(scaled.cast("long"), lit(0L)), lit(maxBucket))
        }
      }
    // interleave: output bit (i*dims + d) = bit i of column d's bucket
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, d)) =>
        a.bitwiseOR(shiftleft(
          shiftright(bucket(c), i).bitwiseAND(lit(1L)),
          i * cols.size + d))
      }
    }
    val bytes = snapshotBytes(spark, root, v)
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // partition columns lead the z-clustering (tuple-contiguous tasks)
    val pspecZ = partitionColumnsOf(spark, root, v).map(col)
    commitLayoutRewrite(spark, root, v,
      df.withColumn("__z", z)
        .repartitionByRange(nFiles, (pspecZ :+ col("__z")): _*)
        .sortWithinPartitions((pspecZ :+ col("__z")): _*)
        .drop("__z"),
      df, bloomCols, preCommit, "zorder",
      // z-ordered files interleave per-column ranges by design, so the
      // drift measure uses the LEAD column only — still a usable decay
      // signal (fresh z-layout: bounded overlap; append churn: it grows)
      // — and drop any bucket spec, as optimize() does
      recordProperties = Some(propertiesOf(spark, root, v)
        .updated(ClusteredByProp, cols.mkString(","))
        - Bucketing.BucketByProp))
    }
  }

  private def toD(a: Any): Double = a match {
    case l: Long => l.toDouble
    case d: Double => d
    case n: Number => n.doubleValue
    case other => throw new IllegalArgumentException(
      s"z-order needs numeric columns, got stat value: $other")
  }

  /** Drop old committed versions, keeping the newest `keepLast` AND —
    * when `olderThanMs` is set — every version whose commit is younger
    * than that age (the Delta retention-window rule: age-based, measured
    * from the commit marker's publish time). A reader that resolved a
    * version mid-scan loses files only if vacuum drops that version, so
    * the operating rule is: set `olderThanMs` to cover the longest-running
    * reader AND the slowest change-feed consumer; `keepLast` alone is NOT
    * a safety bound on a busy table (100 commits can land in a minute).
    * Returns the dropped versions.
    *
    * Copy-on-write aware: a file inside a dropped version dir SURVIVES if
    * any retained version's manifest still references it (the retained
    * snapshot would otherwise lose data) — only unreferenced files and
    * the dropped version's own metadata are removed, and a dir is deleted
    * outright only when nothing in it is referenced. The dropped VERSION
    * is always gone (its commit marker is removed) even when some of its
    * files live on as references.
    *
    * REPLAY SAFETY: a version carrying a `txn` extra (a streaming
    * writer's idempotence stamp) is only dropped once the version-log
    * checkpoint PROVABLY covers it — vacuum advances the checkpoint
    * first and re-reads it, and keeps any stamped version it cannot
    * cover (checkpoints are best-effort; destroying an uncovered stamp
    * would reset `lastTxn` and let a restarted stream double-apply its
    * batch). */
  def vacuum(
      spark: SparkSession, root: String, keepLast: Int,
      olderThanMs: Option[Long] = None,
      dryRun: Boolean = false): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val f = fs(spark, root)
    val all = versions(spark, root)
    val candidates = all.dropRight(keepLast)
    // retention window: age = the commit's IN-COMMIT timestamp
    // ([[commitTimeOf]]; marker mtime for pre-upgrade vintages) — a
    // copied/restored table's rewritten mtimes then read as "all fresh"
    // on the OLD clock but keep their true ages here
    val aged = olderThanMs match {
      case Some(ms) =>
        val cutoff = System.currentTimeMillis() - ms
        candidates.filter(v => commitTimeOf(spark, root, v) <= cutoff)
      case None => candidates
    }
    // txn-stamp coverage: advance the checkpoint over the whole log, then
    // keep any stamped version the (re-read) checkpoint still doesn't cover
    def stamped(v: Long) = hasTxnStamps(spark, root, v)
    val drop =
      if (!aged.exists(stamped)) aged
      else {
        all.lastOption.foreach(writeCheckpoint(spark, root, _))
        val covered = readCheckpoint(spark, root).map(_.version).getOrElse(0L)
        aged.filter(v => v <= covered || !stamped(v))
      }
    // DRY RUN: report what a real vacuum would drop — retention sizing
    // without data loss (the age and coverage guards above have already
    // run; note the checkpoint advance is a metadata write that happens
    // either way). Nothing is deleted, no tombstone is recorded.
    if (dryRun) return drop
    // COPY-LEDGER coverage: dropping a version that still carries ledger
    // deltas (or the only barrier) would forget loaded files and let a
    // re-run double-load them. Fold first — the fold commit is the
    // newest version, survives keepLast >= 1, and covers everything
    // below it — then recompute the drop set once.
    def hasLedger(v: Long) =
      f.exists(new Path(dataDir(spark, root, v), "_copyfiles")) ||
        f.exists(new Path(dataDir(spark, root, v), "_copyfull"))
    val ledgerDrops = drop.filter(hasLedger)
    if (ledgerDrops.nonEmpty) {
      val survivors = all.filterNot(drop.toSet)
      val covered = survivors.exists(s => s > ledgerDrops.max &&
        f.exists(new Path(dataDir(spark, root, s), "_copyfull")))
      if (!covered) {
        foldCopyLedger(spark, root)
        return vacuum(spark, root, keepLast, olderThanMs, dryRun)
      }
    }
    // retained = everything not dropped (possibly non-contiguous when an
    // age/coverage guard holds a middle version back) — references from
    // EVERY retained manifest protect their files
    val dropSet = drop.toSet
    val referenced: Set[String] =
      all.filterNot(dropSet).flatMap(v => dataFileRefs(spark, root, v)).toSet
    // ORIGINAL (CONVERTed-in-place) files live OUTSIDE version dirs,
    // directly under the table root — once a compaction/rewrite absorbs
    // them, only dropped versions reference them, and the per-version-dir
    // sweep below would never reclaim their bytes (a converted-then-
    // optimized 100 TB table would store 2x forever). Collect them NOW,
    // from the manifests about to lose their markers. STRICTLY inside
    // THIS root: a shallow clone's absolute refs point into its SOURCE
    // root and must never be candidates — vacuuming a clone cannot
    // reach across table boundaries.
    val rootQ = f.makeQualified(new Path(root)).toString.stripSuffix("/") + "/"
    def originalRel(ref: String): Option[String] = {
      val q = f.makeQualified(new Path(root, ref)).toString
      if (!q.startsWith(rootQ)) None
      else {
        val rel = q.stripPrefix(rootQ)
        val head = rel.split('/').head
        if (head.matches("v\\d{8}") || head.startsWith("_") ||
            head.startsWith(".")) None
        else Some(rel)
      }
    }
    val origDropped: Set[String] =
      drop.flatMap(v => dataFileRefs(spark, root, v)).flatMap(originalRel).toSet
    val origRetained: Set[String] = referenced.flatMap(originalRel)
    // DELTA-CHAIN SEVERANCE: a retained delta-form version whose BASE is
    // about to drop would lose its fold backbone (the base dir's
    // manifest sidecars go with the dir) — MATERIALIZE it first: write
    // the folded manifest/stats/sizes as its own full form while the
    // chain is still intact. Ascending order: a retained base
    // materializes before its retained dependents, so each check only
    // needs its immediate base. O(severed versions), each one fold.
    all.filterNot(dropSet).sorted.foreach { v =>
      manifestDeltaOf(spark, root, v).foreach { d =>
        if (dropSet(d.base)) materializeManifest(spark, root, v)
      }
    }
    // tombstone FIRST (see recordVacuumed for why this order is the
    // crash-safe one): consumers whose range reaches below the drop line
    // must fail loudly, not read an incomplete feed
    recordVacuumed(spark, root, drop)
    // reclaim unreferenced ORIGINAL files (converted-in-place vintage):
    // referenced only by dropped versions, physically under this root,
    // outside every version dir. Emptied hive partition dirs go with
    // them. This runs BEFORE the commit markers are deleted: origDropped
    // is derived from the dropped versions' manifests, so a crash after
    // marker deletion but before this loop would make the originals
    // unreachable by any re-run — the permanent 2x-storage leak this
    // reclaim exists to fix. In the reverse order a crash merely leaves
    // tombstoned versions whose markers a vacuum re-run sweeps (deleting
    // an already-deleted original is a no-op).
    (origDropped -- origRetained).foreach { rel =>
      f.delete(new Path(root, rel), false)
      // prune now-empty ancestor dirs STRICTLY below the root (compared
      // fs-qualified — a mixed qualified/plain comparison could walk
      // past the root)
      var parent = new Path(root, rel).getParent
      while (parent != null &&
          (f.makeQualified(parent).toString + "/").startsWith(rootQ) &&
          f.makeQualified(parent).toString + "/" != rootQ &&
          f.exists(parent) && f.listStatus(parent).isEmpty) {
        f.delete(parent, false)
        parent = parent.getParent
      }
    }
    drop.foreach { v =>
      // resolve the data dir BEFORE deleting the marker: the marker's
      // content is what maps a diverged version number to its dir
      val dirName = dataDirName(spark, root, v)
      val dir = new Path(root, dirName)
      val prefix = dirName + "/"
      f.delete(new Path(commitDir(root), pad(v)), false)
      val keptHere = dataFileRels(f, dir)
        .map(_._2).filter(rel => referenced(prefix + rel))
      if (keptHere.isEmpty) f.delete(dir, true)
      else if (f.exists(dir)) {
        // referenced data files stay; everything else — sidecars, orphaned
        // data, emptied partition subdirs — goes. Returns "left empty".
        def sweep(d: Path, rel: String): Boolean = {
          var kept = false
          f.listStatus(d).foreach { s =>
            val n = s.getPath.getName
            if (s.isDirectory && !n.startsWith("_") && !n.startsWith(".")) {
              if (sweep(s.getPath, rel + n + "/")) f.delete(s.getPath, true)
              else kept = true
            } else if (n.startsWith("part-") && n.endsWith(".parquet") &&
                referenced(prefix + rel + n)) kept = true
            else f.delete(s.getPath, true)
          }
          !kept
        }
        sweep(dir, "")
      }
    }
    // truncate the CLAIM log alongside: claims exist only to order
    // writers, every retained commit outranks them, and a streaming table
    // committing one snapshot per micro-batch must not grow `_claims`
    // without bound. Replay protection is unaffected — the checkpoint
    // carries the dropped commits' txn high-water marks forward.
    drop.lastOption.foreach { dm =>
      listVersions(f, claimDir(root)).filter(_ <= dm)
        .foreach(c => f.delete(new Path(claimDir(root), pad(c)), false))
    }
    // JANITOR: a writer that crashed mid-write leaves an orphaned
    // `_staging/<uuid>` dir (pre-claim, so no reader or version ever
    // referenced it). Anything older than an hour is garbage by the
    // commit protocol — the rename into the version dir happens seconds
    // after the write, never an hour (a conservatively long bound so a
    // genuinely slow in-flight stage on a loaded cluster survives).
    val stagingRoot = new Path(root, "_staging")
    if (f.exists(stagingRoot)) {
      val stale = System.currentTimeMillis() - 60L * 60 * 1000
      f.listStatus(stagingRoot)
        .filter(_.getModificationTime <= stale)
        .foreach(s => f.delete(s.getPath, true))
    }
    // ... and a writer that crashed between writing a marker temp and
    // renaming it leaves `.m*.tmp` garbage in the commit log (ignored by
    // listVersions; swept on the same staleness bound)
    if (f.exists(commitDir(root))) {
      val stale = System.currentTimeMillis() - 60L * 60 * 1000
      f.listStatus(commitDir(root))
        .filter(s => s.getPath.getName.startsWith(".m") &&
          s.getPath.getName.endsWith(".tmp") &&
          s.getModificationTime <= stale)
        .foreach(s => f.delete(s.getPath, false))
    }
    drop
  }
}
