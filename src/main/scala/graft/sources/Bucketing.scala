package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RECORDED HASH-BUCKET LAYOUT for merge targets (SURVEY §5's `bucketBy`
  * promise; VERDICT r14 ask #4) — the Iceberg bucket-transform idea on
  * this format: a maintenance rewrite lays the table out so file `b`
  * holds exactly the rows with `pmod(murmur3(key), n) = b` (what
  * `Dataset.repartition(n, col(key))` distributes by), and records the
  * spec as a table property. Repeated incremental merges then:
  *
  *   - prune by BUCKET: the staging delta's touched buckets are one
  *     delta-scale aggregation (≤ n values collected), touched files
  *     follow from the file↔bucket map — no key-range join needed;
  *   - read the touched slice BUCKET-ALIGNED (one partition per bucket,
  *     in bucket order) and CLAIM the layout's HashPartitioning
  *     ([[org.apache.spark.sql.graft.PartitionBridge]], the
  *     Dataset.checkpoint construction) — EnsureRequirements then
  *     shuffles ONLY the staging delta to match; the TARGET-SIDE
  *     EXCHANGE of the merge's full-outer join disappears
  *     (PlanAuditSpec pins exactly one exchange in the merged plan);
  *   - write the rewrite through the same partitioning (the join
  *     preserves it), so the new files land bucket-named again and the
  *     NEXT merge gets the same road.
  *
  * PURITY is per FILE, proven by origin: a manifest ref's `vNNNNNNNN/`
  * prefix names the commit that wrote it, and only [[bucketize]] and
  * the bucket-road merge stamp their commits with the spec they wrote
  * under (`bucketed=<key>,<n>`). Any file
  * from an unstamped writer (a blind append rebased in, a plain COW
  * delete) makes [[pureBuckets]] return None and the merge falls back
  * to the key-range road — correct, just shuffly — until the next
  * [[bucketize]] re-establishes the layout. At 100 TB this is the
  * standing answer to the hourly-merge shuffle: the target side moves
  * ZERO bytes through an exchange on every repeated run, the staging
  * exchange is O(delta). */
object Bucketing {

  /** Table property: `<keyCol>[,<keyCol>…],<numBuckets>` — one or more
    * key columns (a composite business key hashes all of them, in
    * order) followed by the bucket count. */
  val BucketByProp = "graft.bucketBy"

  /** Commit-info stamp of bucket-pure commits. The VALUE is the spec
    * the files were written under (`<key>,<n>`) — purity is only
    * meaningful against the SAME spec: a later `ALTER ... SET
    * TBLPROPERTIES('graft.bucketBy'='id,16')` over files laid out at
    * n=4 must fail the purity check (part-3 of 4 holds buckets
    * 3/7/11/15 of 16 — trusting it would silently duplicate keys), not
    * ride the stamp. */
  val BucketedInfoKey = "bucketed"

  def specOf(props: Map[String, String]): Option[(Seq[String], Int)] =
    props.get(BucketByProp).flatMap { v =>
      val a = v.split(',').map(_.trim)
      if (a.length >= 2 && a.last.toIntOption.exists(_ > 0) &&
          a.init.forall(_.nonEmpty))
        Some((a.init.toSeq, a.last.toInt))
      else None
    }

  /** The canonical spec string `k1[,k2…],n` — the one encoding the
    * property, the purity stamp, and the purity probe all compare. */
  def specString(keys: Seq[String], n: Int): String =
    (keys :+ n.toString).mkString(",")

  /** Props with the bucket spec DROPPED when `colName` IS the spec key.
    * A schema change to the key column ends the recorded layout: a type
    * WIDEN re-keys murmur3 (a 4-byte int and an 8-byte long hash
    * differently, so the claimed HashPartitioning over the widened type
    * would silently mis-join), a RENAME orphans every recorded stamp's
    * spec string, and a DROP removes the column outright. Changes to
    * any other column keep the spec: the zero-row commit writes no file
    * whose purity a stamp would have to vouch for. */
  def dropSpecIfKey(
      props: Map[String, String], colName: String): Map[String, String] =
    specOf(props) match {
      case Some((ks, _)) if ks.exists(_.equalsIgnoreCase(colName)) =>
        props - BucketByProp
      case _ => props
    }

  /** The layout's bucket id of a (possibly composite) key — EXACTLY the
    * partition id `repartition(n, cols…)` assigns (murmur3 seed 42,
    * chained across the columns IN ORDER; null hashes to the incoming
    * seed), which is also what the claimed HashPartitioning re-derives.
    * All three MUST stay in lockstep. */
  def bucketExpr(keys: Seq[String], n: Int) =
    pmod(hash(keys.map(col): _*), lit(n))

  /** Re-hash `df` into the spec's buckets plus the stamp its commit
    * must record — the shared re-layout of the MOR merge's written
    * delta, [[VersionedTable.compact]], and the sortCols-free
    * `OPTIMIZE ... WHERE`. ONE definition, so the three sites that must
    * stay hash-identical for the stamp to be truthful cannot drift. */
  def relayout(
      df: DataFrame, keys: Seq[String], n: Int)
      : (DataFrame, Map[String, String]) = {
    val keyNames = keys.map(k => df.schema.fieldNames
      .find(_.equalsIgnoreCase(k)).getOrElse(k))
    (df.repartition(n, keyNames.map(col): _*),
      Map(BucketedInfoKey -> specString(keys, n)))
  }

  /** MAINTENANCE: rewrite the whole table into `n` hash buckets of
    * `key` and record the spec — one full-rewrite commit (the optimize
    * cost class; run it once, then every merge rides the layout).
    * Refused on partition-spec'd tables: the Hive-style dir layout owns
    * the file placement there. */
  def bucketize(
      spark: SparkSession, root: String, key: String, n: Int): Long =
    bucketize(spark, root, Seq(key), n)

  /** [[bucketize]] on a COMPOSITE key: the classic CDC business key
    * (id + source system) hashes all columns in order. */
  def bucketize(
      spark: SparkSession, root: String, keys: Seq[String], n: Int): Long = {
    require(n > 0, "numBuckets must be positive")
    VersionedTable.occRetry(spark, root) { cur =>
      val props = VersionedTable.propertiesOf(spark, cur)
      require(!props.contains(VersionedTable.PartitionByProp),
        s"$root is partition-spec'd — bucketize is for unpartitioned merge targets")
      val df = VersionedTable.readVersion(spark, cur)
      keys.foreach(k => require(df.columns.exists(_.equalsIgnoreCase(k)),
        s"no column $k in $root"))
      require(keys.forall(k => !k.contains(",")),
        "bucket key column names containing ',' cannot be recorded in " +
          "the comma-joined spec — rename the column")
      VersionedTable.commit(
        df.repartition(n, keys.map(col): _*), root,
        recordProperties = Some(
          props.updated(BucketByProp, specString(keys, n))),
        recordInfo = Map("operation" -> "bucketize",
          BucketedInfoKey -> specString(keys, n)),
        preCommit = VersionedTable.occValidate(spark, root, Some(cur)))
    }
  }

  /** Bucket id parsed from a ref's part index — the Spark writer names
    * each task's file `part-<partitionId>-<uuid>…`, and bucket-pure
    * commits write partition b = bucket b. */
  def refBucket(ref: String): Option[Int] =
    "^part-(\\d+)-".r.findFirstMatchIn(ref.split('/').last)
      .map(_.group(1).toInt)

  /** SKEW GUARD ceiling: the largest per-bucket byte total the claimed
    * road will accept. A claimed bucket is ONE un-splittable task — the
    * claim removes exactly the exchange AQE's skew-join split would
    * operate on — so a whale key concentrating a bucket past this bound
    * must push the merge back to the key-range road, where the join
    * shuffles and AQE splits the skewed partition. Sized to a few
    * comfortable scan tasks (default 2 GiB ≈ 16 × the 128 MiB split);
    * the recorded AddFile sizes make the probe metadata-only. */
  val MaxBucketBytesKey = "spark.graft.bucket.maxBucketBytes"
  val MaxBucketBytesDefault: Long = 2L << 30

  /** [[pureBuckets]] with the skew guard applied: None when any single
    * bucket's recorded bytes exceed [[MaxBucketBytesKey]] — or when any
    * ref lacks a recorded size (unknown bytes must not ride an
    * un-splittable task). This is the form the merge roads consume;
    * bare [[pureBuckets]] stays the layout-integrity probe. */
  private[graft] def pureBucketsBounded(
      spark: SparkSession, root: String, v: Long, keys: Seq[String], n: Int)
      : Option[Map[String, Int]] =
    pureBucketsBounded(spark, VersionedTable.snapshotAt(spark, root, v), keys, n)

  private[graft] def pureBucketsBounded(
      spark: SparkSession, v: Snapshot, keys: Seq[String], n: Int)
      : Option[Map[String, Int]] =
    pureBuckets(spark, v, keys, n).filter { fb =>
      val cap = spark.conf
        .get(MaxBucketBytesKey, MaxBucketBytesDefault.toString).toLong
      val sizes = VersionedTable.fileSizes(spark, v)
      fb.groupBy(_._2).values.forall { refs =>
        refs.keys.forall(sizes.contains) &&
          refs.keys.iterator.map(sizes).sum <= cap
      }
    }

  /** ref → bucket for version `v`, or None unless EVERY data file is
    * provably bucket-pure (origin commit stamped + part index < n).
    * O(refs) driver work plus one tiny commit-info read per distinct
    * origin version. */
  def pureBuckets(
      spark: SparkSession, root: String, v: Long, keys: Seq[String], n: Int)
      : Option[Map[String, Int]] =
    pureBuckets(spark, VersionedTable.snapshotAt(spark, root, v), keys, n)

  private[graft] def pureBuckets(
      spark: SparkSession, v: Snapshot, keys: Seq[String], n: Int)
      : Option[Map[String, Int]] = {
    val spec = specString(keys, n)
    val refs = VersionedTable.dataFileRefs(spark, v)
    val dirToV = VersionedTable.snapshots(spark, v.root).map(w => w.dirName -> w).toMap
    val stamped = scala.collection.mutable.Map.empty[Long, Boolean]
    val out = Map.newBuilder[String, Int]
    refs.foreach { r =>
      val seg = r.split('/')
      if (seg.length != 2) return None // original/absolute ref — unproven
      val w = dirToV.get(seg.head).getOrElse(return None)
      // the stamp must name the SAME spec the merge is about to trust
      val ok = stamped.getOrElseUpdate(w.version,
        VersionedTable.commitInfoOf(spark, w)
          .get(BucketedInfoKey).contains(spec))
      val b = refBucket(r).getOrElse(return None)
      if (!ok || b >= n) return None
      out += r -> b
    }
    Some(out.result())
  }

  /** The touched slice read BUCKET-ALIGNED: one partition per bucket in
    * bucket order (untouched/empty buckets contribute one empty
    * partition), with the layout's HashPartitioning claimed on top.
    * Each bucket's files read through an unmasked [[VersionedTable.scan]]
    * (column mapping applies map-side, so rows stay bucket-pure); the
    * mask folds once above the claim ([[alignedSlice]]). */
  private[graft] def bucketAlignedSlice(
      spark: SparkSession, v: Snapshot, keys: Seq[String], n: Int,
      filesByBucket: Map[Int, Seq[String]],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    alignedSlice(spark, v, keys, n, filesByBucket, schema,
      needFile = false, needPos = false)
      .select(casts(schema): _*)

  /** [[bucketAlignedSlice]] with each row's file ref exposed as `refCol`
    * — the CLAIMED form of [[VersionedTable.readVersionWithFileRef]] for
    * the SQL MERGE's touched-file detection join: the candidate slice
    * arrives bucket-aligned with the layout's HashPartitioning, so the
    * detection join shuffles only the SOURCE (O(delta)) instead of the
    * candidate slice (O(table) on a hash-scattered delta). */
  private[graft] def bucketAlignedSliceWithRef(
      spark: SparkSession, v: Snapshot, keys: Seq[String], n: Int,
      filesByBucket: Map[Int, Seq[String]],
      schema: org.apache.spark.sql.types.StructType,
      refCol: String): DataFrame =
    alignedSlice(spark, v, keys, n, filesByBucket, schema,
      needFile = true, needPos = false)
      .select((casts(schema) :+ col("__dv_file").as(refCol)): _*)

  /** [[bucketAlignedSlice]] in the MERGE-ON-READ tagged form: each
    * bucket's files read through a tagged [[VersionedTable.scan]]
    * (existing masks already folded, each visible row tagged
    * `__dv_file`/`__dv_pos`), the layout's HashPartitioning claimed on
    * the key. A masked target's MERGE then joins its touched slice with
    * ZERO target-side exchange like the COW form — the tag columns just
    * ride along in the claimed schema (mask folding only REMOVES rows,
    * so a bucket's survivors still all hash to their bucket). */
  private[graft] def bucketAlignedSliceTagged(
      spark: SparkSession, v: Snapshot, keys: Seq[String], n: Int,
      filesByBucket: Map[Int, Seq[String]],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    alignedSlice(spark, v, keys, n, filesByBucket, schema,
      needFile = true, needPos = true)
      .select((casts(schema) :+ col("__dv_file") :+ col("__dv_pos")): _*)

  private def casts(
      schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.Column] =
    schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name))

  /** The shared scaffold of the three slice forms: one partition per
    * bucket in bucket order (untouched/empty buckets contribute one
    * empty partition), the layout's HashPartitioning claimed on top,
    * and the version's mask folded ONCE above the claim. Folding
    * above — not inside each bucket frame — matters twice over: one
    * chain resolution and one mask build per SLICE instead of per
    * BUCKET (per-bucket folding measured ~2x wall on a masked 16-bucket
    * merge, and the per-bucket count is the scaling variable), and both
    * mask roads preserve the claim (a broadcast anti-join keeps the
    * streamed side's partitioning; the bitmap road is a filter), so the
    * zero-exchange property is untouched. The three public faces select
    * their own shape off the tagged fold.
    *
    * TWO roads build the claimed slice, fastest provable one wins:
    *
    *  - ONE-PLAN REGROUP (the default): compile a single scan of ALL
    *    the slice's files — planned with file packing disabled
    *    (openCostInBytes pinned to maxPartitionBytes), so every scan
    *    partition holds one file (or one split of one file) — then
    *    regroup scan partitions by bucket through a narrow dependency
    *    ([[org.apache.spark.sql.graft.PartitionBridge.regroupClaim]]).
    *    Driver cost O(1) plans in the bucket count, vs the per-bucket
    *    road's ~20 ms x n of analysis+codegen (22 ms/bucket — minutes
    *    per merge at 4096 buckets; SCALING.md § "the bucket road's
    *    driver term, measured and cut").
    *  - PER-BUCKET PLANS (the fallback): one frame per bucket, RDD
    *    union, claim — kept for any shape the regroup can't PROVE
    *    single-bucket per partition (it declines rather than
    *    mis-claims). */
  private def alignedSlice(
      spark: SparkSession, v: Snapshot, keys: Seq[String], n: Int,
      filesByBucket: Map[Int, Seq[String]],
      schema: org.apache.spark.sql.types.StructType,
      needFile: Boolean, needPos: Boolean): DataFrame = {
    val root = v.root
    val bridge = org.apache.spark.sql.graft.PartitionBridge
    // the physical tags are CODEGEN'D PER ROW (a regexp over the file
    // path, the metadata row index) and the claim is an optimizer
    // barrier no later projection reaches through — so build only the
    // tags this slice actually consumes: the face's own needs, or both
    // when a mask must fold above the claim
    val masked = VersionedTable.hasDeletionVectors(spark, v)
    val tagFile = needFile || masked
    val tagPos = needPos || masked
    var outSchema = schema
    if (tagFile) outSchema =
      outSchema.add("__dv_file", org.apache.spark.sql.types.StringType)
    if (tagPos) outSchema =
      outSchema.add("__dv_pos", org.apache.spark.sql.types.LongType)
    val cs = casts(schema) ++
      (if (tagFile) Seq(col("__dv_file")) else Nil) ++
      (if (tagPos) Seq(col("__dv_pos")) else Nil)
    def readBucketFiles(refs: Seq[String]) = VersionedTable
      .scan(spark, v, Some(refs), tagFile, tagPos, masked = false).select(cs: _*)
    val onePlan: Option[org.apache.spark.sql.DataFrame] =
      if (filesByBucket.isEmpty) None
      else {
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val byPath: Map[String, Int] = filesByBucket.toSeq.flatMap {
          case (b, fs) => fs.map(r => fsys.makeQualified(
            new org.apache.hadoop.fs.Path(root, r)).toString -> b)
        }.toMap
        val refs = filesByBucket.valuesIterator.flatten.toSeq.sorted
        val whole = readBucketFiles(refs)
        // pin packing OFF for this plan's compilation: openCost at the
        // partition byte ceiling means no two files share a partition.
        // The pin is a SESSION conf, so the set→plan→restore window is
        // serialized — an unlocked interleaving of two merges could
        // restore the pinned value as the "previous" one and leak
        // packing-off to every later scan in the session
        confPinLock.synchronized {
          val openKey = "spark.sql.files.openCostInBytes"
          val prev = spark.conf.getOption(openKey)
          spark.conf.set(openKey,
            spark.conf.get("spark.sql.files.maxPartitionBytes"))
          try bridge.regroupClaim(spark, whole,
            p => byPath.get(new org.apache.hadoop.fs.Path(p).toString), n, keys)
          finally prev match {
            case Some(x) => spark.conf.set(openKey, x)
            case None => spark.conf.unset(openKey)
          }
        }
      }
    lastSliceOnePlan = onePlan.isDefined
    val claimed = onePlan.getOrElse {
      val parts = (0 until n).map { b =>
        filesByBucket.get(b).filter(_.nonEmpty)
          .map(fs => bridge.onePartition(readBucketFiles(fs.sorted)))
          .getOrElse(bridge.emptyPartition(spark))
      }
      bridge.claimHashPartitioned(spark, outSchema, parts, keys)
    }
    if (masked) VersionedTable.foldMaskOnce(spark, v, claimed)
    else claimed
  }

  private val confPinLock = new Object

  /** Which road the LAST [[alignedSlice]] took (true = one-plan
    * regroup) — observability for specs; the roads are
    * row-indistinguishable by construction. */
  @volatile private[graft] var lastSliceOnePlan: Boolean = false

  /** The bucket-road merge frames against version `cur`, or None when
    * any guard fails (no spec, spec on a different key, a type-drifted
    * staging key, schema evolution in flight, any impure file). Returns
    * (merged frame — target side exchange-free, kept refs, optional
    * change feed, the spec string the commit must stamp). */
  private[graft] def mergeFrames(
      spark: SparkSession, cur: Snapshot, staging: DataFrame,
      key: String, runTs: org.apache.spark.sql.Column,
      statusCol: String, doneValue: String, changeFeed: Boolean)
      : Option[(DataFrame, Seq[String], Option[DataFrame], String)] = {
    val props = VersionedTable.propertiesOf(spark, cur)
    specOf(props) match {
      // this road's merge machinery (IncrementalMerge) is single-key;
      // a composite-key layout declines here and rides the SQL MERGE
      // face, whose ON condition carries every key conjunct
      case Some((Seq(bkey), n)) if bkey.equalsIgnoreCase(key) =>
        pureBucketsBounded(spark, cur, Seq(bkey), n).flatMap { fb =>
          val target = VersionedTable.readVersion(spark, cur)
          // the staging key must hash under the SAME binary layout the
          // files were written with: murmur3 of INT and BIGINT differ,
          // so a type-drifted delta would prune the wrong buckets and
          // silently duplicate keys — fall back instead
          val tKeyType = target.schema.find(_.name.equalsIgnoreCase(key))
            .map(_.dataType)
          val sKeyType = staging.schema.find(_.name.equalsIgnoreCase(key))
            .map(_.dataType)
          if (tKeyType.isEmpty || tKeyType != sKeyType) return None
          val mergedSchema = graft.operators.IncrementalMerge
            .mergeEvolving(target.limit(0), staging.limit(0), key, runTs,
              statusCol, doneValue).schema
          val sameSchema = mergedSchema.map(f => (f.name, f.dataType)) ==
            target.schema.map(f => (f.name, f.dataType))
          if (!sameSchema) None
          else {
            // touched buckets: one delta-scale aggregation, ≤ n values
            val touched: Set[Int] = staging
              .select(bucketExpr(Seq(key), n).as("__b")).distinct()
              .collect().map(_.getInt(0)).toSet
            val filesByBucket: Map[Int, Seq[String]] = fb.toSeq
              .filter { case (_, b) => touched(b) }
              .groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1) }
            val touchedFiles: Set[String] =
              filesByBucket.values.flatten.toSet
            val kept = VersionedTable.dataFileRefs(spark, cur)
              .filterNot(touchedFiles)
            val slice = bucketAlignedSlice(spark, cur, Seq(bkey), n,
              filesByBucket, target.schema)
            // co-partition the DELTA explicitly to the layout's
            // partitioning — the one exchange this merge performs, and
            // it moves O(delta). Explicit rather than left to
            // EnsureRequirements: a delta arriving with a trivially
            // satisfying partitioning (SinglePartition after a
            // localCheckpoint'd limit) would otherwise pair 1 partition
            // against the slice's n and fail the join's zip.
            val alignedStaging = staging.repartition(n, col(key))
            val merged = graft.operators.IncrementalMerge
              .mergeEvolving(slice, alignedStaging, key, runTs, statusCol,
                doneValue)
              .select(target.columns.toSeq.map(col): _*)
            val feed =
              if (!changeFeed) None
              else Some(graft.operators.IncrementalMerge
                .changeFeed(slice, alignedStaging, key, runTs, statusCol,
                  doneValue))
            Some((merged, kept, feed, specString(Seq(bkey), n)))
          }
        }
      case _ => None
    }
  }
}
