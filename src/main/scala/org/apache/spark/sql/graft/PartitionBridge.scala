package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge for CLAIMING a physical distribution on rows that are already
  * laid out that way (graft's recorded hash-bucket layout: file `b` of
  * a bucketized snapshot holds exactly the rows with
  * `pmod(murmur3(key), n) = b`).
  *
  * Mechanism: assemble the bucket-ordered partitions with the PLAIN
  * `SparkContext.union` (partitioner-free children concatenate one
  * partition per child, in order — the SQL-level Union must NOT be used
  * here: Spark 4's UnionExec builds a partitioning-aware union that
  * MERGES equally-partitioned children instead of concatenating them),
  * then record `HashPartitioning(key, n)` as a [[LogicalRDD]]'s
  * outputPartitioning — the construction `Dataset.checkpoint` uses to
  * preserve partitioning across a lineage cut (public Spark source),
  * reachable only from this `private[sql]` shim package.
  * EnsureRequirements then sees a satisfied ClusteredDistribution on
  * that side of a key-equi join and inserts NO exchange there.
  *
  * CONTRACT (the caller proves it by construction): `parts(i)` contains
  * only rows with `pmod(murmur3_hash(key, 42), n) = i`, in the row
  * layout of `schema` — murmur3 seed 42 is what
  * `Dataset.repartition(n, col(key))` distributed by when the layout
  * was written, what `functions.hash` computes, and what
  * `HashPartitioning.partitionIdExpression` re-derives. A false claim
  * silently mis-joins; never call this on a layout not written by that
  * exact partitioning. */
object PartitionBridge {
  def claimHashPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      schema: StructType,
      parts: Seq[RDD[InternalRow]],
      keys: Seq[String]): DataFrame = {
    val sess = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    require(parts.forall(_.partitioner.isEmpty) &&
      parts.forall(_.getNumPartitions == 1),
      "each bucket must arrive as exactly one partitioner-free partition")
    val union = sess.sparkContext.union(parts)
    val attrs = DataTypeUtils.toAttributes(schema)
    val plan = new LogicalRDD(
      attrs, union, HashPartitioning(keyAttrs(attrs, keys, schema), parts.size),
      Nil, false, None)(sess, None, None)
    org.apache.spark.sql.classic.Dataset.ofRows(sess, plan)
  }

  /** The schema attributes of a composite bucket key, in key order —
    * the exact expression sequence `repartition(n, cols…)` hashed
    * (murmur3 chains across the columns in order, so key ORDER is part
    * of the layout's identity). */
  private def keyAttrs(
      attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      keys: Seq[String], schema: StructType) = {
    require(keys.nonEmpty, "a bucket layout needs at least one key column")
    keys.map(k => attrs.find(_.name.equalsIgnoreCase(k)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $k in ${schema.fieldNames.mkString(", ")}")))
  }

  /** Per-partition CONCATENATION of two frames already laid out in the
    * same n-bucket hash layout of `key` (e.g. the survivors and inserts
    * branches of a merge whose join ran on a claimed bucket-aligned
    * target: SMJ partition i holds only keys hashing to bucket i on
    * BOTH branches). The SQL-level union cannot express this — it either
    * concatenates 2n partitions (losing the bucket↔part-index map the
    * layout's purity stamp depends on) or forces a repartition that
    * moves every written byte through an exchange. zipPartitions keeps
    * n partitions with partition i = a_i ++ b_i — bucket-pure by the
    * inputs' construction — and the claim rides on top as in
    * [[claimHashPartitioned]]. None when either side does not arrive as
    * exactly n partitions (an optimizer reshape; callers fall back to
    * the explicit repartition, which is always correct).
    *
    * Why the count guard suffices: the alignment could only break if
    * the CLAIMED side stopped driving the join's partitioning. It can't
    * be broadcast away — statically the claimed [[LogicalRDD]] reports
    * the default (huge) size estimate, and adaptively only materialized
    * SHUFFLE stages gain runtime stats, which a claimed scan never is.
    * A broadcast of the SOURCE side keeps the claimed side streamed
    * (partitioning preserved), and AQE cannot coalesce the source's
    * exchange when its join sibling is a non-shuffle leaf. Any exotic
    * reshape that slips past all of that still changes the partition
    * count away from n and lands in the fallback. */
  def alignedConcat(
      spark: org.apache.spark.sql.SparkSession,
      a: DataFrame, b: DataFrame,
      keys: Seq[String], n: Int): Option[DataFrame] = {
    val sameShape = a.schema.map(f => (f.name, f.dataType)) ==
      b.schema.map(f => (f.name, f.dataType))
    if (!sameShape) return None
    val ra = a.queryExecution.toRdd
    val rb = b.queryExecution.toRdd
    if (ra.getNumPartitions != n || rb.getNumPartitions != n) None
    else {
      val sess = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val zipped = ra.zipPartitions(rb)((x, y) => x ++ y)
      val attrs = DataTypeUtils.toAttributes(a.schema)
      val plan = new LogicalRDD(
        attrs, zipped, HashPartitioning(keyAttrs(attrs, keys, a.schema), n),
        Nil, false, None)(sess, None, None)
      Some(org.apache.spark.sql.classic.Dataset.ofRows(sess, plan))
    }
  }

  /** A frame's internal rows as ONE partition (the per-bucket reads
    * feeding [[claimHashPartitioned]]) — RDD-level coalesce, so no SQL
    * optimizer pass can re-shape it. */
  def onePartition(df: DataFrame): RDD[InternalRow] = {
    val r = df.queryExecution.toRdd
    if (r.getNumPartitions == 1) r else r.coalesce(1, shuffle = false)
  }

  /** ONE-PLAN form of the bucket-aligned slice: compile `df` (a
    * map-only plan over ONE file scan of the slice's files) once, map
    * each scan partition to its bucket through `groupOfPath`, regroup
    * partitions by bucket with a narrow dependency (partition `b` of
    * the result concatenates exactly the scan partitions of bucket
    * `b`'s files — NO shuffle, NO per-bucket plan), and claim
    * `HashPartitioning(key, n)` on top.
    *
    * Why it exists: building one DataFrame per bucket costs one
    * analysis + physical planning + codegen PER BUCKET (~20 ms each,
    * measured — SCALING.md § "the bucket road's driver term, measured
    * and cut"), which is the bucket road's driver term: 22 ms x 4096
    * buckets would be minutes per merge. One plan makes the driver cost
    * O(1) in the bucket count.
    *
    * Returns None — callers keep the per-bucket road — when the plan's
    * partition↔file mapping can't be PROVEN single-bucket: a scan
    * partition packing files of two buckets, a path `groupOfPath` can't
    * resolve, an out-of-range bucket, or a plan whose RDD chain doesn't
    * bottom out in one file scan. The caller must plan the scan with
    * `spark.sql.files.openCostInBytes` at or above
    * `maxPartitionBytes` so packing never mixes files (splits of one
    * oversized file stay same-bucket by construction); this probe is
    * the proof, not the mechanism. */
  def regroupClaim(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      groupOfPath: String => Option[Int],
      n: Int,
      keys: Seq[String]): Option[DataFrame] = {
    val sess = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd
    // walk the one-parent chain to the file scan (scan + project/filter
    // compiles to a linear NARROW lineage; anything else declines).
    // NARROW only: a ShuffleDependency breaks the partition-index
    // identity between the FileScanRDD and the top RDD even when the
    // partition COUNTS coincide — recursing through one would apply the
    // index→bucket map across shuffled partitions and the
    // HashPartitioning claim would be silently false. The probe is the
    // proof; it must be sound on its own, not rely on today's plans
    // never compiling an exchange here.
    @scala.annotation.tailrec
    def fileScan(r: RDD[_]): Option[org.apache.spark.sql.execution.datasources.FileScanRDD] =
      r match {
        case f: org.apache.spark.sql.execution.datasources.FileScanRDD => Some(f)
        case _ if r.dependencies.size == 1 &&
            r.dependencies.head.isInstanceOf[org.apache.spark.NarrowDependency[_]] =>
          fileScan(r.dependencies.head.rdd)
        case _ => None
      }
    fileScan(rdd).flatMap { scan =>
      if (scan.getNumPartitions != rdd.getNumPartitions) None
      else {
        val groups = Array.fill(n)(List.newBuilder[Int])
        var ok = true
        scan.filePartitions.foreach { fp =>
          val gs = fp.files.map(pf => groupOfPath(pf.filePath.toString))
            .distinct.toSeq
          gs match {
            case Seq(Some(g)) if g >= 0 && g < n => groups(g) += fp.index
            case _ => ok = false
          }
        }
        if (!ok) None
        else {
          val grouped = groups.map(_.result().sorted.toArray)
          val regrouped = new RegroupRDD(rdd, grouped)
          val attrs = DataTypeUtils.toAttributes(df.schema)
          val plan = new LogicalRDD(
            attrs, regrouped, HashPartitioning(keyAttrs(attrs, keys, df.schema), n),
            Nil, false, None)(sess, None, None)
          Some(org.apache.spark.sql.classic.Dataset.ofRows(sess, plan))
        }
      }
    }
  }

  /** An empty single partition in `schema`'s layout (an untouched or
    * empty bucket). */
  def emptyPartition(
      spark: org.apache.spark.sql.SparkSession): RDD[InternalRow] =
    spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
}

private final class RegroupPartition(
    override val index: Int,
    val parents: Array[org.apache.spark.Partition])
  extends org.apache.spark.Partition

/** n-partition regroup of a parent RDD through a narrow dependency:
  * partition `i` concatenates the parent partitions listed in
  * `groups(i)`, in order (an empty group is an empty partition). The
  * coalesce shape with caller-chosen grouping — no shuffle, rows
  * stream straight through. The parent PARTITION OBJECTS are captured
  * into [[RegroupPartition]] at plan time and ship with the task:
  * re-deriving them executor-side would call the parent's
  * getPartitions against `@transient` driver state (FileScanRDD's
  * filePartitions is null there). */
private final class RegroupRDD(
    parent: RDD[InternalRow], groups: Array[Array[Int]])
  extends RDD[InternalRow](parent.sparkContext,
    Seq(new org.apache.spark.NarrowDependency[InternalRow](parent) {
      override def getParents(partitionId: Int): Seq[Int] =
        groups(partitionId).toSeq
    })) {

  override def getPartitions: Array[org.apache.spark.Partition] = {
    val parentParts = firstParent[InternalRow].partitions
    groups.indices.map(i =>
      new RegroupPartition(i, groups(i).map(parentParts))).toArray
  }

  override def compute(
      split: org.apache.spark.Partition,
      context: org.apache.spark.TaskContext): Iterator[InternalRow] =
    split.asInstanceOf[RegroupPartition].parents.iterator.flatMap(p =>
      firstParent[InternalRow].iterator(p, context))

  override protected def getPreferredLocations(
      split: org.apache.spark.Partition): Seq[String] =
    split.asInstanceOf[RegroupPartition].parents.toSeq
      .flatMap(p => firstParent[InternalRow].preferredLocations(p))
      .distinct
}
