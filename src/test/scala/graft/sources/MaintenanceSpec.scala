package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The auto-maintenance policy hook ([[VersionedTable.maintenanceReport]]):
  * measure-then-recommend over snapshot metadata — a large MOR delete
  * flips `compact`, a compact clears it; small-file churn flips `compact`;
  * clustering decay after an optimize flips `optimize`; deep ledgers and
  * long version logs flip their verbs. Mirrors driftReport's shape for
  * table layout (the Delta/Iceberg auto-compaction heuristics idea). */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_maint").toString + "/t"

  test("a large MOR delete flips compact; compacting clears it") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 1000L).map(i => (i, s"row-$i")).toDF("id", "x")
        .repartitionByRange(4, col("id")), root)
    // tiny byte target: at spec scale every file is KB-sized, and the
    // small-file signal must stay quiet so the DV signal is isolated
    val target = 1024L
    val before = VersionedTable.maintenanceReport(spark, root, target)
    assert(!before.recommendations.contains("compact"),
      s"fresh table should be healthy, got $before")
    // delete 40% merge-on-read: the sidecar carries real mass
    VersionedTable.deleteWhere(spark, root, col("id") % 5 <= 1, mor = true)
    val after = VersionedTable.maintenanceReport(spark, root, target)
    assert(after.dvBytes > 0 && after.dvFraction > 0.0)
    assert(after.recommendations.contains("compact"),
      s"a heavy mask must flip compact: $after")
    VersionedTable.compact(spark, root)
    val cleared = VersionedTable.maintenanceReport(spark, root, target)
    assert(cleared.dvBytes == 0L)
    assert(!cleared.recommendations.contains("compact"),
      s"compaction folds the mask — recommendation must clear: $cleared")
  }

  test("small-file churn flips compact against a byte target") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    (2L to 9L).foreach(i =>
      VersionedTable.commitAppend(Seq((i, s"r$i")).toDF("id", "x"), root))
    // 9 tiny files vs a 128 MiB target: all small
    val rep = VersionedTable.maintenanceReport(spark, root)
    assert(rep.dataFiles >= 9 && rep.smallFileFraction == 1.0)
    assert(rep.recommendations.contains("compact"))
  }

  test("clustering decay after optimize flips optimize; re-optimizing clears it") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 2000L).map(i => (i, i % 7)).toDF("id", "g")
        .repartition(4), root)
    VersionedTable.optimize(spark, root, Seq("id"), targetFileBytes = 4096)
    val fresh = VersionedTable.maintenanceReport(spark, root)
    assert(fresh.clusteredBy == Seq("id"))
    assert(!fresh.recommendations.contains("optimize"),
      s"freshly clustered layout must read near-disjoint: $fresh")
    // append interleaved key ranges repeatedly: every new file spans the
    // whole key space, so ranges overlap everything
    (1 to 4).foreach { _ =>
      VersionedTable.commitAppend(
        (1L to 2000L by 100L).map(i => (i, i % 7)).toDF("id", "g"), root)
    }
    val drifted = VersionedTable.maintenanceReport(spark, root)
    assert(drifted.avgRangeOverlap > fresh.avgRangeOverlap)
    assert(drifted.recommendations.contains("optimize"),
      s"interleaved appends must flip optimize: $drifted")
    VersionedTable.optimize(spark, root, Seq("id"), targetFileBytes = 4096)
    assert(!VersionedTable.maintenanceReport(spark, root)
      .recommendations.contains("optimize"))
  }

  test("applyMaintenance executes the recommended verbs and leaves a healthy table") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 2000L).map(i => (i, s"r$i")).toDF("id", "x").repartition(4), root)
    VersionedTable.optimize(spark, root, Seq("id"), targetFileBytes = 8192)
    // drift it: a heavy MOR delete + interleaved appends + a long log
    VersionedTable.deleteWhere(spark, root, col("id") % 3 === 0, mor = true)
    (1 to 4).foreach(_ => VersionedTable.commitAppend(
      (1L to 2000L by 200L).map(i => (10000L + i, "a")).toDF("id", "x"), root))
    val before = VersionedTable.maintenanceReport(spark, root,
      targetFileBytes = 4096, keepVersions = 4)
    assert(before.recommendations.nonEmpty, s"expected drift, got $before")
    val ran = VersionedTable.applyMaintenance(spark, root,
      targetFileBytes = 4096, keepVersions = 4)
    // clustered table: the compact/optimize overlap collapses to ONE
    // optimize (a plain compact would destroy the measured clustering)
    assert(ran.contains("optimize") && !ran.contains("compact"), s"ran $ran")
    assert(ran.contains("vacuum"), s"ran $ran")
    val after = VersionedTable.maintenanceReport(spark, root,
      targetFileBytes = 4096, keepVersions = 4)
    assert(after.recommendations.isEmpty,
      s"one maintenance pass must leave the table healthy: $after")
    // rows intact through the whole pass
    assert(VersionedTable.read(spark, root).count() ==
      2000L - 666L + 4L * 10L)
  }

  test("long version logs flip vacuum; DESCRIBE DETAIL surfaces the verbs") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    (1 to 6).foreach(i =>
      VersionedTable.commitAppend(Seq((10L + i, "r")).toDF("id", "x"), root))
    val rep = VersionedTable.maintenanceReport(spark, root, keepVersions = 5)
    assert(rep.retainedVersions == 7)
    assert(rep.recommendations.contains("vacuum"))
    // the SQL face carries the policy's verdict (default thresholds)
    val row = graft.plans.GraftSql.execute(spark, s"DESCRIBE DETAIL '$root'")
      .collect().head
    val maint = row.getString(row.fieldIndex("maintenance"))
    assert(maint.contains("compact"), // 7 tiny files: small-file churn
      s"DESCRIBE DETAIL should surface maintenance verbs, got '$maint'")
    // MAINTAIN DRY RUN reports without acting; MAINTAIN executes
    val dry = graft.plans.GraftSql.execute(spark,
      s"MAINTAIN '$root' DRY RUN").collect().map(_.getString(0)).toSet
    assert(dry.contains("compact"), s"dry: $dry") // default keepVersions=96: no vacuum
    assert(VersionedTable.versions(spark, root).size == 7, "dry run acted!")
    val ran = graft.plans.GraftSql.execute(spark, s"MAINTAIN '$root'")
      .collect().map(_.getString(0)).toSet
    assert(ran.contains("compact"), s"ran: $ran")
    val after = graft.plans.GraftSql.execute(spark,
      s"MAINTAIN '$root' DRY RUN").collect().map(_.getString(0)).toSet
    assert(after == Set("healthy"), s"after one pass: $after")
  }

  test("a stale materialized view surfaces its lag and MAINTAIN " +
    "refreshes it; a fresh one stays quiet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_maint_mv")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    val df = Seq((1L, "a", 10L), (2L, "b", 5L)).toDF("id", "grp", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    AggReplica.createView(spark, mv, src, Seq("grp"), "v")
    val fresh = VersionedTable.maintenanceReport(spark, mv)
    assert(fresh.mvVersionsBehind == 0L &&
      !fresh.recommendations.exists(_.startsWith("refresh_view")),
      s"an up-to-date view is healthy: $fresh")
    // two source commits the view hasn't folded → lag = 2, verb carries it
    VersionedTable.commitAppend(Seq((3L, "a", 7L)).toDF("id", "grp", "v"),
      src, changeFeed = true)
    VersionedTable.deleteWhere(spark, src, col("id") === 2L)
    val stale = VersionedTable.maintenanceReport(spark, mv)
    assert(stale.mvVersionsBehind == 2L, s"lag must be measured: $stale")
    assert(stale.recommendations.contains("refresh_view:2"), s"$stale")
    // DESCRIBE DETAIL surfaces the lag in the maintenance column
    val row = graft.plans.GraftSql.execute(spark, s"DESCRIBE DETAIL '$mv'")
      .collect().head
    assert(row.getString(row.fieldIndex("maintenance"))
      .contains("refresh_view:2"), row.toString)
    // MAINTAIN dispatches the refresh; the view converges and the
    // recommendation clears
    val ran = graft.plans.GraftSql.execute(spark, s"MAINTAIN '$mv'")
      .collect().map(_.getString(0)).toSet
    assert(ran.contains("refresh_view"), s"ran: $ran")
    val state = VersionedTable.read(spark, mv)
      .select(col("grp"), col("n_rows"), col("value_sum").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(state == Seq(("a", 2L, 17L)), s"refreshed state: $state")
    val healed = VersionedTable.maintenanceReport(spark, mv)
    assert(healed.mvVersionsBehind == 0L &&
      !healed.recommendations.exists(_.startsWith("refresh_view")),
      s"after MAINTAIN: $healed")
  }
}
