package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Sink semantics: truncate-replace atomicity, dynamic partition
  * overwrite scope, and the first-run + steady-state upsert path. */
class SinksSpec extends SparkSpec {

  import spark.implicits._

  test("truncateLoad replaces the previous snapshot completely") {
    val dir = Files.createTempDirectory("graft_sink").resolve("t").toString
    Sinks.truncateLoad(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
    Sinks.truncateLoad(Seq((9L, "z")).toDF("id", "v"), dir)
    val rows = spark.read.parquet(dir).collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 9L)
    // no leftover tmp/old siblings
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("t"), s"unexpected siblings: $parent")
  }

  test("overwritePartitions rewrites only the partitions in the batch") {
    val dir = Files.createTempDirectory("graft_sink_p").resolve("t").toString
    Sinks.overwritePartitions(
      Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("d", "id"), dir, Seq("d"))
    // incoming batch touches only d=2024-01-02
    Sinks.overwritePartitions(
      Seq(("2024-01-02", 20L), ("2024-01-02", 21L)).toDF("d", "id"), dir, Seq("d"))
    // partition-column type inference reads `d` back as a Date
    val out = spark.read.parquet(dir)
      .groupBy(col("d").cast("string").as("d"))
      .agg(count(lit(1)).as("n"), min("id").as("lo"))
      .orderBy("d").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("2024-01-01", 1L, 1L), ("2024-01-02", 2L, 20L)))
  }

  test("date-partitioned layout prunes partitions at read time") {
    val dir = Files.createTempDirectory("graft_sink_prune").resolve("t").toString
    Sinks.overwritePartitions(
      (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong)).toDF("d", "id"),
      dir, Seq("d"))
    val read = spark.read.parquet(dir).filter(col("d") === "2024-01-05")
    val plan = read.queryExecution.executedPlan.toString
    // the filter must resolve against the DIRECTORY layout, not row data
    assert(plan.contains("PartitionFilters: [isnotnull(d") && plan.contains("DataFilters: []"),
      s"filter not applied at partition level:\n$plan")
    // collect() runs read's OWN QueryExecution (count() would plan a new
    // one and leave these metrics at zero)
    assert(read.collect().length == 1)
    // runtime proof: the executed scan touched ONE of the 30 directories
    val numFiles = read.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value }
    assert(numFiles.contains(1L), s"scan read $numFiles files, expected 1")
  }

  test("upsertByKey: first run creates, second merges with soft delete") {
    val dir = Files.createTempDirectory("graft_sink_u").resolve("mart").toString
    val t0 = lit("2024-06-01 00:00:00").cast("timestamp")
    val t1 = lit("2024-06-02 00:00:00").cast("timestamp")
    def stg(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "last_status", "c")
        .withColumn("created_at", col("c").cast("timestamp")).drop("c")

    Sinks.upsertByKey(spark, dir,
      stg(Seq((1L, "OPEN", "2024-05-30 10:00:00"), (2L, "DONE", "2024-05-30 11:00:00"))),
      "id", t0, "last_status", "DONE")
    val first = spark.read.parquet(dir).orderBy("id").collect()
    assert(first.length == 2)
    assert(first(0).getAs[Any]("deleted_at") == null)       // OPEN alive
    assert(first(1).getAs[Any]("deleted_at") != null)       // DONE soft-deleted

    // second run: id 1 finishes, id 3 appears, id 2 absent from staging
    Sinks.upsertByKey(spark, dir,
      stg(Seq((1L, "DONE", "2024-05-30 10:00:00"), (3L, "OPEN", "2024-06-01 09:00:00"))),
      "id", t1, "last_status", "DONE")
    val second = spark.read.parquet(dir).orderBy("id").collect()
    assert(second.length == 3)
    assert(second(0).getAs[Any]("deleted_at") != null)      // newly DONE
    assert(second(1).getAs[Any]("deleted_at") != null)      // preserved delete
    assert(second(2).getAs[Any]("deleted_at") == null)      // new OPEN row
    // untouched row keeps its original updated_at
    assert(second(1).getAs[java.sql.Timestamp]("updated_at")
      == first(1).getAs[java.sql.Timestamp]("updated_at"))
  }

  test("versioned upsert detects a concurrent writer and re-merges (no lost update)") {
    val root = Files.createTempDirectory("graft_sink_occ").resolve("t").toString
    val t0 = lit("2024-06-01 00:00:00").cast("timestamp")
    def stg(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "last_status", "c")
        .withColumn("created_at", col("c").cast("timestamp")).drop("c")

    Sinks.upsertByKeyVersioned(spark, root,
      stg(Seq((1L, "OPEN", "2024-05-30 10:00:00"))), "id", t0, "last_status", "DONE")
    // writer A merges {2}; in A's pre-publish window writer B lands {3}.
    // Pre-OCC, A's merge (computed against v1 = {1}) published anyway and
    // silently DROPPED B's row. Now the in-claim re-validation must see
    // B's publish, abort, and re-merge against B's snapshot.
    var interleaved = false
    Sinks.upsertByKeyVersioned(spark, root,
      stg(Seq((2L, "OPEN", "2024-05-30 11:00:00"))), "id", t0, "last_status", "DONE",
      preCommit = _ =>
        if (!interleaved) {
          interleaved = true
          Sinks.upsertByKeyVersioned(spark, root,
            stg(Seq((3L, "OPEN", "2024-05-30 12:00:00"))),
            "id", t0, "last_status", "DONE")
          ()
        })
    assert(interleaved)
    val ids = VersionedTable.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L), s"lost update: final snapshot has $ids")
    // A claimed dir 2 then aborted; B (inside A's claim window) claimed
    // dir 3 and published it as VERSION 2 (winner-takes-N numbering is
    // dense); A's retry claimed dir 4 and published version 3. Burned
    // claims cost dir names, never version numbers.
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
  }

  test("a COW upsert's full-rewrite fallback is a body of the one retry " +
    "loop: persistent conflict surfaces after 20 attempts, not 20 × 20") {
    val root = Files.createTempDirectory("graft_sink_budget").resolve("t").toString
    val t0 = lit("2024-06-01 00:00:00").cast("timestamp")
    val staging = Seq((1L, "OPEN", "2024-05-30 10:00:00"))
      .toDF("id", "last_status", "c")
      .withColumn("created_at", col("c").cast("timestamp")).drop("c")
    // an absent root takes the full-rewrite fallback; every claim
    // conflicts. A nested loop would retry past the bound — call 26
    // stops it at once instead of sleeping through its backoffs.
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[Sinks.ConcurrentWriteException] {
      Sinks.upsertByKeyVersionedCow(spark, root, staging, "id", t0,
        "last_status", "DONE", preCommit = _ => {
          if (calls.incrementAndGet() == 26)
            throw new IllegalStateException("retried past the 20-attempt bound")
          throw new Sinks.ConcurrentWriteException(root, None, None)
        })
    }
    assert(calls.get == 20)
    assert(VersionedTable.currentVersion(spark, root).isEmpty)
  }
}
