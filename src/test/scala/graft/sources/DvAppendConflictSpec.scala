package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** A dv-carrying [[VersionedTable.commitAppend]] (an append that also
  * masks rows of EXISTING files — the "ingest + retroactive delete in
  * one commit" shape) is NOT a blind append: its masks key (file, pos)
  * coordinates that only mean anything while those files are in the
  * manifest. Two guarantees under concurrency:
  *
  *  - vs a concurrent BLIND APPEND: composes (append-tolerant rebase) —
  *    both batches land AND the masks still resolve.
  *  - vs a concurrent REWRITE of a masked file (COW delete/update,
  *    compaction): positions don't survive a rewrite, so the commit must
  *    FAIL LOUDLY telling the caller to recompute — never publish masks
  *    nothing resolves (which would silently resurrect the deletions).
  *
  * Also covers the deleteWhere `preCommit` contract: the caller's
  * in-claim gate runs on ALL THREE roads — COW rewrite, MOR mask, and
  * the metadata-only partition drop. */
class DvAppendConflictSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_dvapp").toString + "/t"

  private def ids(root: String): Set[Long] =
    VersionedTable.read(spark, root).select("id").collect().map(_.getLong(0)).toSet

  /** (file, pos) mask rows for the visible rows matching `pred` at the
    * current version — what a dv-carrying caller computes. */
  private def maskFor(root: String, pred: org.apache.spark.sql.Column) = {
    val v = VersionedTable.latest(spark, root).get
    VersionedTable.scan(spark, v, Some(VersionedTable.dataFileRefs(spark, v)),
        tagFile = true, tagPos = true)
      .where(pred)
      .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
  }

  test("dv-carrying append composes with a concurrent blind append") {
    val root = freshRoot()
    VersionedTable.commit(
      spark.range(1, 101).toDF("id").withColumn("x", concat(lit("r"), $"id"))
        .repartitionByRange(4, $"id"), root)
    val mask = maskFor(root, $"id" <= 10)
    var interleaved = false
    VersionedTable.commitAppend(
      Seq((200L, "new")).toDF("id", "x"), root,
      extras = Map("dv" -> mask),
      preCommit = _ =>
        if (!interleaved) {
          interleaved = true
          VersionedTable.commitAppend(Seq((300L, "late")).toDF("id", "x"), root)
          ()
        })
    assert(interleaved)
    // the blind append's files are untouched by the masks, so both the
    // masks and BOTH batches land
    assert(ids(root) == (11L to 100L).toSet + 200L + 300L,
      s"masked rows resurfaced or a batch was lost: ${ids(root)}")
    // the dv commit must not be stamped blind (it mutates visible rows)
    val v = VersionedTable.currentVersion(spark, root).get
    assert(!VersionedTable.commitInfoOf(spark, root, v)
      .get("blindAppend").contains("true"))
  }

  test("dv-carrying append vs rewrite of a masked file: loud failure, no silent resurrection") {
    val root = freshRoot()
    VersionedTable.commit(
      spark.range(1, 101).toDF("id").withColumn("x", concat(lit("r"), $"id"))
        .repartitionByRange(4, $"id"), root)
    val mask = maskFor(root, $"id" <= 10)
    var interleaved = false
    val e = intercept[java.io.IOException] {
      VersionedTable.commitAppend(
        Seq((200L, "new")).toDF("id", "x"), root,
        extras = Map("dv" -> mask),
        preCommit = _ =>
          if (!interleaved) {
            interleaved = true
            // COW-rewrites the file holding id=5 — the same file the dv
            // extra masks; its positions are now meaningless
            VersionedTable.deleteWhere(spark, root, $"id" === 5L, mor = false)
            ()
          })
    }
    assert(interleaved)
    assert(e.getMessage.contains("recompute the masks"), e.getMessage)
    // table state is exactly the winner's — the failed commit published
    // nothing, masked rows are still visible (the caller retries with
    // fresh masks), and nothing dangles
    assert(ids(root) == (1L to 100L).toSet - 5L, s"state corrupted: ${ids(root)}")
  }

  test("deleteWhere preCommit runs on the partition-drop road too") {
    val root = freshRoot()
    val df = (1 to 300).map { i =>
      (i.toLong, s"2024-01-0${(i - 1) % 3 + 1}", s"r$i")
    }.toDF("id", "ds", "x").withColumn("d", col("ds").cast("date")).drop("ds")
    VersionedTable.commit(df, root, partitionBy = Seq("d"))
    var gateRan = 0
    VersionedTable.deleteWhere(spark, root,
      col("d") < lit("2024-01-02").cast("date"),
      preCommit = _ => gateRan += 1)
    assert(gateRan > 0, "partition-drop road skipped the caller's preCommit gate")
    assert(VersionedTable.read(spark, root).count() == 200)
    // and the gate can veto: a throwing preCommit aborts the drop
    var vetoed = false
    intercept[RuntimeException] {
      VersionedTable.deleteWhere(spark, root,
        col("d") < lit("2024-01-03").cast("date"),
        preCommit = _ => { vetoed = true; throw new RuntimeException("veto") })
    }
    assert(vetoed)
    assert(VersionedTable.read(spark, root).count() == 200,
      "a vetoed partition drop still published")
  }
}
