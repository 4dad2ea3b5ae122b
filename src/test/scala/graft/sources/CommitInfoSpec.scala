package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The commit-info operation stamp (Delta's commitInfo action): every
  * commit path records what produced the version, `DESCRIBE HISTORY`
  * surfaces it, and the blind-append flag is the contract AppendRebase
  * trusts (AppendRebaseSpec pins the concurrency side). */
class CommitInfoSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_cinfo").toString + "/t"

  private def opOf(root: String, v: Long): String =
    VersionedTable.commitInfoOf(spark, root, v).getOrElse("operation", "")

  test("each commit path stamps its operation and history surfaces it") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 20L).map(i => (i, s"r$i")).toDF("id", "x"), root)     // v1 write
    VersionedTable.commitAppend(Seq((21L, "a")).toDF("id", "x"), root) // v2
    VersionedTable.deleteWhere(spark, root, $"id" === 1L)          // v3 delete
    VersionedTable.updateWhere(spark, root, $"id" === 2L,
      Map("x" -> lit("upd")))                                      // v4 update
    VersionedTable.optimize(spark, root, Seq("id"))                // v5
    VersionedTable.setProperties(spark, root, Map("owner" -> "t")) // v6
    VersionedTable.restore(spark, root, 2L)                        // v7

    assert(opOf(root, 1L) == "write")
    assert(opOf(root, 2L) == "append")
    assert(VersionedTable.commitInfoOf(spark, root, 2L)
      .get("blindAppend").contains("true"))
    assert(opOf(root, 3L) == "delete")
    assert(opOf(root, 4L) == "update")
    assert(opOf(root, 5L) == "optimize")
    assert(opOf(root, 6L) == "set-properties")
    assert(opOf(root, 7L) == "restore")
    // DML and maintenance commits are NOT blind appends
    (3L to 7L).foreach(v =>
      assert(!VersionedTable.commitInfoOf(spark, root, v)
        .get("blindAppend").contains("true"), s"v$v must not stamp blind"))

    val h = VersionedTable.history(spark, root)
      .select("version", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h(1L) == "write" && h(2L) == "append" && h(3L) == "delete" &&
      h(5L) == "optimize" && h(7L) == "restore")
  }

  test("MOR DML and metadata verbs stamp their flavors") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 20L).map(i => (i, s"r$i")).toDF("id", "x"), root)
    VersionedTable.deleteWhere(spark, root, $"id" === 3L, mor = true) // v2
    assert(opOf(root, 2L) == "delete")
    assert(VersionedTable.commitInfoOf(spark, root, 2L)
      .get("mor").contains("true"))
    VersionedTable.addConstraint(spark, root, "pos_id", "id > 0")    // v3
    assert(opOf(root, 3L) == "add-constraint")
    VersionedTable.addColumns(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.StringType, nullable = true)))) // v4
    assert(opOf(root, 4L) == "evolve-schema")
    VersionedTable.renameColumn(spark, root, "extra", "extra2")      // v5
    assert(opOf(root, 5L) == "rename-column")
    VersionedTable.dropColumn(spark, root, "extra2")                 // v6
    assert(opOf(root, 6L) == "drop-column")
  }

  test("a pre-stamp vintage is refused, not read as an empty operation") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "x")).toDF("id", "x"), root)
    // an old-build commit: no grouped _meta record carrying the stamp
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(root, "v00000001/_meta"), true)
    val info = intercept[VersionedTable.ProtocolException] {
      VersionedTable.commitInfoOf(spark, root, 1L)
    }
    assert(info.version == 1L)
    val hist = intercept[VersionedTable.ProtocolException] {
      VersionedTable.history(spark, root).collect()
    }
    assert(hist.version == 1L)
  }

  test("history's change_feed column agrees with the feed readers on " +
    "sidecar, virtual and routed versions") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "x"), root) // v1: no feed
    VersionedTable.commitAppend(Seq((11L, "a")).toDF("id", "x"), root,
      changeFeed = true)                                    // v2: virtual insertAll
    VersionedTable.setProperties(spark, root, Map("owner" -> "t")) // v3: virtual none
    VersionedTable.deleteWhere(spark, root, $"id" === 1L)   // v4: flat sidecar
    // (routed versions are no longer written; ProtocolSpec pins that a
    // version an older build wrote with that layout is refused)
    val feedCol = VersionedTable.history(spark, root)
      .select("version", "change_feed").as[(Long, Boolean)].collect().toMap
    assert(feedCol == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
    (1L to 4L).foreach { v =>
      assert(feedCol(v) == VersionedTable.hasChangeFeed(spark, root, v), s"v$v")
    }
    // every version the column calls feed-carrying serves its feed
    assert(VersionedTable.readChanges(spark, root, 2L, 4L)
      .select("id", "_change_type").as[(Long, String)].collect().toSet ==
      Set((11L, "insert"), (1L, "delete")))
  }
}
