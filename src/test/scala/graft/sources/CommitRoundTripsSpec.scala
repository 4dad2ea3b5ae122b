package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Metadata ROUND TRIPS per commit, measured ([[CountingFileSystem]]):
  * the object-store cost axis the local-fs bench hides. Each counted op
  * is one HTTPS round trip on an S3-class store, so the numbers here ×
  * per-request latency bound a micro-batch commit's wall time at
  * 100 TB. The ceilings pin the cost CLASS against regression — a
  * change that doubles ops-per-commit fails here long before any bench
  * could see it through local-fs noise; the measured split lands in
  * SCALING.md. */
class CommitRoundTripsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    "cnt://" + java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.cnt.impl", classOf[CountingFileSystem].getName)
  }

  test("a feed-carrying append commit's metadata ops are bounded and " +
    "attributed (the object-store round-trip budget)") {
    val root = freshRoot("graft_rt")
    val seed = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "grp", "v")
    VersionedTable.commit(seed, root, extras = Map("changes" ->
      seed.withColumn("_change_type", lit("insert"))))
    // the steady-state motion: ONE micro-batch append with its feed
    CountingFileSystem.reset()
    VersionedTable.commitAppend(
      Seq((3L, "a", 30L)).toDF("id", "grp", "v"), root, changeFeed = true)
    val ops = CountingFileSystem.snapshot()
    val total = CountingFileSystem.total()
    info(s"append+feed commit round trips: total=$total " +
      ops.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" "))
    // `stat` is the chatty one (existence probes, committer bookkeeping,
    // Spark's own output validation); the WRITE-SIDE ops that an object
    // store bills as PUT-class are create+rename+mkdirs+delete — pin
    // both classes. Ceilings are ~2x the measured values at pin time:
    // loose enough for Spark-internal drift, tight enough that an
    // accidental O(files)/O(versions) loop (the regression class this
    // guards) blows straight through.
    // measured at pin time (r18): total=88 (stat 23, list 23,
    // create 15, open 15, rename 7, delete 5) — PUT-class 27. After
    // the r19 group-commit of the five metadata records into
    // _meta/commit.properties AND dropping _SUCCESS markers: total=83
    // (stat 24, list 23, create 12, open 12, rename 7, delete 5) —
    // PUT-class 24 on THIS path (a plain append records no
    // constraints/mapping/properties; paths that stamp table
    // properties every commit — MV refreshes — save two more creates
    // and their matching reads). Counting is
    // TOP-LEVEL calls only (RawLocal's nested internal stats don't
    // exist on an object store — the store bills one round trip per
    // API call).
    val putClass = Seq("create", "rename", "mkdirs", "delete")
      .map(k => ops.getOrElse(k, 0L)).sum
    assert(putClass <= 60L,
      s"PUT-class ops per append commit grew to $putClass — " +
        "a new per-commit write loop?")
    assert(total <= 180L,
      s"total metadata ops per append commit grew to $total")
  }

  test("a READ of the committed table costs O(snapshot), not O(versions): " +
    "version resolution rides the checkpoint, not a log scan") {
    val root = freshRoot("graft_rtread")
    val seed = Seq((1L, "a", 10L)).toDF("id", "grp", "v")
    VersionedTable.commit(seed, root)
    for (i <- 2 to 6)
      VersionedTable.commitAppend(
        Seq((i.toLong, "a", 10L * i)).toDF("id", "grp", "v"), root)
    CountingFileSystem.reset()
    VersionedTable.read(spark, root).agg(sum(col("v"))).collect()
    val t6 = CountingFileSystem.total()
    for (i <- 7 to 11)
      VersionedTable.commitAppend(
        Seq((i.toLong, "a", 10L * i)).toDF("id", "grp", "v"), root)
    CountingFileSystem.reset()
    VersionedTable.read(spark, root).agg(sum(col("v"))).collect()
    val t11 = CountingFileSystem.total()
    info(s"read round trips at 6 versions: $t6, at 11 versions: $t11")
    // the manifest folds delta chains, so the read may touch the chain —
    // but five more versions must not cost five more versions' worth of
    // metadata (the delta fold interval bounds the chain walk)
    assert(t11 <= t6 * 2,
      s"read cost grew superlinearly with history: $t6 -> $t11")
  }
}
