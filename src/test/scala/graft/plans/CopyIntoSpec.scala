package graft.plans

import graft.SparkSpec
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** COPY INTO — idempotent landing-zone ingestion: the loaded-file ledger
  * commits atomically with the rows, so each source file loads exactly
  * once across re-runs, crashes, interleaved DML, maintenance rewrites,
  * and clones. */
class CopyIntoSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_copy_$tag").toString

  private def seedTable(root: String): Unit =
    VersionedTable.commit(
      Seq((0L, "seed")).toDF("id", "src"), root)

  private def land(dir: String, ids: Range, tag: String): Unit =
    ids.map(i => (i.toLong, tag)).toDF("id", "src")
      .coalesce(1).write.mode("append").parquet(dir)

  test("loads landed files once; re-runs and later landings are incremental") {
    val root = freshDir("t") + "/t"; seedTable(root)
    val landing = freshDir("land")
    land(landing, 1 to 10, "batch1")
    val n1 = GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      .collect().head.getLong(2)
    assert(n1 == 1L, "one landed part file expected")
    assert(VersionedTable.read(spark, root).count() == 11)
    // idempotent re-run: nothing new, no commit
    val vBefore = VersionedTable.currentVersion(spark, root)
    assert(GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      .collect().head.getLong(2) == 0L)
    assert(VersionedTable.currentVersion(spark, root) == vBefore)
    // a second landing batch loads only its own files
    land(landing, 11 to 15, "batch2")
    assert(GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      .collect().head.getLong(2) == 1L)
    val got = VersionedTable.read(spark, root)
    assert(got.count() == 16)
    assert(got.select("id").distinct().count() == 16, "a file double-loaded")
  }

  test("ledger survives unrelated DML, maintenance rewrites, and clones") {
    val root = freshDir("t2") + "/t"; seedTable(root)
    val landing = freshDir("land2")
    land(landing, 1 to 5, "b1")
    GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
    // unrelated writes between copies: delete, update, full layout rewrite
    GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id = 2")
    GraftSql.execute(spark, s"UPDATE `$root` SET src = 'upd' WHERE id = 3")
    VersionedTable.compact(spark, root)
    assert(GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      .collect().head.getLong(2) == 0L,
      "ledger lost through DML/compaction — files re-loaded")
    // the clone inherits the ledger
    val dest = freshDir("t3") + "/t"
    GraftSql.execute(spark, s"CREATE TABLE '$dest' SHALLOW CLONE '$root'")
    assert(GraftSql.execute(spark,
      s"COPY INTO '$dest' FROM '$landing' FILEFORMAT = PARQUET")
      .collect().head.getLong(2) == 0L,
      "clone re-loaded files its source already ingested")
  }

  test("CSV under the table schema with FORMAT_OPTIONS; PATTERN filters") {
    val root = freshDir("t4") + "/t"; seedTable(root)
    val landing = freshDir("land4")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(landing, "a.csv"),
      "id,src\n100,csvrow\n101,csvrow\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(landing, "skip.txt"),
      "not,data\n".getBytes("UTF-8"))
    val n = GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = CSV " +
        "PATTERN = '*.csv' FORMAT_OPTIONS ('header'='true')")
      .collect().head.getLong(2)
    assert(n == 1L)
    val got = VersionedTable.read(spark, root).where(col("src") === "csvrow")
    assert(got.count() == 2 &&
      got.select(min(col("id"))).head.getLong(0) == 100L)
  }

  test("racing COPY threads never double-load a file") {
    val root = freshDir("t6") + "/t"; seedTable(root)
    val landing = freshDir("land6")
    (1 to 4).foreach(b => land(landing, b * 100 until b * 100 + 5, s"b$b"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val loaded = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = (1 to 3).map(i => new Thread(() => {
      try loaded.addAndGet(GraftSql.execute(spark,
        s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
        .collect().head.getLong(2))
      catch { case t: Throwable => errors.add(t) }
    }, s"copier-$i"))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"copier failed: ${errors.peek()}")
    // between them the three copiers loaded each file exactly once
    assert(loaded.get() == 4L, s"files loaded ${loaded.get()} times, not 4")
    val got = VersionedTable.read(spark, root)
    assert(got.count() == 21)
    assert(got.select("id").distinct().count() == 21, "a file double-loaded")
  }

  test("ledger is incremental: each COPY commits only its own files; " +
    "the fold collapses to a barrier at the threshold") {
    val root = freshDir("t7") + "/t"; seedTable(root)
    val landing = freshDir("land7")
    // depth counts every version the fold walk would visit (the seed
    // commit included): 4 ⇒ the third COPY (walk depth 3 + itself) folds
    spark.conf.set("spark.graft.copy.foldEvery", "4")
    try {
      land(landing, 100 until 105, "b1")
      GraftSql.execute(spark,
        s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      val v1 = VersionedTable.currentVersion(spark, root).get
      // delta shape: the commit's own extra holds ONE file, not the
      // cumulative history
      assert(VersionedTable.readExtra(spark, root, v1, "copyfiles")
        .get.count() == 1L, "first COPY's extra is not a 1-file delta")
      land(landing, 200 until 205, "b2")
      GraftSql.execute(spark,
        s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      val v2 = VersionedTable.currentVersion(spark, root).get
      assert(VersionedTable.readExtra(spark, root, v2, "copyfiles")
        .get.count() == 1L, "second COPY's extra grew beyond its delta")
      // third COPY crosses foldEvery=3 → the commit carries the folded
      // barrier instead of a delta
      land(landing, 300 until 305, "b3")
      GraftSql.execute(spark,
        s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      val v3 = VersionedTable.currentVersion(spark, root).get
      assert(VersionedTable.readExtra(spark, root, v3, "copyfiles").isEmpty)
      assert(VersionedTable.readExtra(spark, root, v3, "copyfull")
        .get.count() == 3L, "barrier does not hold the complete ledger")
      // folded or not, the behavior is unchanged: nothing re-loads
      assert(GraftSql.execute(spark,
        s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
        .collect().head.getLong(2) == 0L)
      assert(VersionedTable.read(spark, root).select("id")
        .distinct().count() == 16)
    } finally spark.conf.unset("spark.graft.copy.foldEvery")
  }

  test("vacuum folds the ledger before dropping delta-carrying versions") {
    val root = freshDir("t8") + "/t"; seedTable(root)
    val landing = freshDir("land8")
    land(landing, 1 to 5, "b1")
    GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
    // bury the COPY commit under unrelated writes, then vacuum past it
    (1 to 3).foreach(i => GraftSql.execute(spark,
      s"UPDATE `$root` SET src = 'u$i' WHERE id = 1"))
    VersionedTable.vacuum(spark, root, keepLast = 2)
    // the COPY commit is gone, but its load history survived the fold —
    // a re-run must not double-load
    assert(GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      .collect().head.getLong(2) == 0L,
      "vacuum destroyed the loaded-file ledger — files re-loaded")
    assert(VersionedTable.read(spark, root).select("id")
      .distinct().count() == 6)
  }

  test("a table recreated at the same root keeps its own ledger: a re-run " +
      "loads nothing twice") {
    val root = freshDir("t10") + "/t"
    val landing = freshDir("land10")
    land(landing, 1 to 5, "b1")
    def copy(): Long = GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET")
      .collect().head.getLong(2)
    // the OLD table: its COPY lands at v4, after two ledger-free appends
    seedTable(root)
    (1 to 2).foreach(i => VersionedTable.commitAppend(
      Seq((100L + i, "app")).toDF("id", "src"), root))
    assert(copy() == 1L)
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // the NEW table at the same root: its COPY lands at v2, a version
    // number the old table had without a ledger
    seedTable(root)
    assert(copy() == 1L)
    assert(copy() == 0L, "the re-run re-loaded a file the new table's ledger holds")
    assert(VersionedTable.read(spark, root).count() == 6)
  }

  test("a wildcard-free PATTERN naming a missing path reports 0 files") {
    val root = freshDir("t9") + "/t"; seedTable(root)
    val landing = freshDir("land9")
    assert(GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = PARQUET " +
        "PATTERN = 'no_such_subdir/file.parquet'")
      .collect().head.getLong(2) == 0L)
  }

  test("FORMAT_OPTIONS values may contain ')' ',' '=' and escaped quotes") {
    assert(GraftSql.parseOptionPairs(
      "'quote'='\"', 'sep'=')', 'regex'='a,b=c''d)'") ==
      Map("quote" -> "\"", "sep" -> ")", "regex" -> "a,b=c'd)"))
    val bad = intercept[IllegalArgumentException](
      GraftSql.parseOptionPairs("'k'='v' junk"))
    assert(bad.getMessage.contains("residue"))
    // end to end: a CSV with ')' as the delimiter round-trips
    val root = freshDir("t10") + "/t"; seedTable(root)
    val landing = freshDir("land10")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(landing, "w.csv"),
      "id)src\n500)weird\n".getBytes("UTF-8"))
    assert(GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = CSV " +
        "FORMAT_OPTIONS ('header'='true', 'sep'=')')")
      .collect().head.getLong(2) == 1L)
    assert(VersionedTable.read(spark, root)
      .where(col("src") === "weird").head.getLong(0) == 500L)
  }

  test("refuses a missing table and unknown formats") {
    val landing = freshDir("land5")
    val e1 = intercept[Exception](GraftSql.execute(spark,
      s"COPY INTO '${freshDir("nope")}/t' FROM '$landing' FILEFORMAT = PARQUET"))
    assert(e1.getMessage.contains("existing versioned table"))
    val root = freshDir("t5") + "/t"; seedTable(root)
    val e2 = intercept[Exception](GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing' FILEFORMAT = AVRO"))
    assert(e2.getMessage.contains("FILEFORMAT"))
  }
}
