package graft.sources

import graft.SparkSpec
import graft.plans.GraftSql
import org.apache.spark.sql.functions._

/** A feed-carrying commit writes its data, its `_changes` feed and its
  * `_dv` mask in ONE staged-write execution: a copy-on-write MERGE, a
  * merge-on-read MERGE, a DV UPDATE and the commits of a join view's
  * REFRESH each run exactly one Spark write into their staging dir and
  * record no `extra_write:changes`/`extra_write:dv` phase. A staged
  * write that fails leaves no staging dir and no running job behind. */
class OneWritePerCommitSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** (id, cust, amount) for ids 1..40, as 4 key-clustered files. */
  private def seed(root: String): Unit =
    VersionedTable.commit(
      (1L to 40L).map(i => (i, i % 4, i * 10)).toDF("id", "cust", "amount")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, extras = Map("changes" -> (1L to 40L).map(i => (i, i % 4, i * 10))
        .toDF("id", "cust", "amount").withColumn("_change_type", lit("insert"))))

  private def enableDv(root: String): Unit =
    GraftSql.execute(spark,
      s"ALTER TABLE '$root' SET TBLPROPERTIES ('graft.enableDeletionVectors'='true')")

  /** Run `body`; return (the Spark writes into a `_staging` dir, the
    * commits, the commit phases' hit counts). */
  private def stagedWrites(body: => Unit): (Int, Long, Map[String, Long]) = {
    CommitProfiler.reset()
    CommitProfiler.enable()
    try {
      val (_, writes) = stagedWriteTargets(body)
      CommitProfiler.disable()
      val phases = CommitProfiler.snapshot().map { case (k, _, n) => k -> n }.toMap
      (writes.size, phases.getOrElse("commit_total", 0L), phases)
    } finally CommitProfiler.disable()
  }

  private def assertOneWritePerCommit(what: String, r: (Int, Long, Map[String, Long])): Unit = {
    val (writes, commits, phases) = r
    assert(commits >= 1, s"$what committed nothing")
    assert(writes == commits,
      s"$what ran $writes staged-write executions for $commits commit(s)")
    assert(!phases.contains("extra_write:changes") && !phases.contains("extra_write:dv"),
      s"$what recorded a separate feed or mask write: $phases")
  }

  private def mergeSource(view: String): Unit =
    Seq((5L, 1L, -1L), (7L, 3L, 700L), (22L, 2L, 2200L), (99L, 3L, 990L))
      .toDF("id", "cust", "amount").createOrReplaceTempView(view)

  private def mergeSql(root: String, view: String) =
    s"""MERGE INTO `$root` AS t USING $view AS s ON t.id = s.id
       |WHEN MATCHED AND s.amount < 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET amount = s.amount
       |WHEN NOT MATCHED THEN INSERT *
       |""".stripMargin

  test("a copy-on-write MERGE on a 4-file table runs one staged write") {
    val root = freshDir("graft_onew") + "/t"
    seed(root)
    mergeSource("onew_cow_src")
    val r = stagedWrites(GraftSql.execute(spark, mergeSql(root, "onew_cow_src")))
    assertOneWritePerCommit("COW MERGE", r)
    assert(r._2 == 1L)
  }

  test("a merge-on-read MERGE runs one staged write") {
    val root = freshDir("graft_onew") + "/t"
    seed(root); enableDv(root)
    mergeSource("onew_mor_src")
    val r = stagedWrites(GraftSql.execute(spark, mergeSql(root, "onew_mor_src")))
    assertOneWritePerCommit("MOR MERGE", r)
    assert(VersionedTable.hasDeletionVectors(spark, root,
      VersionedTable.currentVersion(spark, root).get))
  }

  test("a DV UPDATE runs one staged write") {
    val root = freshDir("graft_onew") + "/t"
    seed(root); enableDv(root)
    val r = stagedWrites(GraftSql.execute(spark,
      s"UPDATE `$root` SET amount = amount + 1 WHERE id % 5 = 0"))
    assertOneWritePerCommit("DV UPDATE", r)
  }

  test("REFRESH of a fact ⋈ dim view runs one staged write per commit") {
    val fact = freshDir("graft_onew_f") + "/t"
    val dim = freshDir("graft_onew_d") + "/t"
    val mv = freshDir("graft_onew_mv") + "/t"
    seed(fact)
    val dimRows = (0L to 3L).map(c => (c, if (c % 2 == 0) "even" else "odd"))
    VersionedTable.commit(dimRows.toDF("cust", "seg"), dim, extras = Map("changes" ->
      dimRows.toDF("cust", "seg").withColumn("_change_type", lit("insert"))))
    enableDv(dim)
    GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$mv' AS
         |SELECT d.seg, count(*) AS n_rows, sum(f.amount) AS value_sum
         |FROM '$fact' f JOIN '$dim' d ON f.cust = d.cust
         |GROUP BY d.seg""".stripMargin)
    mergeSource("onew_mv_src")
    GraftSql.execute(spark, mergeSql(fact, "onew_mv_src"))
    GraftSql.execute(spark, s"UPDATE `$dim` SET seg = 'odd' WHERE cust = 2")
    val r = stagedWrites(GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'"))
    assertOneWritePerCommit("REFRESH", r)
    val got = VersionedTable.read(spark, mv)
      .select(col("seg"), col("n_rows"), col("value_sum").cast("long"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    val f = VersionedTable.read(spark, fact)
    val d = VersionedTable.read(spark, dim).withColumnRenamed("cust", "dcust")
    val want = f.join(d, f("cust") === d("dcust"))
      .groupBy("seg").agg(count(lit(1)).as("n_rows"), sum("amount").cast("long"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(got == want)
  }

  test("a MERGE whose UPDATE raises for one row leaves no staging dir and " +
      "no running job, and the next commit succeeds") {
    val root = freshDir("graft_onew") + "/t"
    seed(root)
    val v0 = VersionedTable.currentVersion(spark, root).get
    Seq((7L, 3L, 700L), (22L, 2L, 2200L), (99L, 3L, 990L))
      .toDF("id", "cust", "amount").createOrReplaceTempView("onew_fail_src")
    val e = intercept[Exception] {
      GraftSql.execute(spark,
        s"""MERGE INTO `$root` AS t USING onew_fail_src AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET amount =
           |  CASE WHEN s.id = 22 THEN raise_error('boom 22') ELSE s.amount END
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom 22")), e.toString)
    val staging = new org.apache.hadoop.fs.Path(root, "_staging")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = if (fs.exists(staging)) fs.listStatus(staging).map(_.getPath.getName).toSeq
      else Nil
    assert(left.isEmpty, s"staging entries left behind: $left")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(VersionedTable.currentVersion(spark, root).contains(v0))
    mergeSource("onew_after_src")
    val v = GraftSql.execute(spark, mergeSql(root, "onew_after_src"))
      .collect().head.getLong(2)
    assert(v > v0)
    assert(VersionedTable.read(spark, root).where(col("id") === 22).head.getLong(2) == 2200L)
  }
}
