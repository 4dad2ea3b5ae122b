package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

/** graft reads its own sidecars under a known schema: a commit records
  * each staged extra's schema in the version's grouped `_meta` object
  * and [[VersionedTable.readExtra]] applies it, and deletion-vector
  * sidecars read under their fixed (file, pos) schema. Building a feed
  * or masked-table frame therefore launches no Spark job (schema
  * inference is one job per read), while the frames stay what they
  * were: feeds union by name across schema changes, and versions
  * written before the record existed read through inference. */
class SidecarSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_sidecar").toString + "/t"

  private def seedWithFeed(root: String): Unit = {
    val df = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "grp", "amount")
    VersionedTable.commit(df, root, extras = Map("changes" ->
      VersionedTable.feedWritable(df.withColumn("_change_type", lit("insert")))))
  }

  private def feedRows(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select((cols :+ "_change_type" :+ "_commit_version").map(col): _*)
      .collect().map(_.toSeq.map(Option(_).map(_.toString).orNull)).toSeq
      .sortBy(_.mkString("|"))

  test("readChanges frames build with zero Spark jobs and still union by " +
    "name across a column add (sidecar, virtual none and insertAll)") {
    val root = freshRoot()
    seedWithFeed(root) // v1: sidecar
    VersionedTable.deleteWhere(spark, root, col("id") === 1L) // v2: sidecar
    VersionedTable.addColumns(spark, root,
      StructType(Seq(StructField("extra", LongType)))) // v3: virtual none
    VersionedTable.updateWhere(spark, root, col("id") === 2L,
      Map("extra" -> lit(7L))) // v4: sidecar with the added column
    val v5 = VersionedTable.commitAppend(
      Seq((4L, "d", 40L, 9L)).toDF("id", "grp", "amount", "extra"), root,
      changeFeed = true) // virtual insertAll
    val (feed, jobs) = jobsDuring(VersionedTable.readChanges(spark, root, 1L, v5))
    assert(jobs == 0, s"building the feed frame launched $jobs Spark jobs")
    assert(feed.columns.toSet ==
      Set("id", "grp", "amount", "extra", "_change_type", "_commit_version"))
    assert(feedRows(feed, "id", "amount", "extra") == Seq(
      Seq("1", "10", null, "delete", "2"),
      Seq("1", "10", null, "insert", "1"),
      Seq("2", "20", "7", "update_postimage", "4"),
      Seq("2", "20", null, "update_preimage", "4"),
      Seq("2", "20", null, "insert", "1"),
      Seq("3", "30", null, "insert", "1"),
      Seq("4", "40", "9", "insert", v5.toString)).sortBy(_.mkString("|")))
  }

  test("a column-mapped table's feeds read under the recorded schemas " +
    "with zero jobs, each version under its own names") {
    val root = freshRoot()
    seedWithFeed(root) // v1
    val vr = VersionedTable.renameColumn(spark, root, "amount", "revenue")
    val vd = VersionedTable.deleteWhere(spark, root, col("id") === 3L)
    val (feed, jobs) = jobsDuring(VersionedTable.readChanges(spark, root, 1L, vd))
    assert(jobs == 0, s"building the feed frame launched $jobs Spark jobs")
    // pre-rename images carry `amount`, post-rename images `revenue`
    assert(feedRows(feed, "id", "amount", "revenue") == Seq(
      Seq("1", "10", null, "insert", "1"),
      Seq("2", "20", null, "insert", "1"),
      Seq("3", "30", null, "insert", "1"),
      Seq("3", null, "30", "delete", vd.toString)).sortBy(_.mkString("|")))
    assert(vr < vd)
  }

  test("deletion-vector table frames build with zero jobs, on the full " +
    "mask and along a delta chain") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 300L).map(i => (i, s"r$i")).toDF("id", "x")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"), root)
    spark.conf.set(VersionedTable.DeltaFloorKey, "0")
    spark.conf.set(VersionedTable.DeltaFoldIntervalKey, "10")
    try {
      val v2 = VersionedTable.deleteWhere(spark, root, col("id") % 50 === 1,
        mor = true) // full `_dv`
      val v3 = VersionedTable.deleteWhere(spark, root, col("id") % 50 === 2,
        mor = true) // `_dvdelta` level chained onto v2
      for ((v, gone) <- Seq((v2, Set(1L)), (v3, Set(1L, 2L)))) {
        assert(VersionedTable.hasDeletionVectors(spark, root, v))
        val (frame, jobs) =
          jobsDuring(VersionedTable.readVersion(spark, root, v))
        assert(jobs == 0, s"building v$v's masked frame launched $jobs jobs")
        val (mask, maskJobs) = jobsDuring(VersionedTable.dvOf(spark, root, v).get)
        assert(maskJobs == 0, s"building v$v's mask frame launched $maskJobs jobs")
        assert(mask.count() == 6L * gone.size)
        assert(frame.select("id").as[Long].collect().toSet ==
          (1L to 300L).filterNot(i => gone.contains(i % 50)).toSet)
      }
    } finally {
      spark.conf.unset(VersionedTable.DeltaFloorKey)
      spark.conf.unset(VersionedTable.DeltaFoldIntervalKey)
    }
  }

  test("a version written before the extra-schema record reads its feed " +
    "through schema inference") {
    val src = freshRoot()
    seedWithFeed(src)
    val v2 = VersionedTable.deleteWhere(spark, src, col("id") === 2L)
    // the same table with every version's extra-schema record removed —
    // the shape of a table committed by an earlier build
    val legacy = freshRoot()
    val f = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(f, new org.apache.hadoop.fs.Path(src),
      f, new org.apache.hadoop.fs.Path(legacy), false,
      spark.sparkContext.hadoopConfiguration)
    var stripped = 0
    for (v <- 1L to v2) {
      val meta = new org.apache.hadoop.fs.Path(
        f"$legacy/v$v%08d/_meta/commit.properties")
      val props = new java.util.Properties()
      val in = f.open(meta)
      try props.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      props.stringPropertyNames().asScala.filter(_.startsWith("x.")).foreach { k =>
        props.remove(k); stripped += 1 }
      val out = f.create(meta, true)
      try props.store(out, null) finally out.close()
    }
    assert(stripped == 2, "both feed-carrying versions record their schema")
    val (feed, jobs) = jobsDuring(VersionedTable.readChanges(spark, legacy, 1L, v2))
    assert(jobs > 0, "without the record the sidecar read infers its schema")
    assert(feedRows(feed, "id", "grp", "amount") ==
      feedRows(VersionedTable.readChanges(spark, src, 1L, v2),
        "id", "grp", "amount"))
  }
}
