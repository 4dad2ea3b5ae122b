package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.GraftSql

/** Every commit road writes the ONE on-disk vintage the reader serves: a
  * two-line commit marker (data dir, in-commit timestamp), a grouped
  * `_meta/commit.properties` record with a schema section, and a
  * protocol record naming `grouped-meta`. Each road below publishes at
  * least one version, and every version is checked from the raw files —
  * not through the reader, which refuses anything else. A new road that
  * forgets the current form fails here. */
class CurrentVintageSpec extends SparkSpec {
  import spark.implicits._

  private val tmp = java.nio.file.Files.createTempDirectory("graft_vintage").toString
  private def at(name: String) = s"$tmp/$name"
  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def text(root: String, p: Path): String = {
    val in = hfs(root).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def props(root: String, p: Path): Map[String, String] = {
    val ps = new java.util.Properties()
    val in = hfs(root).open(p)
    try ps.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    ps.asScala.toMap
  }

  /** Every version of `root` is in the current vintage. */
  private def assertCurrent(road: String, root: String): Unit =
    VersionedTable.versions(spark, root).foreach { v =>
      val lines = text(root, new Path(root, f"_commits/$v%08d"))
        .split('\n').map(_.trim).filter(_.nonEmpty).toSeq
      assert(lines.size == 2 && lines(1).toLongOption.isDefined,
        s"$road: v$v's marker is not two lines: $lines")
      val dir = new Path(root, lines.head)
      assert(props(root, new Path(dir, "_meta/commit.properties")).contains("schema"),
        s"$road: v$v's grouped _meta record has no schema section")
      val reader = props(root, new Path(dir, "_protocol/features.properties"))
        .getOrElse("reader", "")
      assert(reader.split(',').contains("grouped-meta"),
        s"$road: v$v's protocol record does not name grouped-meta: $reader")
    }

  /** Run `op`, require it to publish at least one version of `root`,
    * then check every version of `root`. */
  private def road(name: String, root: String)(op: => Any): Unit = {
    val before = VersionedTable.currentVersion(spark, root).getOrElse(0L)
    op
    assert(VersionedTable.currentVersion(spark, root).exists(_ > before),
      s"$name published no version")
    assertCurrent(name, root)
  }

  private def seed(root: String): Unit =
    VersionedTable.commit((1L to 40L).map(i => (i, s"r$i", i * 10))
      .toDF("id", "x", "amount").repartitionByRange(2, col("id")), root)

  test("plain, append and COW commits write the current vintage") {
    val root = at("plain")
    road("commit", root)(seed(root))
    road("commitAppend", root)(VersionedTable.commitAppend(
      Seq((41L, "a", 1L)).toDF("id", "x", "amount"), root, changeFeed = true))
    road("commitCow", root)(VersionedTable.commitCow(Seq((42L, "b", 2L))
      .toDF("id", "x", "amount"), root,
      keptFiles = VersionedTable.dataFileRefs(spark, root, 2L)))
  }

  test("DV DELETE/UPDATE, MERGE, INSERT OVERWRITE and COPY INTO write the current vintage") {
    val root = at("dml")
    seed(root)
    VersionedTable.setProperties(spark, root, Map("graft.enableDeletionVectors" -> "true"))
    road("DV DELETE", root)(GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id = 3"))
    road("DV UPDATE", root)(GraftSql.execute(spark,
      s"UPDATE `$root` SET x = 'u' WHERE id = 4"))
    assert(VersionedTable.protocolOf(spark, root,
      VersionedTable.currentVersion(spark, root).get)._1.contains("deletion-vectors"))
    Seq((5L, "m", 50L), (99L, "n", 990L)).toDF("id", "x", "amount")
      .createOrReplaceTempView("vintage_merge_src")
    road("MERGE", root)(GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING vintage_merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET x = s.x, amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
         |""".stripMargin).collect())
    road("INSERT OVERWRITE", root)(GraftSql.execute(spark,
      s"INSERT OVERWRITE `$root` SELECT id, x, amount FROM graft_table('$root') WHERE id <= 20")
      .collect())
    val landing = at("landing")
    Seq((100L, "c", 1L)).toDF("id", "x", "amount").write.parquet(s"$landing/f1")
    road("COPY INTO", root)(GraftSql.execute(spark,
      s"COPY INTO '$root' FROM '$landing/f1' FILEFORMAT = PARQUET").collect())
  }

  test("OPTIMIZE, ZORDER and a partition drop write the current vintage") {
    val root = at("maint")
    seed(root)
    VersionedTable.commitAppend(Seq((41L, "a", 1L)).toDF("id", "x", "amount"), root)
    road("OPTIMIZE", root)(GraftSql.execute(spark, s"OPTIMIZE '$root'").collect())
    road("ZORDER", root)(GraftSql.execute(spark,
      s"OPTIMIZE '$root' ZORDER BY (id, amount)").collect())
    val parted = at("parted")
    VersionedTable.commit((1L to 30L).map(i => (i, s"d${i % 3}")).toDF("id", "d"),
      parted, partitionBy = Seq("d"))
    road("partition drop", parted)(
      VersionedTable.deleteWhere(spark, parted, col("d") === "d1"))
    assert(VersionedTable.commitInfoOf(spark, parted, 2L).get("operation").contains("delete"))
  }

  test("shallow and deep clones, RESTORE and CONVERT write the current vintage") {
    val src = at("clone_src")
    seed(src)
    VersionedTable.commitAppend(Seq((41L, "a", 1L)).toDF("id", "x", "amount"), src)
    val shallow = at("shallow")
    road("shallow clone", shallow)(GraftSql.execute(spark,
      s"CREATE TABLE '$shallow' SHALLOW CLONE '$src'").collect())
    val deep = at("deep")
    road("deep clone", deep)(GraftSql.execute(spark,
      s"CREATE TABLE '$deep' DEEP CLONE '$src' VERSION AS OF 1").collect())
    road("RESTORE", src)(GraftSql.execute(spark,
      s"RESTORE TABLE '$src' TO VERSION AS OF 1").collect())
    val plain = at("convert")
    (1L to 10L).toDF("id").coalesce(1).write.parquet(plain)
    road("CONVERT", plain)(GraftSql.execute(spark, s"CONVERT TO GRAFT '$plain'").collect())
  }

  test("the metadata-only verbs write the current vintage") {
    val root = at("meta")
    VersionedTable.commit(Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "x", "n"), root)
    road("set properties", root)(
      VersionedTable.setProperties(spark, root, Map("owner" -> "t")))
    road("unset properties", root)(
      VersionedTable.unsetProperties(spark, root, Seq("owner")))
    road("add constraint", root)(
      VersionedTable.addConstraint(spark, root, "pos", "id > 0"))
    road("drop constraint", root)(VersionedTable.dropConstraint(spark, root, "pos"))
    road("add columns", root)(VersionedTable.addColumns(spark, root,
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField(
        "extra", org.apache.spark.sql.types.StringType)))))
    road("rename column", root)(VersionedTable.renameColumn(spark, root, "extra", "extra2"))
    road("drop column", root)(VersionedTable.dropColumn(spark, root, "extra2"))
    road("widen column", root)(VersionedTable.widenColumn(spark, root, "n",
      org.apache.spark.sql.types.LongType))
  }

  test("a vacuum that materializes a delta-form manifest keeps the current vintage") {
    val root = at("vacuum")
    spark.conf.set(VersionedTable.DeltaFloorKey, "0")
    spark.conf.set(VersionedTable.DeltaFoldIntervalKey, "10")
    try {
      seed(root)
      (41L to 44L).foreach(i => VersionedTable.deleteWhere(spark, root, col("id") === i - 40))
      val retained = VersionedTable.snapshotAt(spark, root, 4L).dirName
      assert(hfs(root).exists(new Path(root, s"$retained/_manifest/delta.txt")))
      VersionedTable.vacuum(spark, root, keepLast = 2)
      assert(!hfs(root).exists(new Path(root, s"$retained/_manifest/delta.txt")),
        "vacuum did not materialize the oldest retained version")
      assertCurrent("vacuum materialization", root)
      assert(VersionedTable.read(spark, root).count() == 36L)
    } finally {
      spark.conf.unset(VersionedTable.DeltaFloorKey)
      spark.conf.unset(VersionedTable.DeltaFoldIntervalKey)
    }
  }

  test("a streaming-upsert micro-batch and a view refresh write the current vintage") {
    val root = at("upsert")
    val runTs = lit("2024-02-01 00:00:00").cast("timestamp")
    def ev(id: Long, t: String, typ: String) =
      (id, java.sql.Timestamp.valueOf(t), id, typ, 1.0, "{}")
    val batch = Seq(ev(1, "2024-01-01 00:00:00", "view"), ev(2, "2024-01-02 00:00:00", "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    road("streaming upsert", root)(graft.streaming.UpsertStream.upsertBatch(
      spark, root, batch, 0L, "app", runTs, "purchase"))
    road("streaming upsert", root)(graft.streaming.UpsertStream.upsertBatch(
      spark, root, batch, 1L, "app", runTs, "purchase"))
    val src = at("mv_src"); val mv = at("mv")
    val df = Seq((1L, "a", 10L), (2L, "b", 5L)).toDF("id", "grp", "v")
    VersionedTable.commit(df, src, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
    road("materialized view create", mv)(GraftSql.execute(spark,
      s"CREATE MATERIALIZED VIEW '$mv' AS SELECT grp, count(*) AS n_rows, " +
        s"sum(v) AS value_sum FROM '$src' GROUP BY grp").collect())
    VersionedTable.commitAppend(Seq((3L, "a", 7L)).toDF("id", "grp", "v"), src,
      changeFeed = true)
    road("materialized view refresh", mv)(
      GraftSql.execute(spark, s"REFRESH MATERIALIZED VIEW '$mv'").collect())
  }
}
