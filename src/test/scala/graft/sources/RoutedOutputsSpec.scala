package graft.sources

import graft.SparkSpec
import graft.plans.GraftSql
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What a feed-carrying MERGE or DV UPDATE publishes — data rows, the
  * `_changes` feed, the `_dv` mask and the feed's recorded extra schema
  * (`x.changes` in the grouped `_meta` record) — checked against an
  * independent restatement of the statement's semantics, computed in
  * Scala from the rows and mask positions visible before it. Covers the
  * copy-on-write, full-rewrite and merge-on-read MERGE roads, a
  * partitioned target, a NOT MATCHED BY SOURCE delete, schema
  * evolution, the merge-on-read UPDATE and a MERGE whose every fate is a
  * no-op; the recorded sizes and stats of the files they write are
  * checked against the files themselves. */
class RoutedOutputsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_routed").toString + "/t"

  private type Rec = Seq[Any]

  /** (id, x, amount) for ids 1..40, as 4 key-clustered files. */
  private def seed(root: String, extra: DataFrame => DataFrame = identity,
      partitionBy: Seq[String] = Nil): Unit =
    VersionedTable.commit(
      extra((1L to 40L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, partitionBy = partitionBy)

  private def enableDv(root: String): Unit =
    GraftSql.execute(spark,
      s"ALTER TABLE '$root' SET TBLPROPERTIES ('graft.enableDeletionVectors'='true')")

  private def sorted(rs: Seq[Rec]): Seq[Rec] = rs.sortBy(_.mkString("|"))

  private def collectRows(df: DataFrame, cols: Seq[String]): Seq[Rec] =
    sorted(df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq)

  private def tableRows(root: String, cols: Seq[String]): Seq[Rec] =
    collectRows(VersionedTable.read(spark, root), cols)

  private def feedRows(root: String, v: Long, cols: Seq[String]): Seq[Rec] =
    collectRows(VersionedTable.readChanges(spark, root, v, v), "_change_type" +: cols)

  /** The version's own `_dv` rows as (file, pos). */
  private def maskRows(root: String, v: Long): Set[(String, Long)] =
    VersionedTable.readExtra(spark, root, v, "dv").toSeq
      .flatMap(_.select("file", "pos").as[(String, Long)].collect()).toSet

  /** (file, pos) of each visible row of version `v`, keyed by id. */
  private def positions(root: String, v: Long): Map[Long, (String, Long)] =
    VersionedTable.scan(spark, VersionedTable.snapshotAt(spark, root, v),
        tagFile = true, tagPos = true)
      .select(col("id"), col("__dv_file"), col("__dv_pos"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  /** The feed schema recorded with version `v` (`x.changes`). */
  private def feedSchemaRecord(root: String, v: Long): StructType = {
    val dir = VersionedTable.snapshotAt(spark, root, v).dir
    val p = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(dir, "_meta"),
      "commit.properties")
    val props = new java.util.Properties()
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try props.load(in) finally in.close()
    DataType.fromJson(props.getProperty("x.changes")).asInstanceOf[StructType]
  }

  /** A feed record restated: every table column as read (nullable, no
    * metadata), then `_change_type` — nullable on the MERGE road, whose
    * images are conditional, and non-null on the UPDATE road, where
    * every matched row emits both. */
  private def feedSchemaOf(table: StructType, typeNullable: Boolean = true): StructType =
    StructType(table.fields.map(f => StructField(f.name, f.dataType, nullable = true)) :+
      StructField("_change_type", StringType, nullable = typeNullable))

  /** Every data file version `v` wrote has its length as its recorded
    * size and its content's row count and `id` range as its recorded
    * stats (`sizes.tsv`, `stats.tsv`). */
  private def assertOwnFilesRecorded(root: String, v: Long): Unit = {
    val snap = VersionedTable.snapshotAt(spark, root, v)
    val own = VersionedTable.dataFileRefs(spark, snap).filter(_.startsWith(snap.dirName + "/"))
    assert(own.nonEmpty, s"v$v wrote no data file")
    val sizes = VersionedTable.fileSizes(spark, snap)
    val stats = VersionedTable.statsOf(spark, root, v)
    val fs = snap.dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    own.foreach { ref =>
      val path = new org.apache.hadoop.fs.Path(root, ref)
      assert(sizes(ref) == fs.getFileStatus(path).getLen, ref)
      val content = spark.read.parquet(path.toString)
        .agg(count(lit(1)), min("id").cast("string"), max("id").cast("string")).head
      stats.get(ref).flatMap(_.get("id")) match {
        case Some((_, lo, hi, _, rows)) =>
          assert(rows == content.getLong(0), ref)
          assert(lo == Option(content.getString(1)) && hi == Option(content.getString(2)), ref)
        case None => assert(content.getLong(0) == 0L, s"$ref has rows but no stats")
      }
    }
  }

  private def merge(sqlText: String): Long =
    GraftSql.execute(spark, sqlText).collect().head.getLong(2)

  private val cols3 = Seq("id", "x", "amount")
  private def base3: Map[Long, Rec] =
    (1L to 40L).map(i => i -> Seq(i, s"r$i", i * 10)).toMap

  /** The classic delete/update/insert merge source. */
  private def upsertSource(view: String): Unit =
    Seq((5L, "D", 0L), (7L, "u7", 700L), (22L, "u22", 2200L), (38L, "D", 0L),
        (99L, "n99", 990L), (100L, "n100", 1000L))
      .toDF("id", "x", "amount").createOrReplaceTempView(view)

  private def upsertSql(root: String, view: String) =
    s"""MERGE INTO `$root` AS t USING $view AS s ON t.id = s.id
       |WHEN MATCHED AND s.x = 'D' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET x = s.x, amount = s.amount
       |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
       |""".stripMargin

  /** Restated outcome of [[upsertSql]] over `before`: (data, feed, the
    * ids whose visible copy an action affected). */
  private def upsertExpect(before: Map[Long, Rec])
      : (Seq[Rec], Seq[Rec], Set[Long]) = {
    val src = Seq((5L, "D", 0L), (7L, "u7", 700L), (22L, "u22", 2200L),
      (38L, "D", 0L), (99L, "n99", 990L), (100L, "n100", 1000L))
    var data = before
    val feed = Seq.newBuilder[Rec]
    src.foreach { case (id, x, amount) =>
      before.get(id) match {
        case Some(old) if x == "D" =>
          data -= id; feed += "delete" +: old
        case Some(old) =>
          val post = Seq(id, x, amount)
          data += id -> post
          feed += "update_preimage" +: old; feed += "update_postimage" +: post
        case None =>
          val ins = Seq(id, x, amount)
          data += id -> ins; feed += "insert" +: ins
      }
    }
    (sorted(data.values.toSeq), sorted(feed.result()),
      src.map(_._1).filter(before.contains).toSet)
  }

  test("copy-on-write MERGE publishes the restated data, feed and feed schema") {
    val root = freshRoot(); seed(root)
    upsertSource("routed_cow_src")
    val v = merge(upsertSql(root, "routed_cow_src"))
    val (data, feed, _) = upsertExpect(base3)
    assert(tableRows(root, cols3) == data)
    assert(feedRows(root, v, cols3) == feed)
    assert(feedSchemaRecord(root, v) == feedSchemaOf(VersionedTable.read(spark, root).schema))
    assert(!VersionedTable.hasDeletionVectors(spark, root, v))
    assertOwnFilesRecorded(root, v)
  }

  test("full-rewrite MERGE (non-equi ON, unconditioned NOT MATCHED BY SOURCE) " +
      "publishes the restated data and feed") {
    val root = freshRoot(); seed(root)
    Seq((7L, "u7", 700L), (99L, "n99", 990L))
      .toDF("id", "x", "amount").createOrReplaceTempView("routed_full_src")
    val v = merge(
      s"""MERGE INTO `$root` AS t USING routed_full_src AS s ON t.id + 0 = s.id
         |WHEN MATCHED THEN UPDATE SET x = s.x, amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
         |WHEN NOT MATCHED BY SOURCE AND t.id <= 3 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET x = concat(t.x, '~')
         |""".stripMargin)
    val before = base3
    val data = before.map { case (id, r) =>
      if (id == 7L) id -> Seq(7L, "u7", 700L)
      else id -> Seq(id, r(1).toString + "~", r(2))
    }.filter(_._1 > 3L).values.toSeq :+ Seq(99L, "n99", 990L)
    val feed = before.toSeq.flatMap { case (id, r) =>
      if (id <= 3L) Seq("delete" +: r)
      else if (id == 7L) Seq("update_preimage" +: r, "update_postimage" +: Seq(7L, "u7", 700L))
      else Seq("update_preimage" +: r, "update_postimage" +: Seq(id, r(1).toString + "~", r(2)))
    } :+ ("insert" +: Seq(99L, "n99", 990L))
    assert(tableRows(root, cols3) == sorted(data))
    assert(feedRows(root, v, cols3) == sorted(feed))
    assert(feedSchemaRecord(root, v) == feedSchemaOf(VersionedTable.read(spark, root).schema))
  }

  test("NOT MATCHED BY SOURCE delete publishes the restated data and feed") {
    val root = freshRoot(); seed(root)
    Seq((7L, "u7", 700L)).toDF("id", "x", "amount")
      .createOrReplaceTempView("routed_nmbs_src")
    val v = merge(
      s"""MERGE INTO `$root` AS t USING routed_nmbs_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amount = s.amount
         |WHEN NOT MATCHED BY SOURCE AND t.id > 36 THEN DELETE
         |""".stripMargin)
    val before = base3
    val data = (before - 37L - 38L - 39L - 40L).updated(7L, Seq(7L, "r7", 700L))
    val feed = Seq(37L, 38L, 39L, 40L).map(i => "delete" +: before(i)) ++
      Seq("update_preimage" +: before(7L), "update_postimage" +: Seq(7L, "r7", 700L))
    assert(tableRows(root, cols3) == sorted(data.values.toSeq))
    assert(feedRows(root, v, cols3) == sorted(feed))
    assert(feedSchemaRecord(root, v) == feedSchemaOf(VersionedTable.read(spark, root).schema))
  }

  test("merge-on-read MERGE publishes the restated data, feed and mask, " +
      "and a second one carries the first one's mask") {
    val root = freshRoot(); seed(root); enableDv(root)
    val v0 = VersionedTable.currentVersion(spark, root).get
    val pos0 = positions(root, v0)
    upsertSource("routed_mor_src")
    val v1 = merge(upsertSql(root, "routed_mor_src"))
    val (data1, feed1, hit1) = upsertExpect(base3)
    assert(VersionedTable.hasDeletionVectors(spark, root, v1))
    assert(tableRows(root, cols3) == data1)
    assert(feedRows(root, v1, cols3) == feed1)
    assert(maskRows(root, v1) == hit1.map(pos0))
    assertOwnFilesRecorded(root, v1)
    assert(feedSchemaRecord(root, v1) == feedSchemaOf(VersionedTable.read(spark, root).schema))

    // the second merge masks the first one's appended image of id 7 and
    // an original row, and keeps the first merge's mask
    val pos1 = positions(root, v1)
    Seq((7L, "v7", 7000L), (11L, "D", 0L), (200L, "n200", 2000L))
      .toDF("id", "x", "amount").createOrReplaceTempView("routed_mor_src2")
    val v2 = merge(upsertSql(root, "routed_mor_src2"))
    val before2 = data1.map(r => r.head.asInstanceOf[Long] -> r).toMap
    val data2 = (before2 - 11L).updated(7L, Seq(7L, "v7", 7000L))
      .updated(200L, Seq(200L, "n200", 2000L))
    val feed2 = Seq("update_preimage" +: before2(7L),
      "update_postimage" +: Seq(7L, "v7", 7000L), "delete" +: before2(11L),
      "insert" +: Seq(200L, "n200", 2000L))
    assert(tableRows(root, cols3) == sorted(data2.values.toSeq))
    assert(feedRows(root, v2, cols3) == sorted(feed2))
    assert(maskRows(root, v2) == maskRows(root, v1) ++ Set(pos1(7L), pos1(11L)))
  }

  test("MERGE into a partitioned target publishes the restated data and feed") {
    val root = freshRoot()
    seed(root, _.withColumn("p", (col("id") % 3).cast("int")), partitionBy = Seq("p"))
    Seq((5L, "D", 0L, 2), (7L, "u7", 700L, 1), (22L, "u22", 2200L, 1),
        (99L, "n99", 990L, 0), (100L, "n100", 1000L, 1))
      .toDF("id", "x", "amount", "p").createOrReplaceTempView("routed_part_src")
    val v = merge(
      s"""MERGE INTO `$root` AS t USING routed_part_src AS s ON t.id = s.id
         |WHEN MATCHED AND s.x = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET x = s.x, amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (id, x, amount, p) VALUES (s.id, s.x, s.amount, s.p)
         |""".stripMargin)
    val cols = cols3 :+ "p"
    val before = base3.map { case (id, r) => id -> (r :+ (id % 3).toInt) }
    val data = (before - 5L)
      .updated(7L, Seq(7L, "u7", 700L, 1)).updated(22L, Seq(22L, "u22", 2200L, 1))
      .updated(99L, Seq(99L, "n99", 990L, 0)).updated(100L, Seq(100L, "n100", 1000L, 1))
    val feed = Seq("delete" +: before(5L),
      "update_preimage" +: before(7L), "update_postimage" +: data(7L),
      "update_preimage" +: before(22L), "update_postimage" +: data(22L),
      "insert" +: data(99L), "insert" +: data(100L))
    assert(tableRows(root, cols) == sorted(data.values.toSeq))
    assert(feedRows(root, v, cols) == sorted(feed))
    assert(feedSchemaRecord(root, v) == feedSchemaOf(VersionedTable.read(spark, root).schema))
    // every data file still sits under its own partition's directory
    val snap = VersionedTable.snapshotAt(spark, root, v)
    VersionedTable.scan(spark, snap, tagFile = true)
      .select("p", "__dv_file").as[(Int, String)].collect().foreach { case (p, f) =>
        assert(f.contains(s"p__p=$p/"), s"$f holds a row of partition $p")
      }
    assertOwnFilesRecorded(root, v)
  }

  test("MERGE WITH SCHEMA EVOLUTION publishes the restated data, feed and feed schema") {
    val root = freshRoot(); seed(root)
    Seq((7L, "u7", 700L, "note7"), (99L, "n99", 990L, "note99"))
      .toDF("id", "x", "amount", "note").createOrReplaceTempView("routed_evo_src")
    val v = merge(
      s"""MERGE WITH SCHEMA EVOLUTION INTO `$root` AS t USING routed_evo_src AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    val cols = cols3 :+ "note"
    val before = base3.map { case (id, r) => id -> (r :+ null) }
    val data = before.updated(7L, Seq(7L, "u7", 700L, "note7"))
      .updated(99L, Seq(99L, "n99", 990L, "note99"))
    val feed = Seq("update_preimage" +: before(7L), "update_postimage" +: data(7L),
      "insert" +: data(99L))
    assert(tableRows(root, cols) == sorted(data.values.toSeq))
    assert(feedRows(root, v, cols) == sorted(feed))
    assert(feedSchemaRecord(root, v) == feedSchemaOf(VersionedTable.read(spark, root).schema))
  }

  test("merge-on-read UPDATE publishes the restated data, feed and mask, twice") {
    val root = freshRoot(); seed(root); enableDv(root)
    val v0 = VersionedTable.currentVersion(spark, root).get
    val pos0 = positions(root, v0)
    val v1 = GraftSql.execute(spark,
      s"UPDATE `$root` SET x = 'hit', amount = amount + 1 WHERE id % 5 = 0")
      .collect().head.getLong(2)
    val hit = (1L to 40L).filter(_ % 5 == 0)
    val before = base3
    val data1 = hit.foldLeft(before)((m, id) =>
      m.updated(id, Seq(id, "hit", id * 10 + 1)))
    assert(VersionedTable.hasDeletionVectors(spark, root, v1))
    assert(tableRows(root, cols3) == sorted(data1.values.toSeq))
    assert(feedRows(root, v1, cols3) == sorted(hit.flatMap(id =>
      Seq("update_preimage" +: before(id), "update_postimage" +: data1(id)))))
    assert(maskRows(root, v1) == hit.map(pos0).toSet)
    assertOwnFilesRecorded(root, v1)
    assert(feedSchemaRecord(root, v1) ==
      feedSchemaOf(VersionedTable.read(spark, root).schema, typeNullable = false))

    val pos1 = positions(root, v1)
    val v2 = GraftSql.execute(spark,
      s"UPDATE `$root` SET amount = amount * 2 WHERE id IN (10, 11)")
      .collect().head.getLong(2)
    val data2 = data1.updated(10L, Seq(10L, "hit", 202L)).updated(11L, Seq(11L, "r11", 220L))
    assert(tableRows(root, cols3) == sorted(data2.values.toSeq))
    assert(feedRows(root, v2, cols3) == sorted(Seq(
      "update_preimage" +: data1(10L), "update_postimage" +: data2(10L),
      "update_preimage" +: data1(11L), "update_postimage" +: data2(11L))))
    assert(maskRows(root, v2) == maskRows(root, v1) ++ Set(pos1(10L), pos1(11L)))

    // each update rewrites the whole mask: its file count must not grow
    // with the number of updates before it
    def maskFiles(v: Long): Int = {
      val dir = new org.apache.hadoop.fs.Path(VersionedTable.snapshotAt(spark, root, v).dir, "_dv")
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
        .count(st => st.getPath.getName.startsWith("part-"))
    }
    val later = Seq(21L, 22L, 23L, 24L).map(id => GraftSql.execute(spark,
      s"UPDATE `$root` SET amount = amount + 1 WHERE id = $id").collect().head.getLong(2))
    assert(maskFiles(later.last) <= maskFiles(later.head),
      s"mask files per version: ${later.map(maskFiles)}")
    assert(maskRows(root, later.last).size == maskRows(root, v2).size + 4)
  }

  test("a MERGE whose every fate is a no-op leaves a readable, empty feed") {
    val root = freshRoot(); seed(root)
    Seq((7L, "u7", 700L)).toDF("id", "x", "amount")
      .createOrReplaceTempView("routed_noop_src")
    val v = merge(
      s"""MERGE INTO `$root` AS t USING routed_noop_src AS s ON t.id = s.id
         |WHEN MATCHED AND s.amount < 0 THEN DELETE
         |""".stripMargin)
    assert(VersionedTable.currentVersion(spark, root).contains(v))
    assert(tableRows(root, cols3) == sorted(base3.values.toSeq))
    val feed = VersionedTable.readChanges(spark, root, v, v)
    assert(feed.columns.contains("_change_type"))
    assert(feed.count() == 0L)
    assert(feedSchemaRecord(root, v) == feedSchemaOf(VersionedTable.read(spark, root).schema))
  }
}
