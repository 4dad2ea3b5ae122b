package graft.plans

import graft.SparkSpec
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** The SQL LOAD verbs: ANSI INSERT INTO / INSERT OVERWRITE routed to the
  * versioned table, CREATE TABLE AS, and SHALLOW CLONE — the statements
  * that make the SQL face whole (a SQL-first user could previously
  * change a table but not load or create one). */
class SqlLoadSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.install(spark)

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_sqlload").toString + "/t"

  private def seed(root: String): Unit =
    VersionedTable.commit(
      (1L to 10L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount"), root)

  test("INSERT INTO VALUES appends O(batch): rows land, old files ride by ref") {
    val root = freshRoot(); seed(root)
    val res = GraftSql.execute(spark,
      s"INSERT INTO `$root` VALUES (11, 'r11', 110), (12, 'r12', 120)")
      .collect().head
    assert(res.getString(0) == "INSERT" && res.getLong(2) == 2L)
    val got = VersionedTable.read(spark, root)
    assert(got.count() == 12)
    assert(got.where(col("id") === 11L).head.getString(1) == "r11")
    // append commit: the new version's manifest carries v1's files by
    // reference (kept_refs > 0 in history = nothing was rewritten)
    val h = VersionedTable.history(spark, root)
      .where(col("version") === 2L).head
    assert(h.getAs[Int]("kept_refs") > 0, "INSERT INTO must not rewrite")
    // feed carries the batch as insert images
    val feed = VersionedTable.readChanges(spark, root, 2L, 2L)
    assert(feed.count() == 2 &&
      feed.select("_change_type").distinct().head.getString(0) == "insert")
  }

  test("INSERT INTO SELECT aligns by position with casts") {
    val root = freshRoot(); seed(root)
    Seq((13, "r13", 130)).toDF("a", "b", "c").createOrReplaceTempView("ins_src")
    // int source columns cast to the table's long types
    GraftSql.execute(spark, s"INSERT INTO `$root` SELECT a, b, c FROM ins_src")
    val r = VersionedTable.read(spark, root).where(col("id") === 13L).head
    assert(r.getLong(0) == 13L && r.getString(1) == "r13" && r.getLong(2) == 130L)
  }

  test("INSERT INTO with a column list null-fills unnamed columns; order-free") {
    val root = freshRoot(); seed(root)
    GraftSql.execute(spark,
      s"INSERT INTO `$root` (amount, id) VALUES (990, 99)")
    val r = VersionedTable.read(spark, root).where(col("id") === 99L).head
    assert(r.getLong(2) == 990L && r.isNullAt(1), "x must null-fill")
  }

  test("INSERT fails loudly on a malformed value instead of storing NULL") {
    val root = freshRoot(); seed(root)
    // under ANSI (the default) the cast itself raises CAST_INVALID_INPUT;
    // with ANSI disabled the cast would turn 'abc' → NULL and land it
    // silently — the store-assignment guard raises there instead. Either
    // way the INSERT must fail loudly, never store NULL.
    val e = intercept[Exception](GraftSql.execute(spark,
      s"INSERT INTO `$root` VALUES ('abc', 'bad', 'xyz')").collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && (m.contains("cannot be stored") ||
      m.contains("CAST_INVALID_INPUT"))),
      s"expected a store-assignment error, got: ${e.getMessage}")
    // and with ANSI off, the inline guard is what fires
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val e2 = intercept[Exception](GraftSql.execute(spark,
        s"INSERT INTO `$root` VALUES ('abc', 'bad', 'xyz')").collect())
      assert(msgs(e2).exists(m => m != null && m.contains("cannot be stored")),
        s"expected the store-assignment guard, got: ${e2.getMessage}")
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    assert(VersionedTable.read(spark, root).count() == 10,
      "the malformed INSERT must not have committed")
    // a CASTABLE value still lands (the guard only fires on introduced nulls)
    GraftSql.execute(spark,
      s"INSERT INTO `$root` VALUES ('11', 'r11', '110')").collect()
    assert(VersionedTable.read(spark, root).count() == 11)
  }

  test("INSERT refuses arity mismatch and unknown columns") {
    val root = freshRoot(); seed(root)
    val e1 = intercept[Exception](GraftSql.execute(spark,
      s"INSERT INTO `$root` VALUES (1, 'only-two')"))
    assert(e1.getMessage.contains("by position"))
    val e2 = intercept[Exception](GraftSql.execute(spark,
      s"INSERT INTO `$root` (id, nope, amount) VALUES (1, 'x', 2)"))
    assert(e2.getMessage.contains("nope"))
    // a plain INSERT INTO a missing root is refused (typo guard)
    val e3 = intercept[Exception](GraftSql.execute(spark,
      s"INSERT INTO `${freshRoot()}` VALUES (1, 'x', 2)"))
    assert(e3.getMessage.contains("INSERT OVERWRITE"))
  }

  test("INSERT OVERWRITE truncate-replaces; feed = delete pre-images + inserts") {
    val root = freshRoot(); seed(root)
    GraftSql.execute(spark,
      s"INSERT OVERWRITE `$root` SELECT id, x, amount FROM graft_table('$root') WHERE id <= 3")
    val got = VersionedTable.read(spark, root)
    assert(got.count() == 3)
    val feed = VersionedTable.readChanges(spark, root, 2L, 2L)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 10L, "insert" -> 3L))
    // overwrite of an empty root creates the table
    val root2 = freshRoot()
    GraftSql.execute(spark,
      s"INSERT OVERWRITE `$root2` SELECT * FROM graft_table('$root')")
    assert(VersionedTable.read(spark, root2).count() == 3)
  }

  test("CREATE TABLE AS creates; refuses an existing root") {
    val root = freshRoot()
    val res = GraftSql.execute(spark,
      s"CREATE TABLE '$root' AS SELECT id, id * 2 AS dbl FROM range(5)").collect().head
    assert(res.getString(0) == "CREATE TABLE AS")
    val got = VersionedTable.read(spark, root)
    assert(got.count() == 5 &&
      got.where(col("id") === 3).head.getLong(1) == 6L)
    // schema recorded at create
    assert(VersionedTable.tableSchema(spark, root, 1L).fieldNames
      .sameElements(Array("id", "dbl")))
    val e = intercept[Exception](GraftSql.execute(spark,
      s"CREATE TABLE '$root' AS SELECT 1"))
    assert(e.getMessage.contains("already exists"))
  }

  test("CREATE TABLE AS takes PARTITIONED BY and TBLPROPERTIES; a " +
      "generated column births through pure SQL") {
    val root = freshRoot()
    GraftSql.execute(spark,
      s"""CREATE TABLE '$root'
         |PARTITIONED BY (ds)
         |TBLPROPERTIES ('graft.generatedCol.ds' = 'date(ts)',
         |               'custom.note' = 'sql-born')
         |AS SELECT id, timestamp '2024-03-01 06:00:00' + make_interval(0, 0, 0, CAST(id AS INT), 0, 0, 0) AS ts
         |   FROM range(4)""".stripMargin)
    val got = VersionedTable.read(spark, root)
    // ds populated by the generator, never named in the query
    assert(got.columns.contains("ds"))
    assert(got.where(col("ds") =!= to_date(col("ts"))).count() == 0)
    val cur = VersionedTable.currentVersion(spark, root).get
    val props = VersionedTable.propertiesOf(spark, root, cur)
    assert(props.get("custom.note").contains("sql-born"))
    assert(props.get("graft.partitionBy").contains("ds"))
    // the partition layout is real: an event-time boundary delete is
    // metadata-only
    val vd = VersionedTable.deleteWhere(spark, root,
      col("ts") < lit("2024-03-03 00:00:00").cast("timestamp"))
    assert(VersionedTable.commitInfoOf(spark, root, vd)
      .get("partitionDrop").contains("true"))
    assert(VersionedTable.read(spark, root).count() == 2)
  }

  test("SHALLOW CLONE: zero data copy, equal content, independent evolution") {
    val src = freshRoot(); seed(src)
    VersionedTable.setProperties(spark, src, Map("graft.team" -> "a"))
    val dest = freshRoot()
    GraftSql.execute(spark, s"CREATE TABLE '$dest' SHALLOW CLONE '$src'")
    // content equal, schema/properties carried
    assert(VersionedTable.read(spark, dest).orderBy("id").collect().toSeq ==
      VersionedTable.read(spark, src).orderBy("id").collect().toSeq)
    assert(VersionedTable.propertiesOf(spark, dest, 1L) ==
      Map("graft.team" -> "a"))
    // zero-copy: no parquet file under the clone's version dir
    val vdir = new java.io.File(s"$dest/v00000001")
    val dataBytes = Option(vdir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length()).sum
    assert(dataBytes == 0L, s"clone copied data: $dataBytes bytes")
    // stats carried: the stats-only aggregate answers on the clone
    val agg = VersionedTable.statsAggregate(spark, dest, Seq("amount"))
    assert(agg.exists(_._1 == 10L), "clone must answer from carried stats")
    // independent evolution: DML on the clone, source untouched
    GraftSql.execute(spark, s"DELETE FROM `$dest` WHERE id <= 8")
    GraftSql.execute(spark, s"INSERT INTO `$dest` VALUES (100, 'c', 1)")
    assert(VersionedTable.read(spark, dest).count() == 3)
    assert(VersionedTable.read(spark, src).count() == 10)
  }

  test("SHALLOW CLONE carries deletion vectors and they survive clone-side COW") {
    val src = freshRoot(); seed(src)
    VersionedTable.deleteWhere(spark, src, col("id") === 5L, mor = true)
    val dest = freshRoot()
    GraftSql.execute(spark, s"CREATE TABLE '$dest' SHALLOW CLONE '$src'")
    assert(VersionedTable.read(spark, dest).count() == 9, "mask must apply on the clone")
    // a clone-side COW delete must not resurrect the cloned mask's row
    VersionedTable.deleteWhere(spark, dest, col("id") === 1L)
    val ids = VersionedTable.read(spark, dest).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L) && !ids.contains(1L) && ids.size == 8)
  }

  test("SHALLOW CLONE VERSION AS OF pins an earlier snapshot") {
    val src = freshRoot(); seed(src)
    VersionedTable.deleteWhere(spark, src, col("id") > 2L) // v2: 2 rows
    val dest = freshRoot()
    GraftSql.execute(spark,
      s"CREATE TABLE '$dest' SHALLOW CLONE '$src' VERSION AS OF 1")
    assert(VersionedTable.read(spark, dest).count() == 10)
  }

  test("DESCRIBE '<root>' lists the logical schema with physical birth names") {
    val root = freshRoot(); seed(root)
    VersionedTable.renameColumn(spark, root, "amount", "revenue")
    val rows = GraftSql.execute(spark, s"DESCRIBE '$root'").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3)))
    assert(rows.map(_._1).toSeq == Seq("id", "x", "revenue"))
    assert(rows.find(_._1 == "revenue").exists(r =>
      r._2 == "bigint" && r._4 == "amount"),
      s"renamed column must expose its birth name: ${rows.toSeq}")
    assert(rows.find(_._1 == "id").exists(_._4 == "id"))
  }

  test("RESTORE / SHALLOW CLONE accept TIMESTAMP AS OF") {
    val src = freshRoot(); seed(src)
    Thread.sleep(1100) // commit-marker clock has second granularity headroom
    val cutoff = new java.sql.Timestamp(System.currentTimeMillis())
    GraftSql.execute(spark, s"DELETE FROM `$src` WHERE id > 2")
    val tsStr = cutoff.toString.replaceAll("\\.\\d+$", "")
    val dest = freshRoot()
    GraftSql.execute(spark,
      s"CREATE TABLE '$dest' SHALLOW CLONE '$src' TIMESTAMP AS OF '$tsStr'")
    assert(VersionedTable.read(spark, dest).count() == 10,
      "clone must pin the pre-delete snapshot")
    GraftSql.execute(spark,
      s"RESTORE '$src' TO TIMESTAMP AS OF '$tsStr'")
    assert(VersionedTable.read(spark, src).count() == 10)
  }

  test("DESCRIBE DETAIL summarizes the snapshot and its active features") {
    val root = freshRoot(); seed(root)
    VersionedTable.setProperties(spark, root,
      Map("graft.enableDeletionVectors" -> "true"))
    GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id = 1") // DV mode
    VersionedTable.renameColumn(spark, root, "amount", "revenue")
    val d = GraftSql.execute(spark, s"DESCRIBE DETAIL '$root'").collect().head
    assert(d.getAs[String]("location") == root)
    assert(d.getAs[Long]("version") == 4L)
    assert(d.getAs[Int]("num_files") > 0)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Int]("schema_fields") == 3)
    assert(d.getAs[Int]("renamed_columns") == 1)
    assert(d.getAs[Int]("properties") == 1)
    assert(d.getAs[Boolean]("deletion_vectors"))
    assert(d.getAs[Int]("retained_versions") == 4)
    // READER features only — the two-line in-commit-timestamp marker is
    // a writer feature (flagless-but-capable readers keep reading);
    // grouped-meta rides every r19+ commit (the five metadata records
    // live in one _meta object); virtual-change-feed rides the
    // metadata-only commits in this history (their zero-row feed is a
    // commit-info marker, not a sidecar)
    assert(d.getAs[String]("protocol_features") ==
      "column-mapping,deletion-vectors,grouped-meta,virtual-change-feed")
  }

  test("vacuum on a clone drops its own history, never the source's files") {
    val src = freshRoot(); seed(src)
    val dest = freshRoot()
    GraftSql.execute(spark, s"CREATE TABLE '$dest' SHALLOW CLONE '$src'")
    // build clone-local history, then vacuum it down
    GraftSql.execute(spark, s"INSERT INTO `$dest` VALUES (11, 'c', 1)")
    GraftSql.execute(spark, s"INSERT INTO `$dest` VALUES (12, 'c', 2)")
    VersionedTable.vacuum(spark, dest, keepLast = 1, olderThanMs = Some(0L))
    // the clone still reads (its manifest references live source files)
    assert(VersionedTable.read(spark, dest).count() == 12)
    // and the SOURCE is untouched: full content + its own history intact
    assert(VersionedTable.read(spark, src).count() == 10)
    assert(VersionedTable.readVersion(spark, src, 1L).count() == 10)
  }

  test("INSERT OVERWRITE racing INSERT INTO: the table is the overwrite's " +
    "rows plus the appends serialized after it, and the feed has no gap") {
    val root = freshRoot(); seed(root)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(name: String)(body: => Unit) = new Thread(() =>
      try body catch { case t: Throwable => errors.add(t) }, name)
    val appenders = (0 until 2).map(w => writer(s"appender-$w") {
      (0 until 4).foreach { b =>
        val id = 100 + 10 * w + b
        GraftSql.execute(spark, s"INSERT INTO `$root` VALUES ($id, 'a$id', $id)")
      }
    })
    val overwriter = writer("overwriter") {
      (0 until 2).foreach { k =>
        val id = 1000 + k
        GraftSql.execute(spark,
          s"INSERT OVERWRITE `$root` VALUES ($id, 'o$id', 0), (${id + 10}, 'o$id', 0)")
      }
    }
    val all = appenders :+ overwriter
    all.foreach(_.start()); all.foreach(_.join(300000))
    assert(errors.isEmpty, s"writer threads failed: ${errors.peek()}")

    val vs = VersionedTable.versions(spark, root)
    val feed = VersionedTable.readChanges(spark, root, vs(1), vs.last)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val overwrites = feed.filter(_._2 == "delete").map(_._3).distinct.sorted
    assert(overwrites.length == 2, s"overwrite versions: ${overwrites.toSeq}")
    val lastOverwrite = overwrites.last
    val expected = feed.filter { case (_, ct, v) =>
      ct == "insert" && v >= lastOverwrite }.map(_._1).toSet
    val got = VersionedTable.read(spark, root).select("id").collect()
      .map(_.getLong(0))
    assert(got.length == got.distinct.length, s"duplicate rows: ${got.toSeq}")
    assert(got.toSet == expected)
    assert(got.toSet.contains(1001L) && got.toSet.contains(1011L))
    // every row an overwrite removed has its delete image at that version
    overwrites.foreach { w =>
      val before = VersionedTable.readVersion(spark, root, vs(vs.indexOf(w) - 1))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(feed.filter(c => c._2 == "delete" && c._3 == w).map(_._1).toSet == before,
        s"version $w's delete images differ from the rows it removed")
    }
    // replaying the seed plus the whole feed rebuilds the final table
    val replayed = feed.sortBy(_._3).foldLeft((1L to 10L).toSet) {
      case (live, (id, "insert", v)) =>
        assert(!live(id), s"v$v inserts live id $id"); live + id
      case (live, (id, "delete", v)) =>
        assert(live(id), s"v$v deletes absent id $id"); live - id
      case (_, c) => fail(s"unexpected change $c")
    }
    assert(replayed == got.toSet)
  }
}
