package graft.plans

import graft.SparkSpec
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** The SQL DML face: ANSI DELETE/UPDATE/MERGE parsed by Spark's own
  * parser and routed to the versioned table when the target is a path
  * identifier, plus the OPTIMIZE/VACUUM maintenance verbs. Exercised
  * through GraftSql.execute (any session) and through the injected
  * parser (what a GraftSession's plain spark.sql runs). */
class SqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_sqldml").toString + "/t"

  private def seed(root: String): Unit =
    VersionedTable.commit(
      (1L to 20L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount"), root)

  test("DELETE FROM `<path>` WHERE — rows gone, version advanced, summary row") {
    val root = freshRoot(); seed(root)
    val res = GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id <= 5").collect()
    assert(res.head.getString(0) == "DELETE" && res.head.getLong(2) == 2L)
    assert(VersionedTable.read(spark, root).count() == 15)
    // alias-qualified predicate works too
    GraftSql.execute(spark, s"DELETE FROM `$root` AS t WHERE t.id = 20")
    assert(VersionedTable.read(spark, root).select(max(col("id"))).head.getLong(0) == 19L)
  }

  test("UPDATE `<path>` SET ... WHERE — values replaced, types cast") {
    val root = freshRoot(); seed(root)
    GraftSql.execute(spark,
      s"UPDATE `$root` SET x = 'changed', amount = amount + 1 WHERE id = 7")
    val r = VersionedTable.read(spark, root).where(col("id") === 7).head
    assert(r.getString(1) == "changed" && r.getLong(2) == 71L)
    // untouched rows identical
    assert(VersionedTable.read(spark, root).where(col("id") === 8).head.getString(1) == "r8")
  }

  test("MERGE INTO: matched update/delete by condition, not-matched insert") {
    val root = freshRoot(); seed(root)
    Seq((5L, "DEL", 0L), (7L, "upd", 700L), (99L, "new", 990L))
      .toDF("id", "x", "amount").createOrReplaceTempView("merge_src")
    val v = GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING merge_src AS s ON t.id = s.id
         |WHEN MATCHED AND s.x = 'DEL' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET x = s.x, amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
         |""".stripMargin).collect().head.getLong(2)
    val got = VersionedTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(!got.exists(_._1 == 5L), "matched DELETE did not remove the row")
    assert(got.find(_._1 == 7L).contains((7L, "upd", 700L)))
    assert(got.find(_._1 == 99L).contains((99L, "new", 990L)))
    assert(got.length == 20) // 20 - 1 deleted + 1 inserted
    assert(VersionedTable.currentVersion(spark, root).contains(v))
    // time travel still shows the pre-merge table
    assert(VersionedTable.readVersion(spark, root, 1L).count() == 20)
  }

  test("MERGE UPDATE SET * / INSERT * and NOT MATCHED BY SOURCE DELETE") {
    val root = freshRoot(); seed(root)
    Seq((1L, "one", 111L), (77L, "new", 770L))
      .toDF("id", "x", "amount").createOrReplaceTempView("merge_star_src")
    GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING merge_star_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.id > 18 THEN DELETE
         |""".stripMargin)
    val got = VersionedTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.find(_._1 == 1L).contains((1L, "one", 111L)))   // SET *
    assert(got.find(_._1 == 77L).contains((77L, "new", 770L))) // INSERT *
    assert(!got.exists(t => t._1 == 19L || t._1 == 20L))       // NMBS delete
    assert(got.exists(_._1 == 18L))                            // NMBS guard held
    assert(got.length == 19) // 20 - 2 deleted + 1 inserted
  }

  test("MERGE rewrites only touched files; the rest carry by manifest reference") {
    val root = freshRoot()
    // four range-clustered files over ids 1..100
    VersionedTable.commit(
      (1L to 100L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"), root)
    val baseRefs = VersionedTable.dataFileRefs(spark, root, 1L)
    assert(baseRefs.size == 4)
    Seq((3L, "upd", 33L), (200L, "new", 2000L)).toDF("id", "x", "amount")
      .createOrReplaceTempView("merge_cow_src")
    val v = GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING merge_cow_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET x = s.x, amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
         |""".stripMargin).collect().head.getLong(2)
    // id=3 lives in one of the four files; the other three carry untouched
    val mf = VersionedTable.manifestOf(spark, root, v).get
    assert(mf.count(baseRefs.contains) == 3, s"expected 3 carried refs in: $mf")
    val got = VersionedTable.read(spark, root)
    assert(got.count() == 101)
    assert(got.where(col("id") === 3).head.getString(1) == "upd")
    assert(got.where(col("id") === 4).head.getString(1) == "r4")
    // the merge feed rode the COW commit
    assert(VersionedTable.readChanges(spark, root, v, v)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("update_preimage" -> 1L, "update_postimage" -> 1L, "insert" -> 1L))
    // insert-only merge: every prior file carries by reference (an
    // O(batch) append in effect)
    Seq((300L, "n2", 3L)).toDF("id", "x", "amount")
      .createOrReplaceTempView("merge_cow_ins")
    val v2 = GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING merge_cow_ins s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
         |""".stripMargin).collect().head.getLong(2)
    val mf2 = VersionedTable.manifestOf(spark, root, v2).get
    assert(mf.forall(mf2.contains), "insert-only merge must carry all files")
    assert(VersionedTable.read(spark, root).count() == 102)
  }

  test("MERGE with a multi-key equi ON intersects candidates and stays correct") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 100L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"), root)
    val baseRefs = VersionedTable.dataFileRefs(spark, root, 1L)
    Seq((3L, "u3", 30L)).toDF("id", "x", "amount")
      .createOrReplaceTempView("merge_multikey_src")
    val v = GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING merge_multikey_src s
         |ON t.id = s.id AND t.amount = s.amount
         |WHEN MATCHED THEN UPDATE SET x = s.x
         |""".stripMargin).collect().head.getLong(2)
    assert(VersionedTable.read(spark, root)
      .where(col("id") === 3).head.getString(1) == "u3")
    assert(VersionedTable.read(spark, root).count() == 100)
    val mf = VersionedTable.manifestOf(spark, root, v).get
    assert(mf.count(baseRefs.contains) == 3, s"expected 3 carried refs in: $mf")
  }

  test("MERGE whose key hull keeps 16+ files (the exact candidate join) " +
    "equals the same merge restated over a plain-parquet copy") {
    val root = freshRoot()
    // 24 range-clustered files over ids 1..480; the source's keys span
    // every file's range, so the min/max hull keeps all 24 files
    val base = (1L to 480L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount")
    VersionedTable.commit(
      base.repartitionByRange(24, col("id")).sortWithinPartitions("id"), root)
    val baseRefs = VersionedTable.dataFileRefs(spark, root, 1L)
    assert(baseRefs.size == 24)
    val plainDir = java.nio.file.Files.createTempDirectory("graft_sqldml_plain").toString
    base.write.parquet(plainDir + "/t")
    val src = Seq((5L, "u5", 55L), (240L, "del", 0L), (470L, "u470", 4700L),
      (1000L, "n", 1L)).toDF("id", "x", "amount")
    src.createOrReplaceTempView("merge_wide_src")
    val v = GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING merge_wide_src s ON t.id = s.id
         |WHEN MATCHED AND s.x = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET x = s.x, amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
         |""".stripMargin).collect().head.getLong(2)
    // the same merge by plain Spark over the parquet copy
    val t = spark.read.parquet(plainDir + "/t")
    val j = t.as("t").join(src.as("s"), col("t.id") === col("s.id"), "full_outer")
    val expected = j.where(col("s.x").isNull || col("s.x") =!= "del" || col("t.id").isNull)
      .select(coalesce(col("s.id"), col("t.id")).as("id"),
        coalesce(col("s.x"), col("t.x")).as("x"),
        coalesce(col("s.amount"), col("t.amount")).as("amount"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "x", "amount").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    assert(rows(VersionedTable.read(spark, root)) == rows(expected))
    // only the three files holding a matched key are rewritten
    val mf = VersionedTable.manifestOf(spark, root, v).get
    assert(mf.count(baseRefs.contains) == 21, s"expected 21 carried refs in: $mf")
  }

  test("MERGE with a non-equi ON skips stats pre-pruning; detection still prunes writes") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 100L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"), root)
    val baseRefs = VersionedTable.dataFileRefs(spark, root, 1L)
    Seq((3L, "u3", 33L)).toDF("id", "x", "amount")
      .createOrReplaceTempView("merge_nonequi_src")
    // `s.id + 0` defeats the attribute-equality extraction, so the
    // candidate pre-pruning stands down — the exact detection scan alone
    // must still find the one touched file
    val v = GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING merge_nonequi_src s ON t.id = s.id + 0
         |WHEN MATCHED THEN UPDATE SET x = s.x
         |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
         |""".stripMargin).collect().head.getLong(2)
    assert(VersionedTable.read(spark, root)
      .where(col("id") === 3).head.getString(1) == "u3")
    assert(VersionedTable.read(spark, root).count() == 100)
    val mf = VersionedTable.manifestOf(spark, root, v).get
    assert(mf.count(baseRefs.contains) == 3, s"expected 3 carried refs in: $mf")
  }

  test("MERGE on a deletion-vector table neither resurrects nor updates masked rows") {
    val root = freshRoot(); seed(root)
    VersionedTable.deleteWhere(spark, root, col("id") === 7, mor = true)
    Seq((7L, "back", 7L), (8L, "upd8", 80L)).toDF("id", "x", "amount")
      .createOrReplaceTempView("merge_dv_src")
    GraftSql.execute(spark,
      s"""MERGE INTO `$root` t USING merge_dv_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET x = s.x, amount = s.amount
         |WHEN NOT MATCHED THEN INSERT (id, x, amount) VALUES (s.id, s.x, s.amount)
         |""".stripMargin)
    val got = VersionedTable.read(spark, root)
    // the MOR-deleted id=7 is NOT MATCHED (masked rows are invisible to
    // the detection scan and the slice) → inserted fresh, not updated
    assert(got.where(col("id") === 7).head.getString(1) == "back")
    assert(got.where(col("id") === 8).head.getString(1) == "upd8")
    assert(got.count() == 20)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns; star covers the source") {
    val root = freshRoot(); seed(root) // (id, x, amount)
    Seq((7L, "u7", 70L, "extra7"), (99L, "n99", 990L, "extra99"))
      .toDF("id", "x", "amount", "note").createOrReplaceTempView("merge_evo_src")
    GraftSql.execute(spark,
      s"""MERGE WITH SCHEMA EVOLUTION INTO `$root` t USING merge_evo_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    val got = VersionedTable.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "x", "amount", "note"))
    val m7 = got.where(col("id") === 7).head
    assert(m7.getString(1) == "u7" && m7.getString(3) == "extra7")
    assert(got.where(col("id") === 99).head.getString(3) == "extra99")
    assert(got.where(col("id") === 1).head.isNullAt(3)) // read-time backfill
    assert(got.count() == 21)
    // an assignment to a column the target doesn't have fails loudly —
    // not the fate fold's silent no-op
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""MERGE INTO `$root` t USING merge_evo_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET y2 = s.note
           |""".stripMargin)
    }
    assert(e.getMessage.contains("unknown target column"))
  }

  test("MERGE refuses a target row matching multiple source rows") {
    val root = freshRoot(); seed(root)
    Seq((7L, "a", 1L), (7L, "b", 2L))
      .toDF("id", "x", "amount").createOrReplaceTempView("merge_dup_src")
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"""MERGE INTO `$root` t USING merge_dup_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET x = s.x
           |""".stripMargin)
    }
    assert(e.getMessage.contains("multiple source rows"))
    assert(VersionedTable.versions(spark, root) == Seq(1L)) // nothing committed
  }

  test("OPTIMIZE and VACUUM maintenance verbs") {
    val root = freshRoot(); seed(root)
    GraftSql.execute(spark, s"UPDATE `$root` SET x = 'a' WHERE id = 1")
    val res = GraftSql.execute(spark, s"OPTIMIZE '$root' SORT BY (id)").collect().head
    assert(res.getString(0) == "OPTIMIZE")
    val opt = res.getLong(2)
    assert(VersionedTable.currentVersion(spark, root).contains(opt))
    // z-order form parses and runs
    GraftSql.execute(spark, s"OPTIMIZE '$root' ZORDER BY (id, amount)")
    // DRY RUN reports the would-drop count without dropping anything
    val nv = VersionedTable.versions(spark, root).size
    val dry = GraftSql.execute(spark, s"VACUUM '$root' KEEP 1 DRY RUN").collect().head
    assert(dry.getLong(2) >= 2L)
    assert(VersionedTable.versions(spark, root).size == nv, "dry run must not drop")
    val dropped = GraftSql.execute(spark, s"VACUUM '$root' KEEP 1").collect().head
    assert(dropped.getString(0) == "VACUUM" && dropped.getLong(2) >= 2L)
    assert(VersionedTable.read(spark, root).count() == 20)
    // age-guarded vacuum drops nothing seconds after the commits
    GraftSql.execute(spark, s"UPDATE `$root` SET x = 'b' WHERE id = 2")
    assert(GraftSql.execute(spark,
      s"VACUUM '$root' KEEP 1 OLDER THAN 1 HOURS").collect().head.getLong(2) == 0L)
  }

  test("DESCRIBE HISTORY lists the commit log newest first with per-commit flags") {
    val root = freshRoot(); seed(root)                                    // v1
    GraftSql.execute(spark, s"DELETE FROM `$root` WHERE id = 1")          // v2: COW
    VersionedTable.deleteWhere(spark, root, col("id") === 2, mor = true)  // v3: DV
    val h = GraftSql.execute(spark, s"DESCRIBE HISTORY '$root'").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    assert(h.map(_.getString(2)).toSeq == Seq("delete", "delete", "write"),
      "operation column from the commitinfo stamp")
    assert(h.head.getBoolean(8), "v3 should flag deletion vectors")
    assert(h(1).getBoolean(7), "the DML commit should flag its change feed")
    assert(h(1).getInt(6) > 0, "the COW commit should carry refs")
    assert(h.forall(_.getInt(10) == 3), "schema width recorded on every version")
    assert(h.last.getInt(5) == h.last.getInt(3), "v1 wrote all its files fresh")
  }

  test("OPTIMIZE ... WHERE rewrites only the admitted files") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 100L).map(i => (i, s"r$i", i * 10)).toDF("id", "x", "amount")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"), root)
    val baseRefs = VersionedTable.dataFileRefs(spark, root, 1L)
    assert(baseRefs.size == 4)
    val v = GraftSql.execute(spark,
      s"OPTIMIZE '$root' SORT BY (id) WHERE id <= 3").collect().head.getLong(2)
    val mf = VersionedTable.manifestOf(spark, root, v).get
    assert(mf.count(baseRefs.contains) == 3, s"expected 3 carried refs in: $mf")
    // layout-only: rows unchanged, zero-row feed readable over the commit
    assert(VersionedTable.read(spark, root).count() == 100)
    assert(VersionedTable.readChanges(spark, root, v, v).count() == 0)
    // a predicate admitting nothing is a no-op (no new version)
    assert(VersionedTable.optimizeWhere(spark, root, col("id") > 10000) == v)
    // again on the manifest-form version: the admitted file rewrites,
    // the other three (two seed files and the first rewrite) carry
    val v2 = VersionedTable.optimizeWhere(spark, root, col("id") >= 98, Seq("id"))
    assert(v2 > v)
    val mf2 = VersionedTable.manifestOf(spark, root, v2).get
    assert(mf2.count(mf.contains) == 3, s"expected 3 carried refs in: $mf2")
    assert(VersionedTable.read(spark, root).count() == 100)
    // ZORDER + WHERE refuses
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, s"OPTIMIZE '$root' ZORDER BY (id, amount) WHERE id <= 3")
    }
    assert(e.getMessage.contains("does not take WHERE"))
  }

  test("the injected parser routes DML and passes ordinary SQL through") {
    val root = freshRoot(); seed(root)
    val parser = new GraftSqlParser(spark.sessionState.sqlParser)
    // DML with a path target parses to a graft command; executing the
    // plan IS what spark.sql does in a GraftSession
    val plan = parser.parsePlan(s"DELETE FROM `$root` WHERE id = 3")
    assert(plan.isInstanceOf[org.apache.spark.sql.graft.GraftCommand])
    org.apache.spark.sql.graft.CommandBridge.dataFrame(spark, plan).collect()
    assert(VersionedTable.read(spark, root).count() == 19)
    // ordinary statements come out of the delegate untouched
    val q = parser.parsePlan("SELECT 1 AS one")
    assert(!q.isInstanceOf[org.apache.spark.sql.graft.GraftCommand])
    // catalog-table DML is NOT intercepted (stays Spark's)
    val cat = parser.parsePlan("DELETE FROM some_catalog_table WHERE id = 1")
    assert(!cat.isInstanceOf[org.apache.spark.sql.graft.GraftCommand])
  }
}
