package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.plans.GraftSql

/** A commit that lands no rows writes no data file. Every road whose
  * input is a zero-row frame — property, constraint and column DDL, the
  * MOR delete, partition drop, restore, both clones, convert and the
  * copy-ledger fold — publishes a version whose dir gains no `part-*`
  * file and whose refs are exactly those the road keeps. No staged data
  * write runs; only the road's extras (feed, mask, ledger) are written.
  * A caller's own empty `LocalRelation` frame lands the same shape. */
class ZeroRowCommitSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private lazy val fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** ids 1..20 as 2 key-clustered files: (id bigint, n int, x string). */
  private def seed(root: String, extras: Map[String, org.apache.spark.sql.DataFrame] = Map.empty): Unit =
    VersionedTable.commit(
      (1 to 20).map(i => (i.toLong, i, s"r$i")).toDF("id", "n", "x")
        .repartitionByRange(2, col("id")), root, extras = extras)

  private def refs(root: String, v: Long): Set[String] =
    VersionedTable.dataFileRefs(spark, root, v).toSet

  /** The `part-*` files under version `v`'s dir (partition subdirs
    * included, `_` sidecar dirs skipped), root-relative. */
  private def partFiles(root: String, v: Long): Set[String] = {
    val dirName = VersionedTable.snapshotAt(spark, root, v).dirName
    def walk(p: Path, rel: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, rel + n + "/")
        else if (n.startsWith("part-")) Seq(rel + n)
        else Nil
      }
    walk(new Path(root, dirName), dirName + "/").toSet
  }

  /** Run `road`, which must publish a new version of `root`. Asserts it
    * ran no staged data write (every staged write lands in a `_` extra
    * subdir) and returns the version and the extras it wrote. */
  private def zeroRow(root: String)(road: => Long): (Long, Seq[String]) = {
    val before = VersionedTable.currentVersion(spark, root)
    val (v, writes) = stagedWriteTargets(road)
    assert(before.forall(v > _), s"no new version: $before -> $v")
    val data = writes.filterNot(p => new Path(p).getName.startsWith("_"))
    assert(data.isEmpty, s"a staged data write ran: $data")
    (v, writes.map(p => new Path(p).getName))
  }

  /** The version's refs are exactly `expected`, and its dir holds no
    * part file beyond the refs that point into it. */
  private def assertRefs(root: String, v: Long, expected: Set[String]): Unit = {
    assert(refs(root, v) == expected)
    val dirName = VersionedTable.snapshotAt(spark, root, v).dirName
    assert(partFiles(root, v) == expected.filter(_.startsWith(dirName + "/")),
      s"v$v's dir holds part files it does not reference")
  }

  test("metadata and column DDL commits write no data file") {
    val root = freshRoot("graft_zr_ddl")
    seed(root)
    val kept = refs(root, 1L)
    val roads: Seq[(String, () => Long)] = Seq(
      "SET TBLPROPERTIES" -> (() =>
        VersionedTable.setProperties(spark, root, Map("owner" -> "etl"))),
      "ADD CONSTRAINT" -> (() =>
        VersionedTable.addConstraint(spark, root, "pos_id", "id > 0")),
      "DROP CONSTRAINT" -> (() =>
        VersionedTable.dropConstraint(spark, root, "pos_id")),
      "ADD COLUMNS" -> (() => VersionedTable.evolveSchema(spark, root,
        VersionedTable.schemaOf(spark, VersionedTable.latest(spark, root).get)
          .add(StructField("note", StringType, nullable = true)))),
      "ALTER COLUMN TYPE" -> (() =>
        VersionedTable.widenColumn(spark, root, "n", LongType)),
      "RENAME COLUMN" -> (() => VersionedTable.renameColumn(spark, root, "x", "label")),
      "DROP COLUMN" -> (() => VersionedTable.dropColumn(spark, root, "note")))
    for ((name, road) <- roads) {
      val (v, extras) = zeroRow(root)(road())
      assert(extras.isEmpty, s"$name wrote extras: $extras")
      withClue(name)(assertRefs(root, v, kept))
    }
    val rows = VersionedTable.read(spark, root).orderBy("id").collect()
    assert(rows.length == 20)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("id", "n", "label"))
    assert(rows.head == Row(1L, 1L, "r1"))
  }

  test("a merge-on-read DELETE writes its mask and feed, no data file") {
    val root = freshRoot("graft_zr_mor")
    seed(root)
    val kept = refs(root, 1L)
    val (v, extras) = zeroRow(root)(
      VersionedTable.deleteWhere(spark, root, col("id") <= 3, mor = true))
    assert(extras.toSet == Set("_dv", "_changes"), extras)
    assertRefs(root, v, kept)
    assert(VersionedTable.read(spark, root).count() == 17L)
  }

  test("a partition drop writes no data file (the road needs a partitioned table)") {
    val root = freshRoot("graft_zr_pdrop")
    VersionedTable.commit((1 to 20).map(i => (i.toLong, i % 2)).toDF("id", "p"),
      root, partitionBy = Seq("p"))
    val before = refs(root, 1L)
    val (v, _) = zeroRow(root)(VersionedTable.deleteWhere(spark, root, col("p") === 0))
    val kept = before.filterNot(_.contains("p__p=0/"))
    assert(kept.nonEmpty && kept.size < before.size)
    assertRefs(root, v, kept)
    assert(VersionedTable.read(spark, root).count() == 10L)
  }

  test("RESTORE writes its feed, no data file") {
    val root = freshRoot("graft_zr_restore")
    seed(root)
    VersionedTable.commitAppend(Seq((21L, 21, "r21")).toDF("id", "n", "x"), root)
    val (v, extras) = zeroRow(root)(VersionedTable.restore(spark, root, 1L))
    assert(extras.toSet == Set("_changes"), extras)
    assertRefs(root, v, refs(root, 1L))
    assert(VersionedTable.read(spark, root).count() == 20L)
  }

  test("SHALLOW and DEEP CLONE write no data file beyond the copies") {
    val src = freshRoot("graft_zr_src")
    seed(src)
    val srcRefs = refs(src, 1L)
    val shallow = freshRoot("graft_zr_shallow")
    val (vs, _) = zeroRow(shallow)(VersionedTable.shallowClone(spark, shallow, src))
    assertRefs(shallow, vs,
      srcRefs.map(r => fs.makeQualified(new Path(src, r)).toString))
    val deep = freshRoot("graft_zr_deep")
    val (vd, _) = zeroRow(deep)(VersionedTable.deepClone(spark, deep, src))
    val copies = partFiles(deep, vd)
    assert(copies.size == srcRefs.size)
    assertRefs(deep, vd, copies)
    for (t <- Seq(shallow, deep))
      assert(VersionedTable.read(spark, t).count() == 20L)
  }

  test("CONVERT writes no data file into its version dir") {
    val root = freshRoot("graft_zr_convert")
    (1 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "x")
      .repartition(2).write.parquet(root)
    val listed = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    val (v, _) = zeroRow(root)(VersionedTable.convertToGraft(spark, root))
    assert(partFiles(root, v).isEmpty)
    assert(refs(root, v).map(r => new Path(r).getName) == listed)
    assert(VersionedTable.read(spark, root).count() == 20L)
  }

  test("the copy-ledger fold writes its ledger, no data file") {
    val root = freshRoot("graft_zr_fold")
    seed(root, extras = Map("copyfiles" -> Seq("landing/a.csv").toDF("file")))
    val kept = refs(root, 1L)
    val (v, extras) = zeroRow(root)(VersionedTable.foldCopyLedger(spark, root))
    assert(extras.toSet == Set("_copyfull"), extras)
    assertRefs(root, v, kept)
  }

  test("a caller's empty LocalRelation frame lands a version with no data " +
      "file that reads back empty under its schema") {
    val root = freshRoot("graft_zr_birth")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", StringType)))
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val (v1, extras) = zeroRow(root)(VersionedTable.commit(empty, root))
    assert(v1 == 1L && extras.isEmpty)
    assertRefs(root, v1, Set.empty)
    def shape(st: StructType) = st.map(f => (f.name, f.dataType))
    for (df <- Seq(VersionedTable.read(spark, root),
        VersionedTable.readWhere(spark, root, col("id") === 1L))) {
      assert(shape(df.schema) == shape(schema))
      assert(df.count() == 0L)
    }
    val v2 = VersionedTable.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    assert(v2 == 2L)
    assert(VersionedTable.read(spark, root).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
    val asOf1 = GraftSql.execute(spark, s"SELECT * FROM '$root' VERSION AS OF 1")
    assert(shape(asOf1.schema) == shape(schema))
    assert(asOf1.count() == 0L)
  }
}
