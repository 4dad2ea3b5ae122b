package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema as commit metadata: every commit records its snapshot schema,
  * the COW/append paths REFUSE drifted writes at commit time (replacing
  * the old "caller owns compatibility" silent-corruption contract), and
  * [[VersionedTable.evolveSchema]] is the explicit, metadata-only way to
  * widen a table — old files backfill added columns as null at read time,
  * the Delta schema-in-the-log shape on this format. */
class SchemaTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_schema").toString + "/t"

  test("commits record their schema; commitAppend refuses drifted frames") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    val recorded = VersionedTable.tableSchema(spark, root, 1L)
    assert(recorded.fieldNames.toSeq == Seq("id", "x"))

    // drop, add, and retype each refuse with a diagnostic — not a silent
    // parquet-union corruption at read time
    val dropCol = intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.commitAppend(Seq(2L).toDF("id"), root)
    }
    assert(dropCol.getMessage.contains("missing x"))
    val addCol = intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.commitAppend(Seq((2L, "b", 1.0)).toDF("id", "x", "score"), root)
    }
    assert(addCol.getMessage.contains("unexpected score"))
    val retype = intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.commitAppend(Seq((2L, 7L)).toDF("id", "x"), root)
    }
    assert(retype.getMessage.contains("retyped x"))
    // the table is untouched by the refused commits
    assert(VersionedTable.versions(spark, root) == Seq(1L))

    // a conforming append (different column ORDER is fine — resolution is
    // by name) lands
    VersionedTable.commitAppend(Seq(("b", 2L)).toDF("x", "id"), root)
    assert(VersionedTable.read(spark, root).count() == 2)
  }

  test("evolveSchema is metadata-only; old files backfill null; appends then conform") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    val evolved = StructType(Seq(
      StructField("id", LongType), StructField("x", StringType),
      StructField("score", DoubleType, nullable = true)))
    val v2 = VersionedTable.evolveSchema(spark, root, evolved)
    assert(v2 == 2L)
    // metadata-only: the new version writes no data file of its own
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ownBytes = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/v00000002"))
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    assert(ownBytes == 0L, s"evolveSchema rewrote data: $ownBytes bytes")
    // read-time null backfill for the added column, old rows intact
    val rows = VersionedTable.read(spark, root).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.forall(_.isNullAt(2)))
    // time travel still shows the pre-evolution schema
    assert(VersionedTable.readVersion(spark, root, 1L).columns.toSeq == Seq("id", "x"))

    // appends with the evolved schema now conform; mixed-vintage files
    // read as one frame with nulls only where no value exists
    VersionedTable.commitAppend(Seq((3L, "c", 0.9)).toDF("id", "x", "score"), root)
    val all = VersionedTable.read(spark, root).orderBy("id").collect()
    assert(all.length == 3 && all(2).getDouble(2) == 0.9 && all(0).isNullAt(2))
    // and data skipping on the evolved column still prunes correctly
    assert(VersionedTable.readWhere(spark, root, col("score") > 0.5)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("evolveSchema rejects drops, retypes, and non-nullable adds") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    intercept[IllegalArgumentException] { // drop x
      VersionedTable.evolveSchema(spark, root,
        StructType(Seq(StructField("id", LongType))))
    }
    intercept[IllegalArgumentException] { // retype x
      VersionedTable.evolveSchema(spark, root, StructType(Seq(
        StructField("id", LongType), StructField("x", LongType))))
    }
    intercept[IllegalArgumentException] { // non-nullable add
      VersionedTable.evolveSchema(spark, root, StructType(Seq(
        StructField("id", LongType), StructField("x", StringType),
        StructField("n", LongType, nullable = false))))
    }
    assert(VersionedTable.versions(spark, root) == Seq(1L))
  }

  test("ALTER TABLE ADD COLUMN(S): caller names only the additions; SQL routes through") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    // bare single form, then the parenthesized list with parameterized and
    // nested types (the forms a comma-split parser gets wrong)
    val r = graft.plans.GraftSql.execute(spark,
      s"ALTER TABLE '$root' ADD COLUMN score DOUBLE").collect().head
    assert(r.getString(0) == "ADD COLUMNS" && r.getLong(2) == 2L)
    graft.plans.GraftSql.execute(spark,
      s"ALTER TABLE '$root' ADD COLUMNS (amt DECIMAL(10,2), tags ARRAY<STRING>)")
    val sch = VersionedTable.tableSchema(spark, root, 3L)
    assert(sch.fieldNames.toSeq == Seq("id", "x", "score", "amt", "tags"))
    assert(sch.filter(f => f.name != "id" && f.name != "x").forall(_.nullable))
    // old rows backfill null across all three added columns
    val row = VersionedTable.read(spark, root).collect().head
    assert(row.isNullAt(2) && row.isNullAt(3) && row.isNullAt(4))
    // duplicates refuse loudly — against the table (case-insensitive, the
    // INSERT resolution convention) and within the ADD list itself
    intercept[IllegalArgumentException] {
      VersionedTable.addColumns(spark, root,
        StructType(Seq(StructField("X", StringType))))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.addColumns(spark, root, StructType(Seq(
        StructField("n", LongType), StructField("N", LongType))))
    }
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
  }

  test("ALTER COLUMN TYPE: metadata-only widening; narrow files serve; " +
    "skipping prunes across vintages; non-widenings refuse") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1, 1.5f), (200, 2.5f)).toDF("i", "f"), root) // v1: int, float
    graft.plans.GraftSql.execute(spark,
      s"ALTER TABLE '$root' ALTER COLUMN i TYPE BIGINT")                    // v2
    graft.plans.GraftSql.execute(spark,
      s"ALTER TABLE '$root' ALTER COLUMN f TYPE DOUBLE")                    // v3
    // metadata-only: the widening commits rewrote no data
    val fh = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(2, 3).foreach { v =>
      val own = fh.listStatus(new org.apache.hadoop.fs.Path(f"$root/v$v%08d"))
        .filter(s => s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      assert(own < 4096, s"widening v$v rewrote data: $own bytes")
    }
    // the narrow v1 files serve through the widened schema, values intact
    val sch = VersionedTable.read(spark, root).schema
    assert(sch("i").dataType == LongType && sch("f").dataType == DoubleType)
    val got = VersionedTable.read(spark, root).orderBy("i").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 200L))
    assert(math.abs(got(1).getDouble(1) - 2.5) < 1e-9)
    // time travel still shows the narrow era
    assert(VersionedTable.readVersion(spark, root, 1L)
      .schema("i").dataType == IntegerType)
    // appends now carry the wide type — including values an int cannot hold
    VersionedTable.commitAppend(Seq((5000000000L, 9.25)).toDF("i", "f"), root)
    // data skipping stays correct across mixed-vintage files: long-kind
    // stats from int32 files compare against the widened literal
    assert(VersionedTable.readWhere(spark, root, col("i") > 3000000000L)
      .collect().map(_.getLong(0)).toSeq == Seq(5000000000L))
    assert(VersionedTable.readWhere(spark, root, col("i") === 200L)
      .collect().map(_.getLong(0)).toSeq == Seq(200L))
    // refusals: narrowing, cross-family, unknown column
    intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root, "i", IntegerType)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root, "f", StringType)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root, "nope", LongType)
    }
  }

  test("date -> timestamp_ntz widening: the widen commit converts carried " +
    "stats from days to micros; prune-correct and row-exact across vintages") {
    val root = freshRoot()
    // vintage 1: a DATE column, range-clustered so the footer stats bite
    // (3 files over Jan 2024)
    val dates = (1 to 30).map(d => (d.toLong, f"2024-01-$d%02d")).toDF("id", "ds")
      .withColumn("d", col("ds").cast("date")).drop("ds")
      .repartitionByRange(3, col("d")).sortWithinPartitions("d")
    VersionedTable.commit(dates, root)
    VersionedTable.widenColumn(spark, root, "d", TimestampNTZType)     // v2
    // metadata-only: no data rewritten by the widening commit
    val fh = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val own = fh.listStatus(new org.apache.hadoop.fs.Path(root + "/v00000002"))
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    assert(own < 4096, s"widening rewrote data: $own bytes")
    // vintage 2: native NTZ appends (new unit, new files)
    VersionedTable.commitAppend(
      Seq((101L, "2024-02-05 13:30:00"), (102L, "2024-02-20 01:00:00"))
        .toDF("id", "ds")
        .withColumn("d", to_timestamp_ntz(col("ds"))).drop("ds"), root)
    // reads serve old date files as midnight NTZ
    assert(VersionedTable.read(spark, root).schema("d").dataType ==
      TimestampNTZType)
    // PRUNE-CORRECTNESS across the evolution: a micros-range predicate
    // over the OLD vintage must admit exactly the matching rows — with
    // the r9-refused unit mismatch (day stats vs micro literals) these
    // files would be silently skipped and rows lost
    val pred = col("d") >= to_timestamp_ntz(lit("2024-01-10 00:00:00")) &&
      col("d") < to_timestamp_ntz(lit("2024-01-12 00:00:00"))
    val got = VersionedTable.readWhere(spark, root, pred)
    assert(got.collect().map(_.getLong(0)).toSet == Set(10L, 11L),
      "old-vintage date rows must survive a post-widening micros predicate")
    // ...and pruning still BITES: the two-day range opens one of the four
    // files, not the table
    val scanned = got.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value }
    got.collect()
    assert(scanned.exists(_ <= 2L),
      s"expected the converted stats to prune to <=2 files, scanned $scanned")
    // equality on a pre-widening date (midnight instant) and on a
    // post-widening timestamp both land exactly
    assert(VersionedTable.readWhere(spark, root,
      col("d") === to_timestamp_ntz(lit("2024-01-05 00:00:00")))
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(VersionedTable.readWhere(spark, root,
      col("d") === to_timestamp_ntz(lit("2024-02-05 13:30:00")))
      .collect().map(_.getLong(0)).toSeq == Seq(101L))
    // tz-adjusted TIMESTAMP stays refused (a date names no instant)
    val root2 = freshRoot()
    VersionedTable.commit(
      Seq((1L, java.sql.Date.valueOf("2024-01-01"))).toDF("id", "d"), root2)
    intercept[IllegalArgumentException] {
      VersionedTable.widenColumn(spark, root2, "d", TimestampType)
    }
  }

  test("pre-tracking snapshots are refused, not read with an inferred schema") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root)
    // a pre-upgrade table: no recorded schema (no grouped _meta record)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(s"$root/v00000001/_meta"), true)
    val faces: Seq[() => Any] = Seq(
      () => VersionedTable.tableSchema(spark, root, 1L),
      () => VersionedTable.read(spark, root).count(),
      () => VersionedTable.commitAppend(Seq((2L, "b")).toDF("id", "x"), root))
    faces.foreach { run =>
      assert(intercept[VersionedTable.ProtocolException](run()).version == 1L)
    }
    assert(VersionedTable.versions(spark, root) == Seq(1L)) // nothing upgraded it
  }
}
