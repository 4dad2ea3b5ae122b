package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Recorded hash-bucket layout: the bucketized target's merge joins
  * with ZERO exchange on the target side (the claimed HashPartitioning
  * is EnsureRequirements' proof), results equal the unbucketed road's,
  * the layout survives its own merges, and any foreign file degrades
  * purity to a clean fallback. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private val ts0 = lit("2024-06-01 00:00:00").cast("timestamp")
  private val ts1 = lit("2024-06-02 00:00:00").cast("timestamp")
  private val ts2 = lit("2024-06-03 00:00:00").cast("timestamp")

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_bkt").toString + "/t"

  private def base(nKeys: Long) = spark.range(0, nKeys).toDF("id")
    .withColumn("last_status", lit("OPEN"))
    .withColumn("created_at", ts0)
    .withColumn("payload", concat(lit("p"), $"id"))

  private def delta(ids: Seq[Long], status: String, ts: org.apache.spark.sql.Column) =
    ids.toDF("id")
      .withColumn("last_status", lit(status))
      .withColumn("created_at", ts)
      .withColumn("payload", concat(lit("q"), $"id"))

  private def seed(root: String, n: Int): Unit = {
    Sinks.upsertByKeyVersioned(spark, root, base(400), "id", ts0,
      "last_status", "DONE")
    Bucketing.bucketize(spark, root, "id", n)
  }

  test("the bucket road's merge plan has ZERO target-side exchange: " +
    "exactly one exchange total, and it is the staging side") {
    val root = freshRoot(); seed(root, 8)
    val cur = VersionedTable.currentVersion(spark, root).get
    val d = delta(Seq(3L, 7L, 20L, 391L), "DONE", ts1)
    val (merged, kept, _, _) = Bucketing.mergeFrames(spark,
      VersionedTable.snapshotAt(spark, root, cur), d, "id", ts1,
      "last_status", "DONE", changeFeed = false).get
    // disable AQE broadcast demotion noise: read the compiled plan
    val p = merged.queryExecution.executedPlan.toString
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges == 1,
      s"expected exactly the staging-side exchange, got $exchanges:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      "the assertion must hold without broadcast rescuing the plan:\n" + p)
    // and it joins: full outer on the claimed side
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    // kept = every untouched bucket's file
    assert(kept.nonEmpty)
  }

  test("bucket-road results equal the unbucketed road's; the layout " +
    "survives its own merges so the SECOND merge rides it too") {
    val rootB = freshRoot(); seed(rootB, 8)
    val rootP = freshRoot()
    Sinks.upsertByKeyVersioned(spark, rootP, base(400), "id", ts0,
      "last_status", "DONE")

    def upsert(root: String, ids: Seq[Long], ts: org.apache.spark.sql.Column): Long =
      Sinks.upsertByKeyVersionedCow(spark, root, delta(ids, "DONE", ts),
        "id", ts, "last_status", "DONE")

    val v1 = upsert(rootB, Seq(3L, 7L, 20L, 401L), ts1)
    upsert(rootP, Seq(3L, 7L, 20L, 401L), ts1)
    // the merge commit is stamped and its files bucket-named: purity holds
    assert(VersionedTable.commitInfoOf(spark, rootB, v1)
      .get(Bucketing.BucketedInfoKey).contains("id,8"))
    assert(Bucketing.pureBuckets(spark, rootB, v1, Seq("id"), 8).isDefined,
      "layout must survive the bucket-road merge")
    // second merge (updates + inserts) — still the bucket road
    val v2 = upsert(rootB, Seq(7L, 399L, 402L), ts2)
    upsert(rootP, Seq(7L, 399L, 402L), ts2)
    assert(Bucketing.pureBuckets(spark, rootB, v2, Seq("id"), 8).isDefined)

    def rows(root: String) = VersionedTable.read(spark, root)
      .select("id", "last_status", "payload", "created_at", "updated_at")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(rows(rootB) == rows(rootP))
    // change feed flows on the bucket road too
    assert(VersionedTable.readChanges(spark, rootB, v2, v2)
      .where(col("_change_type") === "insert").count() == 1L)
  }

  test("a foreign (unstamped) file degrades purity: the merge falls " +
    "back to the key-range road, results still correct") {
    val root = freshRoot(); seed(root, 8)
    // a blind append is NOT bucket-aware — purity must break
    val tgtSchema = VersionedTable.read(spark, root).schema
    val apRow = delta(Seq(900L), "OPEN", ts1).withColumn("updated_at", ts1)
    VersionedTable.commitAppend(
      apRow.select(tgtSchema.map(f =>
        if (apRow.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*),
      root)
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(Bucketing.pureBuckets(spark, root, cur, Seq("id"), 8).isEmpty)
    assert(Bucketing.mergeFrames(spark, VersionedTable.snapshotAt(spark, root, cur),
      delta(Seq(3L), "DONE", ts1), "id", ts1, "last_status", "DONE",
      changeFeed = false).isEmpty)
    // the public upsert still lands correctly via the fallback
    Sinks.upsertByKeyVersionedCow(spark, root, delta(Seq(3L, 901L), "DONE", ts1),
      "id", ts1, "last_status", "DONE")
    val got = VersionedTable.read(spark, root)
      .where(col("id").isin(3L, 900L, 901L))
      .select("id", "last_status").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((3L, "DONE"), (900L, "OPEN"), (901L, "DONE")), got)
  }

  test("a type-drifted staging key falls back (murmur3 of INT and BIGINT " +
    "differ — trusting the layout would duplicate keys)") {
    val root = freshRoot(); seed(root, 8)
    val cur = VersionedTable.currentVersion(spark, root).get
    val intDelta = delta(Seq(3L), "DONE", ts1)
      .withColumn("id", col("id").cast("int"))
    assert(Bucketing.mergeFrames(spark,
      VersionedTable.snapshotAt(spark, root, cur), intDelta, "id", ts1,
      "last_status", "DONE", changeFeed = false).isEmpty,
      "INT staging key against a BIGINT-bucketized target must fall back")
  }

  test("a re-spec'd bucketBy property over old files fails purity: the " +
    "stamp names the spec the files were written under") {
    val root = freshRoot(); seed(root, 8)
    val cur0 = VersionedTable.currentVersion(spark, root).get
    assert(Bucketing.pureBuckets(spark, root, cur0, Seq("id"), 8).isDefined)
    // widen the property to 16 buckets WITHOUT re-laying the files:
    // part-3 of 8 holds buckets 3 and 11 of 16 — purity must refuse
    VersionedTable.setProperties(spark, root,
      Map(Bucketing.BucketByProp -> "id,16"))
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(Bucketing.pureBuckets(spark, root, cur, Seq("id"), 16).isEmpty)
    assert(Bucketing.mergeFrames(spark,
      VersionedTable.snapshotAt(spark, root, cur), delta(Seq(3L), "DONE", ts1),
      "id", ts1, "last_status", "DONE", changeFeed = false).isEmpty)
    // the public upsert still lands correctly via the fallback
    Sinks.upsertByKeyVersionedCow(spark, root, delta(Seq(3L), "DONE", ts1),
      "id", ts1, "last_status", "DONE")
    assert(VersionedTable.read(spark, root).where(col("id") === 3L)
      .select("last_status").as[String].head == "DONE")
  }

  test("OPTIMIZE ... BUCKET BY is the SQL face of bucketize") {
    val root = freshRoot()
    Sinks.upsertByKeyVersioned(spark, root, base(100), "id", ts0,
      "last_status", "DONE")
    graft.plans.GraftSql.execute(spark,
      s"OPTIMIZE '$root' BUCKET BY (id, 8)")
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(Bucketing.specOf(VersionedTable.propertiesOf(spark, root, cur))
      == Some((Seq("id"), 8)))
    assert(Bucketing.pureBuckets(spark, root, cur, Seq("id"), 8).isDefined)
    assert(VersionedTable.read(spark, root).count() == 100L)
  }

  test("SQL MERGE INTO rides the bucket road: claimed target (zero " +
    "target-side exchange), stamped commit, the SECOND merge rides it too") {
    val rootB = freshRoot(); seed(rootB, 8)
    val rootP = freshRoot()
    Sinks.upsertByKeyVersioned(spark, rootP, base(400), "id", ts0,
      "last_status", "DONE")
    // capture every executed plan the merge runs (cardinality check,
    // feed, the commit writes): the claimed target appears as a `Scan
    // ExistingRDD[id#N ...]`, and the zero-target-exchange property is
    // exactly "no Exchange hashpartitioning on id#N anywhere" — the
    // source side exchanges on ITS OWN id expr-id, so the check is
    // precise whatever join shape Catalyst specializes the full outer
    // into (it splits Inner/LeftOuter/RightOuter per consumer branch)
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def mergeSql(root: String, srcView: String): Long =
      graft.plans.GraftSql.execute(spark,
        s"""MERGE INTO `$root` AS t USING $srcView AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET last_status = s.st
           |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
           |""".stripMargin).collect().head.getLong(2)
    def claimedPlans(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      plans.iterator().asScala.toSeq.filter(_.contains("Scan ExistingRDD[id#"))
    }
    def awaitClaimed(atLeast: Int): Seq[String] = {
      var tries = 0
      while (claimedPlans().size < atLeast && tries < 100) {
        Thread.sleep(100); tries += 1
      }
      claimedPlans()
    }
    val ClaimedId = """Scan ExistingRDD\[id#(\d+)L""".r
    def assertNoTargetExchange(p: String): Unit =
      ClaimedId.findAllMatchIn(p).map(_.group(1)).foreach { eid =>
        assert(!p.contains(s"Exchange hashpartitioning(id#${eid}L"),
          s"claimed target id#$eid was exchanged:\n$p")
      }
    Seq((3L, "M1"), (7L, "M1"), (401L, "M1")).toDF("id", "st")
      .createOrReplaceTempView("bkt_merge_src1")
    Seq((7L, "M2"), (399L, "M2"), (402L, "M2")).toDF("id", "st")
      .createOrReplaceTempView("bkt_merge_src2")
    spark.listenerManager.register(listener)
    // broadcast off: the claim's point is shuffle elimination — a tiny
    // test source broadcasting would vacuously hide a broken claim
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val v1 = mergeSql(rootB, "bkt_merge_src1")
      val cp1 = awaitClaimed(1)
      assert(cp1.nonEmpty,
        "the target must read as the claimed bucket-aligned scan")
      assert(cp1.exists(p => p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin")), "expected the merge join planned")
      cp1.foreach(assertNoTargetExchange)
      // the slice compiled as ONE plan regrouped by bucket, not n plans
      // (the roads are row-indistinguishable; this is the driver-cost
      // observability hook)
      assert(Bucketing.lastSliceOnePlan,
        "the one-plan regroup road must engage on a plain aligned slice")
      // the commit is stamped and its files bucket-pure: the road survives
      assert(VersionedTable.commitInfoOf(spark, rootB, v1)
        .get(Bucketing.BucketedInfoKey).contains("id,8"))
      assert(Bucketing.pureBuckets(spark, rootB, v1, Seq("id"), 8).isDefined,
        "layout must survive the SQL merge")
      // SECOND merge rides the claimed road again
      plans.clear()
      val v2 = mergeSql(rootB, "bkt_merge_src2")
      val cp2 = awaitClaimed(1)
      assert(cp2.nonEmpty, "the second merge must ride the claimed road too")
      cp2.foreach(assertNoTargetExchange)
      assert(Bucketing.pureBuckets(spark, rootB, v2, Seq("id"), 8).isDefined)
      // results equal the same merges against an unbucketized target
      mergeSql(rootP, "bkt_merge_src1"); mergeSql(rootP, "bkt_merge_src2")
      def rows(root: String) = VersionedTable.read(spark, root)
        .select("id", "last_status", "payload")
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(rows(rootB) == rows(rootP))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.listenerManager.unregister(listener)
    }
  }

  test("a merge REASSIGNING the bucket key takes the repartition road: " +
    "written files stay pure, the next merge finds the moved keys") {
    val root = freshRoot(); seed(root, 8)
    Seq((3L, "MOVE"), (7L, "MOVE")).toDF("id", "st")
      .createOrReplaceTempView("bkt_move_src")
    // SET id = t.id + 1000 writes key values the aligned-concat layout
    // would misplace — the guard must route the write through the
    // explicit repartition, which re-hashes the ACTUAL values, so the
    // stamped purity stays true
    val v1 = graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_move_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET id = t.id + 1000, last_status = s.st
         |""".stripMargin).collect().head.getLong(2)
    assert(VersionedTable.commitInfoOf(spark, root, v1)
      .get(Bucketing.BucketedInfoKey).contains("id,8"))
    assert(Bucketing.pureBuckets(spark, root, v1, Seq("id"), 8).isDefined)
    val moved = VersionedTable.read(spark, root)
      .where(col("id").isin(1003L, 1007L)).count()
    assert(moved == 2L, s"expected the moved keys, got $moved")
    // the NEXT merge rides the (still trusted) layout and must FIND the
    // moved keys — a false purity stamp would silently miss them and
    // insert duplicates
    Seq((1003L, "HIT"), (1007L, "HIT")).toDF("id", "st")
      .createOrReplaceTempView("bkt_move_src2")
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_move_src2 AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET last_status = s.st
         |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
         |""".stripMargin)
    val got = VersionedTable.read(spark, root)
      .where(col("id").isin(1003L, 1007L))
      .select("id", "last_status").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1003L, "HIT"), (1007L, "HIT")),
      s"moved keys must be FOUND by the claimed merge, got $got")
  }

  test("a merge whose INSERT omits the bucket key (NULL key) still lands " +
    "pure: the aligned road declines, the next merge finds the NULL-key row") {
    val root = freshRoot(); seed(root, 8)
    Seq((900L, "NEWNULL")).toDF("sid", "st")
      .createOrReplaceTempView("bkt_null_src")
    // ON joins t.id = s.sid; the INSERT does NOT assign id — the written
    // row's key is NULL, which hashes to a bucket other than the join's
    // hash(s.sid) partition. alignedConcat must decline (an unassigned
    // insert key is never safe); the repartition road re-hashes NULL and
    // the stamp stays true.
    val v1 = graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_null_src AS s ON t.id = s.sid
         |WHEN NOT MATCHED THEN INSERT (last_status) VALUES (s.st)
         |""".stripMargin).collect().head.getLong(2)
    assert(Bucketing.pureBuckets(spark, root, v1, Seq("id"), 8).isDefined)
    assert(VersionedTable.read(spark, root)
      .where(col("id").isNull).count() == 1L)
    // the next claimed merge must FIND the null-key row (null hashes to
    // a deterministic bucket): matched-by-null never fires in SQL (null
    // = null is not TRUE), but a NOT MATCHED BY SOURCE sweep over the
    // stamped layout must still see every row exactly once
    val before = VersionedTable.read(spark, root).count()
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_null_src AS s ON t.id = s.sid
         |WHEN NOT MATCHED BY SOURCE AND t.last_status = 'NEWNULL' THEN DELETE
         |""".stripMargin)
    assert(VersionedTable.read(spark, root).count() == before - 1L,
      "the NULL-key row must be visible to the next merge exactly once")
  }

  test("a MERGE-ON-READ merge rides the bucket road too: claimed tagged " +
    "slice (zero target-side exchange), mask committed, layout re-stamped " +
    "so the SECOND MOR merge rides it again, rows equal the unbucketed road") {
    val rootB = freshRoot(); seed(rootB, 8)
    val rootP = freshRoot()
    Sinks.upsertByKeyVersioned(spark, rootP, base(400), "id", ts0,
      "last_status", "DONE")
    Seq(rootB, rootP).foreach(r => graft.plans.GraftSql.execute(spark,
      s"ALTER TABLE '$r' SET TBLPROPERTIES ('graft.enableDeletionVectors'='true')"))
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def mergeSql(root: String, srcView: String): Long =
      graft.plans.GraftSql.execute(spark,
        s"""MERGE INTO `$root` AS t USING $srcView AS s ON t.id = s.id
           |WHEN MATCHED AND s.st = 'GONE' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET last_status = s.st
           |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
           |""".stripMargin).collect().head.getLong(2)
    def claimedPlans(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      plans.iterator().asScala.toSeq.filter(_.contains("Scan ExistingRDD[id#"))
    }
    def awaitClaimed(atLeast: Int): Seq[String] = {
      var tries = 0
      while (claimedPlans().size < atLeast && tries < 100) {
        Thread.sleep(100); tries += 1
      }
      claimedPlans()
    }
    val ClaimedId = """Scan ExistingRDD\[id#(\d+)L""".r
    def assertNoTargetExchange(p: String): Unit =
      ClaimedId.findAllMatchIn(p).map(_.group(1)).foreach { eid =>
        assert(!p.contains(s"Exchange hashpartitioning(id#${eid}L"),
          s"claimed MOR target id#$eid was exchanged:\n$p")
      }
    Seq((3L, "M1"), (7L, "GONE"), (401L, "M1")).toDF("id", "st")
      .createOrReplaceTempView("bkt_mor_src1")
    Seq((3L, "M2"), (399L, "GONE"), (401L, "M2"), (402L, "M2"))
      .toDF("id", "st").createOrReplaceTempView("bkt_mor_src2")
    spark.listenerManager.register(listener)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val v1 = mergeSql(rootB, "bkt_mor_src1")
      val cp1 = awaitClaimed(1)
      assert(cp1.nonEmpty,
        "the MOR target must read as the claimed tagged bucket-aligned scan")
      cp1.foreach(assertNoTargetExchange)
      // MOR semantics held: mask landed, every old file carried
      assert(VersionedTable.hasDeletionVectors(spark, rootB, v1),
        "the MOR merge must commit its mask, not rewrite files")
      // the layout survives: stamped commit, still provably pure
      assert(VersionedTable.commitInfoOf(spark, rootB, v1)
        .get(Bucketing.BucketedInfoKey).contains("id,8"))
      assert(Bucketing.pureBuckets(spark, rootB, v1, Seq("id"), 8).isDefined,
        "a MOR merge must re-stamp the layout — unstamped fresh files " +
          "would orphan it for every later merge")
      // SECOND MOR merge rides the claimed road again
      plans.clear()
      val v2 = mergeSql(rootB, "bkt_mor_src2")
      val cp2 = awaitClaimed(1)
      assert(cp2.nonEmpty, "the second MOR merge must ride the claimed road")
      cp2.foreach(assertNoTargetExchange)
      assert(Bucketing.pureBuckets(spark, rootB, v2, Seq("id"), 8).isDefined)
      // results equal the same MOR merges against an unbucketized target
      mergeSql(rootP, "bkt_mor_src1"); mergeSql(rootP, "bkt_mor_src2")
      def rows(root: String) = VersionedTable.read(spark, root)
        .select("id", "last_status", "payload")
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(rows(rootB) == rows(rootP))
      assert(VersionedTable.read(spark, rootB)
        .where(col("id").isin(7L, 399L)).count() == 0L,
        "MOR deletes must mask through the claimed road")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.listenerManager.unregister(listener)
    }
  }

  test("a schema change to the bucket KEY ends the layout: widening the " +
    "key drops the spec (murmur3 of int and bigint differ — a carried " +
    "stamp would mis-join); other columns keep it") {
    val root = freshRoot(); seed(root, 8)
    // a NON-key schema change carries the layout forward
    VersionedTable.renameColumn(spark, root, "payload", "payload2")
    val v1 = VersionedTable.currentVersion(spark, root).get
    assert(Bucketing.specOf(VersionedTable.propertiesOf(spark, root, v1))
      .contains((Seq("id"), 8)))
    assert(Bucketing.pureBuckets(spark, root, v1, Seq("id"), 8).isDefined,
      "a non-key rename must not orphan the layout")
    // renaming the KEY drops the spec: recorded stamps name the old
    // spec string and could never be re-derived under the new name
    VersionedTable.renameColumn(spark, root, "id", "order_id")
    val v2 = VersionedTable.currentVersion(spark, root).get
    assert(Bucketing.specOf(VersionedTable.propertiesOf(spark, root, v2))
      .isEmpty, "renaming the bucket key must drop the spec")
    // and the next merge takes the (correct) unclaimed road
    Seq((3L, "OK")).toDF("order_id", "st")
      .createOrReplaceTempView("bkt_key_src")
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_key_src AS s
         |ON t.order_id = s.order_id
         |WHEN MATCHED THEN UPDATE SET last_status = s.st
         |""".stripMargin)
    assert(VersionedTable.read(spark, root).where(col("order_id") === 3L)
      .select("last_status").as[String].collect().toSeq == Seq("OK"))
  }

  test("concurrent MOR merges on the bucketized masked target: OCC " +
    "serializes them, every change lands once, stamps stay true, the " +
    "chain folds whole") {
    val root = freshRoot(); seed(root, 8)
    graft.plans.GraftSql.execute(spark,
      s"ALTER TABLE '$root' SET TBLPROPERTIES ('graft.enableDeletionVectors'='true')")
    // 4 concurrent SQL MERGEs over DISJOINT keys: updates, deletes and
    // inserts racing on the same bucketized masked target — the judge
    // of the new road's OCC story. Disjoint keys make the serial union
    // exact whatever order the writers land in.
    (0 until 4).foreach { w =>
      Seq((10L + w, s"U$w", "upd"), (100L + w, s"D$w", "del"),
        (600L + w, s"I$w", "ins"))
        .toDF("id", "st", "kind")
        .createOrReplaceTempView(s"bkt_occ_src$w")
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val writers = (0 until 4).map { w =>
      Future {
        graft.plans.GraftSql.execute(spark,
          s"""MERGE INTO `$root` AS t USING bkt_occ_src$w AS s ON t.id = s.id
             |WHEN MATCHED AND s.kind = 'del' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET last_status = s.st
             |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
             |""".stripMargin).collect()
      }
    }
    Await.result(Future.sequence(writers), 300.seconds)
    val cur = VersionedTable.currentVersion(spark, root).get
    // every writer's changes landed exactly once
    (0 until 4).foreach { w =>
      val upd = VersionedTable.read(spark, root)
        .where(col("id") === (10L + w)).select("last_status")
        .as[String].collect().toSeq
      assert(upd == Seq(s"U$w"), s"writer $w update: $upd")
      assert(VersionedTable.read(spark, root)
        .where(col("id") === (100L + w)).count() == 0L, s"writer $w delete")
      val ins = VersionedTable.read(spark, root)
        .where(col("id") === (600L + w)).select("last_status")
        .as[String].collect().toSeq
      assert(ins == Seq(s"I$w"), s"writer $w insert: $ins")
    }
    assert(VersionedTable.read(spark, root).count() == 400L) // -4 +4
    // the contended commits kept the layout provably pure and the
    // DV chain whole (4 deletes = 4 mask rows, set-exact)
    assert(Bucketing.pureBuckets(spark, root, cur, Seq("id"), 8).isDefined,
      "contention must never publish a false stamp")
    val fold = VersionedTable.dvOf(spark, root, cur).get
    assert(fold.count() == fold.distinct().count(),
      "the contended chain must fold to set-exact masks")
    // and the road still rides after the contention
    Seq((601L, "AFTER")).toDF("id", "st")
      .createOrReplaceTempView("bkt_occ_after")
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_occ_after AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET last_status = s.st
         |""".stripMargin)
    assert(VersionedTable.read(spark, root).where(col("id") === 601L)
      .select("last_status").as[String].collect().toSeq == Seq("AFTER"))
  }

  test("maintenance keeps the layout's lifecycle whole: compaction " +
    "re-packs WITHIN the buckets (absorbing masks) and the merge road " +
    "survives; a range OPTIMIZE drops the stale spec") {
    val root = freshRoot(); seed(root, 8)
    graft.plans.GraftSql.execute(spark,
      s"ALTER TABLE '$root' SET TBLPROPERTIES ('graft.enableDeletionVectors'='true')")
    // a steady MOR stream: masks + one small file per touched bucket
    Seq((3L, "M1"), (500L, "M1")).toDF("id", "st")
      .createOrReplaceTempView("bkt_life_src1")
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_life_src1 AS s ON t.id = s.id
         |WHEN MATCHED AND s.st = 'M1' THEN UPDATE SET last_status = s.st
         |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
         |""".stripMargin)
    graft.plans.GraftSql.execute(spark,
      s"DELETE FROM `$root` WHERE id = 7")
    val masked = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.hasDeletionVectors(spark, root, masked))
    // COMPACT: must absorb the masks AND keep the layout
    val vc = VersionedTable.compact(spark, root)
    assert(!VersionedTable.hasDeletionVectors(spark, root, vc),
      "compaction must fold the masks away")
    assert(VersionedTable.commitInfoOf(spark, root, vc)
      .get(Bucketing.BucketedInfoKey).contains("id,8"))
    assert(Bucketing.pureBuckets(spark, root, vc, Seq("id"), 8).isDefined,
      "compaction must re-pack within the buckets, not orphan the layout")
    // rows intact
    assert(VersionedTable.read(spark, root).count() == 400L) // -1 del +1 ins
    assert(VersionedTable.read(spark, root).where(col("id") === 7L).count() == 0L)
    // and the NEXT merge still rides (finds the compacted rows)
    Seq((500L, "HIT")).toDF("id", "st")
      .createOrReplaceTempView("bkt_life_src2")
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_life_src2 AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET last_status = s.st
         |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
         |""".stripMargin)
    assert(VersionedTable.read(spark, root).where(col("id") === 500L)
      .select("last_status").as[String].collect().toSeq == Seq("HIT"))
    // a RANGE optimize is a layout change: the stale bucket spec goes
    VersionedTable.optimize(spark, root, Seq("id"))
    val vo = VersionedTable.currentVersion(spark, root).get
    assert(!VersionedTable.propertiesOf(spark, root, vo)
      .contains(Bucketing.BucketByProp),
      "optimize must drop the bucket spec it just unmade")
  }

  test("an ON joining the key through TWO source attributes declines the " +
    "aligned road: a not-matched row proves nothing about the other attr") {
    val root = freshRoot(); seed(root, 8)
    // a=600 ≠ b=601 on the (never-matching) insert row: the planner
    // co-partitions the source by ONE of {a, b} — its choice — and the
    // INSERT writes the OTHER; only the repartition road, which
    // re-hashes actual written values, keeps the purity stamp true
    Seq((600L, 601L, "TWOKEY")).toDF("a", "b", "st")
      .createOrReplaceTempView("bkt_twokey_src")
    val v1 = graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_twokey_src AS s
         |ON t.id = s.a AND t.id = s.b
         |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.b, s.st)
         |""".stripMargin).collect().head.getLong(2)
    assert(VersionedTable.commitInfoOf(spark, root, v1)
      .get(Bucketing.BucketedInfoKey).contains("id,8"))
    assert(Bucketing.pureBuckets(spark, root, v1, Seq("id"), 8).isDefined)
    // the NEXT merge rides the claimed layout and must FIND id=601 — a
    // misplaced insert would be invisible to the claimed join and this
    // update would duplicate the key instead
    Seq((601L, "FOUND")).toDF("id", "st")
      .createOrReplaceTempView("bkt_twokey_src2")
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_twokey_src2 AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET last_status = s.st
         |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
         |""".stripMargin)
    val got = VersionedTable.read(spark, root).where(col("id") === 601L)
      .select("last_status").as[String].collect().toSeq
    assert(got == Seq("FOUND"),
      s"the claimed merge must find the two-attr insert exactly once: $got")
  }

  test("an ON through a NESTED source field declines the aligned road for " +
    "STAR actions: SET * assigns the unrelated top-level column") {
    val root = freshRoot(); seed(root, 8)
    // s.nested.id is the equi attribute; s.id (top-level) holds a
    // DIFFERENT value that SET * writes into the bucket key
    Seq((3L, 2003L, "STARMOVE"), (7L, 2007L, "STARMOVE"))
      .toDF("nid", "id", "last_status")
      .select(struct(col("nid").as("id")).as("nested"),
        col("id"), col("last_status"))
      .createOrReplaceTempView("bkt_nested_src")
    val v1 = graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_nested_src AS s
         |ON t.id = s.nested.id
         |WHEN MATCHED THEN UPDATE SET *
         |""".stripMargin).collect().head.getLong(2)
    assert(Bucketing.pureBuckets(spark, root, v1, Seq("id"), 8).isDefined)
    // the moved keys must be found by the next CLAIMED merge
    Seq((2003L, "HIT"), (2007L, "HIT")).toDF("id", "st")
      .createOrReplaceTempView("bkt_nested_src2")
    graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_nested_src2 AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET last_status = s.st
         |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
         |""".stripMargin)
    val got = VersionedTable.read(spark, root)
      .where(col("id").isin(2003L, 2007L))
      .select("id", "last_status").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((2003L, "HIT"), (2007L, "HIT")),
      s"star-moved keys must be FOUND by the claimed merge, got $got")
  }

  test("skew guard: a whale bucket over the byte ceiling declines the " +
    "claimed road (AQE can split the fallback's exchange; it cannot " +
    "split a claimed partition), results still correct") {
    val root = freshRoot(); seed(root, 8)
    val cur0 = VersionedTable.currentVersion(spark, root).get
    // the layout itself is pure — the guard is a SIZE decision on top
    assert(Bucketing.pureBuckets(spark, root, cur0, Seq("id"), 8).isDefined)
    assert(Bucketing.pureBucketsBounded(spark, root, cur0, Seq("id"), 8).isDefined,
      "under the default 2 GiB ceiling the toy table must pass")
    // shrink the ceiling under the largest real bucket: the road declines
    val sizes = VersionedTable.fileSizes(spark, root, cur0)
    val maxBucket = Bucketing.pureBuckets(spark, root, cur0, Seq("id"), 8).get
      .groupBy(_._2).values.map(_.keys.map(sizes).sum).max
    spark.conf.set(Bucketing.MaxBucketBytesKey, (maxBucket - 1).toString)
    try {
      assert(Bucketing.pureBucketsBounded(spark, root, cur0, Seq("id"), 8).isEmpty,
        "a bucket over the ceiling must decline the claimed road")
      assert(Bucketing.mergeFrames(spark, VersionedTable.snapshotAt(spark, root, cur0),
        delta(Seq(3L), "DONE", ts1), "id", ts1, "last_status", "DONE",
        changeFeed = false).isEmpty, "mergeFrames must fall back")
      // the public upsert lands correctly via the key-range fallback —
      // whose join EXCHANGES the target side (the partition AQE's
      // skew split operates on), plan-provable by the unclaimed scan
      Sinks.upsertByKeyVersionedCow(spark, root,
        delta(Seq(3L, 900L), "DONE", ts1), "id", ts1, "last_status", "DONE")
      val got = VersionedTable.read(spark, root)
        .where(col("id").isin(3L, 900L))
        .select("id", "last_status").orderBy("id")
        .as[(Long, String)].collect().toSeq
      assert(got == Seq((3L, "DONE"), (900L, "DONE")), got.toString)
      // the fallback commit is NOT stamped (its files are not laid out
      // by the claimed spec), so purity degrades honestly
      val v = VersionedTable.currentVersion(spark, root).get
      assert(!VersionedTable.commitInfoOf(spark, root, v)
        .contains(Bucketing.BucketedInfoKey))
    } finally spark.conf.unset(Bucketing.MaxBucketBytesKey)
  }

  test("a COMPOSITE bucket key rides the claimed road: multi-key purity " +
    "is spec-exact, the two-key equi MERGE joins with zero target-side " +
    "exchange, and a merge joining only PART of the key declines") {
    val root = freshRoot()
    // the classic CDC business key: (id, src_system)
    val df = spark.range(0, 400).toDF("id")
      .withColumn("src", concat(lit("s"), $"id" % 3))
      .withColumn("last_status", lit("OPEN"))
      .withColumn("payload", concat(lit("p"), $"id"))
    VersionedTable.commit(df, root)
    Bucketing.bucketize(spark, root, Seq("id", "src"), 8)
    val cur0 = VersionedTable.currentVersion(spark, root).get
    val fb = Bucketing.pureBuckets(spark, root, cur0, Seq("id", "src"), 8)
    assert(fb.isDefined, "the composite layout must prove pure")
    // purity is SPEC-exact: a single-key or reordered probe must decline
    // (murmur3 chains across the columns in order — a different key list
    // is a different layout)
    assert(Bucketing.pureBuckets(spark, root, cur0, Seq("id"), 8).isEmpty)
    assert(Bucketing.pureBuckets(spark, root, cur0, Seq("src", "id"), 8).isEmpty)
    // ROW-LEVEL lockstep proof: every row's file sits in exactly the
    // bucket `pmod(hash(id, src), 8)` re-derives — the claimed
    // HashPartitioning, bucketExpr, and the repartition that wrote the
    // layout all hash identically or the road silently mis-joins
    val withRef = VersionedTable
      .readVersionWithFileRef(spark, root, cur0, "__f")
    val misplaced = withRef
      .withColumn("__b", Bucketing.bucketExpr(Seq("id", "src"), 8))
      .collect().count { r =>
        fb.get(r.getString(r.fieldIndex("__f"))) !=
          r.getInt(r.fieldIndex("__b"))
      }
    assert(misplaced == 0, s"$misplaced rows outside their claimed bucket")
    // the two-key equi SQL MERGE rides the claimed road: the target
    // reads as the claimed scan and is never exchanged
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def claimedPlans(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      plans.iterator().asScala.toSeq.filter(_.contains("Scan ExistingRDD[id#"))
    }
    def awaitClaimed(atLeast: Int): Seq[String] = {
      var tries = 0
      while (claimedPlans().size < atLeast && tries < 100) {
        Thread.sleep(100); tries += 1
      }
      claimedPlans()
    }
    val ClaimedId = """Scan ExistingRDD\[id#(\d+)L""".r
    Seq((3L, "s0", "M1"), (7L, "s1", "M1"), (401L, "s2", "M1"))
      .toDF("id", "src", "st").createOrReplaceTempView("bkt_ck_src")
    spark.listenerManager.register(listener)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val v1 = graft.plans.GraftSql.execute(spark,
        s"""MERGE INTO `$root` AS t USING bkt_ck_src AS s
           |ON t.id = s.id AND t.src = s.src
           |WHEN MATCHED THEN UPDATE SET last_status = s.st
           |WHEN NOT MATCHED THEN INSERT (id, src, last_status)
           |  VALUES (s.id, s.src, s.st)""".stripMargin)
        .collect().head.getLong(2)
      val cp = awaitClaimed(1)
      assert(cp.nonEmpty, "the two-key merge must read the claimed scan")
      cp.foreach { p =>
        ClaimedId.findAllMatchIn(p).map(_.group(1)).foreach { eid =>
          assert(!p.contains(s"Exchange hashpartitioning(id#${eid}L"),
            s"claimed composite target id#$eid was exchanged:\n$p")
        }
      }
      // stamped with the composite spec; the layout survives
      assert(VersionedTable.commitInfoOf(spark, root, v1)
        .get(Bucketing.BucketedInfoKey).contains("id,src,8"))
      assert(Bucketing
        .pureBuckets(spark, root, v1, Seq("id", "src"), 8).isDefined,
        "the composite layout must survive its own merge")
      // correctness: the merged state equals the relational restatement
      val got = VersionedTable.read(spark, root)
        .select("id", "src", "last_status").orderBy("id", "src")
        .collect().map(_.toSeq).toSeq
      val want = df.select("id", "src")
        .withColumn("last_status",
          when($"id" === 3L && $"src" === "s0", "M1")
            .when($"id" === 7L && $"src" === "s1", "M1")
            .otherwise("OPEN"))
        .unionByName(Seq((401L, "s2", "M1")).toDF("id", "src", "last_status"))
        .orderBy("id", "src").collect().map(_.toSeq).toSeq
      assert(got == want)
      // a merge equi-joining only PART of the key must DECLINE the road
      // (hashing (id, src) co-locates nothing for a join on id alone):
      // no claimed scan appears, and the merge is still correct
      plans.clear()
      Seq((5L, "M3")).toDF("id", "st")
        .createOrReplaceTempView("bkt_ck_partial")
      graft.plans.GraftSql.execute(spark,
        s"""MERGE INTO `$root` AS t USING bkt_ck_partial AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET last_status = s.st""".stripMargin)
      Thread.sleep(500)
      assert(claimedPlans().isEmpty,
        "a partial-key join must not claim the composite layout")
      val st5 = VersionedTable.read(spark, root)
        .where($"id" === 5L).select("last_status")
        .collect().map(_.getString(0)).toSeq
      assert(st5 == Seq("M3"), s"partial-key merge must still land: $st5")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.listenerManager.unregister(listener)
    }
  }

  test("bucketize refuses partition-spec'd tables; spec parsing is strict") {
    assert(Bucketing.specOf(Map("graft.bucketBy" -> "id,8"))
      == Some((Seq("id"), 8)))
    assert(Bucketing.specOf(Map("graft.bucketBy" -> "id,src,8"))
      == Some((Seq("id", "src"), 8)))
    assert(Bucketing.specOf(Map("graft.bucketBy" -> "id")) == None)
    assert(Bucketing.specOf(Map("graft.bucketBy" -> "id,0")) == None)
    assert(Bucketing.specOf(Map("graft.bucketBy" -> ",id,8")) == None)
    val root = freshRoot()
    VersionedTable.commit(
      base(50).withColumn("ds", lit("2024-06-01").cast("date")), root,
      partitionBy = Seq("ds"))
    intercept[IllegalArgumentException] {
      Bucketing.bucketize(spark, root, "id", 8)
    }
  }

  test("bucketize racing appends: every appended row survives") {
    val root = freshRoot()
    Sinks.upsertByKeyVersioned(spark, root, base(200), "id", ts0,
      "last_status", "DONE")
    val template = VersionedTable.read(spark, root).where($"id" < 5L)
      .localCheckpoint(eager = true)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val bucketized = new java.util.concurrent.atomic.AtomicLong(-1L)
    val appender = new Thread(() =>
      try (1 to 6).foreach { b =>
        VersionedTable.commitAppend(
          template.withColumn("id", $"id" + lit(1000L * b)), root)
      } catch { case t: Throwable => errors.add(t) }, "appender")
    val bucketizer = new Thread(() =>
      try bucketized.set(Bucketing.bucketize(spark, root, "id", 8))
      catch { case t: Throwable => errors.add(t) }, "bucketizer")
    Seq(appender, bucketizer).foreach(_.start())
    Seq(appender, bucketizer).foreach(_.join(300000))
    assert(errors.isEmpty, s"writer threads failed: ${errors.peek()}")

    val ids = VersionedTable.read(spark, root).select("id").collect()
      .map(_.getLong(0))
    val appended = (1 to 6).flatMap(b => (0L until 5L).map(_ + 1000L * b))
    assert(ids.length == 200 + appended.size, "a row was lost or duplicated")
    assert(ids.toSet == ((0L until 200L) ++ appended).toSet)
    assert(Bucketing.specOf(VersionedTable.propertiesOf(
      spark, root, bucketized.get)) == Some((Seq("id"), 8)))
  }

  test("zero-row DDL, MOR delete and RESTORE commits keep the layout: " +
    "every ref stays bucket-pure and the next MERGE takes the claimed road") {
    val root = freshRoot(); seed(root, 8)
    graft.plans.GraftSql.execute(spark, s"ALTER TABLE '$root' SET TBLPROPERTIES " +
      "('graft.enableDeletionVectors'='true')")
    val schema = VersionedTable.schemaOf(spark, VersionedTable.latest(spark, root).get)
    VersionedTable.evolveSchema(spark, root, schema.add("score",
      org.apache.spark.sql.types.IntegerType, nullable = true))
    VersionedTable.widenColumn(spark, root, "score",
      org.apache.spark.sql.types.LongType)
    VersionedTable.renameColumn(spark, root, "payload", "payload2")
    VersionedTable.dropColumn(spark, root, "score")
    val preDelete = VersionedTable.currentVersion(spark, root).get
    VersionedTable.deleteWhere(spark, root, $"id" < 5L, mor = true)
    VersionedTable.restore(spark, root, preDelete)
    val cur = VersionedTable.currentVersion(spark, root).get
    assert(Bucketing.pureBuckets(spark, root, cur, Seq("id"), 8).map(_.keySet)
      .contains(VersionedTable.dataFileRefs(spark, root, cur).toSet),
      "a zero-row commit orphaned the bucket layout")
    Seq((3L, "M1"), (401L, "M1")).toDF("id", "st")
      .createOrReplaceTempView("bkt_zero_row_src")
    Bucketing.lastSliceOnePlan = false
    val v = graft.plans.GraftSql.execute(spark,
      s"""MERGE INTO `$root` AS t USING bkt_zero_row_src AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET last_status = s.st
         |WHEN NOT MATCHED THEN INSERT (id, last_status) VALUES (s.id, s.st)
         |""".stripMargin).collect().head.getLong(2)
    assert(Bucketing.lastSliceOnePlan, "the MERGE did not read a bucket-aligned slice")
    assert(VersionedTable.commitInfoOf(spark, root, v)
      .get(Bucketing.BucketedInfoKey).contains("id,8"))
    assert(VersionedTable.read(spark, root).where($"last_status" === "M1")
      .select("id").as[Long].collect().sorted.toSeq == Seq(3L, 401L))
  }
}
