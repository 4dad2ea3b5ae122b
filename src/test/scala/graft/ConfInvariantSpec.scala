package graft

import org.apache.spark.sql.functions._
import graft.sources.{AggReplica, VersionedTable}

/** Session state is SHARED across every query and across
  * [[AggReplica]]'s concurrent maintenance roads; mutating it from a
  * parallelizable code path is the round-18 regression class (two
  * overlapping save/restore pairs of `spark.sql.parquet
  * .outputTimestampType` captured each other's in-flight value and
  * left the session permanently poisoned — 17 downstream keys' dumped
  * SCHEMAS flipped). These specs pin the invariant mechanically: the
  * full session-conf map and the JVM default time zone are
  * bit-identical across (a) the cube CREATE + cascading REFRESH path
  * that carries `parallelOver`, and (b) a burst of raw concurrent
  * commits; and timestamp footer stats — the reason the writer conf is
  * pinned to micros at session build — stay usable. */
class ConfInvariantSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def confSnapshot(): Map[String, String] = spark.conf.getAll

  private def seedTs(root: String): Unit = {
    val df = Seq(
      ("a", 1L, "x", 10L), ("a", 2L, "y", 20L),
      ("b", 1L, "x", 5L), ("b", 3L, "y", 7L), ("c", 2L, "x", 100L)
    ).toDF("seg", "nat", "flag", "v")
      .withColumn("ts", to_timestamp(lit("2026-03-01 12:00:00")))
    VersionedTable.commit(df, root, extras = Map("changes" ->
      df.withColumn("_change_type", lit("insert"))))
  }

  test("cube CREATE + cascading REFRESH (the parallelOver road) leaves " +
    "session conf and the JVM default time zone bit-identical") {
    val tmp = freshDir("graft_confinv_cube")
    val src = s"$tmp/src"; val mv = s"$tmp/mv"
    seedTs(src)
    val confBefore = confSnapshot()
    val tzBefore = java.util.TimeZone.getDefault.getID
    // 3 keys → 6 subset children created concurrently, then refreshed
    // concurrently through the cascade — the exact q47 path
    AggReplica.createCubeView(spark, mv, src, Seq("seg", "nat", "flag"), "v")
    VersionedTable.commitAppend(
      Seq(("d", 9L, "z", 1000L), ("a", 1L, "x", 3L))
        .toDF("seg", "nat", "flag", "v")
        .withColumn("ts", to_timestamp(lit("2026-03-02 12:00:00"))),
      src, changeFeed = true)
    AggReplica.refreshView(spark, mv)
    assert(confSnapshot() == confBefore,
      "session conf must be bit-identical across a cube create+refresh; " +
        "diff: " + (confSnapshot().toSet diff confBefore.toSet))
    assert(java.util.TimeZone.getDefault.getID == tzBefore)
  }

  test("concurrent commits leave session conf bit-identical and every " +
    "table's timestamp footer stats stay usable (micros, not INT96)") {
    val tmp = freshDir("graft_confinv_par")
    val confBefore = confSnapshot()
    val roots = (0 until 8).map(i => s"$tmp/t$i")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(roots.zipWithIndex.map { case (r, i) =>
      Future {
        val df = Seq((i.toLong, s"r$i")).toDF("id", "label")
          .withColumn("ts",
            to_timestamp(lit(f"2026-03-${i + 1}%02d 08:00:00")))
        VersionedTable.commit(df, r)
      }
    }), Duration.Inf)
    assert(confSnapshot() == confBefore,
      "session conf must be bit-identical across concurrent commits; " +
        "diff: " + (confSnapshot().toSet diff confBefore.toSet))
    // the conf being PINNED (not restored to Spark's INT96 default) is
    // what keeps min/max on timestamp columns readable in the footers
    roots.foreach { r =>
      val agg = VersionedTable.statsAggregate(spark, r, Seq("ts"))
      assert(agg.isDefined,
        s"timestamp footer stats unusable for $r — staging write fell " +
          "back to INT96")
      val (rows, cs) = agg.get
      assert(rows == 1L)
      assert(cs.head.min != null && cs.head.max != null,
        s"timestamp footer stats blinded for $r")
    }
  }
}
