package graft.sources

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Sidecar reads hand Spark the sidecar's part files, never the
  * `_`-prefixed sidecar dir: Spark treats a `_`-prefixed root path as
  * hidden and logs `All paths were ignored` for it while still serving
  * the rows — a warning that tells an operator data was skipped when
  * none was. */
class SidecarReadLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_sclog").toString + "/t"

  /** The `All paths were ignored` lines logged while `body` runs. */
  private def ignoredPathWarnings(body: => Unit): Seq[String] = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "graft-sidecar-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("All paths were ignored")) captured.add(m)
      }
    }
    appender.start()
    val rootLogger =
      LogManager.getRootLogger.asInstanceOf[org.apache.logging.log4j.core.Logger]
    rootLogger.addAppender(appender)
    try body
    finally { rootLogger.removeAppender(appender); appender.stop() }
    import scala.jdk.CollectionConverters._
    captured.asScala.toSeq
  }

  test("a change-feed read logs no ignored sidecar path") {
    val root = freshRoot()
    for (i <- 1 to 2) {
      val df = Seq((i.toLong, s"r$i")).toDF("id", "x")
      VersionedTable.commit(df, root,
        extras = Map("changes" -> df.withColumn("_change_type", lit("insert"))))
    }
    val warns = ignoredPathWarnings {
      assert(VersionedTable.readChanges(spark, root, 1L, 2L).count() == 2L)
    }
    assert(warns.isEmpty, warns.mkString("\n"))
  }

  test("a deletion-vector masked read logs no ignored sidecar path") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 30L).map(i => (i, s"r$i")).toDF("id", "x")
        .repartitionByRange(3, col("id")), root)
    VersionedTable.deleteWhere(spark, root, col("id") === 5L, mor = true)
    val warns = ignoredPathWarnings {
      assert(VersionedTable.read(spark, root).count() == 29L)
    }
    assert(warns.isEmpty, warns.mkString("\n"))
  }

  test("a table emptied by an all-drop partition delete reads empty and " +
    "logs no ignored path") {
    val root = freshRoot()
    VersionedTable.commit(
      (1L to 20L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "p"),
      root, partitionBy = Seq("p"))
    VersionedTable.deleteWhere(spark, root, col("p").isin("a", "b"))
    val v = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.dataFileRefs(spark, root, v).isEmpty)
    val warns = ignoredPathWarnings {
      val df = VersionedTable.read(spark, root)
      assert(df.columns.toSeq == Seq("id", "p"))
      assert(df.count() == 0L)
      assert(VersionedTable.readWhere(spark, root, col("id") === 3L).count() == 0L)
    }
    assert(warns.isEmpty, warns.mkString("\n"))
  }

  test("a copy-ledger read logs no ignored sidecar path") {
    val root = freshRoot()
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "x"), root,
      extras = Map("copyfiles" -> Seq("s3://landing/a.csv").toDF("file")))
    VersionedTable.commitAppend(Seq((2L, "b")).toDF("id", "x"), root,
      extras = Map("copyfiles" -> Seq("s3://landing/b.csv").toDF("file")))
    val warns = ignoredPathWarnings {
      val v = VersionedTable.currentVersion(spark, root).get
      assert(VersionedTable.copyLedger(spark, root, v).get.count() == 2L)
    }
    assert(warns.isEmpty, warns.mkString("\n"))
  }
}
