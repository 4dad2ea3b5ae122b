package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` and count the Spark jobs started while it ran. Suites
    * run one at a time in the forked test JVM, so every job in the
    * window is the body's. */
  def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBusBridge.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` and return the output path of every Spark file write
    * into a commit's `_staging/<id>` dir while it ran: the dir itself for
    * a commit's data write, a `_<name>` subdir for an extra's. */
  def stagedWriteTargets[A](body: => A): (A, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.collectFirst {
          case w: InsertIntoHadoopFsRelationCommand
            if w.outputPath.toString.contains("/_staging/") => w.outputPath.toString
        }.foreach(paths.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, paths.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the CANONICAL builder at test parallelism: hand-mirrored conf here
    // drifted every time GraftSession gained a knob (the AQE-cached-plan
    // and codegen-cache confs were missing), so the suite exercised a
    // session no query key actually runs in
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
