package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-inspection main: `runMain graft.Explain <key[,key…]> [sfDir] [outDir]`
  * prints, for each SparkEntry query key, the steady-state (second-run)
  * wall time, the formatted plan and the AQE-final plan of the run that
  * executed. With `outDir`, each key's text goes to `<outDir>/<key>.txt`
  * instead of stdout (the plan evidence files under `plans/`).
  * Lifecycle keys' side-effect work (commits, refreshes) is not in the
  * returned frame's plan; Bench's `profile` record covers it. */
object Explain {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = args.lift(2)
    val spark = GraftSession.local(GraftSession.cpus)
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    keys.foreach { k =>
      try {
        val df = SparkEntry.queries(k)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save() // warm-up
        // time and execute df's OWN QueryExecution, so the plan printed
        // below is the AQE-final plan of this run: a separate noop write
        // runs a fresh QueryExecution and leaves df's executedPlan the
        // initial, never-executed one
        val qe = df.queryExecution
        val t0 = System.nanoTime()
        qe.toRdd.foreach(_ => ())
        val text = Seq(
          s"[explain] $k steady-state ${(System.nanoTime() - t0) / 1e9}s at $sfDir",
          qe.explainString(FormattedMode),
          "== executed (AQE-final) ==",
          qe.executedPlan.toString).mkString("\n")
        outDir match {
          case Some(d) =>
            java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$k.txt"), text)
            println(s"[explain] wrote $d/$k.txt")
          case None => println(text)
        }
      } catch {
        case e: Throwable => println(s"[explain] $k FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
