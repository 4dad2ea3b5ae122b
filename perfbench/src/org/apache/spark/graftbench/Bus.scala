package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains the Spark listener bus, so every event of a finished job has
  * reached the benchmark's listener before its counts are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
