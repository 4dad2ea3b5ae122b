package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to Spark's (package-private) listener bus: draining it
  * guarantees every event of a finished job has reached the attached
  * listeners before they read their counts. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
