package org.apache.spark

/** Listener-bus access for the benchmark: the bus is private to Spark,
  * and per-layer task metrics are only complete once it has delivered
  * every queued event.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
