package org.apache.spark

/** The listener bus is package-private to Spark; this is the one hook the
  * benchmark needs from it: block until every posted event has reached the
  * listeners, so per-op counters are complete when they are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
