package org.apache.spark

/** The listener bus is package-private to Spark; specs that count jobs
  * need one thing from it: block until every posted event has reached the
  * listeners, so a count read afterwards is complete.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
