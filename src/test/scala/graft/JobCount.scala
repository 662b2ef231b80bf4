package graft

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs started by the calling thread while `body` runs. Jobs are
  * told apart by a local property the thread sets for the span, so jobs of
  * other threads sharing the session do not count.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.span") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.span", tag)
    try {
      val out = body
      SpecBus.drain(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty("graft.spec.span", null)
      sc.removeSparkListener(listener)
    }
  }
}
