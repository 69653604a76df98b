package org.apache.spark

/** The listener bus is private to Spark; specs that count a job's
  * events from a listener wait here until every posted event is
  * delivered. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
