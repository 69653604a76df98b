package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's tallies are complete when the benchmark reads them. The
  * bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
