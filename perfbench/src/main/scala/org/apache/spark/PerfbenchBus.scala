package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's counts are complete when the benchmark reads them. The
  * listener bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
