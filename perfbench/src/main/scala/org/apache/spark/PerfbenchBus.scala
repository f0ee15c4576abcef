package org.apache.spark

/** Waits until every listener event posted so far has been delivered. The
  * bus is private to Spark, so this one call lives in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
