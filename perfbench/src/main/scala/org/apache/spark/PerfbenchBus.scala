package org.apache.spark

/** The listener bus is private to Spark; the traced run waits on it so
  * every event of a query has been delivered before the query's
  * counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
