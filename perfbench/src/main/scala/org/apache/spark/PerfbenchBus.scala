package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counters read after a request include all of that request's jobs
  * and queries. The listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
