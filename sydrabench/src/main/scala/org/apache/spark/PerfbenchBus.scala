package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * counter read after a request includes all of that request's jobs. The
  * bus is private to Spark; this object lives in Spark's package to reach it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
