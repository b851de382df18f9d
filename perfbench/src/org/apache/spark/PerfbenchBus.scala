package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every queued
  * event, so per-span task metrics are complete before they are read. The
  * bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
