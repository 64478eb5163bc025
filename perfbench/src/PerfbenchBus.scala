package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to know
  * that every event it posted has reached the benchmark's listeners
  * before reading their counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
