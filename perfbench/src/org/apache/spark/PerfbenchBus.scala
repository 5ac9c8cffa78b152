package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every event
  * of an operation before it reads the operation's layer counters. The
  * bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
