package org.apache.spark

/** Lets a spec wait for the listener bus to deliver every event posted
  * so far before it reads a listener's counters. The bus is private to
  * Spark, hence this package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
