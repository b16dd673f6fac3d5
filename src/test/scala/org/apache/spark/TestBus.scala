package org.apache.spark

/** The listener bus is private to Spark; plan-shape tests drain it so
  * that every QueryExecutionListener callback of the actions under test
  * has been delivered before the captured plans are read. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
