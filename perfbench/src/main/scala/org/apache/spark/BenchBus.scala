package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so that
  * every job and task event of a measured call has been delivered before
  * its counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The local property that carries a thread's job group. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
