package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so span
  * counters read afterwards are complete. The wait is Spark-private, hence
  * this object lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
