package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so that
  * per-unit listener counts are complete before they are read.
  */
object E2eBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
