package org.apache.spark

/** The listener bus is private to Spark; [[graft.telemetry.ActionTrace]]
  * waits on it so that every event posted so far has been delivered.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
