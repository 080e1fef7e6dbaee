package org.apache.spark

/** The listener bus is private to Spark; specs that count listener events
  * wait on it so that every event posted so far has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
