package org.apache.spark

/** The listener bus is private to Spark; specs that count scheduler
  * events drain it so every event posted so far has been delivered. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
