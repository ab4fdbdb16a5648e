package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it at phase
  * boundaries so every event of a phase is counted in that phase. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
