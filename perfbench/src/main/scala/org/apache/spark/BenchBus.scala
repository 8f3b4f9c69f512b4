package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run
  * needs it so every task and stage event has reached the listener
  * before counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
