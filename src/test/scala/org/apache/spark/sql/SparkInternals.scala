package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Package-private Spark state the specs read: the listener-bus drain
  * (so a counting listener has seen every event) and the number of
  * cached query plans. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
