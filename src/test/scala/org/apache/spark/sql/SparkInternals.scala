package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Package-private Spark state the specs read: the listener-bus drain
  * (so a counting listener has seen every event) and the number of
  * cached query plans. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs `body` starts, counted under job group `group` once the
    * listener bus has drained. */
  def jobsStarted(sc: SparkContext, group: String)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Spark jobs `body` starts, counted per job group once the listener
    * bus has drained: a streaming query runs its batches under its own
    * group, the query's `runId`. */
  def jobsByGroup(sc: SparkContext)(body: => Unit): Map[String, Int] = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)
    try {
      body
      drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.map { case (g, n) => g -> n.intValue }.toMap
  }

  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
