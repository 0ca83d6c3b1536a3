package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark reads from outside the engine. */
object BenchAccess {
  /** Waits until every queued listener event has been delivered, so a
    * counter snapshot taken after an action includes its jobs and tasks.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cacheEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
