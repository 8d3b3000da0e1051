package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The package-private calls the benchmark harness needs. */
object PerfbenchBridge {
  /** Wait until every posted listener event has been delivered, so a
    * traced operation's job, stage and query events are all counted
    * before the next operation starts.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries registered in the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
