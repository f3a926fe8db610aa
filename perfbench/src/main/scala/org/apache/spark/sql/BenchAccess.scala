package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two package-private Spark internals the benchmark reads: the
  * listener bus, drained so counters read at a span boundary include
  * every event the span's work posted, and the cache manager's entry
  * count, the state an op leaves cached. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
