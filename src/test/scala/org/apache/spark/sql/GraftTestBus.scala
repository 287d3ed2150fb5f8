package org.apache.spark.sql

/** Test access to the scheduler and cache internals Spark keeps
  * package-private. */
object GraftTestBus {

  /** Block until every event posted so far has reached its listeners. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The number of entries in the session's CacheManager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
