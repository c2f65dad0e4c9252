package org.apache.spark.sql

/** The number of plans the session's CacheManager holds, so a test can
  * tell whether a call left a cached frame behind. The count is
  * package-private, hence this bridge. */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
