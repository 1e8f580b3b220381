package org.apache.spark.sql

/** Test access to the session's CacheManager: how many cached plans it
  * holds right now (every persist adds one, every unpersist removes it).
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
