package org.apache.spark.sql

/** The number of Datasets the session's CacheManager holds — a count
  * Spark keeps package-private, read here for the cache-lifecycle specs.
  */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
