package org.apache.spark.sql

/** Specs' read of the shared cache manager's entry count, which Spark
  * keeps package-private. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
