package org.apache.spark.sql

/** Test access to the session's cache manager: leak laws compare its
  * entry count before and after an operation.
  */
object SpecCache {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
