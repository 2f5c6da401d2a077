package org.apache.spark.sql.graftglue

import org.apache.spark.sql.SparkSession

/** Reads the session's CacheManager entry count (in the sql package tree
  * only because `numCachedEntries` is `private[sql]`). */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
