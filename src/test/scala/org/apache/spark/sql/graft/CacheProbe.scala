package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's `CacheManager` (its entry count is
  * `private[sql]`). */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
