package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the session CacheManager's entry count, which Spark
  * keeps `private[sql]`.
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
