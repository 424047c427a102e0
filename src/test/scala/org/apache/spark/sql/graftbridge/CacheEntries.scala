package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Spec hook: the number of Dataset cache entries (`persist`/`cache`) the
  * session's cache manager holds. Unlike `getPersistentRDDs`, it does not
  * count localCheckpoint RDDs. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
