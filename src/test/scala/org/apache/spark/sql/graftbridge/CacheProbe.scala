package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, SparkSession}

/** Test access to the session's cache manager (`private[sql]`). */
object CacheProbe {
  /** How many cached plans the session holds. */
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
