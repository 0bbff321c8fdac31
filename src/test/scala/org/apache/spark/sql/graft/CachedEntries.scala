package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the number of plans the session's cache holds, which
  * Spark keeps package-private. */
object CachedEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
