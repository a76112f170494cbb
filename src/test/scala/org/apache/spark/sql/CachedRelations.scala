package org.apache.spark.sql

/** Reads the session's cache manager, whose entry count is `private[sql]`. */
object CachedRelations {

  /** Relations currently cached in `spark`'s shared cache manager. */
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
