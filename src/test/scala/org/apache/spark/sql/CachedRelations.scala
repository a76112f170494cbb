package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CacheManager, CachedData, SparkPlan}

/** Reads the session's cache manager, whose entries are `private`. */
object CachedRelations {

  private def manager(spark: SparkSession): CacheManager =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  /** Relations currently cached in `spark`'s shared cache manager. */
  def count(spark: SparkSession): Int = manager(spark).numCachedEntries

  /** Each cached relation's logical plan with the physical plan its cache
    * was built from.
    */
  def plans(spark: SparkSession): Seq[(LogicalPlan, SparkPlan)] = {
    val field = classOf[CacheManager].getDeclaredField("cachedData")
    field.setAccessible(true)
    field.get(manager(spark)).asInstanceOf[IndexedSeq[CachedData]]
      .map(cd => cd.plan -> cd.cachedRepresentation.cacheBuilder.cachedPlan)
  }
}
