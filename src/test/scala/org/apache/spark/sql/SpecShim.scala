package org.apache.spark.sql

/** Test access to the one cache-manager figure that has no public
  * accessor: how many query plans the cache manager holds.
  */
object SpecShim {
  def cachedPlans(s: SparkSession): Int = s match {
    case c: classic.SparkSession => c.sharedState.cacheManager.numCachedEntries
    case _ => 0
  }
}
