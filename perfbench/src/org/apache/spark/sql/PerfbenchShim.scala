package org.apache.spark.sql

/** Reads the one session-internal figure the benchmark reports that has
  * no public accessor: how many query plans the cache manager holds.
  */
object PerfbenchShim {
  def cachedPlans(s: SparkSession): Int = s match {
    case c: classic.SparkSession => c.sharedState.cacheManager.numCachedEntries
    case _ => 0
  }
}
