// Test-only bridge into private[sql] cache plumbing (the same
// qualified-private-subpackage idiom as ColumnBridge): a cache-hygiene
// test must read how many plans the session's CacheManager holds.
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

object CacheBridge {

  /** Number of plans registered in the session's CacheManager. */
  def cachedPlans(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
