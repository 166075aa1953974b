package org.apache.spark.sql

/** Test access to a session's CacheManager, which Spark keeps private to
  * its own packages. */
object CachedPlans {
  /** True when no persisted plan is registered in `s`'s cache. */
  def isEmpty(s: SparkSession): Boolean =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty
}
