package org.apache.spark.sql

/** Spark internals the specs read: the listener bus, drained so a spec's
  * listener has seen every event of the jobs that already returned, and
  * the number of plans in the shared cache manager.
  */
object SpecAccess {
  def drain(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()

  def cachedPlans(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
