package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Bridge to `SparkContext.listenerBus.waitUntilEmpty()` (private[spark]).
  *
  * StreamingQueryListener events are delivered asynchronously on the
  * shared LiveListenerBus, so a listener that counts micro-batch
  * progress can still be missing the final events when
  * `awaitTermination` returns. Draining the bus before reading the
  * listener's state makes the count deterministic — the alternative
  * (polling the listener with a sleep) would trade a correctness
  * guarantee for a race that only fails under load, exactly the
  * fail-open mode the count exists to close (round-12 ADVICE #2).
  */
object ListenerBridge {
  def waitUntilListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The CacheManager's entry count (private[sql]): the cached plans still
    * registered, materialized or not. */
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
