package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two Spark internals the benchmark reads; both are
  * package-private, hence this shim in Spark's namespace.
  */
object Internals {

  /** Block until every event posted so far reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Frames currently registered in the session's cache manager. */
  def cachedFrames(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
