package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Session internals the leak and job-naming specs read; both are
  * package-private in Spark, hence this test shim in its namespace.
  */
object SessionProbe {

  /** Frames currently registered in the session's cache manager. */
  def cachedFrames(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Block until every event posted so far reached the listeners. */
  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
