package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Doorway into the `private[spark]` hooks the benchmark harness needs:
  * draining the listener bus before a pass's trace is read, and asking the
  * SQL cache manager whether any cached plan survived a sweep.
  */
object Bridge {
  /** Blocks until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def sqlCacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
