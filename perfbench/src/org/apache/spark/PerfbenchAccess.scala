// Package-private Spark state the benchmark reads from outside the program.

package org.apache.spark {
  /** Waits until every listener has seen every event posted so far, so
    * counters read after an operation belong to that operation. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  object PerfbenchCache {
    /** Entries the session's CacheManager still holds. */
    def entries(spark: SparkSession): Int =
      spark.sharedState.cacheManager.numCachedEntries
  }
}
