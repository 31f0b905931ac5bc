package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the benchmark reads. All are package-private in
  * Spark, which is why this shim lives under `org.apache.spark.sql`; nothing
  * else in the benchmark reaches past Spark's public API. */
object SparkInternals {

  /** Block until every listener event posted so far has been delivered. A
    * job's end event and a SQL execution's end event are posted before the
    * action that ran them returns, so after this call every job and
    * execution of a finished call has reached the benchmark's listener. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(120000L)

  /** Entries in the session's CacheManager (`Dataset.cache`/`persist`). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Milliseconds the execution spent in Catalyst phases (analysis,
    * optimization, planning); 0 when the event carries no QueryExecution. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
