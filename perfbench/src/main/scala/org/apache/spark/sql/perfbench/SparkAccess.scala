package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracing reads, which are
  * package-private to Spark, hence this package.
  */
object SparkAccess {

  /** Waits until every queued listener event has been delivered, so a
    * trace read after a run sees all of its jobs and executions.
    */
  def drainListeners(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The query execution behind a finished SQL execution and its
    * duration in nanoseconds, when the event carries them.
    */
  def executionOf(e: SparkListenerSQLExecutionEnd): Option[(QueryExecution, Long)] =
    Option(e.qe).map(_ -> e.duration)
}
