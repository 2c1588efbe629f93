package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark-internal accessors the benchmark's trace needs: the listener
  * bus's drain, and the plan and duration an SQL execution's end event
  * carries. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (plan, duration in ns), or None for an event without its plan. */
  def execution(e: SparkListenerSQLExecutionEnd): Option[(QueryExecution, Long)] =
    Option(e.qe).map(qe => (qe, e.duration))
}
