package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs, reachable only from inside
  * Spark's packages: draining the listener bus, so totals are complete,
  * and the query execution an execution-end event belongs to, which ties
  * a `QueryExecutionListener` callback to its execution id. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  def queryExecution(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(end.qe)
}
