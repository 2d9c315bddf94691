package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer reads; both are package-private. */
object PerfbenchAccess {
  /** Waits until every listener queue has delivered the events posted so
    * far, so a traced pass is summarised only after all its events arrived. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event reports on, which ties a
    * `QueryExecutionListener` callback to its SQL execution id. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
