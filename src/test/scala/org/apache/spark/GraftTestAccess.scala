package org.apache.spark

/** The one Spark internal the suites read; it is package-private. */
object GraftTestAccess {
  /** Waits until every listener queue has delivered the events posted so
    * far, so a `QueryExecutionListener` has seen every finished action. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
