package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs. */
object Shim {
  /** Fence on the asynchronous listener bus: returns once every event
    * posted so far has been delivered to every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event reports on, which is
    * the object a QueryExecutionListener receives; null if none. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
