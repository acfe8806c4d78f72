package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two things the tracer needs that Spark keeps package-private: draining
  * the listener bus (so every event of a request is seen before the
  * listeners detach), and the QueryExecution an SQL execution ran (the
  * only link between a QueryExecutionListener callback and the execution
  * id its jobs carry).
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
