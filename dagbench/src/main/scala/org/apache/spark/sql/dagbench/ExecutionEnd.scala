package org.apache.spark.sql.dagbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an SQL-execution-end event carries: the same `QueryExecution`
  * Spark hands to `QueryExecutionListener`s, here with the event's
  * execution id. The field is private to Spark SQL, hence this accessor in
  * a Spark SQL package.
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
