package org.apache.spark.sql.e2ebench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end listener event carries. The
  * field is package-private to Spark SQL, and it is the only place a
  * listener can read the planning phases of streaming micro-batches:
  * `QueryExecutionListener` reports named batch actions only.
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
