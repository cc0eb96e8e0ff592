package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL end event carries (a `private[sql]` field):
  * it links the query listener's plan to the listener bus's execution id. */
object PerfbenchAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
