package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the `private[sql]` query execution an SQL execution's end
  * event carries: the one a `QueryExecutionListener` would be handed,
  * here together with its execution id.
  */
object SqlEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
