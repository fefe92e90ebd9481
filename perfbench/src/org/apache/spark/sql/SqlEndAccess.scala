package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The execution-end event carries its QueryExecution package-privately; the
  * tracer reads the finished plan's scan and write metrics from it. */
object SqlEndAccess {
  def apply(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
