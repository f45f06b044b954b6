package org.apache.spark.sql.e2ebench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the fields Spark attaches to an in-process SQL execution end
  * event (package-private to `sql`): its QueryExecution and its
  * duration, the same data Spark hands a QueryExecutionListener. */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
}
