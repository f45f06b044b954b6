package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to the listener-side internals that `graft.tools.ExecutionTrace`
  * reads: an ended SQL execution's action name and `QueryExecution`
  * (both `private[sql]` on the event, set for every execution of every
  * session) and the listener bus's drain (`private[spark]`). */
object ExecutionBridge {
  /** The action that ran the execution: `localCheckpoint`, `collect`,
    * `isEmpty`, `head`, a command name for writes, ... */
  def action(e: SparkListenerSQLExecutionEnd): String =
    e.executionName.getOrElse("unnamed")

  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
