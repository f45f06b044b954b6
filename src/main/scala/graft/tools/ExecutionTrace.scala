package graft.tools

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.ExecutionBridge

/** The dev tools' one Spark listener. [[ExecutionTrace.window]] runs a
  * body and returns what ran on the SparkContext meanwhile: each SQL
  * execution that ended (its action and `QueryExecution`), and the
  * jobs, stages and tasks. It listens on the SparkContext, so it sees
  * the executions of every session, `newSession()` clones included (a
  * `spark.listenerManager` listener sees only its own session's).
  * Windows do not nest. */
object ExecutionTrace {
  final case class Execution(action: String, qe: QueryExecution)
  final case class Window(executions: Vector[Execution], jobs: Int, stages: Int, tasks: Int)

  private object Listener extends SparkListener {
    private var open = false
    private val executions = ArrayBuffer.empty[Execution]
    private var jobs, stages, tasks = 0

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      if (open) jobs += 1
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      if (open) { stages += 1; tasks += s.stageInfo.numTasks }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => synchronized {
        if (open) executions += Execution(
          ExecutionBridge.action(end), ExecutionBridge.queryExecution(end))
      }
      case _ =>
    }

    /** What the window saw; empties it and opens or closes it. */
    def reset(opening: Boolean): Window = synchronized {
      val w = Window(executions.toVector, jobs, stages, tasks)
      executions.clear(); jobs = 0; stages = 0; tasks = 0; open = opening
      w
    }
  }
  private var listening: SparkContext = null

  /** Runs `body` and returns it with what ran while it did. The bus is
    * drained before the window opens, so nothing from earlier work
    * lands in it, and again before it closes, so every event that
    * `body` caused has arrived. */
  def window[A](spark: SparkSession)(body: => A): (A, Window) = {
    val sc = spark.sparkContext
    synchronized { if (listening ne sc) { sc.addSparkListener(Listener); listening = sc } }
    ExecutionBridge.drain(sc)
    Listener.reset(opening = true)
    try {
      val a = body
      ExecutionBridge.drain(sc)
      (a, Listener.reset(opening = false))
    } finally Listener.reset(opening = false)
  }
}
