package e2ebench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.e2ebench.ExecutionEnd
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Totals for one span: every Spark job, stage, task and SQL execution
  * attributed to it. */
final class SpanAgg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var skewMax = 0.0
  var planMs = 0.0; var execMs = 0.0
  /** (rows, files) per file-scan node, keyed by its row metric's id:
    * a cached scan seen by several executions counts once. */
  val scans = mutable.Map.empty[Long, (Long, Long)]
  def scanRows: Long = scans.values.map(_._1).sum
  def scanFiles: Long = scans.values.map(_._2).sum
}

/** Per-layer tracing, installed only in a traced run.
  *
  * The calling thread names its span with a local property
  * (`span`); Spark copies local properties onto every job the thread
  * submits, and a micro-batch's jobs carry `streaming.sql.batchId`.
  * A `SparkListener` sums jobs, stages, tasks, executor CPU, shuffle
  * and spill per span; from each SQL execution's end event it takes
  * the plan/execute split (the QueryExecution's planning phases and
  * the execution's duration — what a QueryExecutionListener is given)
  * and the rows and files its file scans read, joined to the span
  * through the execution id its jobs carry. A
  * `StreamingQueryListener` keeps each micro-batch's progress.
  * `attach`/`detach` let a run time the same op with and without the
  * listeners, which is the tracing overhead. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val aggs = mutable.Map.empty[String, SpanAgg]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val execSpan = mutable.Map.empty[Long, String]
  private val execs = mutable.ArrayBuffer.empty[(Long, Double, Double, Seq[(Long, (Long, Long))])]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def agg(span: String): SpanAgg = aggs.getOrElseUpdate(span, new SpanAgg)

  private def spanOf(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(BatchPrefix + _)
      .orElse(Option(p).flatMap(p => Option(p.getProperty(SpanProperty))))
      .getOrElse("other")

  private val sparkListener = new SparkListener with AdaptiveSparkPlanHelper {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val s = spanOf(e.properties)
      agg(s).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan(id.toLong) = s)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val s = stageSpan.getOrElse(e.stageInfo.stageId, spanOf(e.properties))
        stageSpan(e.stageInfo.stageId) = s
        agg(s).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = agg(stageSpan.getOrElse(e.stageId, "other"))
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        ExecutionEnd.queryExecution(end).foreach { qe =>
          val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
          val scans = fileScans(qe.executedPlan).flatMap { s =>
            s.metrics.get("numOutputRows").map(rows =>
              rows.id -> (rows.value, s.metrics.get("numFiles").map(_.value).getOrElse(0L)))
          }
          Tracer.this.synchronized {
            execs += ((end.executionId, planMs, ExecutionEnd.durationNs(end) / 1e6, scans))
          }
        }
      case _ =>
    }
    /** File scans of a plan, including those inside cached relations. */
    def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(plan) {
        case s: FileSourceScanExec => Seq(s)
        case c: InMemoryTableScanExec => fileScans(c.relation.cachedPlan)
      }.flatten
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
          val med = Stats.median(ms.map(_.toDouble).toSeq)
          val a = agg(stageSpan.getOrElse(id, "other"))
          a.skewMax = math.max(a.skewMax, ms.max / math.max(med, 1.0))
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { if (e.progress.numInputRows > 0) progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Listener events are delivered asynchronously; give the buses a
    * moment to deliver the last ones before reading the totals. */
  def drain(): Unit = Thread.sleep(300)

  /** Totals per span, with each SQL execution joined to its span. */
  def spans(): Map[String, SpanAgg] = synchronized {
    execs.foreach { case (id, plan, exec, scans) =>
      val a = agg(execSpan.getOrElse(id, "other"))
      a.planMs += plan; a.execMs += exec
      a.scans ++= scans
    }
    execs.clear()
    aggs.toMap
  }

  /** Sum of the spans whose name satisfies `p`. */
  def total(p: String => Boolean): SpanAgg = {
    val t = new SpanAgg
    spans().filter(kv => p(kv._1)).values.foreach { a =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.cpuNs += a.cpuNs; t.shuffleRead += a.shuffleRead
      t.shuffleWrite += a.shuffleWrite; t.spill += a.spill
      t.skewMax = math.max(t.skewMax, a.skewMax)
      t.planMs += a.planMs; t.execMs += a.execMs
      t.scans ++= a.scans
    }
    t
  }

  def batchSpans(): Map[Long, SpanAgg] = spans().collect {
    case (k, a) if k.startsWith(BatchPrefix) => k.stripPrefix(BatchPrefix).toLong -> a
  }

  def streamProgress(): Seq[StreamingQueryProgress] = synchronized(progress.toSeq)
}

object Tracer {
  val SpanProperty = "e2ebench.span"
  val BatchPrefix = "batch:"

  /** Run `f` with the calling thread's jobs tagged as span `name`.
    * Costs one local-property write, so untraced runs call it too. */
  def span[A](spark: SparkSession, name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, name)
    try f finally sc.setLocalProperty(SpanProperty, prev)
  }

  /** The JVM-level per-layer metrics every workload reports. */
  def jvmLayers(): Map[String, Double] = Map(
    "jvm.gc_ms" -> Proc.gcMs().toDouble,
    "jvm.heap_used_max_mb" -> Proc.heapPeakMb())
}
