package graft

import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.DataFrame

/** Central eager-checkpoint helper with a plan-audit hook.
  *
  * Several operators (`minhashDedupCapped`, connected components, the
  * PQ family, q84's two-scan text stats, `trainingRecipe`) cut lineage
  * with `localCheckpoint(true)` — correct for execution, but it makes
  * the FINAL `executedPlan` a bare `Scan ExistingRDD`, so a plan audit
  * over only the final frame sees an empty plan (round-6 verdict
  * residual #1). Every library-side eager checkpoint now routes through
  * [[PlanCapture.checkpoint]]: execution semantics are identical
  * (`localCheckpoint(true)`), but when audit mode is on the
  * PRE-checkpoint physical plan is recorded first, keyed by the
  * currently-audited query, so `tools.PlanAudit` can merge sub-plans
  * into its exchange/scan counts.
  *
  * Thread-safety: audit mode is only enabled by the single-threaded
  * PlanAudit driver; recording uses a TrieMap so stray concurrent use
  * is still safe.
  */
object PlanCapture {
  private val auditing = new AtomicBoolean(false)
  @volatile private var current: String = ""
  private val recorded = TrieMap.empty[String, Vector[String]]

  /** Eager local checkpoint; records the pre-checkpoint executed plan
    * under the current audit key when audit mode is on. `tag` names the
    * checkpointed stage in audit output. */
  def checkpoint(df: DataFrame, tag: String): DataFrame = {
    record(df, tag)
    df.localCheckpoint(true)
  }

  /** Record a frame's physical plan under the current audit key WITHOUT
    * checkpointing — for operators whose heavy work runs as side
    * actions that never reach the final lineage (e.g. the per-iteration
    * gradient jobs of Classifier.train, which end in a driver
    * collect). No-op outside audit mode. */
  def record(df: DataFrame, tag: String): Unit =
    if (auditing.get) {
      val plan =
        try df.queryExecution.executedPlan.toString
        catch { case e: Throwable => s"<plan capture failed: ${e.getMessage}>" }
      val entry = s"=== sub-plan [$tag] ===\n$plan"
      recorded.updateWith(current)(v => Some(v.getOrElse(Vector.empty) :+ entry))
    }

  /** Run `body` with audit mode on, recording checkpointed sub-plans
    * under `queryName`; returns the sub-plans captured for it. */
  def audited[A](queryName: String)(body: => A): (A, Vector[String]) = {
    auditing.set(true)
    current = queryName
    recorded.remove(queryName)
    try {
      val a = body
      (a, recorded.getOrElse(queryName, Vector.empty))
    } finally {
      auditing.set(false)
      current = ""
    }
  }
}
