package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The one loop over the gate queries, shared by `Bench`, `Verify` and
  * [[PlanAudit]]. For each query it builds the frame inside one
  * [[ExecutionTrace.window]] (the query function's call and every job
  * it runs to build itself), runs the caller's step on the built frame
  * inside a second window, and then runs [[cleanup]]. A query that
  * throws is recorded by name with `e.toString`, and the loop goes on
  * to the next one.
  *
  * A pass keeps counts, not the frame or its plans: a kept plan would
  * keep its broadcasts alive for the rest of the suite.
  */
object Suite {
  /** A query's frame and what ran while it was built, for the step. */
  final case class Built(name: String, df: DataFrame, trace: ExecutionTrace.Window)
  /** Seconds in a window (its own bus drains excluded), and what ran in it. */
  final case class Work(sec: Double, executions: Int, jobs: Int, stages: Int, tasks: Int)
  final case class Pass[A](name: String, build: Work, step: Work, value: A)
  final case class Failed(name: String, error: String)

  /** `names`' SparkEntry queries over `sfDir`, in the given order. */
  def run[A](spark: SparkSession, sfDir: String, names: Seq[String])(
      step: Built => A): Vector[Either[Failed, Pass[A]]] = {
    val entries = SparkEntry.queries
    over(spark, names.map(n => n -> (() => entries(n)(spark, sfDir))))(step)
  }

  def over[A](spark: SparkSession, queries: Seq[(String, () => DataFrame)])(
      step: Built => A): Vector[Either[Failed, Pass[A]]] =
    queries.toVector.map { case (name, build) =>
      try {
        val (df, b, bw) = timed(spark)(build())
        val (a, s, sw) = timed(spark)(step(Built(name, df, bw)))
        Right(Pass(name, work(b, bw), work(s, sw), a))
      } catch { case e: Throwable => Left(Failed(name, e.toString)) }
      finally cleanup(spark)
    }

  private def timed[A](spark: SparkSession)(body: => A): (A, Double, ExecutionTrace.Window) = {
    val ((a, sec), w) = ExecutionTrace.window(spark) {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    (a, sec, w)
  }

  private def work(sec: Double, w: ExecutionTrace.Window): Work =
    Work(sec, w.executions.size, w.jobs, w.stages, w.tasks)

  /** Frees what a query left behind. `clearCache` drops `persist()`ed
    * plans; `getPersistentRDDs` also holds `localCheckpoint` blocks
    * (RDD-level persistence the catalog never sees), and a blocking
    * unpersist frees them now instead of when the ContextCleaner next
    * runs. Without it, blocks piled up over a suite and slowed the
    * heavy queries 3-5×. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }
}
