package graft.tools

import graft.{GraftSession, SparkEntry}

/** Per-query dev timer: splits each rep of a query into
  *   build  — query-fn call (DataFrame construction, any eager
  *            index-build/collect work inside the fn),
  *   plan   — analysis + optimization + physical planning
  *            (queryExecution.executedPlan forced),
  *   exec   — the full result written to the noop sink (the write
  *            command's planning on top of the analyzed frame, then
  *            scheduling + tasks + AQE replans); `count()` would let
  *            Catalyst prune the columns the gate checks,
  * and stamps jobs/stages/tasks per rep (from [[ExecutionTrace]]), so a
  * query's cost is attributable to planning vs scheduling vs task work.
  *
  * Usage: runMain graft.tools.FloorProbe <sfDir> <reps> <query> [query...]
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession.local(appName = "floorprobe")
    spark.sparkContext.setLogLevel("WARN")
    println("query\trep\tbuild_s\tplan_s\texec_s\tjobs\tstages\ttasks")
    names.foreach { q =>
      (1 to reps).foreach { rep =>
        val ((t0, t1, t2, t3), w) = ExecutionTrace.window(spark) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, dir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analysis→physical plan
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (t0, t1, t2, System.nanoTime())
        }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        println(f"$q\t$rep\t${(t1 - t0) / 1e9}%.3f\t${(t2 - t1) / 1e9}%.3f" +
          f"\t${(t3 - t2) / 1e9}%.3f\t${w.jobs}\t${w.stages}\t${w.tasks}")
      }
    }
    spark.stop()
  }
}
