package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev timing harness for a subset of queries: runs each query
  * `reps` times against sfDir and prints every rep's wall time, so
  * plan changes can be compared without a full Bench pass. Each rep
  * writes the full result to the noop sink: `count()` would let
  * Catalyst prune the columns the gate checks.
  *
  * Usage: runMain graft.tools.QTime <sfDir> <reps> <query> [query...]
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        math.min(32, Runtime.getRuntime.availableProcessors).toString), "qtime")
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { q =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"QTIME $q%-24s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
