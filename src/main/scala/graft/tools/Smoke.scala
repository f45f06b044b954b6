package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev smoke: drives the driver contract exactly as the driver does —
  * `SparkEntry.entry` rows>0, and optionally prints a query's
  * formatted plan for shuffle/pushdown audits.
  *
  * Usage: runMain graft.tools.Smoke [queryNameToExplain] [sfDir]
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "smoke")
    spark.sparkContext.setLogLevel("WARN")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    require(n > 0, "entry returned no rows")
    println(s"QUERIES=${SparkEntry.queries.size} ORACLES=${SparkEntry.oracleSql.size}")
    args.headOption.foreach { q =>
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
