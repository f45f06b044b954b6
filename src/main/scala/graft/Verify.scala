package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names (fast local re-gate
    // of just-changed entries; the driver always passes 2 args)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = GraftSession.local(appName = "verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Oracle SQL first, results second: the map depends only on
    // SparkEntry, so writing it up front means a Verify killed
    // mid-run leaves every completed query's parquet CHECKABLE
    // (the round-10 empty-artifact lesson — partial truth always
    // beats an empty directory).
    writeOracleJson(outDir, only)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        // clearCache drops persist()ed plans; getPersistentRDDs also
        // covers localCheckpoint blocks (RDD-level persistence the
        // catalog never sees) and frees them synchronously — the
        // gc()-and-hope variant lost the race at 69 queries.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
      }
    }
    spark.stop()
  }

  private def writeOracleJson(outDir: String, only: Option[Set[String]]): Unit = {
    def q(s: String): String = OracleJson.quote(s)
    // mirror the `only` filter: otherwise a filtered re-gate emits the
    // full oracle map and check_oracle.py FAILs every absent result
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    ()
  }
}
