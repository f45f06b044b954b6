package graft
import java.nio.file.{Files, Paths}
import graft.tools.Suite
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
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    Suite.run(spark, sfDir, names) { b =>
      b.df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${b.name}")
    }.foreach(_.left.foreach(f => System.err.println(s"[verify] ${f.name} failed: ${f.error}")))
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
