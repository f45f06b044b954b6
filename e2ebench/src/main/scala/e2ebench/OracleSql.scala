package e2ebench

/** Prints the DuckDB oracle SQL of every query_mix query as one JSON
  * object; gen_oracle_hashes.py turns it into oracle_hashes.json. */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(QueryMix.mix.map(_._1)
      .map(q => Json.str(q) + ":" + Json.str(graft.SparkEntry.oracleSql(q)))
      .mkString("{", ",", "}"))
}
