package graft

import org.apache.spark.sql.functions._

/** Custom expressions exposed as SQL functions via
  * SparkSessionExtensions. */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("the spec session carries the one conf list of GraftSession.local") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sql("SELECT dot_product(array(1.0f, 2.0f), array(3.0f, 4.0f))")
      .head().getDouble(0) == 11.0)
  }

  test("dot_product and hamming callable from SQL") {
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f), "0101", "0001"))
      .toDF("a", "b", "h1", "h2")
      .createOrReplaceTempView("vt")
    val row = spark.sql(
      "SELECT dot_product(a, b) AS d, hamming(h1, h2) AS h FROM vt").head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getInt(1) == 1)
  }

  test("composite text functions callable from SQL, identical to their Column forms") {
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    d.createOrReplaceTempView("docs_ext")
    val sql = spark.sql(
      """SELECT doc_id, token_count(text) AS tc, bpe_token_count(text) AS bc,
        |  lang_id(text) AS li, quality_score(text) AS qs,
        |  stopword_count(text) AS sc, punct_count(text) AS pc,
        |  redact(text) AS rd, doc_fingerprint(text) AS fp,
        |  dup3_frac(text) AS d3, top_tok_frac(text) AS tt
        |FROM docs_ext""".stripMargin)
    val viaCols = d.select(
      col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("tc"),
      graft.functions.TextFunctions.bpeTokenCount(col("text")).as("bc"),
      graft.functions.TextFunctions.langId(col("text")).as("li"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("qs"),
      graft.functions.TextFunctions.stopwordCount(col("text")).as("sc"),
      graft.functions.TextFunctions.punctCount(col("text")).as("pc"),
      graft.functions.TextFunctions.redact(col("text")).as("rd"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"),
      graft.ops.TextAnalysis.dup3Frac(col("text")).as("d3"),
      graft.ops.TextAnalysis.topTokFrac(col("text")).as("tt"))
    assert(sql.exceptAll(viaCols).isEmpty && viaCols.exceptAll(sql).isEmpty)
  }

  test("hmac_sha256 callable from SQL (RFC 4231 vector #2)") {
    val row = spark.sql(
      "SELECT hex(hmac_sha256('what do ya want for nothing?', 'Jefe')) AS h").head()
    assert(row.getString(0).equalsIgnoreCase(
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843"))
  }

  test("dot_product rejects non-array inputs with a clear analysis error") {
    Seq((1, "x")).toDF("n", "s").createOrReplaceTempView("bad")
    val e = intercept[Exception] {
      spark.sql("SELECT dot_product(n, s) FROM bad").collect()
    }
    assert(e.getMessage.contains("dot_product") || e.getMessage.contains("DATATYPE"))
  }
}
