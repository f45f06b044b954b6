package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{SparkSpec, Tables}
import graft.ops.TextAnalysis

/** The round-17 one-pass text-stat kernels must be VALUE-IDENTICAL to
  * the Column compositions they replaced — same trim/split/regex
  * semantics, same double evaluation order and rounding, same null
  * quirks (qualityScore(null)=0.7, dup3Frac(null)=0.0,
  * tokenCount/topTokFrac(null)=null). Checked cell-by-cell (nullness
  * included) over an adversarial corpus plus the real sf0.001
  * documents table, under both codegen and interpreted eval.
  */
class TextStatKernelSpec extends SparkSpec {

  private val adversarial: Seq[String] = Seq(
    null,
    "",
    " ",
    "   ",
    "\t",
    "\n",
    " \t ",
    "a",
    " a ",
    "a b",
    "a  b",
    "a\tb\nc",
    "\ta b",      // leading tab survives trim → leading empty token
    "a b\r\n",    // trailing newline → trailing empty token
    "a b",   // NBSP is not \s — stays one token
    "the the the",
    "the a of and in to is",
    "The THE the tHe",
    "x y x y x y x y",
    "a b c a b c a b c a b c",
    "héllo wörld héllo wörld héllo wörld",
    "日本語 テキスト 日本語 テキスト 日本語",
    "😀 😀 a 😀 😀 a 😀 😀 a",   // supplementary code points
    "one, two; three! four? five: six... seven",
    "!!!@@@###$$$%%%",
    "user_id=42 a@b.com eyJabc.def",
    "0 1 2 3 4 5 6 7 8 9 10 11 12",
    ("tok " * 60).trim,                         // >50 tokens → len term saturates
    (1 to 40).map(i => s"w${i % 7}").mkString(" "),
    (1 to 30).map(_ => "dup tri gram").mkString(" "),
    "singleton " + (1 to 25).map(i => s"u$i").mkString(" "),
    // \b-boundary adversaries for the hand-coded stopword counter
    "_the_ the_ _the the", "9the the9 athe thea", "the,the.the;the",
    "THE The tHe", "a a a", "a_ _a a9 9a", "of|of&of", "and and_ _and",
    "in-in in.in", "to't'o to", "is'is is!is", "éthe theé é the é",
    "thethe\fthe\rthe", "𝄞the𝄞 the", "other weather breathe",
    "of of of of", "band sand candy and", "into to in",
    // punct-class adversaries (code-point counting)
    "𝄞𝄞𝄞", "é", "..𝄞..", "  ", "😀x😀",
    "a\uD800b") ++ // lone high surrogate
    fuzz // random strings over an adversarial alphabet

  private lazy val fuzz: Seq[String] = {
    val rnd = new scala.util.Random(171717)
    val alphabet: IndexedSeq[String] = IndexedSeq(
      " ", "\t", "\n", "", "\f", "\r", " ",
      "a", "b", "Z", "9", "_", "é", "日", "𝄞", "😀", ",", ".", "!", "|",
      "the", "a", "of", "and", "in", "to", "is", "THE", "thee", "xa",
      "́", "á", "́the") // combining acute: \b mark rule
    (1 to 300).map { _ =>
      val len = rnd.nextInt(30)
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
  }

  private def df = {
    val rows = adversarial.map(s => Row(s)) ++
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select("text").collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType, nullable = true))))
  }

  private def assertColumnsEqual(wholeStage: Boolean): Unit = {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    try {
      val c = col("text")
      val both = df.select(
        c.as("t"),
        TextFunctions.tokenCount(c).as("k_tok"),
        KernelReferences.tokenCountReference(c).as("r_tok"),
        TextFunctions.qualityScore(c).as("k_q"),
        KernelReferences.qualityScoreReference(c).as("r_q"),
        TextAnalysis.dup3Frac(c).as("k_d3"),
        KernelReferences.dup3FracReference(c).as("r_d3"),
        TextAnalysis.topTokFrac(c).as("k_tt"),
        KernelReferences.topTokFracReference(c).as("r_tt"))
      val rows = both.collect()
      assert(rows.length >= adversarial.length)
      rows.foreach { r =>
        val t = if (r.isNullAt(0)) "<null>" else r.getString(0).take(60)
        for ((k, ref, name) <- Seq((1, 2, "tokenCount"), (3, 4, "qualityScore"),
            (5, 6, "dup3Frac"), (7, 8, "topTokFrac"))) {
          val kv = if (r.isNullAt(k)) null else r.get(k)
          val rv = if (r.isNullAt(ref)) null else r.get(ref)
          assert(kv == rv,
            s"$name mismatch on '$t' (wholeStage=$wholeStage): kernel=$kv reference=$rv")
        }
      }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("kernel == reference composition, codegen eval") {
    assertColumnsEqual(wholeStage = true)
  }

  test("kernel == reference composition, interpreted eval") {
    assertColumnsEqual(wholeStage = false)
  }

  test("null quirks pinned") {
    val one = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null: String))),
      StructType(Seq(StructField("text", StringType, nullable = true))))
    val r = one.select(
      TextFunctions.tokenCount(col("text")),
      TextFunctions.qualityScore(col("text")),
      TextAnalysis.dup3Frac(col("text")),
      TextAnalysis.topTokFrac(col("text"))).collect().head
    assert(r.isNullAt(0))
    assert(r.getDouble(1) == 0.7)
    assert(r.getDouble(2) == 0.0)
    assert(r.isNullAt(3))
  }
}
