package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{SparkSpec, Tables}

/** The round-17 n-gram / array-hash kernels must be VALUE-IDENTICAL
  * to the Column forms they replaced: `ngramArray` (aligned-slices
  * zip_with chain), the decontamination gram window
  * (`transform(sequence…array_join(slice))`), and
  * `transform(a, x -> xxhash64(x))`. Checked cell-by-cell over
  * adversarial texts plus the real sf0.001 documents, for n = 2, 3, 6.
  */
class NgramKernelSpec extends SparkSpec {

  private val texts: Seq[String] = Seq(
    null, "", " ", "a", "a b", "a b c", "a b c d",
    "\ta b c d\n",                         // empty edge tokens
    "x x x x x x", "the the the the",
    "héllo wörld héllo wörld héllo",
    "日本語 テキスト 日本語 テキスト",
    "😀 a 😀 a 😀 a",
    (1 to 40).map(i => s"w${i % 7}").mkString(" "),
    (1 to 30).map(_ => "dup tri gram").mkString(" "))

  private def df = {
    val rows = texts.map(s => Row(s)) ++
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select("text").collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType, nullable = true))))
  }

  test("wordNgrams == zip_with reference for n = 2, 3, 6") {
    val ts = split(trim(col("text")), "\\s+")
    for (n <- Seq(2, 3, 6)) {
      // guard like every call site: size >= n
      val guarded = df.filter(size(ts) >= n)
      val rows = guarded.select(
        col("text"),
        TextFunctions.ngramArray(ts, n).as("k"),
        KernelReferences.ngramArrayReference(ts, n).as("r")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n mismatch on '${r.getString(0).take(50)}'")
      }
      // the size = n-1 edge: both forms yield an empty array
      val edge = df.filter(size(ts) === n - 1)
        .select(TextFunctions.ngramArray(ts, n).as("k"),
          KernelReferences.ngramArrayReference(ts, n).as("r")).collect()
      edge.foreach { r =>
        assert(r.getSeq[String](0).isEmpty && r.getSeq[String](1).isEmpty)
      }
    }
  }

  test("decontamination gram window: kernel == transform(sequence…slice) form") {
    val n = 6
    val ts = split(trim(col("text")), "\\s+")
    val kernelGs = when(size(ts) >= n, TextFunctions.ngramArray(ts, n))
      .otherwise(array().cast("array<string>"))
    val refGs = when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)),
        i => array_join(slice(ts, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    df.filter(col("text").isNotNull)
      .select(col("text"), kernelGs.as("k"), refGs.as("r")).collect()
      .foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"gram window mismatch on '${r.getString(0).take(50)}'")
      }
  }

  test("xxhash64Elems == transform(xxhash64) on distinct grams") {
    val ts = split(trim(col("text")), "\\s+")
    val gsd = array_distinct(when(size(ts) >= 3, TextFunctions.ngramArray(ts, 3))
      .otherwise(array().cast("array<string>")))
    df.filter(col("text").isNotNull)
      .select(NgramExpressions.xxhash64Elems(gsd).as("k"),
        transform(gsd, g => xxhash64(g)).as("r")).collect()
      .foreach { r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)) }
  }
}
