package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{SparkSpec, Tables}
import graft.ops.Classifier

/** The round-17 classifier kernels must be VALUE-IDENTICAL to the
  * Column forms they replaced: featurize's dense bucket-count fold
  * and the BIGINT score dot. */
class ClassifierKernelSpec extends SparkSpec {

  private val texts: Seq[String] = Seq(
    "a", "a b c", "the the the", " padded  ", "héllo wörld 日本語",
    "😀 a 😀", "\ttab edge", (1 to 80).map(i => s"w$i").mkString(" "),
    (1 to 49).map(_ => "x").mkString(" "),   // just under the label cut
    (1 to 50).map(_ => "x").mkString(" "))   // exactly at it

  private def df = {
    val rows = texts.map(s => Row(s)) ++
      Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .select("text").collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map {
        case (r, i) => Row(i.toLong, r.get(0))
      }, 4),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
  }

  test("featurize kernel == reference fold (c and label)") {
    val k = Classifier.featurize(df, "doc_id", "text")
    val r = KernelReferences.featurizeReference(df, "doc_id", "text")
    val joined = k.alias("k").join(r.alias("r"), "doc_id")
      .select(col("doc_id"), col("k.c").as("kc"), col("r.c").as("rc"),
        col("k.label").as("kl"), col("r.label").as("rl"))
      .collect()
    assert(joined.length == k.count())
    joined.foreach { row =>
      assert(row.getSeq[Long](1) == row.getSeq[Long](2),
        s"bucket counts mismatch for doc ${row.getLong(0)}")
      assert(row.getInt(3) == row.getInt(4))
    }
  }

  test("dotLong kernel == zip_with/aggregate reference") {
    val rnd = new scala.util.Random(17)
    val w = IndexedSeq.fill(Classifier.D + 1)(
      (rnd.nextInt(2000001) - 1000000).toLong)
    val feats = Classifier.featurize(df, "doc_id", "text")
    val rows = feats.select(
      ClassifierExpressions.dotLong(col("c"), typedlit(w)).as("k"),
      aggregate(zip_with(col("c"), typedlit(w), (x, y) => x * y),
        lit(0L), (a, x) => a + x).as("r")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}
