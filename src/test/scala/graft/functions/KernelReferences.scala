package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Classifier

/** The builtin Column compositions that the one-pass codegen'd text
  * and classifier kernels replaced. Each is the documented semantics
  * its kernel must reproduce value for value; the kernel specs
  * (TextStatKernelSpec, NgramKernelSpec, ClassifierKernelSpec)
  * compare against them cell by cell. */
object KernelReferences {

  /** Whitespace token count; empty/blank → 0 (Spark trim = ASCII
    * 0x20, Java `\s+` split with limit −1). */
  def tokenCountReference(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** Composite quality score in [0,1]: length, punctuation and
    * stopword-density components. */
  def qualityScoreReference(c: Column): Column = {
    val nTok = tokenCountReference(c).cast("double")
    val stopRatio = TextFunctions.stopwordCount(c) / nullif(nTok, lit(0.0))
    val punctRatio = TextFunctions.punctCount(c) / nullif(length(c).cast("double"), lit(0.0))
    coalesce(
      round(
        lit(0.5) * least(lit(1.0), nTok / lit(50.0)) +
          lit(0.3) * (lit(1.0) - least(lit(1.0), punctRatio * lit(10.0))) +
          lit(0.2) * least(lit(1.0), stopRatio * lit(5.0)),
        6),
      lit(0.0))
  }

  /** Word n-grams from n aligned slices zipped together (every lambda
    * body touches only its lambda variables). Callers guarantee
    * size(tokens) ≥ n − 1. */
  def ngramArrayReference(tokens: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    val cnt = size(tokens) - (n - 1)
    (2 to n).foldLeft(slice(tokens, lit(1), cnt)) { (acc, j) =>
      zip_with(acc, slice(tokens, lit(j), cnt), (a, b) => concat(a, lit(" "), b))
    }
  }

  /** Duplicate word-3-gram fraction. The gram count is size(ts)−2 by
    * construction, so the gram array is referenced once and only under
    * the guard (slice needs n3 ≥ 1). */
  def dup3FracReference(textCol: Column): Column = {
    val ts = split(trim(textCol), "\\s+")
    val n3 = size(ts) - 2
    when(n3 > 0,
      round((n3 - size(array_distinct(TextFunctions.ngramArray(ts, 3))))
        / n3.cast("double"), 6))
      .otherwise(lit(0.0))
  }

  /** Most-frequent-token fraction: the longest equal run in the sorted
    * token array, found in one `aggregate` pass. */
  def topTokFracReference(textCol: Column): Column = {
    val ts = split(trim(textCol), "\\s+")
    val best = aggregate(
      array_sort(ts),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    round(best / size(ts).cast("double"), 6)
  }

  /** Portable token→bucket hash: first 4 md5 hex digits mod D (both
    * engines see nonnegative ints, so `%` agrees). */
  private def bucketOf(tok: Column): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast("int") % Classifier.D

  /** `Classifier.featurize` as a Column fold: (id, dense per-bucket
    * token counts with the bias pseudo-count B at index D, label). */
  def featurizeReference(docsDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    docsDf
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), toks.as("_toks"))
      .withColumn("_bs", transform(col("_toks"), t => bucketOf(t)))
      .select(
        col(idCol),
        concat(
          aggregate(col("_bs"), array_repeat(lit(0L), Classifier.D),
            (acc, b) => transform(acc, (v, i) => when(i === b, v + 1L).otherwise(v))),
          array(lit(Classifier.B).cast("long"))).as("c"),
        when(size(col("_toks")) >= Classifier.LABEL_MIN_TOKENS, lit(1)).otherwise(lit(0))
          .as("label"))
  }
}
