package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout (Z-order / Morton clustering) for the
  * written corpus — the scan-pruning lever once data is at rest: a
  * query filtered on EITHER clustering dimension touches only the
  * files whose parquet min/max stats admit the value, instead of every
  * file the way a single-column sort helps only its own column.
  * Linear-scale rank normalization + bit interleave are pure codegen'd
  * column arithmetic; the write is one shuffle into equal-count
  * z-value ranges (split points from one quantile pass — no global
  * sort) with an in-partition sort so row-group stats are tight too.
  *
  * At 100 TB this is the difference between "filter on user_id reads
  * the whole feed" and "reads ~1/files_per_dimension of it" for tables
  * queried along two independent axes (user × time, domain × quality).
  */
object Layout {
  /** Normalize a numeric column to a 16-bit rank given its [lo, hi]
    * bounds (one cheap agg to obtain; at scale use partition-pruned or
    * cached stats). Monotone, so range predicates survive. */
  def rank16(c: Column, lo: Long, hi: Long): Column = {
    val span = math.max(1L, hi - lo)
    least(lit(65535), greatest(lit(0),
      floor(((c.cast("double") - lit(lo.toDouble)) / lit(span.toDouble)) * 65535.0)
        .cast("int")))
  }

  /** 32-bit Morton interleave of two 16-bit ranks — bit i of `a` lands
    * at 2i, bit i of `b` at 2i+1. Pure bitwise chain, codegen'd. */
  def zValue(a: Column, b: Column): Column = {
    val (al, bl) = (a.cast("long"), b.cast("long")) // bit 31 overflows int
    (0 until 16).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** `df` shuffled into `n` partitions by equal-count ranges of the
    * numeric column `c`, range i in partition i.
    *
    * The split points come from one deterministic quantile pass, not
    * from `repartitionByRange`: Spark's range sampler seeds itself
    * with the RDD id, so the boundaries (the files a writer cuts, and
    * the pruning a test or a reader sees) would change with whatever
    * ran earlier in the same SparkContext. */
  def rangeShuffle(df: DataFrame, c: String, n: Int): DataFrame = {
    val cuts = if (n < 2) Array.empty[Double]
      else df.stat.approxQuantile(c,
        Array.tabulate(n - 1)(i => (i + 1).toDouble / n), 1.0 / (n * 100)).distinct
    val keyed = df.withColumn("_range",
      cuts.foldLeft(lit(0))((k, x) => k + when(col(c) >= x, 1).otherwise(0)))
    val range = keyed.schema.fieldIndex("_range")
    // an Int key hashes to itself: range i lands in partition i
    val rows = keyed.rdd.keyBy(_.getInt(range))
      .partitionBy(new org.apache.spark.HashPartitioner(n)).values
    df.sparkSession.createDataFrame(rows, keyed.schema).drop("_range")
  }

  /** Write `df` z-clustered on two numeric dimensions: rank-normalize
    * with the provided bounds, split the z-curve into `numFiles`
    * equal-count ranges ([[rangeShuffle]]), sort within each, drop the
    * helper column. */
  def writeZOrdered(df: DataFrame, dim1: String, lo1: Long, hi1: Long,
      dim2: String, lo2: Long, hi2: Long, outDir: String,
      numFiles: Int): Unit = {
    val z = df.withColumn("_z",
      zValue(rank16(col(dim1), lo1, hi1), rank16(col(dim2), lo2, hi2)))
    rangeShuffle(z, "_z", numFiles)
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Per-file [min, max] of a column in a written directory — the
    * bounds parquet footer pruning operates on. (Reads the data; at
    * test scale that is the honest way to measure layout quality
    * without reaching into footer internals.) */
  def fileBounds(spark: SparkSession, dir: String, c: String): Seq[(String, Long, Long)] =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(c).cast("long")).as("lo"), max(col(c).cast("long")).as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  /** Fraction of files whose bounds admit `v` — the expected fraction
    * of the table a point filter on `c` must read under footer
    * pruning. */
  def admittingFraction(spark: SparkSession, dir: String, c: String, v: Long): Double = {
    val b = fileBounds(spark, dir, c)
    b.count { case (_, lo, hi) => lo <= v && v <= hi }.toDouble / b.size
  }
}
