package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.CorpusPipeline

/** Scaling probe for the corpus-cleaning pipeline: replicate the
  * sf corpus m× (replica i shifts ids by i·10^7 and appends one
  * marker token, making every replica a NEAR-duplicate of its
  * original — jaccard ≈ 0.8–0.95, the realistic re-crawl case), run
  * the full `CorpusPipeline.clean`, and report docs/s per scale. The
  * correctness half of the probe: every scale-1 survivor must
  * survive at every scale (replicas carry strictly larger ids, so
  * keep-canonical can never evict an original), and the replicas
  * that escape the LSH (banding is probabilistic in the hash
  * construction) are reported as `lsh_escape_frac` — the measured
  * recall proxy at that duplication depth.
  *
  * At duplication depth d, every LSH band bucket holds all d replicas
  * of a doc, so uncapped candidate enumeration is O(d²) per original —
  * measured: 64× at sf0.1 generated >58 GB of verification-join spill
  * and died on disk. That is exactly the workload the hot-bucket cap
  * exists for (`Dedup.lshCandidatesCapped`): capped buckets emit
  * consecutive pairs in full-signature (skey) order — O(d) pairs, and
  * each near-dup family forms a lexicographic run whose verified chain
  * keep-canonical closes transitively, so scale-1 survivors are never
  * evicted (asserted here; the legacy min-id star lost 16–22% of known
  * near-dups to verification-rejected cross-family edges —
  * docs/SCALE_PROBE_r6.jsonl holds all three configurations).
  * Deep-replication probes therefore set SPARK_GRAFT_MAX_BUCKET below
  * the duplication depth to engage the production path; the default
  * (10000) reproduces the uncapped clique blow-up.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [scale...]
  *        (env SPARK_GRAFT_MAX_BUCKET overrides Config.maxBucket)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cfg = CorpusPipeline.Config(maxBucket =
      sys.env.get("SPARK_GRAFT_MAX_BUCKET").map(_.toInt).getOrElse(10000))
    val scales =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 4, 16)
    val spark = GraftSession.local(appName = "scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    val base = graft.Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    var baseline: Set[Long] = Set.empty
    scales.foreach { m =>
      val corpus = (0 until m).map { i =>
        if (i == 0) base
        else base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          concat(col("text"), lit(s" zrep$i")).as("text"))
      }.reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = corpus.count()
      // Warm min-of-2 (the Bench convention): the first evaluation in
      // a fresh JVM pays codegen/JIT for the whole pipeline — on this
      // corpus that is larger than the actual data cost.
      def once(): (Set[Long], Double) = {
        val t0 = System.nanoTime()
        val s = CorpusPipeline.clean(corpus, "doc_id", "text", cfg)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        (s, (System.nanoTime() - t0) / 1e9)
      }
      val (r1, t1) = once()
      val (survivors, t2) = once()
      require(r1 == survivors, "clean must be deterministic run to run")
      val sec = math.min(t1, t2)
      if (m == scales.head && baseline.isEmpty) baseline = survivors
      require(baseline.subsetOf(survivors),
        s"scale $m evicted ${(baseline -- survivors).size} scale-1 survivors")
      val escapes = survivors.count(_ >= 10000000L)
      println(s"""{"metric":"scale_probe","scale":$m,"docs_in":$n,""" +
        s""""survivors":${survivors.size},""" +
        s""""lsh_escape_frac":${"%.4f".format(escapes.toDouble / math.max(1, n - n / m))},""" +
        s""""clean_sec":${"%.2f".format(sec)},""" +
        s""""docs_per_sec":${"%.0f".format(n / sec)}}""")
      corpus.unpersist()
    }
    spark.stop()
  }
}
