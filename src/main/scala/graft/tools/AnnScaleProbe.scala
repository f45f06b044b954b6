package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.Similarity

/** Scale probe for the embedding/ANN pillar — the similarity twin of
  * `ScaleProbe`: replicate the embedding table m×, each replica a
  * near-duplicate of its original (one coordinate scaled by 1%,
  * cosine ≈ 0.9999 — the re-embedded-content case), then run the
  * SemDeDup collapse (`semanticCanonical`) and check the contract:
  * replicas must collapse onto their originals (min vec_id wins), so
  * the survivor set at every scale is the scale-1 set plus the
  * replicas the IVF bucketing failed to co-cluster with their
  * original — reported as `ivf_escape_frac`, the measured recall
  * proxy at that depth. Throughput is warm min-of-2 (first JVM
  * evaluation is codegen-dominated).
  *
  * After the homogeneous sweep, a HETEROGENEOUS-family probe runs at
  * the deepest scale: replicas per original = vec_id % maxFam, so
  * every IVF cluster holds many families of very different sizes —
  * the exact topology that broke the text side's min-id star cap
  * (round-6 64× probe: 16–22% recall loss in heterogeneous hot
  * buckets). The embedding path's cap-mode contract, stated here
  * because this probe enforces it: within-cluster pairing is
  * UNCAPPED full-quadratic (`cosineDupPairsIVF`) — cluster size is
  * bounded by the seeding rate (~seedStep vectors per cluster ×
  * nAssign), so unlike LSH band buckets there is no unbounded hot
  * bucket to cap; the skew lever at scale is MORE clusters (lower
  * seedStep), never a per-cluster candidate cap. If a cap is ever
  * introduced it must generate sorted-neighborhood candidates (the
  * round-6 text fix), not a min-id star.
  *
  * Usage: runMain graft.tools.AnnScaleProbe [sfDir] [scale...]
  */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val scales =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 4, 8)
    val spark = GraftSession.local(appName = "ann-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    val base = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    var baseline: Set[Long] = Set.empty
    scales.foreach { m =>
      val corpus = (0 until m).map { i =>
        if (i == 0) base
        else base.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, j) => when(j === (i % 64), x * lit(1.01f)).otherwise(x))
            .as("embedding"))
      }.reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = corpus.count()
      def once(): (Set[Long], Double) = {
        val t0 = System.nanoTime()
        val cm = Similarity.semanticCanonical(corpus, "vec_id", "embedding",
          minSim = 0.999, seedStep = 37, nAssign = 2)
        val s = cm.filter(col("vec_id") === col("canonical_id"))
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
        (s, (System.nanoTime() - t0) / 1e9)
      }
      val (r1, t1) = once()
      val (survivors, t2) = once()
      require(r1 == survivors, "semanticCanonical must be deterministic")
      val sec = math.min(t1, t2)
      if (m == scales.head && baseline.isEmpty) baseline = survivors
      require(baseline.subsetOf(survivors),
        s"scale $m evicted ${(baseline -- survivors).size} scale-1 survivors")
      val escapes = survivors.count(_ >= 10000000L)
      println(s"""{"metric":"ann_scale_probe","scale":$m,"vecs_in":$n,""" +
        s""""survivors":${survivors.size},""" +
        s""""ivf_escape_frac":${"%.4f".format(escapes.toDouble / math.max(1, n - n / m))},""" +
        s""""collapse_sec":${"%.2f".format(sec)},""" +
        s""""vecs_per_sec":${"%.0f".format(n / sec)}}""")
      corpus.unpersist()
    }

    // Heterogeneous families at the deepest scale: original vec_id v
    // gets (v % maxFam) near-dup replicas, so clusters mix families of
    // sizes 0..maxFam-1. Contract: every replica collapses onto its
    // original (zero escapes), no original evicted — full-quadratic
    // within-cluster pairing has no cross-family edge loss.
    locally {
      val maxFam = scales.max
      val replicas = (1 until maxFam).map { i =>
        base.filter(col("vec_id") % maxFam >= i)
          .select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            transform(col("embedding"),
              (x, j) => when(j === (i % 64), x * lit(1.01f)).otherwise(x))
              .as("embedding"))
      }
      val corpus = (base +: replicas).reduce(_ unionByName _)
        .repartition(32).localCheckpoint(true)
      val n = corpus.count()
      def once(): (Set[Long], Double) = {
        val t0 = System.nanoTime()
        val cm = Similarity.semanticCanonical(corpus, "vec_id", "embedding",
          minSim = 0.999, seedStep = 37, nAssign = 2)
        val s = cm.filter(col("vec_id") === col("canonical_id"))
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
        (s, (System.nanoTime() - t0) / 1e9)
      }
      val (r1, t1) = once()
      val (survivors, t2) = once()
      require(r1 == survivors, "hetero semanticCanonical must be deterministic")
      val sec = math.min(t1, t2)
      // baseline may carry homogeneous-sweep escape REPLICAS (when the
      // sweep didn't start at scale 1) that don't exist in the hetero
      // corpus — the invariance contract is over ORIGINALS only
      val origBaseline = baseline.filter(_ < 10000000L)
      require(origBaseline.subsetOf(survivors),
        s"hetero probe evicted ${(origBaseline -- survivors).size} originals")
      val escapes = survivors.count(_ >= 10000000L)
      val nBase = base.count()
      println(s"""{"metric":"ann_scale_probe_hetero","max_family":$maxFam,""" +
        s""""vecs_in":$n,"survivors":${survivors.size},""" +
        s""""ivf_escape_frac":${"%.4f".format(escapes.toDouble / math.max(1, n - nBase))},""" +
        s""""collapse_sec":${"%.2f".format(sec)},""" +
        s""""vecs_per_sec":${"%.0f".format(n / sec)}}""")
      corpus.unpersist()
    }
    spark.stop()
  }
}
