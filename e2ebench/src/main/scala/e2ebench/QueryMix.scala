package e2ebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.ops.Similarity

/** query_mix: one `SparkEntry` query per ops module, each timed to its
  * full result. The cold pass writes every result to parquet (run.py
  * hashes them against the committed DuckDB oracle fingerprints); the
  * warm passes, in a seed-shuffled order, write to the noop sink and
  * run until the measuring time is spent (at least one). The side op is
  * `Similarity.servePqIndex` on an IVF-PQ index built in setup, once
  * after the cold pass and twice after each warm pass. */
object QueryMix {
  /** (query, module) — the module names the per-module layer metric. */
  val mix: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "Relational",
    "q19_json_extract" -> "Aggregates",
    "q21_fanout_agg" -> "FeedShapes",
    "q39_e2e_feed" -> "BenchShapes",
    "q25_token_stats" -> "TextAnalysis",
    "q31_minhash_lsh" -> "DedupShapes",
    "q33_cosine_topk" -> "SimilarityShapes",
    "q207_bmp_pixel_means" -> "MiscShapes",
    "q51_sessions" -> "Temporal",
    "q135_basket_lift" -> "Analytics",
    "q87_pii_audit" -> "CurationOps",
    "q201_release_gate" -> "CorpusStats",
    "q49_asof_join" -> "AsOf")

  val modules: Seq[String] = mix.map(_._2).distinct
  val K = 5
  val MinWarmPasses = 1

  def run(spark: SparkSession, o: Opts): Result = {
    val queries = mix.map(_._1)
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry: ${missing.mkString(",")}")
    val rnd = new scala.util.Random(o.seed)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    // Setup: the standing IVF-PQ index and the side op's query vectors.
    val emb = graft.Tables.load(spark, o.data, "embeddings")
    val idxDir = o.dir("ivfpq")
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idxDir)
    Proc.mark("index built")
    val vec: Map[Long, Array[Double]] = emb.select("vec_id", "embedding").collect().map { r =>
      r.getLong(0) -> r.getSeq[Any](1).map(_.toString.toDouble).toArray
    }.toMap
    val qIds = rnd.shuffle(vec.keys.toSeq.sorted).take(5)
    val qVecs = emb.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")).cache()
    qVecs.count()
    val setupS = (System.currentTimeMillis() - Proc.jvmStartMs) / 1e3

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    /** One query to its full result, to parquet or the noop sink; its
      * ms, or None if it failed. */
    def runQuery(q: String, span: String, toParquet: Boolean): Option[Double] = {
      attempted += 1
      val t0 = Proc.nowMs()
      val r = try {
        Tracer.span(spark, span) {
          val w = SparkEntry.queries(q)(spark, o.data).write.mode("overwrite")
          if (toParquet) w.parquet(o.dir(s"results/$q")) else w.format("noop").save()
        }
        val ms = Proc.nowMs() - t0
        System.err.println(f"[e2ebench] $span $ms%.1f ms")
        Some(ms)
      } catch { case e: Throwable =>
        failed += 1; notes += s"$q failed: ${e.toString.take(200)}"; None
      }
      cleanup()
      r
    }

    // Side op check: k rows per query ranked 1..k, never the query
    // itself, each similarity the exact cosine, the same rows every call.
    def cosine(a: Long, b: Long): Double = {
      val (x, y) = (vec(a), vec(b))
      x.indices.map(i => x(i) * y(i)).sum /
        math.sqrt(x.map(v => v * v).sum) / math.sqrt(y.map(v => v * v).sum)
    }
    var firstServe: Option[Seq[(Long, Int, Long, Double)]] = None
    val serveMs = mutable.ArrayBuffer.empty[Double]
    def serve(): Unit = {
      attempted += 1
      val t0 = Proc.nowMs()
      val rows = Tracer.span(spark, s"serve/${serveMs.size}") {
        Similarity.servePqIndex(spark, idxDir, qVecs, k = K, nProbe = 8, shortlist = 100).collect()
      }
      serveMs += Proc.nowMs() - t0
      val got = rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rnk"), r.getAs[Long]("n_id"),
        r.getAs[Double]("sim"))).toSeq.sorted
      if (firstServe.isEmpty) firstServe = Some(got)
      val ok = firstServe.contains(got) && qIds.forall { q =>
        val mine = got.filter(_._1 == q)
        mine.map(_._2) == (1 to K) &&
          mine.forall(m => m._3 != q && math.abs(cosine(q, m._3) - m._4) < 2e-4) &&
          mine.map(_._4).sliding(2).forall(p => p.size < 2 || p(0) >= p(1))
      }
      if (!ok) { failed += 1; notes += s"servePqIndex: wrong result $got" }
    }

    // Timed phase.
    tracer.foreach(_.attach())
    val cpu0 = Proc.cpuNs()
    val cg0 = CodeGenerator.compileTime
    val tStart = Proc.nowMs()
    val cold = queries.map(q => runQuery(q, s"cold/$q", toParquet = true))
    val coldS = (Proc.nowMs() - tStart) / 1e3
    val cgCold = CodeGenerator.compileTime - cg0
    serve()
    // A traced run times every warm query twice, listeners on and off
    // in alternating order; the gap is the tracing overhead.
    val warm = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val offMs = mutable.ArrayBuffer.empty[Double]
    var passes = 0
    var warmWallMs = 0.0
    while (passes < MinWarmPasses || Proc.nowMs() - tStart < o.seconds * 1000) {
      val p0 = Proc.nowMs()
      rnd.shuffle(queries).zipWithIndex.foreach { case (q, i) =>
        def on(): Unit = {
          tracer.foreach(_.attach())
          runQuery(q, s"warm/$q", toParquet = false)
            .foreach(warm.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += _)
        }
        def off(): Unit = tracer.foreach { t =>
          t.detach()
          runQuery(q, s"off/$q", toParquet = false).foreach(offMs += _)
        }
        if (i % 2 == 0) { on(); off() } else { off(); on() }
      }
      warmWallMs += Proc.nowMs() - p0
      tracer.foreach(_.attach())
      serve(); serve()
      passes += 1
    }
    val cpuMs = (Proc.cpuNs() - cpu0) / 1e6
    val cgWarm = CodeGenerator.compileTime - cg0 - cgCold

    val med = warm.map { case (q, v) => q -> Stats.median(v.toSeq) }.toMap
    val allWarm = warm.values.flatten.toSeq
    if (med.size < queries.size) notes += s"${queries.size - med.size} queries had no warm timing"
    val e2e = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Proc.peakRssMb(),
      "cpu_ms_per_op" -> cpuMs / math.max(1, allWarm.size + offMs.size + cold.flatten.size),
      "op_p50_ms" -> Stats.median(med.values.toSeq),
      "op_p99_ms" -> Stats.pct(allWarm, 99),
      "ops_per_s" -> (allWarm.size + offMs.size) / (warmWallMs / 1e3),
      "side_p50_ms" -> Stats.median(serveMs.toSeq),
      "side_p90_ms" -> Stats.pct(serveMs.toSeq, 90),
      "cold_pass_s" -> coldS,
      "warm_pass_s" -> med.values.sum / 1e3,
      "warm_geomean_ms" -> Stats.geomean(med.values.toSeq))

    val layers = tracer.map { t =>
      t.detach()
      val w = t.total(_.startsWith("warm/"))
      val perPass = passes.toDouble
      val serveSpans = t.spans().collect { case (k, a) if k.startsWith("serve/") => a }.toSeq
      Map(
        "query.plan_ms" -> w.planMs / perPass,
        "query.exec_ms" -> w.execMs / perPass,
        "query.jobs" -> w.jobs / perPass,
        "query.stages" -> w.stages / perPass,
        "query.tasks" -> w.tasks / perPass,
        "query.executor_cpu_s" -> w.cpuNs / 1e9 / perPass,
        "query.cpu_wall_ratio" -> (w.cpuNs / 1e6) / allWarm.sum,
        "query.shuffle_read_mb" -> w.shuffleRead / 1048576.0 / perPass,
        "query.shuffle_write_mb" -> w.shuffleWrite / 1048576.0 / perPass,
        "query.spill_mb" -> w.spill / 1048576.0 / perPass,
        "query.task_skew_max" -> w.skewMax,
        "query.codegen_ms_cold" -> cgCold / 1e6,
        "query.codegen_ms_warm" -> cgWarm / 1e6 / ((allWarm.size + offMs.size).toDouble / queries.size),
        "serve.pq_plan_ms_p50" -> Stats.median(serveSpans.map(_.planMs)),
        "serve.pq_exec_ms_p50" -> Stats.median(serveSpans.map(_.execMs)),
        "serve.pq_jobs" -> Stats.median(serveSpans.map(_.jobs.toDouble)),
        "trace.overhead_pct" -> (allWarm.sum / offMs.sum - 1) * 100) ++
        modules.map { m =>
          s"module.$m.warm_ms" -> mix.filter(_._2 == m).flatMap(q => med.get(q._1)).sum
        } ++ Tracer.jvmLayers()
    }.getOrElse(Map.empty)

    Result(attempted, failed, failed == 0 && med.size == queries.size, e2e, layers, notes.toSeq)
  }
}
