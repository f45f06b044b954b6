package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.tools.Suite

/** Headline benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1). The full per-query detail is
  * written to `bench_out.json` (SPARK_GRAFT_BENCH_OUT); stdout carries
  * ONE compact JSON line: totals, the top-5 warm queries, the failed
  * list and the path to the detail. (A 12 KB detail line once
  * overflowed a tail-capture buffer, so the detail lives only in the
  * file.)
  *
  * Method: the queries run on [[Suite]]. A query's time is its build
  * (the query function's call and every job it runs to build itself),
  * its plan (analysis through the physical plan) and its execution (the
  * full result written to the `noop` sink: `count()` would let Catalyst
  * prune the columns the gate checks; the write plans the frame again
  * as its own command, so `exec_s` includes that planning). One cold
  * pass, then three warm passes; every per-query figure is the median
  * of the warm reps, and `value` sums the per-query totals. `split`
  * carries build, plan and exec seconds, the build's SQL executions and
  * jobs (`bexec`, `bjobs`) and the execution's jobs, stages and tasks.
  * A query that throws in any pass is in the `failed` list with its
  * error, and in no total.
  * `SPARK_GRAFT_ONLY=q22,q55` runs only the queries whose names start
  * with one of the prefixes, and skips the serve rows.
  *
  * Train-vs-serve split: the q95–q98 PQ/IVF gates and the q102
  * quality-probe gate train their models IN-QUERY (the DuckDB oracle
  * must see one self-contained statement), but production trains once
  * and serves per batch. `serve_queries` reports the serve-only timings
  * (model/index pre-built, untimed) and `train_in_query` names the gate
  * rows whose warm time includes training.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "bench")
    spark.sparkContext.setLogLevel("WARN")

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty))
    // The composed-recipe family runs FIRST: q59's plan is byte-stable
    // across rounds yet its wall time swung 6.8↔22.9 s with JVM age
    // (heap layout after ~200 queries of codegen classes and checkpoint
    // blocks, not the plan). Pinning the family to the young JVM, and
    // reporting recipe_family_sec separately, keeps the total's
    // round-over-round delta readable. q102's 24-iteration GD loop
    // shares the family's GC-pressure signature.
    val recipeFamily = Seq(
      "q59_corpus_pipeline", "q69_training_recipe", "q99_curation_recipe",
      "q102_quality_probe")
    val names = {
      val sorted = SparkEntry.queries.keys.toSeq.sorted
        .filter(n => only.forall(_.exists(n.startsWith)))
      sorted.filter(recipeFamily.contains) ++
        sorted.filterNot(recipeFamily.contains)
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    /** One pass over the suite; a pass's value is its plan seconds. */
    def pass(): Map[String, Either[Suite.Failed, Suite.Pass[Double]]] =
      Suite.run(spark, sfDir, names) { b =>
        val t0 = System.nanoTime()
        b.df.queryExecution.executedPlan
        val planSec = (System.nanoTime() - t0) / 1e9
        noop(b.df)
        planSec
      }.map(o => o.fold(_.name, _.name) -> o).toMap
    def total(p: Suite.Pass[Double]): Double = p.build.sec + p.step.sec

    val coldT0 = System.nanoTime()
    val cold = pass()
    val coldSec = (System.nanoTime() - coldT0) / 1e9
    // Settle before each warm pass: the per-query cleanup frees cache
    // and checkpoint blocks synchronously, but BROADCAST blocks are
    // reclaimed by the ContextCleaner only after the driver GCs the
    // Broadcast handles, an async queue the broadcast-heavy q9x/q18x
    // tail leaves full. Whoever ran right after that tail inherited the
    // backlog (q69 read 27 s in-suite vs 6.5 s isolated). Two GCs with
    // a drain gap bound the inheritance at 3 fixed points.
    def settle(): Unit = {
      Suite.cleanup(spark); Thread.sleep(1500); System.gc()
    }
    val warm = Seq.fill(3) { settle(); pass() }

    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (n <- names; p <- cold +: warm)
      p(n).left.foreach(f => failed.getOrElseUpdate(n, f.error))
    def med[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)
    val results: Seq[(String, Seq[Suite.Pass[Double]])] =
      names.filterNot(failed.contains).map(n => n -> warm.map(_(n).toOption.get))

    // Serve-only rows: build each standing model/index ONCE (untimed),
    // then time the per-batch serving path, the cost that repeats at
    // 100 TB: the full result to the noop sink, median of 3 warm reps.
    def med3(f: => Unit): Double = {
      def one(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      try { f; med(Seq(one(), one(), one())) } finally Suite.cleanup(spark)
    }
    val serveResults = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def serve(name: String)(f: => Unit): Unit =
      try serveResults += name -> med3(f)
      catch { case e: Throwable => failed(name) = e.toString }
    if (only.isEmpty) try {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val docs = Tables.load(spark, sfDir, "documents")
      val root = GraftSession.tempDir("graft_bench_serve")
      val idxDir = s"$root/ivfpq"
      ops.Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idxDir)
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val w = ops.Classifier.train(ops.Classifier.featurize(docs, "doc_id", "text"))
      val invDir = s"$root/inv"
      ops.TextAnalysis.writeInvertedIndex(docs, "doc_id", "text", invDir)
      // Index lifecycle rows: the same serves against base+delta
      // APPENDED indexes and again after COMPACTION. Appends may only
      // degrade serve by the extra per-partition file opens, and
      // compaction must return it to the fresh-build line (row
      // equality is spec-pinned; these rows give the latency).
      val idxApp = s"$root/ivfpq_app"
      ops.Similarity.writeIvfPqIndex(
        emb.filter(pmod(col("vec_id"), lit(4)) =!= 1), "vec_id", "embedding", idxApp)
      ops.Similarity.appendToIvfPqIndex(spark, idxApp,
        emb.filter(pmod(col("vec_id"), lit(4)) === 1), "vec_id", "embedding")
      val idxCmp = s"$root/ivfpq_cmp"
      ops.Similarity.compactIvfPqIndex(spark, idxApp, idxCmp)
      val invApp = s"$root/inv_app"
      ops.TextAnalysis.writeInvertedIndex(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 1), "doc_id", "text", invApp)
      ops.TextAnalysis.appendToInvertedIndex(spark, invApp,
        docs.filter(pmod(col("doc_id"), lit(4)) === 1), "doc_id", "text")
      val invCmp = s"$root/inv_cmp"
      ops.TextAnalysis.compactInvertedIndex(spark, invApp, invCmp)
      def ivfPq(dir: String) = ops.Similarity.servePqIndex(
        spark, dir, queriesDf, k = 5, nProbe = 8, shortlist = 100)
      def bm25(dir: String) =
        ops.TextAnalysis.serveBm25(spark, dir, Seq("table", "scan", "merge"), k = 20)
      serve("serve_ivfpq_topk")(noop(ivfPq(idxDir)))
      serve("serve_ivfpq_after_append")(noop(ivfPq(idxApp)))
      serve("serve_ivfpq_compacted")(noop(ivfPq(idxCmp)))
      serve("serve_quality_score")(noop(ops.Classifier.scoreCorpus(docs, "doc_id", "text", w)))
      serve("serve_bm25_search")(noop(bm25(invDir)))
      serve("serve_bm25_after_append")(noop(bm25(invApp)))
      serve("serve_bm25_compacted")(noop(bm25(invCmp)))
    } catch { case e: Throwable => failed("serve_queries") = e.toString }
    val trainInQuery = Seq("q95_pq_codes", "q96_pq_topk", "q97_ivfpq_topk",
      "q98_pq_delta_codes", "q102_quality_probe",
      // the serve GATES build their standing index in-query (the
      // oracle must see one self-contained run); the repeating cost
      // is the serve_queries rows
      "q182_serve_ivfpq_topk", "q183_serve_bm25_search",
      "q184_ivfpq_append_serve", "q185_inverted_append_serve")
      .filter(SparkEntry.queries.contains)

    def q(s: String): String = OracleJson.quote(s)
    def obj(kvs: Seq[(String, Any)]): String =
      kvs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val warmTotals = results.map { case (n, reps) => n -> med(reps.map(total)) }
    val split = results.map { case (n, reps) =>
      n -> obj(Seq(
        "build_s" -> med(reps.map(_.build.sec)),
        "plan_s" -> med(reps.map(_.value)),
        "exec_s" -> med(reps.map(p => p.step.sec - p.value)),
        "bexec" -> med(reps.map(_.build.executions)),
        "bjobs" -> med(reps.map(_.build.jobs)),
        "jobs" -> med(reps.map(_.step.jobs)),
        "stages" -> med(reps.map(_.step.stages)),
        "tasks" -> med(reps.map(_.step.tasks))))
    }
    val coldTotals = results.map { case (n, _) => n -> total(cold(n).toOption.get) }
    val value = warmTotals.map(_._2).sum
    val recipeFamilySec = warmTotals.filter(r => recipeFamily.contains(r._1)).map(_._2).sum
    // one line per error: a multi-line message would swamp the compact line
    val failedJson = failed.toSeq.map { case (n, e) =>
      obj(Seq("query" -> q(n), "error" -> q(e.takeWhile(_ != '\n').take(200))))
    }.mkString("[", ",", "]")
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val head =
      s""""metric":"total","value":$value,"unit":"sec",""" +
        s""""cold_total_sec":$coldSec,"recipe_family_sec":$recipeFamilySec,""" +
        s""""cores":${spark.sparkContext.defaultParallelism},"failed":$failedJson,"""
    val fullJson = s"{$head" +
      s""""queries":${obj(warmTotals)},"split":${obj(split)},""" +
      s""""cold_queries":${obj(coldTotals)},"serve_queries":${obj(serveResults.toSeq)},""" +
      s""""train_in_query":${trainInQuery.map(q).mkString("[", ",", "]")},"sf":${q(sfDir)}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchOut), fullJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    val top5 = warmTotals.sortBy(-_._2).take(5)
    println(s"{$head" +
      s""""queries":${obj(top5)},"n_queries":${warmTotals.size},""" +
      s""""full_json":${q(benchOut)},"sf":${q(sfDir)}}""")
    spark.stop()
  }
}
