package graft

/** Headline benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (driver default sf0.1). Stdout carries ONE
  * COMPACT (<1 KB) JSON line — totals, top-5 warm queries, load/GC
  * stamps, and the path to the full per-query detail, which is always
  * written to `bench_out.json` (SPARK_GRAFT_BENCH_OUT). Round-12
  * split: the single 12 KB detail line overflowed the driver's
  * tail-capture buffer in rounds 10-11 (`parsed: null`), so the
  * detail now lives only in the file.
  *
  * Methodology: one untimed warm-up pass (JIT + codegen + OS page
  * cache — a native engine's steady state is the fair baseline), then
  * THREE timed passes per query in sorted name order; each query
  * reports the MEDIAN of its three runs (round-9 change: round-8
  * driver numbers were taken at loadavg ~15 and min-of-2 still let a
  * doubly-contended query read as a plan regression — the median of
  * three is robust to one outlier rep in either direction). `value`
  * is the sum of per-query medians; `cold_total_sec`/`cold_queries`
  * report the warm-up pass in total and per query, and
  * `load_before/after` + `jvms_before/after` + `high_load_at_start`
  * stamp host load so driver-vs-local deltas are attributable — a
  * run stamped high_load_at_start=true is NOT comparable round-over-
  * round and should be re-taken on a quiesced box.
  *
  * Train-vs-serve split (round-8 verdict item 5): the q95–q98 PQ/IVF
  * gates and the q102 quality-probe gate train their models IN-QUERY
  * (the DuckDB oracle must see one self-contained statement), but
  * production trains once and serves per batch. `serve_queries`
  * reports the serve-only timings (model/index pre-built, untimed)
  * and `train_in_query` names the gate rows whose warm time includes
  * training, so suite totals stop reading training as query cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "bench")
    spark.sparkContext.setLogLevel("WARN")

    // Dev loop: SPARK_GRAFT_ONLY=q22,q55 restricts to queries whose
    // name starts with any of the prefixes (driver runs unfiltered).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty))
    // The composed-recipe family runs FIRST (round-13, VERDICT r12
    // item 3): q59's plan is byte-stable across rounds yet its wall
    // time swung 6.8↔22.9 s with JVM age — heap layout after ~200
    // queries of codegen classes and checkpoint blocks, not the plan.
    // Pinning the family to the young JVM (and reporting
    // recipe_family_sec separately below) keeps the headline total's
    // round-over-round delta readable.
    val recipeFamily = Seq(
      "q59_corpus_pipeline", "q69_training_recipe", "q99_curation_recipe",
      // round-15: q102 joins the family pin — its 24-iteration GD loop
      // shares the family's GC-pressure signature (VERDICT r14), so it
      // runs on the young JVM and counts in recipe_family_sec.
      "q102_quality_probe")
    val names = {
      val sorted = SparkEntry.queries.keys.toSeq.sorted
        .filter(n => only.forall(_.exists(n.startsWith)))
      sorted.filter(recipeFamily.contains) ++
        sorted.filterNot(recipeFamily.contains)
    }
    // Per-query GC attribution (round-12, VERDICT r11 item 1b): the
    // driver's warm numbers for the checkpoint-heavy dedup family ran
    // 3-9× the quiesced local numbers with identical plans — the
    // hypothesis is long-single-JVM GC pressure, so stamp collector
    // time per query (summed across every rep, cold included) to make
    // that pressure visible in the artifact instead of inferred.
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    val gcByQuery = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    // Per-query I/O attribution (round-16, VERDICT r15 item 1a): the
    // r15 driver artifact showed q59 at 83.3 s with only 9.1 s GC — GC
    // no longer explained the spike, and the prime suspect became
    // DISK_ONLY persist I/O on a contended disk. Stamp actual disk
    // bytes (/proc/self/io read_bytes/write_bytes — storage-layer, not
    // page-cache reads) and the system-wide iowait delta (/proc/stat)
    // per query, so a wall-clock outlier is attributable to a NAMED
    // resource column inside the artifact itself.
    def procSelfIo(): (Long, Long) =
      try {
        val src = scala.io.Source.fromFile("/proc/self/io")
        val m = try src.getLines().map(_.split(":\\s*")).collect {
          case Array(k, v) => k -> v.trim.toLong
        }.toMap finally src.close()
        (m.getOrElse("read_bytes", 0L), m.getOrElse("write_bytes", 0L))
      } catch { case _: Throwable => (0L, 0L) }
    def iowaitJiffies(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().find(_.startsWith("cpu "))
          .map(_.trim.split("\\s+")(5).toLong).getOrElse(0L)
        finally src.close()
      } catch { case _: Throwable => 0L }
    // (readMB, writeMB, iowaitSec) summed over every rep of the query
    val ioByQuery = scala.collection.mutable
      .Map.empty[String, (Double, Double, Double)].withDefaultValue((0.0, 0.0, 0.0))
    def run(name: String): Double = {
      val g0 = gcMillis()
      val (r0, w0) = procSelfIo(); val iw0 = iowaitJiffies()
      val t0 = System.nanoTime()
      val dt =
        try { SparkEntry.queries(name)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      // Untimed inter-query cleanup. clearCache() drops persist()ed
      // plans, but NOT localCheckpoint blocks — those live as
      // RDD-level persistence, reclaimed by the ContextCleaner only
      // after the driver GCs the RDD reference. The round-3 fix
      // (clearCache + gc) relied on the cleaner winning that race and
      // lost it at 69×3 runs: blocks accumulated and taxed the heavy
      // queries 3-5× (q55 11.3s recorded vs 2.25s isolated in round
      // 4). getPersistentRDDs covers BOTH populations — cache-backed
      // and checkpoint RDDs — and unpersist(blocking=true) frees their
      // blocks synchronously, no GC race. Safe here because every
      // query builds its plans from scratch.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      // attribute the cleanup collection to the query that caused it
      gcByQuery(name) += (gcMillis() - g0) / 1e3
      val (r1, w1) = procSelfIo(); val iw1 = iowaitJiffies()
      val prev = ioByQuery(name)
      // iowait jiffies are USER_HZ (=100) ticks, system-wide across
      // all cpus — a named contention column, not a per-query cost
      ioByQuery(name) = (prev._1 + (r1 - r0) / 1048576.0,
        prev._2 + (w1 - w0) / 1048576.0, prev._3 + (iw1 - iw0) / 100.0)
      dt
    }

    // Host-load stamps: the round-5 driver cold total disagreed ~2.3×
    // with repeated local runs and the artifact couldn't attribute the
    // gap. loadavg + concurrent-JVM counts before/after let a reader
    // tell plan regressions from neighbor contention on a shared box.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString("[", ",", "]")
      catch { case _: Throwable => "[]" }
    // Count FOREIGN JVMs only: this forked Bench JVM plus its parent
    // sbt always exist, so the raw count's floor is 2 — which the
    // round-10 verdict misread as "a second sbt was live". Excluding
    // self + ancestors makes 0 the quiesced reading.
    def javaProcs(): Int =
      try {
        def read(p: String): String =
          try {
            val src = scala.io.Source.fromFile(p)
            try src.mkString.trim finally src.close()
          } catch { case _: Throwable => "" }
        def ppidOf(pid: Long): Long =
          // /proc/<pid>/stat: "pid (comm) state ppid ..." — comm may
          // hold spaces/parens, so parse after the LAST ')'
          read(s"/proc/$pid/stat").split("\\)\\s+").lastOption
            .flatMap(_.split("\\s+").drop(1).headOption)
            .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
        val self = ProcessHandle.current().pid()
        val ancestors = Iterator.iterate(self)(ppidOf)
          .takeWhile(_ > 1).take(16).toSet
        new java.io.File("/proc").listFiles.count { f =>
          f.getName.forall(_.isDigit) && f.getName.nonEmpty &&
            !ancestors.contains(f.getName.toLong) &&
            read(s"/proc/${f.getName}/comm") == "java"
        }
      } catch { case _: Throwable => -1 }
    // Quiesce-retry (round-11, VERDICT r10 item 2): two consecutive
    // driver benches self-declared invalid via high_load_at_start.
    // If the 1-min loadavg is hot at start, sleep 60 s ONCE and
    // re-sample — a neighbor JVM finishing in that window rescues the
    // round's bench; if the box is still hot we run anyway and stamp.
    def load1(): Double =
      try loadavg().stripPrefix("[").split(",").head.toDouble
      catch { case _: Throwable => 0.0 }
    var quiesceWaited = false
    if (load1() > 4.0) {
      System.err.println(
        s"[bench] loadavg ${load1()} > 4.0 at start — sleeping 60s once")
      Thread.sleep(60000); quiesceWaited = true
    }
    val loadBefore = loadavg(); val jvmsBefore = javaProcs()

    // Cold pass: timed PER QUERY (not just in total) so a slow cold
    // total is attributable to specific queries, not a mystery.
    val coldT0 = System.nanoTime()
    val coldPerQ = names.map(n => n -> run(n))
    val cold = (System.nanoTime() - coldT0) / 1e9

    // Settle before each warm pass (round-13): the per-query cleanup
    // frees cache/checkpoint blocks synchronously, but BROADCAST
    // torrent blocks are reclaimed by the ContextCleaner only after
    // the driver GCs the Broadcast handles — an async queue the
    // broadcast-heavy q9x/q18x tail leaves full. With the recipe
    // family now first in pass order, whoever ran right after that
    // tail inherited the backlog (q69 read 27 s in-suite vs 6.5 s
    // isolated, GC-attributed only 4.8 s — the rest was allocation
    // stalls against un-reclaimed blocks). Two GCs with a drain gap
    // bound the inheritance at 3 fixed points instead of taxing the
    // first measured query of every pass.
    def settle(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc(); Thread.sleep(1500); System.gc()
    }
    settle()
    val pass1 = names.map(n => n -> run(n)).toMap
    settle()
    val pass2 = names.map(n => n -> run(n)).toMap
    settle()
    val results = names.map { n =>
      val reps = Seq(pass1(n), pass2(n), run(n)).filter(_ >= 0)
      n -> (if (reps.isEmpty) -1.0 else reps.sorted.apply(reps.size / 2))
    }

    // Re-run-on-outlier (round-16, VERDICT r15 item 1b): any query
    // whose warm median exceeds 3× its COMMITTED 3-run local median
    // (tools/bench_medians.tsv — regenerated from the committed
    // docs/BENCH_r15_run*.json whenever those are refreshed) re-runs
    // once, in-process, after a settle. BOTH numbers land in the
    // artifact (`reruns`): a transient spike (disk/neighbor
    // contention) shows a rerun back inside the band; a genuine plan
    // regression shows the rerun confirming the outlier. The headline
    // `value`/`queries` keep the original medians — the rerun column
    // is evidence, not a replacement. The 1 s floor keeps sub-second
    // noise (a 0.1 s query reading 0.4 s) from triggering reruns.
    // The committed medians were measured at sf0.1 (the driver's bench
    // SF) — at any other SF the comparison is meaningless, so the
    // policy only engages there.
    val committedMedians: Map[String, Double] =
      try {
        val f = java.nio.file.Paths.get("tools/bench_medians.tsv")
        if (!sfDir.contains("sf0.1") || !java.nio.file.Files.exists(f)) Map.empty
        else java.nio.file.Files.readAllLines(f).asScala
          .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
          .map { l => val p = l.trim.split("\t"); p(0) -> p(1).toDouble }
          .toMap
      } catch { case _: Throwable => Map.empty }
    val reruns: Seq[(String, Double, Double)] = results.flatMap { case (n, med) =>
      committedMedians.get(n) match {
        case Some(base) if med >= 0 && med > 3.0 * base && med > 1.0 =>
          settle()
          Some((n, med, run(n)))
        case _ => None
      }
    }

    // Serve-only rows: build each standing model/index ONCE (untimed),
    // then time the per-batch serving path — the cost that repeats at
    // 100 TB. Median-of-3 warm, same as the gate rows.
    def med3(f: => Any): Double = {
      def one(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      try { f; Seq(one(), one(), one()).sorted.apply(1) }
      catch { case _: Throwable => -1.0 }
      finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
      }
    }
    import org.apache.spark.sql.functions.col
    // Serve indexes are namespaced per-run (pid): fixed /tmp paths let
    // a concurrent or stale run's files leak into this run's timings,
    // and a failed rebuild could silently serve an old index.
    val servePrefix =
      s"/tmp/graft_bench_${ProcessHandle.current().pid()}"
    var serveError: Option[String] = None
    val serveResults: Seq[(String, Double)] =
      if (only.nonEmpty) Seq.empty // dev-loop filter: skip serve section
      else try {
        import org.apache.spark.sql.functions.{lit, pmod}
        val emb = Tables.load(spark, sfDir, "embeddings")
        val docs = Tables.load(spark, sfDir, "documents")
        val idxDir = s"${servePrefix}_ivfpq"
        ops.Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idxDir)
        val queriesDf = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        val feats = ops.Classifier.featurize(docs, "doc_id", "text")
        val w = ops.Classifier.train(feats)
        val invDir = s"${servePrefix}_inv"
        ops.TextAnalysis.writeInvertedIndex(docs, "doc_id", "text", invDir)
        // Index LIFECYCLE serve rows (round-11): the cost that repeats
        // at 100 TB is serving between maintenance events, so measure
        // the same two serves against base+delta-APPENDED indexes and
        // again after COMPACTION — appends may only degrade serve by
        // the extra per-partition file opens, and compaction must
        // return it to the fresh-build line (row-equality is
        // spec-pinned; these rows quantify the latency story).
        val idxApp = s"${servePrefix}_ivfpq_app"
        ops.Similarity.writeIvfPqIndex(
          emb.filter(pmod(col("vec_id"), lit(4)) =!= 1), "vec_id", "embedding", idxApp)
        ops.Similarity.appendToIvfPqIndex(spark, idxApp,
          emb.filter(pmod(col("vec_id"), lit(4)) === 1), "vec_id", "embedding")
        val idxCmp = s"${servePrefix}_ivfpq_cmp"
        ops.Similarity.compactIvfPqIndex(spark, idxApp, idxCmp)
        val invApp = s"${servePrefix}_inv_app"
        ops.TextAnalysis.writeInvertedIndex(
          docs.filter(pmod(col("doc_id"), lit(4)) =!= 1), "doc_id", "text", invApp)
        ops.TextAnalysis.appendToInvertedIndex(spark, invApp,
          docs.filter(pmod(col("doc_id"), lit(4)) === 1), "doc_id", "text")
        val invCmp = s"${servePrefix}_inv_cmp"
        ops.TextAnalysis.compactInvertedIndex(spark, invApp, invCmp)
        // The IVF-PQ rows time the full result through the noop sink:
        // under count() Catalyst prunes the rerank's final projection.
        def serveIvfPq(dir: String): Unit = ops.Similarity.servePqIndex(
            spark, dir, queriesDf, k = 5, nProbe = 8, shortlist = 100)
          .write.format("noop").mode("overwrite").save()
        Seq(
          "serve_ivfpq_topk" -> med3(serveIvfPq(idxDir)),
          "serve_ivfpq_after_append" -> med3(serveIvfPq(idxApp)),
          "serve_ivfpq_compacted" -> med3(serveIvfPq(idxCmp)),
          "serve_quality_score" -> med3(
            ops.Classifier.scoreCorpus(docs, "doc_id", "text", w).count()),
          "serve_bm25_search" -> med3(ops.TextAnalysis.serveBm25(
            spark, invDir, Seq("table", "scan", "merge"), k = 20).count()),
          "serve_bm25_after_append" -> med3(ops.TextAnalysis.serveBm25(
            spark, invApp, Seq("table", "scan", "merge"), k = 20).count()),
          "serve_bm25_compacted" -> med3(ops.TextAnalysis.serveBm25(
            spark, invCmp, Seq("table", "scan", "merge"), k = 20).count()))
      } catch { case e: Throwable =>
        // surface the failure IN the JSON (serve_error below): an empty
        // serve_queries map with only a stderr note read as complete
        serveError = Some(e.toString.takeWhile(_ != '\n').take(200))
        System.err.println(s"[bench] serve section failed: $e"); Seq.empty
      } finally {
        for (sfx <- Seq("_ivfpq", "_ivfpq_app", "_ivfpq_cmp",
            "_inv", "_inv_app", "_inv_cmp")) {
          val d = new java.io.File(s"$servePrefix$sfx")
          if (d.exists) {
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
            }
            rm(d)
          }
        }
      }
    val trainInQuery = Seq("q95_pq_codes", "q96_pq_topk", "q97_ivfpq_topk",
      "q98_pq_delta_codes", "q102_quality_probe",
      // the serve GATES build their standing index in-query (the
      // oracle must see one self-contained run); the repeating cost
      // is the serve_queries rows
      "q182_serve_ivfpq_topk", "q183_serve_bm25_search",
      "q184_ivfpq_append_serve", "q185_inverted_append_serve")
      .filter(SparkEntry.queries.contains)
    val loadAfter = loadavg(); val jvmsAfter = javaProcs()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val cqs = coldPerQ.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val sqs = serveResults.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val gqs = names.map(n => "\"" + n + "\":" + (math.round(gcByQuery(n) * 1000) / 1000.0))
      .mkString("{", ",", "}")
    def r3(x: Double) = math.round(x * 1000) / 1000.0
    // full map: name -> [disk_read_mb, disk_write_mb, iowait_sec]
    val ioqs = names.map { n =>
      val (r, w, iw) = ioByQuery(n)
      "\"" + n + "\":[" + r3(r) + "," + r3(w) + "," + r3(iw) + "]"
    }.mkString("{", ",", "}")
    val rerunsJson = reruns.map { case (n, med, re) =>
      "\"" + n + "\":{\"median\":" + med + ",\"rerun\":" + re + "}"
    }.mkString("{", ",", "}")
    val tiq = trainInQuery.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val recipeFamilySec = results
      .filter(r => recipeFamily.contains(r._1)).map(_._2).filter(_ >= 0).sum
    val gcTotal = math.round(gcByQuery.values.sum * 1000) / 1000.0
    // 1-min loadavg at start > 4 ⇒ the cold pass (and likely warm pass
    // 1) ran contended — stamp it so readers discard the comparison
    val highLoad =
      try loadBefore.stripPrefix("[").split(",").head.toDouble > 4.0
      catch { case _: Throwable => false }
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""recipe_family_sec":$recipeFamilySec,""" +
        s""""cold_total_sec":$cold,"cold_queries":$cqs,""" +
        s""""serve_queries":$sqs,"train_in_query":$tiq,""" +
        s""""gc_queries":$gqs,"gc_sec_total":$gcTotal,""" +
        s""""io_queries":$ioqs,"reruns":$rerunsJson,""" +
        serveError.map(e => s""""serve_error":${OracleJson.quote(e)},""").getOrElse("") +
        s""""load_before":$loadBefore,"load_after":$loadAfter,""" +
        s""""high_load_at_start":$highLoad,"quiesce_waited":$quiesceWaited,""" +
        s""""jvms_before":$jvmsBefore,"jvms_after":$jvmsAfter,"sf":"$sfDir"}"""
    // Full detail goes to the FILE; stdout gets a COMPACT (<1 KB) final
    // line. Round-12 fix for BENCH_r11.json `parsed: null`: the 202-
    // query detail line grew to ~12 KB and overflowed the driver's
    // tail-capture buffer, so the captured tail started mid-JSON. The
    // compact line keeps the driver-contract keys (metric/value/unit/
    // queries/sf) but carries only the top-5 warm queries plus the load
    // stamps and the path to the full JSON.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchOut), fullJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    val top5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Per-query GC in the DRIVER-CAPTURED line (round-15, VERDICT r14
    // item 1b): the full gc_queries map lives in bench_out.json, but the
    // committed BENCH_r*.json only sees this compact line — carry the
    // recipe family plus the top-5 GC burners so a family spike is
    // attributable per-query in the round artifact itself (~8 entries,
    // still well under the tail-capture buffer).
    val gcCompactKeys = (recipeFamily.filter(results.toMap.contains) ++
      names.sortBy(n => -gcByQuery(n)).take(5)).distinct
    val gcCompact = gcCompactKeys
      .map(n => "\"" + n + "\":" + (math.round(gcByQuery(n) * 1000) / 1000.0))
      .mkString("{", ",", "}")
    // Compact I/O columns: the recipe family + the top-5 disk readers
    // — the DISK_ONLY users whose contention signature item 1 hunts.
    val ioCompactKeys = (recipeFamily.filter(results.toMap.contains) ++
      names.sortBy(n => -(ioByQuery(n)._1 + ioByQuery(n)._2)).take(5)).distinct
    val ioCompact = ioCompactKeys.map { n =>
      val (r, w, iw) = ioByQuery(n)
      "\"" + n + "\":[" + r3(r) + "," + r3(w) + "," + r3(iw) + "]"
    }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top5,""" +
        s""""n_queries":${results.size},"cold_total_sec":$cold,""" +
        s""""recipe_family_sec":$recipeFamilySec,""" +
        s""""gc_sec_total":$gcTotal,"gc_queries":$gcCompact,""" +
        s""""io_queries":$ioCompact,"reruns":$rerunsJson,""" +
        s""""load_before":$loadBefore,"load_after":$loadAfter,""" +
        s""""high_load_at_start":$highLoad,"quiesce_waited":$quiesceWaited,""" +
        s""""jvms_before":$jvmsBefore,"jvms_after":$jvmsAfter,""" +
        s""""full_json":${OracleJson.quote(benchOut)},""" +
        s""""sf":${OracleJson.quote(sfDir)}}"""
    println(compact)
    spark.stop()
  }
}
