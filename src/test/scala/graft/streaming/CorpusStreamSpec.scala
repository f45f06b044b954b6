package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming corpus ingest: quality gate + enrichment + watermarked
  * exact dedup behave identically to their batch counterparts. */
class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  case class Doc(ts: Timestamp, doc_id: Long, text: String)
  case class Vec(vec_id: Long, embedding: Array[Float])
  case class KeyedUrl(doc_id: Long, url: String)

  private val good =
    "the quick brown fox jumps over the lazy dog and runs to the hills again"
  private val junk = "x$" // fails the quality gate (too few tokens)

  test("streaming clean: gate filters junk, duplicates masked across batches") {
    val in = memStream[Doc]
    val q = CorpusStream.cleanStream(in.toDF(), "text", "ts", "1 minute")
      .writeStream.format("memory").queryName("corpus_clean")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Doc(ts("2026-01-01 00:00:00"), 1L, good),
        Doc(ts("2026-01-01 00:00:01"), 2L, junk))
      q.processAllAvailable()
      // batch 2: byte-identical re-crawl of doc 1 inside the watermark
      in.addData(Doc(ts("2026-01-01 00:00:05"), 3L, good))
      q.processAllAvailable()
      val out = spark.table("corpus_clean")
      assert(out.count() == 1) // junk gated out, re-crawl deduped
      val row = out.select("doc_id", "n_tokens", "lang_id").as[(Long, Int, String)].head()
      assert(row == ((1L, 15, "en")))
    } finally q.stop()
  }

  test("chunkDocs is streaming-legal (map-only) and chunk ids match the batch op across batches") {
    val in = memStream[Doc]
    val q = graft.ops.TextAnalysis.chunkDocs(in.toDF(), "doc_id", "text",
        chunkTokens = 5, overlap = 1)
      .writeStream.format("memory").queryName("stream_chunks")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Doc(ts("2026-01-01 00:00:00"), 1L, good))
      q.processAllAvailable()
      in.addData(Doc(ts("2026-01-01 00:00:01"), 2L, good + " extra trailing tokens"))
      q.processAllAvailable()
      val streamed = spark.table("stream_chunks")
        .select("doc_id", "chunk_no", "chunk_text").as[(Long, Int, String)]
        .collect().toSet
      val batch = graft.ops.TextAnalysis.chunkDocs(
          Seq((1L, good), (2L, good + " extra trailing tokens")).toDF("doc_id", "text"),
          "doc_id", "text", chunkTokens = 5, overlap = 1)
        .select("doc_id", "chunk_no", "chunk_text").as[(Long, Int, String)]
        .collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("decontaminateStreaming keeps the same survivors as batch decontaminate on static frames") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    for ((n, minShared) <- Seq((3, 3L), (6, 1L))) {
      val batch = graft.ops.TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", n, minShared)
        .select("doc_id").as[Long].collect().toSet
      val streamForm = graft.ops.TextAnalysis.decontaminateStreaming(corpus, bench, "doc_id", "text", n, minShared)
        .select("doc_id").as[Long].collect().toSet
      assert(streamForm == batch, s"n=$n minShared=$minShared")
    }
  }

  test("fuzzyDecontamStreaming keeps the same survivors as the batch drop on static frames") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    for ((n, minFrac) <- Seq((3, 0.03), (3, 0.5), (4, 0.1))) {
      val batch = corpus.join(
          broadcast(graft.ops.CurationOps.fuzzyContaminatedIds(
            corpus, bench, "doc_id", "text", n, minFrac)),
          Seq("doc_id"), "left_anti")
        .select("doc_id").as[Long].collect().toSet
      val streamForm = graft.ops.CurationOps.fuzzyDecontamStreaming(
          corpus, bench, "doc_id", "text", n, minFrac)
        .select("doc_id").as[Long].collect().toSet
      assert(streamForm == batch, s"n=$n minFrac=$minFrac")
    }
  }

  test("dropBoilerplateHeavyStreaming matches the batch drop at the same standing gram set") {
    val base = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // plant a templated tail on a third of the docs so a real gram set exists
    val docs = base.select(col("doc_id"), concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit(" subscribe to our newsletter all rights reserved")).otherwise(lit(""))).as("text"))
    val bp = graft.ops.CurationOps.boilerplateGramSet(docs, "doc_id", "text", 3, 20L)
    assert(bp.count() > 0, "planted tail must surface boilerplate grams")
    for (maxFrac <- Seq(0.03, 0.06, 0.5)) {
      val batch = graft.ops.CurationOps.dropBoilerplateHeavy(
          docs, "doc_id", "text", bp, 3, maxFrac)
        .select("doc_id").as[Long].collect().toSet
      val streamForm = graft.ops.CurationOps.dropBoilerplateHeavyStreaming(
          docs, "text", bp, 3, maxFrac)
        .select("doc_id").as[Long].collect().toSet
      assert(streamForm == batch, s"maxFrac=$maxFrac")
    }
  }

  test("fuzzy + boilerplate streaming twins run on a live stream and match the batch ops") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val bpTail = " subscribe to our newsletter all rights reserved"
    val bp = Seq("subscribe to our", "to our newsletter", "our newsletter all",
      "newsletter all rights", "all rights reserved").toDF("gram")
    val paraphrase = "alpha beta gamma delta epsilon more words beyond the quote here"
    val boiler = ("page body word soup " * 2) + bpTail // tail dominates → heavy
    val in = memStream[Doc]
    val piped = graft.ops.CurationOps.dropBoilerplateHeavyStreaming(
      graft.ops.CurationOps.fuzzyDecontamStreaming(
        in.toDF(), bench, "doc_id", "text", 3, 0.3),
      "text", bp, 3, 0.3)
    val q = piped.writeStream.format("memory").queryName("curation_twins")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Doc(ts("2026-01-01 00:00:00"), 1L, good),
        Doc(ts("2026-01-01 00:00:01"), 2L, paraphrase), // fuzzy-contaminated
        Doc(ts("2026-01-01 00:00:02"), 3L, boiler))     // boilerplate-heavy
      q.processAllAvailable()
      val streamed = spark.table("curation_twins").select("doc_id").as[Long].collect().toSet
      val static = Seq((1L, good), (2L, paraphrase), (3L, boiler)).toDF("doc_id", "text")
      val batch = graft.ops.CurationOps.dropBoilerplateHeavy(
          graft.ops.CurationOps.fuzzyDecontamStreaming(
            static, bench, "doc_id", "text", 3, 0.3),
          "doc_id", "text", bp, 3, 0.3)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == Set(1L))
      assert(streamed == batch)
    } finally q.stop()
  }

  test("semantic-decontam streaming twin ≡ batch drop, on a live stream") {
    val base = Array.tabulate(64)(j => math.sin(j * 1.7).toFloat)
    val near = base.zipWithIndex.map { case (v, j) => v + (if (j % 7 == 0) 0.01f else -0.005f) }
    val other = Array.tabulate(64)(j => math.cos(j * 3.1 + 1).toFloat)
    val bench = Seq((100L, base)).toDF("vec_id", "embedding")
    val in = memStream[Vec]
    val piped = graft.ops.Similarity.dropSemanticContaminatedStreaming(
      in.toDF(), bench, "vec_id", "embedding", 0.9)
    val q = piped.writeStream.format("memory").queryName("sem_twin")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Vec(1L, near), Vec(2L, other))
      q.processAllAvailable()
      val streamed = spark.table("sem_twin").select("vec_id").as[Long].collect().toSet
      val static = Seq((1L, near), (2L, other)).toDF("vec_id", "embedding")
      val batch = graft.ops.Similarity.dropSemanticContaminated(
          static, bench, "vec_id", "embedding", 0.9)
        .select("vec_id").as[Long].collect().toSet
      assert(streamed == Set(2L))
      assert(streamed == batch)
    } finally q.stop()
  }

  test("bloom prefilter and canonicalizeUrl are streaming-legal and match batch") {
    val keys = Seq(10L, 20L, 30L).toDF("k")
    val bloom = graft.ops.BloomIndex.buildBloom(keys, "k", 1 << 12, 4)
    val in = memStream[KeyedUrl]
    val piped = graft.ops.BloomIndex.prefilter(in.toDF(), "doc_id", bloom)
      .withColumn("canon", graft.ops.CurationOps.canonicalizeUrl(col("url")))
    val q = piped.writeStream.format("memory").queryName("bloom_twin")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(KeyedUrl(10L, "HTTPS://WWW.A.Example/p/"),
        KeyedUrl(11L, "https://b.example/q?utm_source=x"),
        KeyedUrl(20L, "https://c.example/r#frag"))
      q.processAllAvailable()
      val got = spark.table("bloom_twin").select("doc_id", "canon")
        .as[(Long, String)].collect().toSet
      // 11 is not in the key set; bloom at this size has no FP for it
      val static = Seq((10L, "HTTPS://WWW.A.Example/p/"), (11L, "https://b.example/q?utm_source=x"),
          (20L, "https://c.example/r#frag")).toDF("doc_id", "url")
      val batch = graft.ops.BloomIndex.prefilter(static, "doc_id", bloom)
        .withColumn("canon", graft.ops.CurationOps.canonicalizeUrl(col("url")))
        .select("doc_id", "canon").as[(Long, String)].collect().toSet
      assert(got == batch)
      assert(got.map(_._1) == Set(10L, 20L))
      assert(got.map(_._2) == Set("https://a.example/p", "https://c.example/r"))
    } finally q.stop()
  }

  test("recipeStream: repetitive and benchmark-leaking docs gated, split stamped, dups masked") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val repetitive = Seq.fill(20)("spam").mkString(" ")           // top_tok_frac = 1
    val leaking = "alpha beta gamma delta epsilon zeta extra tail words here" // shares a 6-gram
    val in = memStream[Doc]
    val q = CorpusStream.recipeStream(in.toDF(), bench, "doc_id", "text", "ts", "1 minute")
      .writeStream.format("memory").queryName("recipe_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Doc(ts("2026-01-01 00:00:00"), 1L, good),
        Doc(ts("2026-01-01 00:00:01"), 2L, repetitive),
        Doc(ts("2026-01-01 00:00:02"), 3L, leaking))
      q.processAllAvailable()
      in.addData(Doc(ts("2026-01-01 00:00:05"), 4L, good)) // re-crawl of doc 1's content
      q.processAllAvailable()
      val out = spark.table("recipe_stream")
      assert(out.select("doc_id").as[Long].collect().toSeq == Seq(1L))
      val split = out.select("split").as[String].head()
      assert(split == "train" || split == "val")
    } finally q.stop()
  }

  test("recipeStream + periodic compaction reaches the batch recipe's end state") {
    // Corpus with BOTH duplicate kinds: doc 4 is a byte-identical
    // re-crawl of doc 1 (exact dup — masked in-stream by the
    // watermarked fingerprint dedup), doc 5 is a NEAR-dup of doc 1
    // (high bigram Jaccard, different bytes — survives the stream,
    // collapsed only by the periodic compaction job).
    val nearDup = good + " indeed"
    val allDocs = Seq(
      (ts("2026-01-01 00:00:00"), 1L, good),
      (ts("2026-01-01 00:00:01"), 2L, "completely different prose about seven green turtles " +
        "crossing a quiet winter road before dawn light arrives"),
      (ts("2026-01-01 00:00:05"), 4L, good),
      (ts("2026-01-01 00:00:06"), 5L, nearDup))
    val bench = Seq((100L, "unrelated benchmark text with nothing shared here at all")).toDF("doc_id", "text")

    val landed = tempDir("graft_landed")
    val ckpt = tempDir("graft_ckpt")
    val in = memStream[Doc]
    val q = CorpusStream.landSurvivors(
      CorpusStream.recipeStream(in.toDF(), bench, "doc_id", "text", "ts", "1 minute"),
      s"$landed/docs", s"$ckpt/cp")
    try {
      // feed in id order across two batches (first arrival = min id, so
      // the stream's first-wins exact dedup matches batch min-id-wins)
      in.addData(allDocs.take(2).map(Doc.tupled): _*)
      q.processAllAvailable()
      in.addData(allDocs.drop(2).map(Doc.tupled): _*)
      q.processAllAvailable()
    } finally q.stop()

    // landed survivors: exact dup masked, near-dup still present
    val landedIds = spark.read.parquet(s"$landed/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(landedIds == Set(1L, 2L, 5L), s"landed: $landedIds")

    // the scheduled compaction job collapses the near-dup component
    val compacted = CorpusStream.compactLanded(spark, s"$landed/docs", "doc_id", "text")
    val compactedIds = compacted.select("doc_id").as[Long].collect().toSet

    // batch end-state: the full trainingRecipe over the same corpus
    val batchIds = graft.ops.CorpusPipeline.trainingRecipe(
        allDocs.map(d => (d._2, d._3)).toDF("doc_id", "text"), bench, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(compactedIds == batchIds,
      s"stream∘compaction $compactedIds != batch recipe $batchIds")
    // compaction is idempotent
    val again = CorpusStream.compactNearDups(compacted, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(again == compactedIds)
  }

  test("landNearDupMasked: near-dups masked inline, within AND across micro-batches") {
    val other = "completely different prose about seven green turtles " +
      "crossing a quiet winter road before dawn light arrives"
    val unique2 = "another entirely separate document mentioning eight blue herons " +
      "standing beside a warm summer lake at noon today"
    val dir = tempDir("graft_ndmask")
    val in = memStream[Doc]
    val q = CorpusStream.landNearDupMasked(
      CorpusStream.cleanStream(in.toDF(), "text", "ts", "1 minute"),
      s"$dir/docs", s"$dir/idx", s"$dir/cp", "doc_id", "text")
    try {
      // batch 1: doc 3 is a within-batch near-dup of doc 1 → dropped
      in.addData(
        Doc(ts("2026-01-01 00:00:00"), 1L, good),
        Doc(ts("2026-01-01 00:00:01"), 2L, other),
        Doc(ts("2026-01-01 00:00:02"), 3L, good + " indeed"))
      q.processAllAvailable()
      // batch 2: doc 4 is a CROSS-batch near-dup of landed doc 1 →
      // classified dup_of_base against the standing index; doc 5 lands
      in.addData(
        Doc(ts("2026-01-01 00:00:05"), 4L, good + " truly"),
        Doc(ts("2026-01-01 00:00:06"), 5L, unique2))
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(s"$dir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(landed == Set(1L, 2L, 5L), s"landed: $landed")
    // the index tracks exactly the kept docs
    val indexed = spark.read.parquet(s"$dir/idx")
      .select("id").as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 5L), s"indexed: $indexed")
  }

  test("release-gate rollup: accumulated partials ≡ batch releaseGateOf; replay-idempotent") {
    val passText = ((1 to 28).map(i => f"word$i%02d") ++ Seq("the", "a")).mkString(" ")
    val rows = (Seq(
      (0L, "s", ""),            // empty
      (1L, "s", "z z z w"),     // stutter run 3, quality fail
      (2L, "s", passText),      // quality pass, dup pair with 3
      (3L, "s", passText)) ++
      (4L to 39L).map(i => (i, "s", s"short text v$i")))
    val full = rows.toDF("doc_id", "source", "text")
    val stats = tempDir("graft_gate")
    // three micro-batches, split so the cross-batch checks matter: the
    // dup pair (2, 3) straddles batches 0/1, and the q66 train/val
    // token split straddles all three
    val batches = Seq(rows.take(3), rows.slice(3, 20), rows.drop(20))
    batches.zipWithIndex.foreach { case (b, i) =>
      CorpusStream.rollupBatch(b.toDF("doc_id", "source", "text"), i.toLong, stats)
    }
    val streamed = CorpusStream.releaseGateFromPartials(spark, stats)
      .collect().map(_.toSeq).toList
    val batch = graft.ops.CorpusStats.releaseGateOf(full)
      .collect().map(_.toSeq).toList
    assert(streamed == batch && batch.size == 6)
    // the round-13 row is present and equals the q31 kernel's truth:
    // docs 2/3 are byte-identical (J = 1.0), doc 3 is the later
    // duplicate → 1 masked of 40 docs = 25000 fx
    assert(batch.find(_.head == "near_dup_share").get(1) == 25000L)
    // restart-replay of batch 1 overwrites its own partials — the
    // verdict must not double-count
    CorpusStream.rollupBatch(batches(1).toDF("doc_id", "source", "text"), 1L, stats)
    val replayed = CorpusStream.releaseGateFromPartials(spark, stats)
      .collect().map(_.toSeq).toList
    assert(replayed == batch, "replayed batch double-counted")
    // the q205 trend off the SAME partials: one row per landed append,
    // and its final prefix equals the assembled gate's val_oov_share
    val trend = CorpusStream.releaseOovTrendFromPartials(spark, stats)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(trend.map(_._1) == List(0L, 1L, 2L), s"trend batches: $trend")
    val gateOov = batch.find(_.head == "val_oov_share").get(1)
    assert(trend.last._2 == gateOov, "trend tail must equal the gate's val_oov_share")
    // a HALF-LANDED batch (partial tables present, completion marker
    // absent — a crashed or in-flight rewrite) must be invisible to
    // the assembled verdict (round-13 ADVICE: no inconsistent verdict
    // from doc sums without matching token counts)
    val half = Seq((99L, "s", "half landed doc")).toDF("doc_id", "source", "text")
    graft.ops.CorpusStats.releasePerDoc(half)
      .agg(count(lit(1)).as("n"),
        sum(when(col("q_pass"), 1L).otherwise(0L)).as("p"),
        sum(when(col("nw") > 0L, 1L).otherwise(0L)).as("ntokdocs"),
        sum(when(col("max_run") >= 3L, 1L).otherwise(0L)).as("r3"),
        sum(when(col("nw") === 0L, 1L).otherwise(0L)).as("e"))
      .write.mode("overwrite").parquet(s"$stats/docs/batch=9")
    val afterHalf = CorpusStream.releaseGateFromPartials(spark, stats)
      .collect().map(_.toSeq).toList
    assert(afterHalf == batch, "half-landed batch leaked into the verdict")
  }

  test("release-gate rollup: overlapped partial writes over a local relation count every doc") {
    // the five partial writes run as concurrent jobs; over a local
    // relation each job evaluates the per-doc lambda expressions while
    // planning, so a frame shared between two writes races on its
    // lambda variables and drops quality passes
    val passText = ((1 to 28).map(i => f"word$i%02d") ++ Seq("the", "a")).mkString(" ")
    val rows = (0L until 3000L).map(i => (i, "s", if (i % 2 == 0) passText else s"z$i z$i z$i w"))
    val stats = tempDir("graft_gate_race")
    (0L until 4L).foreach { b =>
      CorpusStream.rollupBatch(rows.toDF("doc_id", "source", "text"), b, stats)
    }
    val got = spark.read.parquet(s"$stats/docs").orderBy(col("batch"))
      .select(col("batch"), col("n"), col("p"), col("r3")).collect()
      .map(r => (r.get(0).toString.toLong, r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got == (0L until 4L).map(b => (b, 3000L, 1500L, 1500L)).toList)
  }

  test("release-gate partials: legacy layout without ok/ markers still assembles") {
    // pre-round-13 rollupBatch never wrote completion markers; a stats
    // directory in that layout (no ok/ dir at all) must fall back to
    // every batch= directory instead of refusing with "no completed
    // batches" (round-14 ADVICE: silent breaking change for landed
    // partials). Marker discipline applies only once ok/ exists.
    val rows = (1L to 12L).map(i => (i, "s", s"legacy doc number $i"))
    val full = rows.toDF("doc_id", "source", "text")
    val stats = tempDir("graft_legacy")
    Seq(rows.take(6), rows.drop(6)).zipWithIndex.foreach { case (b, i) =>
      CorpusStream.rollupBatch(b.toDF("doc_id", "source", "text"), i.toLong, stats)
    }
    // strip the markers → the legacy on-disk shape
    val fs = new org.apache.hadoop.fs.Path(stats)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stats/ok"), true)
    val legacy = CorpusStream.releaseGateFromPartials(spark, stats)
      .collect().map(_.toSeq).toList
    val batch = graft.ops.CorpusStats.releaseGateOf(full)
      .collect().map(_.toSeq).toList
    assert(legacy == batch, "legacy marker-less partials must assemble to the batch verdict")
  }

  test("maskBatch replay: re-running batch N against its own failed output loses nothing") {
    val other = "completely different prose about seven green turtles " +
      "crossing a quiet winter road before dawn light arrives"
    val unique2 = "another entirely separate document mentioning eight blue herons " +
      "standing beside a warm summer lake at noon today"
    val dir = tempDir("graft_replay")
    val docs = s"$dir/docs"; val idx = s"$dir/idx"
    val b0 = Seq((1L, good), (2L, other)).toDF("doc_id", "text")
    val b1 = Seq((3L, good + " truly"), (4L, unique2)).toDF("doc_id", "text")
    def landedIds = spark.read.parquet(docs).select("doc_id").as[Long].collect().toSet
    def indexIds = spark.read.parquet(idx).select("id").as[Long].collect().toSet

    CorpusStream.maskBatch(b0, 0L, docs, idx, "doc_id", "text")
    CorpusStream.maskBatch(b1, 1L, docs, idx, "doc_id", "text")
    val committed = landedIds
    assert(committed == Set(1L, 2L, 4L), s"landed: $committed") // 3 = near-dup of 1

    // restart-replay of batch 1: its own batch=1 output already exists on
    // disk; the kept rows (4) must NOT self-match and vanish
    CorpusStream.maskBatch(b1, 1L, docs, idx, "doc_id", "text")
    assert(landedIds == committed, s"replay lost rows: $landedIds")
    assert(indexIds == committed, s"index diverged: $indexIds")

    // crash BETWEEN the corpus and index writes: batch=1 corpus exists,
    // batch=1 index missing — replay must restore consistency
    val fsPath = new org.apache.hadoop.fs.Path(s"$idx/batch=1")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(fsPath, true)
    CorpusStream.maskBatch(b1, 1L, docs, idx, "doc_id", "text")
    assert(landedIds == committed && indexIds == committed,
      s"crash-heal failed: docs=$landedIds idx=$indexIds")

    // replay of batch 0 (reads strictly-pre-0 = empty base) is also a no-op
    CorpusStream.maskBatch(b0, 0L, docs, idx, "doc_id", "text")
    assert(landedIds == committed && indexIds == committed)
  }

  test("quality-probe scoring twin: stream ∘ scoreCorpus ≡ batch, on a live stream") {
    import graft.ops.Classifier
    val static = Seq(
      (1L, good),
      (2L, ("tok " * 60).trim), // ≥ 50 tokens → positive label
      (3L, "short row of words")).toDF("doc_id", "text")
    val feats = Classifier.featurize(static, "doc_id", "text")
    val w = Classifier.train(feats)
    val batch = Classifier.scoreCorpus(static, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val in = memStream[Doc]
    val q = Classifier.scoreCorpus(in.toDF(), "doc_id", "text", w)
      .writeStream.format("memory").queryName("probe_scores")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Doc(ts("2026-01-01 00:00:00"), 1L, good),
        Doc(ts("2026-01-01 00:00:01"), 2L, ("tok " * 60).trim))
      q.processAllAvailable()
      in.addData(Doc(ts("2026-01-01 00:00:02"), 3L, "short row of words"))
      q.processAllAvailable()
      val streamed = spark.table("probe_scores")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
      // the probe actually separates: long doc scored positive
      val preds = spark.table("probe_scores")
        .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
      assert(preds(2L) == 1 && preds(3L) == 0)
    } finally q.stop()
  }

  test("enrich columns equal the batch operators on the same rows") {
    val d = Seq((1L, good), (2L, "el perro de la casa que los una")).toDF("doc_id", "text")
    val e = CorpusStream.enrich(d, "text")
      .select("doc_id", "n_tokens", "quality", "lang_id", "fingerprint")
    val expected = d.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("quality"),
      graft.functions.TextFunctions.langId(col("text")).as("lang_id"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("fingerprint"))
    assert(e.exceptAll(expected).isEmpty && expected.exceptAll(e).isEmpty)
  }

  test("HLL registers build identically on a live stream (sketches ingest continuously)") {
    val rows = (1 to 800).map(i => (if (i % 2 == 0) "a" else "b", i.toLong))
    val in = memStream[(String, Long)]
    val q = graft.ops.Aggregates.hllRegisters(in.toDF().toDF("g", "v"), "g", "v")
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(rows.take(300))
      q.processAllAvailable()
      in.addData(rows.drop(300)) // second batch updates register maxima
      q.processAllAvailable()
      val streamed = spark.table("hll_stream")
        .as[(String, Int, Int)].collect().toSet
      val batch = graft.ops.Aggregates.hllRegisters(
          rows.toDF("g", "v"), "g", "v")
        .as[(String, Int, Int)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("CMS counters build identically on a live stream") {
    val rows = (1 to 500).map(i => s"t${i % 37}")
    val in = memStream[String]
    val q = graft.ops.TextAnalysis.cmsCounters(in.toDF().toDF("tok"), "tok")
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(rows.take(200))
      q.processAllAvailable()
      in.addData(rows.drop(200))
      q.processAllAvailable()
      val streamed = spark.table("cms_stream")
        .as[(Int, Long, Long)].collect().toSet
      val batch = graft.ops.TextAnalysis.cmsCounters(rows.toDF("tok"), "tok")
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }
}
