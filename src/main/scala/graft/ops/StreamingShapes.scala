package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.functions.TextFunctions
import graft.streaming.CorpusStream

/** Oracle-gated STREAMING twins (round-16, VERDICT r15 item 3): each
  * query runs a Structured Streaming pipeline to completion via
  * Trigger.AvailableNow INSIDE the query fn — the q182
  * "build-inside-the-query" pattern — then returns the landed result,
  * hash-compared against the BATCH oracle SQL verbatim. A green row
  * certifies the streaming plan end-to-end (file source → stateful
  * dedup → parquet sink → periodic compaction / partials assembly),
  * not just the spec-level equality CorpusStreamSpec pins.
  *
  * Determinism note (the one place stream and batch can diverge):
  * `dropDuplicatesWithinWatermark` keeps the FIRST row per content
  * fingerprint it processes, which within a micro-batch is an
  * arbitrary member of the duplicate family, while the batch exact
  * dedup keeps min(id). The surviving TEXT set is identical either
  * way; only the representative id varies. The landed table therefore
  * goes through the canonical-id PUBLISH step a production pipeline
  * runs anyway: representative id := min(doc_id) over the corpus
  * domain for the same content fingerprint — an O(survivors)
  * broadcast join against the (fingerprint → min id) catalog, never a
  * re-read of lost rows (every per-doc stage — gate, repetition,
  * decontamination — is a pure function of the text, so all members
  * of a duplicate family share one outcome and the catalog min equals
  * the batch stage's fp_min). The re-stamped split is the same pure
  * (seed, id) function the batch recipe applies.
  *
  * Scale: the streamed stages shuffle exactly what their batch twins
  * shuffle (state keyed on the 32-char fingerprint, never text); the
  * publish join moves (fingerprint, id) pairs only; the compaction is
  * the certified capped-LSH batch job over the landed survivors.
  */
object StreamingShapes {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** FileStreamSource wants a DIRECTORY to list; the corpus is one
    * parquet file. Stage it into a fresh per-run source dir (symlink —
    * no copy) and return that dir. */
  private def stageSourceDir(tmp: String, dir: String): String = {
    val srcDir = java.nio.file.Paths.get(tmp, "src")
    java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("documents.parquet"),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    srcDir.toString
  }

  /** A session for one bounded stream: a clone of `s` (shared
    * SparkContext and catalog, its own SQL conf) seeded with `s`'s
    * runtime conf, with two stream-only settings that never touch the
    * caller's session.
    *
    * Shuffle/state-store partitions are scaled to the source (round-16:
    * streaming plans get no AQE coalescing, so the session's
    * fixed shuffle.partitions — sized for batch parallelism — becomes
    * the state-store count no matter how small the replay is: 32 stores
    * × (delta file + snapshot + commit) per micro-batch for a 5k-row
    * corpus was pure file-I/O overhead in the q232/q233 gates). One
    * partition per ~128 MB input split, floor 2, capped at the
    * session's own setting so a production-sized source keeps its full
    * configured width.
    *
    * No-data micro-batches are off: a BOUNDED availableNow replay never
    * benefits from the trailing no-data batch — its only job is
    * advancing the watermark to evict state, and these gates' dedup
    * emits rows on arrival while the checkpoint is discarded when the
    * run ends. Skipping it saves one full batch cycle (offset/commit
    * log writes + a state-store load/commit per partition + re-execution
    * of the static broadcast side) per gate. A CONTINUOUS deployment
    * keeps the default: there the no-data batch is what bounds state
    * size between arrivals. */
  private def streamSession(s: SparkSession, dir: String): SparkSession = {
    // file-OR-directory walk: Files.size of a directory is meaningless,
    // which would collapse the sizing rule to the floor of 2 if the
    // source ever became a multi-file dataset
    def bytesOf(p: java.nio.file.Path): Long =
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try st.iterator().asScala.map(bytesOf).sum finally st.close()
      } else java.nio.file.Files.size(p)
    val srcBytes = bytesOf(java.nio.file.Paths.get(dir, "documents.parquet"))
    val parts = math.max(2L, math.min(
      s.conf.get("spark.sql.shuffle.partitions").toLong,
      srcBytes / (128L << 20) + 1L))
    val ss = s.newSession()
    s.conf.getAll.foreach { case (k, v) => if (ss.conf.isModifiable(k)) ss.conf.set(k, v) }
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ss
  }

  /** Run `pipe` (a streaming frame over the documents file source) to
    * completion with AvailableNow, landing survivors under a fresh
    * per-run temp dir, and return the landed frame. The constant
    * event-time column keeps the watermark below every row for the
    * whole (single-trigger) run, so the stateful dedup sees the full
    * corpus — the correct semantics for a bounded replay. */
  private def landAvailableNow(s: SparkSession, dir: String, tag: String)(
      pipe: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    val tmp = graft.GraftSession.tempDir(s"graft_$tag")
    val ss = streamSession(s, dir)
    val src = ss.readStream.schema(docs(ss, dir).schema)
      .parquet(stageSourceDir(tmp, dir))
      .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    val q = pipe(ss, src).writeStream.format("parquet")
      .option("path", s"$tmp/docs")
      .option("checkpointLocation", s"$tmp/cp")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.read.parquet(s"$tmp/docs")
  }

  /** The canonical-id publish step (see object doc): replace each
    * landed survivor's arbitrary first-seen id with min(doc_id) over
    * `domain` for the same content fingerprint. */
  private def canonicalIds(landed: DataFrame, domain: DataFrame): DataFrame = {
    val minIds = domain
      .groupBy(TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"))
    landed.drop("doc_id").join(broadcast(minIds), Seq("fingerprint"))
  }

  /** q232 — the STREAMING corpus-clean pipeline, oracle-gated against
    * the batch q59 SQL verbatim: CorpusStream.cleanStream (quality
    * gate → enrichment → watermarked exact dedup) runs availableNow
    * over the documents corpus and lands its survivors; the canonical
    * publish step restores min-id representatives; the periodic
    * compaction job (`compactLanded`'s capped-LSH collapse) masks
    * near-dups — the full streaming production loop reaching exactly
    * the batch `CorpusPipeline.clean` end state. */
  def streamCleanGate(s: SparkSession, dir: String): DataFrame = {
    val landed = landAvailableNow(s, dir, "q232")((_, src) =>
      CorpusStream.cleanStream(src, "text", "ts", "1 minute"))
    val canon = canonicalIds(landed, docs(s, dir))
    CorpusStream.compactNearDups(canon, "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q233 — the STREAMING training recipe, oracle-gated against the
    * batch q69 SQL verbatim: CorpusStream.recipeStream (gate → Gopher
    * repetition filter → benchmark decontamination against the static
    * doc_id ≡ 0 mod 20 eval set → split stamp → watermarked exact
    * dedup) runs availableNow, lands, is canonically published, and
    * the compaction job collapses near-dups. The split column is
    * re-stamped on the canonical ids with the same pure (seed, id)
    * hash the batch recipe uses — identical by construction. */
  def streamRecipeGate(s: SparkSession, dir: String): DataFrame = {
    val cfg = CorpusPipeline.RecipeConfig()
    val corpusDomain = docs(s, dir).filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val landed = landAvailableNow(s, dir, "q233") { (ss, src) =>
      // the static side is planned on the stream's own session
      val benchmark = docs(ss, dir).filter(pmod(col("doc_id"), lit(20)) === 0)
      CorpusStream.recipeStream(
        src.filter(pmod(col("doc_id"), lit(20)) =!= 0), benchmark,
        "doc_id", "text", "ts", "1 minute", cfg)
    }
    val canon = TextAnalysis.hashSplit(
      canonicalIds(landed.drop("split"), corpusDomain),
      "doc_id", cfg.splitSeed, cfg.trainFrac)
    CorpusStream.compactNearDups(canon, "doc_id", "text", cfg.base)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** q234 — the STREAMING release gate, oracle-gated against the batch
    * q201 SQL verbatim: `releaseGateStream` rolls the corpus up into
    * the five per-batch partial tables (one additive doc-stats row,
    * fingerprint counts, token-type counts, shingle arrays, band keys
    * — each map-side, the text read once at ingest) under a fresh
    * stats dir, and `releaseGateFromPartials` assembles the 6-check
    * verdict from the accumulated partials alone. */
  def streamReleaseGate(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.GraftSession.tempDir("graft_q234")
    val ss = streamSession(s, dir)
    val src = ss.readStream.schema(docs(ss, dir).schema)
      .parquet(stageSourceDir(tmp, dir))
    val q = CorpusStream.releaseGateStream(src, s"$tmp/stats", s"$tmp/cp")
    try { q.processAllAvailable() } finally q.stop()
    CorpusStream.releaseGateFromPartials(s, s"$tmp/stats")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q232_stream_clean_gate" -> streamCleanGate,
    "q233_stream_recipe_gate" -> streamRecipeGate,
    "q234_stream_release_gate" -> streamReleaseGate)

  /** Batch oracles VERBATIM — the entire point of the gates. */
  def oracles: Map[String, String] = Map(
    "q232_stream_clean_gate" -> DedupShapes.corpusPipelineSql,
    "q233_stream_recipe_gate" -> DedupShapes.trainingRecipeSql,
    "q234_stream_release_gate" -> CorpusStats.releaseGateSql)
}
