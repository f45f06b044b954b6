package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions

/** The end-to-end training-data cleaning pipeline — the composition a
  * corpus job actually ships: quality gate → exact dedup → near-dup
  * collapse, each stage the already-certified operator, wired so the
  * whole thing is ONE oracle-checkable dataflow (q59).
  *
  * Stage plan (and its 100 TB shape):
  *   1. quality filter — map-only, runs at the scan (token/score
  *      predicates push no shuffle);
  *   2. exact dedup — one shuffle keyed on md5(text), keep min id per
  *      fingerprint (removes byte-identical copies before the
  *      shingling pays for them);
  *   3. near-dup — MinHash+LSH with the sorted-neighborhood-capped candidate join
  *      (`minhashDedupCapped`): one heavy shuffle for per-doc shingle
  *      arrays, map-side band keys, capped bucket join, exact-Jaccard
  *      verification of candidates only;
  *   4. collapse — connected components over the verified pairs
  *      (driver union-find at pair counts that fit, distributed label
  *      propagation above), survivors = min id per component, one
  *      broadcast anti-join over the corpus.
  */
object CorpusPipeline {

  final case class Config(
      minTokens: Int = 5,
      minQuality: Double = 0.3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      minJaccard: Double = 0.5,
      maxBucket: Int = 10000)

  /** Quality-gate predicate (stage 1), exposed for reuse/testing. */
  def qualityGate(textCol: Column, cfg: Config): Column =
    TextFunctions.tokenCount(textCol) >= cfg.minTokens &&
      TextFunctions.qualityScore(textCol) >= cfg.minQuality

  /** Exact-dedup survivors (stage 2): min id per content fingerprint.
    * Window-min instead of groupBy+join: one shuffle on the
    * fingerprint, no second pass over the corpus. The shuffle carries
    * the FULL rows (text included). */
  def exactSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("_fp_min", min(col(idCol)).over(
        Window.partitionBy(TextFunctions.fingerprint(col(textCol)))))
      .filter(col(idCol) === col("_fp_min"))
      .drop("_fp_min")

  /** Knobs for the stages `trainingRecipe` adds on top of `clean`.
    * Decontamination uses 6-gram/minShared=1 ("any shared 6-gram is
    * leakage") — n-gram length is the lever that separates genuine
    * benchmark overlap from short-gram vocabulary noise. */
  final case class RecipeConfig(
      base: Config = Config(),
      maxDup3Frac: Double = 0.5,
      maxTopTokFrac: Double = 0.2,
      decontamN: Int = 6,
      decontamMinShared: Long = 1,
      splitSeed: String = "v1",
      trainFrac: Double = 0.8)

  /** The COMPLETE modern training-data recipe, every stage the
    * already-certified operator, composed as one dataflow (q69):
    *
    *   quality gate → repetition filter (Gopher) → benchmark
    *   decontamination → exact dedup → near-dup collapse (capped LSH)
    *   → deterministic train/val split.
    *
    * Stage shape at 100 TB: stages 1–2 are map-only predicates fused
    * into the scan projection; decontamination broadcasts the
    * benchmark gram set (benchmarks are tiny by definition) so the
    * corpus still hasn't shuffled; then the dedup stages run exactly
    * as in `clean`. The split is a map-only pure function of
    * (seed, id) stamped on the survivors. */
  def trainingRecipe(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      cfg: RecipeConfig = RecipeConfig()): DataFrame = {
    // decontaminate references the gated frame twice (gram side +
    // anti-join side) — persist so the two filter stages run once
    // WHILE the pair computation below evaluates them.
    // DISK_ONLY (round-13, VERDICT r12 item 2): these survivors carry
    // the corpus TEXT, and two of them are alive simultaneously while
    // the pair computation runs — in a long many-query JVM the heap
    // copies were 13 s of q69's GC. Spilling them to local disk costs
    // well under a second at bench scale and keeps the old-gen flat.
    val gated = docs.filter(
      qualityGate(col(textCol), cfg.base) &&
        !TextAnalysis.repetitiveFlag(col(textCol), cfg.maxDup3Frac, cfg.maxTopTokFrac))
      .persist(graft.GraftSession.textFrameLevel)
    val decon = TextAnalysis.decontaminate(gated, benchmark, idCol, textCol,
      cfg.decontamN, cfg.decontamMinShared)
    val ex = exactSurvivors(decon, idCol, textCol)
      .persist(graft.GraftSession.textFrameLevel)
    // minhashDedupCapped is EAGER (it checkpoints its tiny pair list
    // and frees its own intermediates), so by the time it returns the
    // caches above have served every multi-reference consumer. The
    // survivor-ID list — ids of `ex` minus near-dup losers — is then
    // materialized eagerly too (id-only: tiny next to the corpus), the
    // caches are RELEASED before returning (leaking corpus-sized cache
    // blocks into the caller's session taxed every later query 3-5× in
    // the round-4 bench), and the returned plan is one map-side
    // broadcast semi-join of the RAW corpus against the id list plus
    // the split stamp — no text stage recomputes at evaluation.
    // At true 100 TB survivor ids outgrow a broadcast; there the
    // materialization you want is the survivors themselves written to
    // storage (the pipeline's output), not an in-memory id plan — this
    // form covers everything below that, and the id list stays a
    // checkpointed distributed frame either way.
    val pairs = Dedup.minhashDedupCapped(ex, idCol, textCol,
      cfg.base.numHashes, cfg.base.bandSize, cfg.base.minJaccard, cfg.base.maxBucket)
    val keep = Dedup.dedupCorpus(ex.select(col(idCol)), idCol, pairs).localCheckpoint()
    // blocking: the suite runs the recipe family back-to-back, and an
    // async release lets stage blocks linger into the next query
    gated.unpersist(true)
    ex.unpersist(true)
    TextAnalysis.hashSplit(docs.join(broadcast(keep), Seq(idCol), "left_semi"),
      idCol, cfg.splitSeed, cfg.trainFrac)
  }

  /** Knobs for the four curation stages `curationRecipe` layers onto
    * `trainingRecipe` (round-6 verdict ask #5): PII release gate,
    * fuzzy (per-item fractional) decontamination, boilerplate-heavy
    * doc drop, and per-domain token-budget sampling. Defaults match
    * the standalone gates (q86/q87/q89/q90). `budgetTokens = None`
    * disables the budget stage. */
  final case class CurationConfig(
      base: RecipeConfig = RecipeConfig(),
      piiGate: Boolean = true,
      fuzzyN: Int = 3,
      fuzzyMinFrac: Double = 0.5,
      bpN: Int = 3,
      bpMinDocs: Long = 50,
      bpMaxFrac: Double = 0.5,
      budgetTokens: Option[Long] = None,
      budgetSeed: String = "mix1")

  /** The FULL curation recipe — `trainingRecipe`'s certified chain
    * with the round-6 curation family composed in as recipe stages,
    * every stage the individually-certified operator (q99 gates the
    * composition):
    *
    *   quality gate → repetition filter (Gopher) → PII release gate →
    *   exact benchmark decontamination → fuzzy decontamination →
    *   boilerplate-heavy drop → exact dedup → near-dup collapse
    *   (capped LSH) → per-domain token-budget sample → train/val
    *   split.
    *
    * Stage shape at 100 TB: stages 1–3 are map-only predicates fused
    * into the scan; exact+fuzzy decontamination broadcast
    * benchmark-sized gram sets; the boilerplate stage is one gram
    * scan to a vocab-bounded set plus one to a doc-sized coverage
    * frame; the dedup stages run as in `clean`; the budget stage is
    * one window over the (already tiny) survivor set. The corpus
    * text itself never shuffles before the exact-dedup stage. */
  def curationRecipe(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, domainCol: String,
      cfg: CurationConfig = CurationConfig()): DataFrame = {
    val b = cfg.base
    val gated0 = docs.filter(
      qualityGate(col(textCol), b.base) &&
        !TextAnalysis.repetitiveFlag(col(textCol), b.maxDup3Frac, b.maxTopTokFrac))
    val gated =
      (if (cfg.piiGate) gated0.filter(!CurationOps.hasPii(col(textCol))) else gated0)
        .persist(graft.GraftSession.textFrameLevel)
    // decon is referenced twice (gram side of the fuzzy scan + the
    // anti-join left side) — persist, as trainingRecipe does for the
    // same shape, or the exact-decontamination stage executes twice.
    val decon = TextAnalysis.decontaminate(gated, benchmark, idCol, textCol,
      b.decontamN, b.decontamMinShared).persist(graft.GraftSession.textFrameLevel)
    val defuzz = decon.join(
        broadcast(CurationOps.fuzzyContaminatedIds(decon, benchmark, idCol, textCol,
          cfg.fuzzyN, cfg.fuzzyMinFrac)),
        Seq(idCol), "left_anti")
      .persist(graft.GraftSession.textFrameLevel)
    val debp = CurationOps.dropBoilerplateHeavy(defuzz, idCol, textCol,
      CurationOps.boilerplateGramSet(defuzz, idCol, textCol, cfg.bpN, cfg.bpMinDocs),
      cfg.bpN, cfg.bpMaxFrac)
    val ex = exactSurvivors(debp, idCol, textCol)
      .persist(graft.GraftSession.textFrameLevel)
    val pairs = Dedup.minhashDedupCapped(ex, idCol, textCol,
      b.base.numHashes, b.base.bandSize, b.base.minJaccard, b.base.maxBucket)
    val keep0 = Dedup.dedupCorpus(ex.select(col(idCol)), idCol, pairs).localCheckpoint()
    val keep = cfg.budgetTokens match {
      case Some(budget) =>
        CurationOps.budgetSample(
          ex.join(broadcast(keep0), Seq(idCol), "left_semi"),
          idCol, textCol, domainCol, budget, cfg.budgetSeed)
          .select(col(idCol)).localCheckpoint()
      case None => keep0
    }
    gated.unpersist(true)
    decon.unpersist(true)
    defuzz.unpersist(true)
    ex.unpersist(true)
    TextAnalysis.hashSplit(docs.join(broadcast(keep), Seq(idCol), "left_semi"),
      idCol, b.splitSeed, b.trainFrac)
  }

  /** The full pipeline: returns the cleaned, deduplicated corpus
    * (all original columns of the surviving rows). */
  def clean(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    val gated = docs.filter(qualityGate(col(textCol), cfg))
    // The exact-dedup output feeds both the LSH pipeline and the final
    // collapse — persist so the corpus is scanned once while the
    // (eager) pair computation runs, then materialize the survivor-ID
    // list and release the cache before returning (same hygiene +
    // final-plan shape as trainingRecipe: one broadcast semi-join over
    // the raw corpus, nothing recomputed, nothing leaked).
    // DISK_ONLY (round-15, VERDICT r14 item 1): the survivors carry
    // full text — at MEMORY level this frame was the q59 GC-pressure
    // suspect (same class as the q69/q70 fixes).
    val ex = exactSurvivors(gated, idCol, textCol)
      .persist(graft.GraftSession.textFrameLevel)
    val pairs = Dedup.minhashDedupCapped(ex, idCol, textCol,
      cfg.numHashes, cfg.bandSize, cfg.minJaccard, cfg.maxBucket)
    val keep = Dedup.dedupCorpus(ex.select(col(idCol)), idCol, pairs).localCheckpoint()
    ex.unpersist()
    docs.join(broadcast(keep), Seq(idCol), "left_semi")
  }

  /** The pipeline's last mile: write a finished training set as
    * size-bounded parquet shards — `numShards` equal-count ranges of
    * the numeric `idCol` ([[graft.Layout.rangeShuffle]]: split points
    * from one quantile pass, so the manifest does not move with what
    * ran earlier in the session), each sorted, so an id maps to ONE
    * shard by its range (within each hive partition when
    * `partitionCols` are given: every shard writes its id range into
    * each partition directory, so files in one directory never
    * overlap) and readers get file-level min/max pruning; each file is
    * capped at `maxRecordsPerFile` rows — and return the shard
    * manifest (file → row count + id range) that dataset cards and
    * resumable loaders consume. Optional hive-style `partitionCols`
    * (e.g. the recipe's split column) layer directory partitioning on
    * top. Scale: one quantile pass over the ids plus one shuffle of
    * the final corpus (the write's inherent cost); the manifest pass
    * reads only footers' worth of columns (id), never text. */
  def writeShards(ds: DataFrame, idCol: String, outDir: String,
      numShards: Int, maxRecordsPerFile: Long,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val writer = graft.Layout.rangeShuffle(ds, idCol, numShards)
      .sortWithinPartitions(partitionCols.map(col) :+ col(idCol): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(outDir)
    ds.sparkSession.read.parquet(outDir)
      .select(input_file_name().as("file"), col(idCol))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
  }
}
