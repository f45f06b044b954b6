package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.{CurationOps, TextAnalysis}

/** Dataset-card generator: one JSON document summarizing a corpus the
  * way a dataset release documents itself — composition (docs/tokens
  * per lang × source, from the q75 rollup), the temperature-scaled
  * mixture a 1M-token run would sample (q76), the quality-decile
  * curriculum table (q79), the train/val split fractions (q66), and —
  * since round 7 — the release-gate observability: PII exposure
  * (q87's audit), boilerplate span coverage (q89), the URL host
  * distribution (q92), verbatim-duplication exposure (q101), the
  * most-overlapping source pairs (q125), the lowest-entropy
  * sources (q128), and — since round 8 — the memorization-risk
  * headline (q143's repeated n-grams) and vocabulary health (q148
  * growth + q149 Zipf slope), and — since round 10 — the decision
  * rows: quality-rule exposure (q187) with the best-of-5 yield it
  * implies (q191), per-context-length padding waste (q190),
  * Good-Turing unseen bigram mass (q192), and IVF routing confidence
  * (q186). Every number comes from an oracle-gated operator, so the
  * card is a certified artifact, not a best-effort summary.
  *
  * Usage: runMain graft.tools.DatasetCard [sfDir]
  */
object DatasetCard {

  /** PII exposure rollup off the q87-certified per-doc audit: docs
    * flagged, and total finds per kind. One map-only scan + a 1-row
    * aggregate. */
  def piiSummary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    CurationOps.piiAudit(docs, idCol, textCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_docs_with_pii"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_cards_valid")).as("n_cards_valid"),
        sum(col("n_phones")).as("n_phones"))

  /** Boilerplate coverage off the q89-certified span report: spans
    * crossing the doc-frequency floor, their total occurrences, and
    * the distinct docs they touch. */
  def boilerplateSummary(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Long = 50): DataFrame =
    CurationOps.boilerplateReport(docs, idCol, textCol, n, minDocs)
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(col("n_occurrences")), lit(0L)).as("n_occurrences"),
        coalesce(max(col("n_docs")), lit(0L)).as("max_span_docs"))

  /** Verbatim-duplication exposure off the q101-certified substring
    * dedup: tokens a k-token ExactSubstr pass would remove and docs it
    * would drop entirely — the "how much of this corpus is repeated
    * text" number a release card owes its readers. */
  def substringDupSummary(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    // removal must be charged against the INPUT total: fully-duplicate
    // docs leave the dedup output entirely, so summing the output's
    // n_removed would undercount by exactly the worst offenders
    val input = docs.agg(
      sum(graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long"))
        .as("tokens_total"),
      count(lit(1)).as("n_docs"))
    val kept = TextAnalysis.substringDedup(docs, idCol, textCol, k)
      .agg(coalesce(sum(col("n_kept")), lit(0L)).as("tokens_kept"),
        count(lit(1)).as("docs_kept"))
    input.crossJoin(kept) // two 1-row frames
      .select(col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_removed"),
        col("docs_kept"),
        (col("n_docs") - col("docs_kept")).as("docs_dropped"))
  }

  /** Most-overlapping source pairs off the q125-certified bigram-set
    * similarity matrix — the mirror-site / scraped-content signal a
    * release card surfaces before mixture weights are trusted. */
  def sourceOverlapSummary(docs: DataFrame, topK: Int = 5): DataFrame =
    TextAnalysis.sourceSimilarity(docs, "source", "text")
      .orderBy(col("jacc_fx").desc, col("src_a"), col("src_b"))
      .limit(topK)

  /** Lowest-entropy sources off the q128-certified per-source token
    * entropy — the templated/spun-content flag (low entropy = the
    * source repeats itself). */
  def lowEntropySummary(docs: DataFrame, topK: Int = 5): DataFrame =
    TextAnalysis.sourceEntropy(docs, "source", "text")
      .orderBy(col("entropy"), col("source"))
      .limit(topK)

  /** Memorization-risk headline off the q143-certified repeated-ngram
    * report: the most widely duplicated n-grams with their doc and
    * source spread — the spans most likely to surface verbatim from a
    * model trained on this corpus. */
  def memorizationSummary(docs: DataFrame, idCol: String, srcCol: String,
      textCol: String, topK: Int = 5): DataFrame =
    TextAnalysis.repeatedNgrams(docs, idCol, srcCol, textCol,
      n = 8, minDocs = 2, topK = topK)

  /** Vocabulary health off the q148/q149-certified corpus statistics:
    * the growth curve's final checkpoint plus the Zipf slope — one row
    * a reader checks against Heaps/Zipf expectations. */
  def vocabHealthSummary(docs: DataFrame, textCol: String): DataFrame = {
    val growth = graft.ops.Analytics.vocabGrowthOf(docs, "doc_id", textCol, 5)
      .orderBy(col("chunk").desc).limit(1)
      .select(col("tokens_cum"), col("vocab_cum"))
    val slope = graft.ops.Analytics.zipfSlopeOf(docs, textCol, 1000)
    growth.crossJoin(slope) // two 1-row frames
  }

  /** Lexical-novelty screen off the q171-certified hapax ratio: the
    * sources whose vocabulary repeats the most (lowest hapax share —
    * templated/machine-generated text floats to the top). */
  def hapaxSummary(docs: DataFrame, topK: Int = 5): DataFrame =
    graft.ops.Analytics.hapaxRatioOf(docs)
      .orderBy(col("hapax_share_fx"), col("source"))
      .limit(topK)

  /** Near-dup estimator calibration off the q167-certified audit:
    * what exact token Jaccard each SimHash hamming bucket carries on
    * THIS corpus — the number that justifies the dedup threshold the
    * card's dup statistics depend on. */
  def calibrationSummary(docs: DataFrame): DataFrame =
    graft.ops.DedupShapes.simhashCalibrationOf(docs)
      .filter(col("hamming") <= 4)

  /** MinHash estimator calibration off the q179-certified audit (the
    * gate's sample+cap bounds): what exact bigram Jaccard each
    * component-agreement count carries — the row that justifies a
    * band scheme before a MinHash dedup run. */
  def minhashCalibrationSummary(docs: DataFrame): DataFrame =
    graft.ops.AuditOps.minhashCalibrationOf(docs,
      sampleFrac = 0.5, bucketCap = 64)

  /** Context-length budget off the q180-certified audit: per
    * power-of-two token bucket, doc/token counts and the cumulative
    * token share — "how much of the corpus fits a 4k context". */
  def contextBudgetSummary(spark: SparkSession, dir: String): DataFrame =
    graft.ops.AuditOps.contextBudget(spark, dir)

  /** Embedding-space QA off the q181-certified audit: per-label
    * vector counts, zero-vector count, and norm spread — the sanity
    * row before any ANN/semantic-dedup numbers are trusted. */
  def embeddingQaSummary(spark: SparkSession, dir: String): DataFrame =
    graft.ops.AuditOps.embeddingQa(spark, dir)

  /** Quality-rule exposure off the q187-certified screen: the five
    * sources the Gopher-style rules gut the hardest, with the
    * per-rule failure breakdown that says WHY. */
  def qualityRulesSummary(docs: DataFrame, topK: Int = 5): DataFrame =
    CurationOps.qualityRuleScreen(docs, "source", "text")
      .orderBy(col("pass_fx"), col("source"))
      .limit(topK)

  /** Best-of-k yield off the q191-certified pass@k estimator: the
    * five sources where even five draws rarely clear the screen —
    * the rejection-sampling cost row. Uses the k-clamped bestOfK core
    * so a source with fewer than 5 docs reports its best-of-n yield
    * (k column shows the clamp) instead of silently vanishing from
    * exactly the row made for tiny low-yield sources (round-11 fix,
    * ADVICE r10 #3). */
  def bestOfKSummary(spark: SparkSession, dir: String, topK: Int = 5): DataFrame =
    graft.ops.Evaluation.bestOfK(
        graft.Tables.load(spark, dir, "documents"), 5)
      .orderBy(col("pass_at_k_fx"), col("source"))
      .limit(topK)

  /** Padding waste off the q190-certified audit: what each candidate
    * context length costs in padded tokens under doc-boundary
    * packing — the q180 budget's decision companion. */
  def paddingWasteSummary(spark: SparkSession, dir: String): DataFrame =
    graft.ops.AuditOps.paddingWaste(spark, dir)

  /** Bigram-vocabulary richness off the q192-certified Good-Turing /
    * Chao1 estimates: the five sources with the most unseen mass —
    * where more crawl still buys new text. */
  def richnessSummary(docs: DataFrame, topK: Int = 5): DataFrame =
    graft.ops.Analytics.goodTuringOf(docs)
      .orderBy(col("unseen_mass_fx").desc, col("source"))
      .limit(topK)

  /** IVF routing confidence off the q186-certified silhouette: the
    * five lowest-margin clusters — where nProbe=1 recall dies
    * first. */
  def silhouetteSummary(spark: SparkSession, dir: String, topK: Int = 5): DataFrame =
    graft.ops.Similarity.clusterSilhouette(
        graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding", 37)
      .orderBy(col("avg_sil_fx"), col("cluster_id"))
      .limit(topK)

  /** The q201-certified release checklist — the card's verdict row:
    * six scale-free checks (round-13 adds near_dup_share) with their
    * values, thresholds, and pass/fail, straight off the gated
    * operator. */
  def releaseGateSummary(docsDf: DataFrame): DataFrame =
    graft.ops.CorpusStats.releaseGateOf(docsDf)

  /** The q205-certified val-OOV trend across crawl-order appends —
    * the release gate's forward-looking companion: the gate's
    * val_oov_share is one number at release time; this row shows
    * where it is HEADING as appends land (bending up = new crawl
    * vocabulary the train split hasn't seen — retrain before trusting
    * the LM-based rows above; the last row equals the gate's
    * val_oov_share by construction). */
  def oovTrendSummary(docsDf: DataFrame): DataFrame =
    graft.ops.CorpusStats.valOovTrendOf(docsDf)

  /** Split-exchangeability screen off the q194-certified held-out
    * cross-entropy: the sources whose val slice is most/least
    * predictable under the train LM — outliers on either end mean
    * the q66 split is not exchangeable for that source (duplication
    * across the boundary, or a shifted sub-population). */
  def crossEntropySummary(docsDf: DataFrame, topK: Int = 5): DataFrame =
    graft.ops.CorpusStats.valCrossEntropyOf(docsDf)
      .orderBy(col("xent_fx"), col("source"))
      .limit(topK)

  /** Crawl-novelty attribution off the q195-certified first-
    * appearance share: the sources still contributing the most new
    * bigram types — where continued crawl buys text the corpus
    * doesn't have. */
  def noveltySummary(docsDf: DataFrame, topK: Int = 5): DataFrame =
    graft.ops.CorpusStats.bigramNoveltyOf(docsDf)
      .orderBy(col("novelty_fx").desc, col("source"))
      .limit(topK)

  /** Generation-stutter exposure off the q199-certified repetition
    * runs: the sources with the longest adjacent-token runs — the
    * per-run signal q65's doc-level fractions dilute away. */
  def stutterSummary(docsDf: DataFrame, topK: Int = 5): DataFrame =
    graft.ops.CorpusStats.repetitionRunsOf(docsDf)
      .orderBy(col("max_run").desc, col("source"))
      .limit(topK)

  /** Top URL hosts off the q92-certified host-frequency report. */
  def hostSummary(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 10): DataFrame =
    CurationOps.hostFrequency(docs, idCol, textCol)
      .orderBy(col("n_urls").desc, col("host"))
      .limit(topK)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = GraftSession.local(appName = "dataset-card")
    spark.sparkContext.setLogLevel("ERROR")
    println(card(spark, dir))
    spark.stop()
  }

  def card(spark: SparkSession, dir: String): String = {
    def js(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case x => x.toString
    }
    def rowsJson(df: DataFrame): String =
      df.collect().map(r =>
        df.columns.zipWithIndex.map { case (c, i) => s"${js(c)}:${js(r.get(i))}" }
          .mkString("{", ",", "}")).mkString("[", ",", "]")

    val docs = graft.Tables.load(spark, dir, "documents")
    val total = TextAnalysis.corpusStats(spark, dir)
      .filter(col("lang").isNull).head()
    val splits = TextAnalysis.hashSplit(docs, "doc_id", "v1")
      .groupBy(col("split")).agg(count(lit(1)).as("n"))

    s"""{"dataset":${js(dir)},"n_docs":${total.getLong(2)},""" +
      s""""total_tokens":${total.getLong(3)},""" +
      s""""release_gate":${rowsJson(releaseGateSummary(docs))},""" +
      s""""val_oov_trend":${rowsJson(oovTrendSummary(docs))},""" +
      s""""composition":${rowsJson(TextAnalysis.corpusStats(spark, dir).filter(col("lang").isNotNull && col("source").isNotNull))},""" +
      s""""mixture_1m_alpha05":${rowsJson(TextAnalysis.mixture(spark, dir))},""" +
      s""""quality_deciles":${rowsJson(TextAnalysis.qualityDeciles(spark, dir))},""" +
      s""""split":${rowsJson(splits)},""" +
      s""""pii":${rowsJson(piiSummary(docs, "doc_id", "text"))},""" +
      s""""boilerplate":${rowsJson(boilerplateSummary(docs, "doc_id", "text"))},""" +
      s""""substring_dup":${rowsJson(substringDupSummary(docs, "doc_id", "text"))},""" +
      s""""top_hosts":${rowsJson(hostSummary(docs, "doc_id", "text"))},""" +
      s""""top_source_overlap":${rowsJson(sourceOverlapSummary(docs))},""" +
      s""""low_entropy_sources":${rowsJson(lowEntropySummary(docs))},""" +
      s""""top_repeated_ngrams":${rowsJson(memorizationSummary(docs, "doc_id", "source", "text"))},""" +
      s""""vocab_health":${rowsJson(vocabHealthSummary(docs, "text"))},""" +
      s""""lowest_hapax_sources":${rowsJson(hapaxSummary(docs))},""" +
      s""""simhash_calibration":${rowsJson(calibrationSummary(docs))},""" +
      s""""minhash_calibration":${rowsJson(minhashCalibrationSummary(docs))},""" +
      s""""context_budget":${rowsJson(contextBudgetSummary(spark, dir))},""" +
      s""""embedding_qa":${rowsJson(embeddingQaSummary(spark, dir))},""" +
      s""""lowest_quality_rule_sources":${rowsJson(qualityRulesSummary(docs))},""" +
      s""""lowest_best_of_5_yield":${rowsJson(bestOfKSummary(spark, dir))},""" +
      s""""padding_waste":${rowsJson(paddingWasteSummary(spark, dir))},""" +
      s""""highest_unseen_bigram_mass":${rowsJson(richnessSummary(docs))},""" +
      s""""lowest_margin_ivf_clusters":${rowsJson(silhouetteSummary(spark, dir))},""" +
      s""""most_predictable_val_sources":${rowsJson(crossEntropySummary(docs))},""" +
      s""""highest_novelty_sources":${rowsJson(noveltySummary(docs))},""" +
      s""""longest_repetition_runs":${rowsJson(stutterSummary(docs))}}"""
  }
}
