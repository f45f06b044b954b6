package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for the training-data pipeline
  * (quality scoring, language ID, token counting, fingerprinting,
  * redaction — SC7/SC8 generalized per the north star).
  *
  * All are composed from codegen'd built-ins (no UDFs) so they stay
  * inside WholeStageCodegen and push through Catalyst untouched.
  * Every function has an exact SQL mirror used by the DuckDB oracle
  * (ops.TextAnalysis) — patterns are RE2-compatible (no lookahead,
  * no backrefs) so Java regex and DuckDB agree.
  */
object TextFunctions {

  /** Whitespace token count; empty/blank → 0. One-pass codegen'd
    * kernel (round-17); value-identical to the builtin composition it
    * replaced, spec-pinned in TextStatKernelSpec. */
  def tokenCount(c: Column): Column = TextStatExpressions.tokenCount(c)

  /** BPE-ish token count: letter runs, digit runs, single other
    * non-space (the pre-tokenizer shape used by byte-pair encoders). */
  val bpePattern = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(bpePattern))

  /** Language-ID marker patterns (stopword n-gram heuristic). Order is
    * the deterministic argmax tie-break order. */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is)\\b",
    "es" -> "\\b(el|la|de|que|los|una)\\b",
    "de" -> "\\b(der|die|und|das|ein|nicht)\\b",
    "fr" -> "\\b(le|les|et|des|une|est)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]")

  def langScore(c: Column, lang: String): Column =
    regexp_count(c, lit(langMarkers.toMap.apply(lang)))

  /** Predicted language: argmax of marker scores, 'und' when all 0,
    * ties broken in langMarkers order. */
  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (l, _) => l -> langScore(c, l) }
    val g = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(g > 0 && s === g, lit(l)).otherwise(acc)
    }
    // foldRight keeps first-match-wins order: en checked first.
  }

  val stopwordPattern = "\\b(the|a|of|and|in|to|is)\\b"
  def stopwordCount(c: Column): Column = regexp_count(c, lit(stopwordPattern))
  def punctCount(c: Column): Column = regexp_count(c, lit("[^a-zA-Z0-9\\s]"))

  /** Composite quality score in [0,1] — length, punctuation and
    * stopword-density components (the heuristic-quality-filter shape
    * used by web-scale corpus pipelines). One-pass codegen'd kernel
    * (round-17): one split + two regex scans per row instead of three
    * splits and two match-materializing regexp_counts. Value-identical
    * to the builtin composition it replaced (TextStatKernelSpec). */
  def qualityScore(c: Column): Column = TextStatExpressions.qualityScore(c)

  /** Document fingerprint: md5 of the exact text (the exact-dedup
    * key). */
  def fingerprint(c: Column): Column = md5(c)

  /** Word n-grams of a token-array column, space-joined — built from
    * n ALIGNED SLICES zipped together so every lambda body touches
    * only its lambda variables.
    *
    * PERF CONTRACT (load-bearing): higher-order functions evaluate
    * interpreted (CodegenFallback), and a lambda body that captures an
    * outer subexpression re-computes it PER ELEMENT once the optimizer
    * inlines projections — the `transform(sequence(…), i →
    * slice(ts, i, n))` shape re-ran its upstream (regex split, md5
    * chains) hundreds of times per row in filter contexts. With this
    * form, upstream expressions appear only as zip_with ARGUMENTS,
    * evaluated once per call — at most n times per row, regardless of
    * what the optimizer inlines. Callers must guarantee
    * size(tokens) ≥ n (slice length must be positive). */
  def ngramArray(tokens: Column, n: Int): Column =
    NgramExpressions.wordNgrams(tokens, n)
  // One-pass codegen'd kernel (round-17): the aligned-slices zip_with
  // chain was the re-evaluation-safe HOF form, but zip_with still
  // evaluates interpreted per element. Value parity spec-pinned
  // (NgramKernelSpec) against that chain.

  /** SC7 — log-redaction chain from the reference logger
    * (internal/logger/logger.go:41-55): emails, bearer/JWT-ish
    * tokens, user_id=N. RE2-safe patterns. */
  def redact(c: Column): Column = {
    val email = regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[email]")
    val jwt = regexp_replace(email, "eyJ[A-Za-z0-9_.-]+", "[token]")
    regexp_replace(jwt, "user_id=[0-9]+", "user_id=[id]")
  }

  /** The same chain as DuckDB SQL (for oracle construction). */
  def redactSql(inner: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($inner, " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[email]', 'g'), " +
      "'eyJ[A-Za-z0-9_.-]+', '[token]', 'g'), " +
      "'user_id=[0-9]+', 'user_id=[id]', 'g')"
}
