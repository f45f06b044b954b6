package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions.row_number

/** Text-analysis operators over the `documents` table (north-star
  * extension: language-ID, quality scoring, token counting,
  * fingerprinting, redaction). Pure codegen'd built-ins; oracle SQL
  * mirrors each expression exactly (RE2-safe patterns).
  */
object TextAnalysis {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  // DuckDB mirror of regexp_count.
  private def rc(colSql: String, pat: String) =
    s"len(regexp_extract_all($colSql, '$pat'))"

  // Single-backslash \s+ for SQL literals (triple-quoted Scala strings
  // keep \\ as two characters, which RE2 would read as an escaped
  // backslash).
  private val WS = "\\s+"

  /** Token statistics per document (whitespace + BPE-ish counts). */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"),
      length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(string_split_regex(trim(text), '$WS')) END AS n_tokens,
       |  ${rc("text", "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")} AS n_bpe_tokens,
       |  length(text) AS n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Language-ID confusion matrix: labeled lang × predicted lang. */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("lang_pred", langId(col("text")))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  val langIdConfusionSql: String = {
    val scores = langMarkers.map { case (l, p) => s"${rc("text", p)} AS s_$l" }.mkString(", ")
    val g = "greatest(" + langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
    val cases = langMarkers.map { case (l, _) => s"WHEN s_$l = g THEN '$l'" }.mkString(" ")
    s"""WITH sc AS (SELECT lang, $scores FROM documents),
       |p AS (SELECT lang, CASE WHEN g = 0 THEN 'und' $cases END AS lang_pred
       |  FROM (SELECT $g AS g, * FROM sc))
       |SELECT lang, lang_pred, count(*) AS n FROM p
       |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin
  }

  /** Per-document quality score + components. */
  def qualityScores(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      stopwordCount(col("text")).as("n_stop"),
      punctCount(col("text")).as("n_punct"),
      qualityScore(col("text")).as("score"))
      .orderBy(col("doc_id"))

  val qualityScoresSql: String = {
    val nTok = s"""CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '$WS')) END"""
    val nStop = rc("text", "\\b(the|a|of|and|in|to|is)\\b")
    val nPunct = rc("text", "[^a-zA-Z0-9\\s]")
    s"""SELECT doc_id, n_tokens, n_stop, n_punct,
       |  coalesce(round(
       |    0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) +
       |    0.3 * (1.0 - least(1.0, (n_punct / nullif(CAST(length(text) AS DOUBLE), 0.0)) * 10.0)) +
       |    0.2 * least(1.0, (n_stop / nullif(CAST(n_tokens AS DOUBLE), 0.0)) * 5.0), 6), 0.0) AS score
       |FROM (SELECT doc_id, text, $nTok AS n_tokens, $nStop AS n_stop, $nPunct AS n_punct
       |      FROM documents) ORDER BY doc_id""".stripMargin
  }

  /** Exact dedup by content fingerprint (hash-groupBy; north-star
    * dedup #1). Map-side partial agg → tiny shuffle keyed on md5. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(fingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_id"))

  val exactDedupSql: String =
    """SELECT md5(text) AS fingerprint, min(doc_id) AS canonical_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin

  /** SC7 — redaction over synthetic loglines built from the corpus
    * (emails / JWT-ish tokens / user_id=N, mirroring
    * internal/logger/logger.go:41-55). */
  def redaction(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(col("doc_id") < 50)
      .select(
        col("doc_id"),
        redact(concat(
          lit("user "), col("source"),
          lit(" mail:"), col("source"), lit("@mail.example.com"),
          lit(" user_id="), col("doc_id"),
          lit(" tok:eyJhbGci."), col("lang"))).as("redacted"))
      .orderBy(col("doc_id"))

  val redactionSql: String = {
    val line = "'user ' || source || ' mail:' || source || '@mail.example.com'" +
      " || ' user_id=' || CAST(doc_id AS VARCHAR) || ' tok:eyJhbGci.' || lang"
    s"""SELECT doc_id, ${redactSql(line)} AS redacted
       |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin
  }

  /** Top-5 word bigrams per language (n-gram frequency profile —
    * reuses the dedup shingler; rank window with deterministic
    * tie-break). */
  def topBigrams(s: SparkSession, dir: String): DataFrame = {
    // lang rides along the explode (joining it back after shingling
    // costs a shuffle of every bigram string)
    val grams = docs(s, dir)
      .select(col("lang"), split(trim(col("text")), "\\s+").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("lang"), explode(array_distinct(expr(
        "transform(sequence(1, size(ts) - 1), i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))")))
        .as("bigram"))
    val counted = grams.groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))
    counted.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("rnk"), col("bigram"), col("n"))
      .orderBy(col("lang"), col("rnk"))
  }

  val topBigramsSql: String =
    s"""WITH toks AS (SELECT doc_id AS id, lang,
       |    string_split_regex(trim(text), '$WS') AS ts FROM documents),
       |pos AS (SELECT id, lang, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |  FROM toks WHERE len(ts) >= 2),
       |sh AS (SELECT DISTINCT id, lang, ts[i] || ' ' || ts[i+1] AS bigram FROM pos),
       |counted AS (SELECT lang, bigram, count(*) AS n FROM sh GROUP BY lang, bigram),
       |r AS (SELECT lang, bigram, n,
       |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
       |  FROM counted)
       |SELECT lang, rnk, bigram, n FROM r WHERE rnk <= 5
       |ORDER BY lang, rnk""".stripMargin

  /** Winnowed document fingerprints (the MOSS scheme — Schleimer,
    * Wilkerson, Aiken, SIGMOD 2003): hash every token k-gram, slide a
    * w-window over the hash sequence, keep each window's minimum.
    * Guarantees any shared run of ≥ w+k-1 tokens yields a shared
    * fingerprint (the containment detector Jaccard-style whole-doc
    * similarity misses), while selecting only ~1/w of the grams.
    *
    * Entirely MAP-SIDE per doc — gram arrays, hash arrays, window
    * minima and the per-doc distinct are array ops inside one
    * projection; nothing shuffles until the consumer aggregates. The
    * md5-string hash keeps it oracle-portable; docs shorter than one
    * full window emit the min over what they have (≥ k tokens). */
  def winnowedFingerprints(docsDf: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    // Window minima as a least-zip fold over w aligned slices of the
    // hash array (lambda-capture-safe, like ngramArray): `least`
    // skips the nulls zip_with pads short slices with, which exactly
    // reproduces the truncated last windows of docs shorter than one
    // full window (min over what they have).
    def windowMins(h: Column): Column = {
      val cnt = greatest(lit(1), size(h) - (w - 1))
      (2 to w).foldLeft(slice(h, lit(1), cnt)) { (acc, j) =>
        zip_with(acc, slice(h, lit(j), cnt), (a, b) => least(a, b))
      }
    }
    docsDf
      .select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("id"),
        transform(ngramArray(col("ts"), k), g => md5(g)).as("h"))
      .select(col("id"), windowMins(col("h")).as("ws"))
      .select(col("id"), explode(array_distinct(col("ws"))).as("fp"))
  }

  /** Containment pairs: docs sharing ≥ `minShared` winnowed
    * fingerprints — partial-overlap detection (quotes, boilerplate,
    * plagiarized spans). The fingerprint equi-join is quadratic per
    * hot fingerprint, same as exact Jaccard: the verification
    * baseline. At corpus scale, cap hot fingerprints with the
    * `Dedup.lshCandidatesCapped` pattern before verifying. */
  def containmentPairs(fps: DataFrame, minShared: Long): DataFrame =
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** q60 — winnowing certified per doc: fingerprint count + extremes
    * give the full selection a hash compare without dumping every
    * fingerprint row. */
  def winnowStats(s: SparkSession, dir: String): DataFrame =
    winnowedFingerprints(docs(s, dir), "doc_id", "text")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_fps"), min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
      .orderBy(col("doc_id"))

  private def winnowCte(k: Int, w: Int) =
    s"""toks AS (SELECT doc_id AS id, string_split_regex(trim(text), '$WS') AS ts
       |  FROM documents),
       |grams AS (SELECT id, list_transform(generate_series(1, len(ts) - ${k - 1}),
       |    i -> array_to_string(ts[i:i+${k - 1}], ' ')) AS gs
       |  FROM toks WHERE len(ts) >= $k),
       |hs AS (SELECT id, list_transform(gs, g -> md5(g)) AS h FROM grams),
       |wins AS (SELECT id, list_transform(generate_series(1, greatest(1, len(h) - ${w - 1})),
       |    j -> list_aggregate(h[j:j+${w - 1}], 'min')) AS ws FROM hs),
       |fps AS (SELECT DISTINCT id, unnest(ws) AS fp FROM wins)""".stripMargin

  val winnowStatsSql: String =
    s"""WITH ${winnowCte(3, 4)}
       |SELECT id AS doc_id, count(*) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp
       |FROM fps GROUP BY id ORDER BY doc_id""".stripMargin

  /** q61 — containment pairs on the bounded sample (the verification
    * baseline bound, like q30). */
  def containment(s: SparkSession, dir: String): DataFrame =
    containmentPairs(
        winnowedFingerprints(
          docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text"), 5L)
      .orderBy(col("id_a"), col("id_b"))

  val containmentSql: String =
    s"""WITH ${winnowCte(3, 4).replace("FROM documents", "FROM documents WHERE doc_id < 1000")}
       |SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
       |FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
       |GROUP BY 1, 2 HAVING count(*) >= 5
       |ORDER BY id_a, id_b""".stripMargin

  /** Distinct word n-grams per document — the shared shingler for
    * decontamination (generalizes the dedup bigram shingler to any n).
    * Map-only: split, slide (lambda-capture-safe ngramArray),
    * distinct, explode. */
  def ngramSets(docsDf: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docsDf
      .select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("id"),
        explode(array_distinct(ngramArray(col("ts"), n))).as("gram"))

  /** Benchmark decontamination (the eval-leakage pass every training
    * pipeline needs): count, per corpus doc, how many of its distinct
    * word n-grams appear anywhere in the benchmark set. The benchmark
    * is tiny next to the corpus BY DEFINITION, so its distinct-gram
    * set is broadcast and the corpus side never shuffles raw text —
    * the only shuffle is the per-doc count over MATCHED gram rows
    * (contamination-sized, not corpus-sized). Returns (id, n_shared)
    * for docs sharing ≥ minShared grams. */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3, minShared: Long = 3): DataFrame = {
    val benchGrams = ngramSets(benchmark, idCol, textCol, n).select(col("gram")).distinct()
    ngramSets(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The decontaminated corpus: drop every doc contaminationReport
    * flags (left_anti against the tiny flagged set). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3, minShared: Long = 3): DataFrame =
    corpus.join(
      broadcast(contaminationReport(corpus, benchmark, idCol, textCol, n, minShared)
        .withColumnRenamed("id", idCol).select(col(idCol))),
      Seq(idCol), "left_anti")

  /** Streaming-composable decontamination: the per-doc test runs
    * MAP-SIDE against the benchmark's whole distinct-gram set carried
    * as one broadcast array (a stream-static broadcast cross join —
    * `decontaminate`'s aggregate-then-anti-join shape is illegal on a
    * streaming frame). Per-row cost is one array_intersect against
    * the bench set: fine for the micro-batch path; batch jobs should
    * prefer `decontaminate`. Same survivor set as `decontaminate` on
    * any static frame (spec'd). */
  def decontaminateStreaming(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3, minShared: Long = 3): DataFrame = {
    // the hash prefilter below is survivor-identical only under this
    // documented precondition (round-17 ADVICE: minShared <= 0 would
    // silently flip semantics — the pre-prefilter form dropped every
    // row, the prefiltered form keeps all hash-miss rows)
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // Round-16 (guide §1.2 step 2): the single array_intersect against
    // the bench gram STRINGS rebuilt a vocabulary-sized hash set per
    // corpus row (ArrayIntersect re-hashes its argument every eval) —
    // measured as the dominant cost of the q233 streaming gate. The
    // broadcast row now also carries the bench grams' xxhash64 values
    // SORTED, and each row binary-searches its own gram hashes first
    // (SortedLongContainsAny — O(|doc| log |bench|) long compares, no
    // per-row set build). A hash miss is definitive (true match ⇒ hash
    // match ⇒ intersect = 0 < minShared for any minShared ≥ 1); only
    // hash-hit rows (contamination-sized + rare collisions) run the
    // exact string intersect, so the survivor set is IDENTICAL.
    val benchSet = ngramSets(benchmark, idCol, textCol, n)
      .agg(collect_set(col("gram")).as("_bench_gs"),
        sort_array(collect_set(xxhash64(col("gram")))).as("_bench_h"))
    val ts = split(trim(col(textCol)), "\\s+")
    // round-17: the gram window and the per-gram hash both run in the
    // codegen'd kernels (the transform(sequence…slice) and
    // transform(…xxhash64) HOFs evaluated interpreted per element)
    val gs = when(size(ts) >= n, ngramArray(ts, n))
      .otherwise(array().cast("array<string>"))
    val gsd = array_distinct(gs)
    corpus.crossJoin(broadcast(benchSet))
      .filter(
        !graft.functions.SetExpressions.sortedContainsAny(
          col("_bench_h"), graft.functions.NgramExpressions.xxhash64Elems(gsd)) ||
        size(array_intersect(gsd, col("_bench_gs"))) < minShared)
      .drop("_bench_gs", "_bench_h")
  }

  /** Duplicate word-3-gram fraction of a text column — a pure
    * map-only Column (array expressions over the token vector), so it
    * composes into pipelines as a filter predicate with zero plan
    * footprint beyond the projection.
    *
    * The 3-grams are built from three ALIGNED SLICES zipped together,
    * so every lambda body touches only its lambda variables. Higher-
    * order functions evaluate interpreted (CodegenFallback), and a
    * lambda body that captures an outer subexpression re-computes it
    * PER ELEMENT — the previous `transform(sequence(…), i →
    * array_join(slice(ts, i, 3)))` form re-ran the regex token split
    * ~200× per doc once predicate pushdown inlined it into a filter
    * (measured 10s on a 5k-doc corpus filter; this form: 0.4s). */
  def dup3Frac(textCol: Column): Column =
    graft.functions.TextStatExpressions.dup3Frac(textCol)

  /** Most-frequent-token fraction (map-only Column, see dup3Frac).
    *
    * Computed as the longest equal-run in the SORTED token array via a
    * single `aggregate` pass — value-identical to "max count over
    * distinct tokens" but O(n log n) per doc. The naive nested-HOF
    * form (`transform(array_distinct(ts), t -> size(filter(ts, …)))`)
    * is quadratic per doc AND, used as a filter predicate, predicate
    * pushdown re-inlines the token-split into every nested lambda
    * evaluation — measured 50× slower on the corpus filter. */
  def topTokFrac(textCol: Column): Column =
    graft.functions.TextStatExpressions.topTokFrac(textCol)

  /** The Gopher-style repetitive flag as a reusable predicate. */
  def repetitiveFlag(textCol: Column,
      maxDup3Frac: Double = 0.5, maxTopTokFrac: Double = 0.2): Column =
    dup3Frac(textCol) > maxDup3Frac || topTokFrac(textCol) > maxTopTokFrac

  /** Within-document repetition statistics (the Gopher repetition
    * filters — Rae et al. 2021 §A1.1, adapted to unstructured text):
    * duplicate word-3-gram fraction and most-frequent-token fraction,
    * plus the repetitive flag at Gopher-style thresholds. Entirely
    * map-only — every stat is an array expression over the token
    * vector inside one projection; nothing shuffles. */
  def repetitionStats(docsDf: DataFrame, idCol: String, textCol: String,
      maxDup3Frac: Double = 0.5, maxTopTokFrac: Double = 0.2): DataFrame =
    docsDf
      .select(
        col(idCol),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"),
        dup3Frac(col(textCol)).as("dup3_frac"),
        topTokFrac(col(textCol)).as("top_tok_frac"))
      .withColumn("repetitive",
        col("dup3_frac") > maxDup3Frac || col("top_tok_frac") > maxTopTokFrac)

  /** Deterministic seeded train/validation split — reproducible
    * regardless of partitioning or cluster size because the split is a
    * pure function of (seed, id): md5("seed|id")'s first 4 hex digits
    * against a threshold derived from trainFrac (16-bit resolution).
    * Map-only; portable (md5 on both engines). */
  def hashSplit(docsDf: DataFrame, idCol: String, seed: String,
      trainFrac: Double = 0.8): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1, "trainFrac must be in (0, 1)")
    val threshold = f"${(trainFrac * 65536).toInt}%04x"
    docsDf.withColumn("split",
      when(substring(md5(concat(lit(s"$seed|"), col(idCol).cast("string"))), 1, 4)
        < lit(threshold), "train").otherwise("val"))
  }

  /** Balanced mixture sampling: deterministically downsample each
    * stratum (language, source, domain…) to at most `perStratum` docs
    * — the mixture-reweighting step of a pretraining data recipe.
    * Selection ranks md5("seed|id") inside each stratum, so the sample
    * is a pure function of (seed, id, stratum): reproducible across
    * partitionings and cluster sizes, and adding new docs never evicts
    * a kept doc unless the new ones hash lower. One shuffle (the
    * per-stratum window); the rank column is returned so the selection
    * itself is certifiable. */
  def balancedSample(docsDf: DataFrame, idCol: String, strataCol: String,
      perStratum: Int, seed: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(md5(concat(lit(s"$seed|"), col(idCol).cast("string"))))
    docsDf.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= perStratum)
  }

  /** Sequence packing: assign docs to ~`capacity`-token training bins.
    * Docs are spread across `buckets` independent packing streams by a
    * portable hash (two hex digits of md5 → 0..255 → mod buckets), and
    * within a stream a running token total assigns bin =
    * floor(start_offset / capacity) — contiguous greedy fill in
    * deterministic hash order. The window partitions BY BUCKET, so
    * packing parallelizes across buckets (at corpus scale: thousands
    * of buckets ⇒ no single-partition window, each stream packs
    * independently) and the whole operator is map + one partitioned
    * window shuffle. */
  def packSequences(docsDf: DataFrame, idCol: String, textCol: String,
      capacity: Int = 2048, buckets: Int = 16, seed: String = "pack"): DataFrame = {
    val h = md5(concat(lit(s"$seed|"), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("h"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docsDf
      .select(col(idCol), tokenCount(col(textCol)).as("n_tokens"), h.as("h"))
      .withColumn("bucket",
        ((ascii(substring(col("h"), 1, 1)) * 256 + ascii(substring(col("h"), 2, 1)))
          % buckets).cast("int"))
      .withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / capacity).cast("long"))
      .select(col(idCol), col("bucket"), col("bin"), col("n_tokens"))
  }

  /** TF-IDF top terms per document (smooth idf, sklearn convention:
    * idf = ln((N+1)/(df+1)) + 1) — the vocabulary/doc-frequency view
    * a corpus pipeline uses for keyword extraction and topic drift
    * monitoring. Ranking is on the ROUNDED score with a term
    * tiebreak, so the selection is deterministic and engine-portable.
    *
    * Scale shape: tf is one shuffle on (id, term); df aggregates tf
    * map-side (vocab-sized result); the tf⋈df join keys on `term`,
    * which is Zipf-skewed — AQE's skew-join split handles the
    * stopword keys, and a df-ceiling prefilter (drop terms in > x% of
    * docs — they can't be anyone's top-k) is the production lever
    * that removes the skew entirely; the final rank is one window
    * shuffle on id. */
  def tfidfTopTerms(docsDf: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val tf = docsDf
      .select(col(idCol).as("id"), explode(split(trim(col(textCol)), WS)).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val n = docsDf.agg(count(lit(1)).as("n_docs"))
    // df as a count-window over the tf table instead of a groupBy +
    // self-join: same term-keyed shuffle the join would pay, minus
    // the join's second scan and re-shuffle (plan went 6 exchanges →
    // 3: tf groupBy, df window, rank window).
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("tfidf").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .select(col("id"), col("rnk"), col("term"), col("tfidf"))
  }

  /** The BM25 per-doc score as one Column tree over the pivoted
    * (tf_i, df_i, dl, n_docs, avgdl) frame — shared expression-for-
    * expression by the self-contained [[bm25Search]] and the
    * persisted-index [[serveBm25]], so the two produce bit-identical
    * doubles (spec-pinned equal). */
  private def bm25ScoreCol(qts: Seq[String], k1: Double, b: Double): Column =
    qts.indices.map { i =>
      when(col(s"tf_$i") > 0,
        log((col("n_docs") - col(s"df_$i") + lit(0.5)) /
            (col(s"df_$i") + lit(0.5)) + lit(1.0)) *
          (col(s"tf_$i") * lit(k1 + 1.0)) /
          (col(s"tf_$i") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }.reduce(_ + _)

  /** BM25 keyword retrieval (Robertson/Spärck Jones; k1/b defaults per
    * the standard Okapi setting): score every document against a
    * fixed term set, return the top `k`. The corpus-side work is one
    * tokenize pass: doc lengths aggregate from it, and the tf of
    * QUERY terms only survives the `isin` filter (pushed to the
    * scan), so the scoring join is query-sized, the df/stats frames
    * are broadcast-tiny, and the final top-k is a
    * TakeOrderedAndProject — no corpus-sized shuffle but the length
    * aggregation. Deterministic: ranked on the rounded score with an
    * id tiebreak. */
  def bm25Search(docsDf: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search needs at least one query term")
    val toks = docsDf
      .select(col(idCol).as("id"), explode(split(trim(col(textCol)), WS)).as("term"))
      .filter(col("term") =!= "")
    // ONE corpus shuffle: doc length and each query term's tf come out
    // of the same per-doc aggregation (conditional sums — the query is
    // a constant list, so the agg is map-side combined); corpus stats
    // and per-term dfs reduce that doc-sized frame to one broadcast
    // row; scoring is then map-side and the top-k is a
    // TakeOrderedAndProject. (The first form paid separate lens/tf/df
    // aggregations plus two joins — 7 exchanges for the same math.)
    val qts = queryTerms.distinct
    val perDoc = toks.groupBy(col("id")).agg(
      count(lit(1)).as("dl"),
      qts.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$i")
      }: _*)
    // avgdl as exact-integer sum/count (NOT avg(dl), whose double
    // partials are partition-ordered) so this path and serveBm25's
    // sum_dl/n_docs form share the identical IEEE division — the
    // "bit-identical doubles" pairing holds by construction
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
      ((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
        qts.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))): _*)
    val score = bm25ScoreCol(qts, k1, b)
    perDoc.crossJoin(broadcast(stats))
      .filter(qts.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  // ------------------- persisted inverted index + BM25 serving

  /** Term buckets for the postings layout (hive partition key). */
  val IDX_BUCKETS = 64

  /** Portable term → bucket: first 4 md5 hex digits mod
    * [[IDX_BUCKETS]] — computable driver-side at query time, so a
    * query's terms map to a partition-filter set without touching the
    * index. */
  def termBucket(t: Column): Column =
    conv(substring(md5(t), 1, 4), 16, 10).cast("int") % IDX_BUCKETS

  /** Driver-side twin of [[termBucket]] (same md5-hex formula). */
  def termBucketOf(t: String): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Integer.parseInt(hex.substring(0, 4), 16) % IDX_BUCKETS
  }

  /** Materialize the BM25 serving index as a TABLE LAYOUT (the
    * writeBloom / writeIvfPqIndex pattern for text retrieval):
    * `postings/` — (id, term, tf) hive-partitioned by the term
    * bucket, so a query's terms become PARTITION PRUNING on the only
    * corpus-sized read; `doclens/` — (id, dl), joined only for
    * candidate docs; `stats/` — one row of exact integers (n_docs,
    * sum_dl) from which avgdl re-derives bit-identically. Building
    * the index pays the tokenize + groupBy once; every query after
    * reads only its terms' buckets. */
  def writeInvertedIndex(docsDf: DataFrame, idCol: String, textCol: String,
      outDir: String): Unit = {
    val toks = docsDf
      .select(col(idCol).as("id"), explode(split(trim(col(textCol)), WS)).as("term"))
      .filter(col("term") =!= "")
    // repartition ON the hive key before the partitioned write — one
    // right-sized file per bucket instead of tasks × buckets slivers
    // (the small-file hygiene rule writeIvfPqIndex documents).
    // `batch` is the outer partition key: the base build owns
    // batch=base; each append owns batch=<batchId>, which is what
    // makes appends replay-idempotent (dynamic partition overwrite
    // replaces exactly the replayed batch's subtree — see
    // [[appendToInvertedIndex]]).
    // The postings write and the doclens/stats chain are independent —
    // overlap them (guide §2.6; same bytes as the sequential form).
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val postingsW = Future {
      toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
        .withColumn("bkt", termBucket(col("term")))
        .withColumn("batch", lit("base"))
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("batch", "bkt")
        .parquet(s"$outDir/postings")
    }
    // a doclens/stats failure must still await the in-flight postings
    // write before surfacing (round-17 ADVICE: no writes mutating
    // outDir after the method has thrown)
    val dlChain = scala.util.Try {
      val dl = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
      dl.withColumn("batch", lit("base"))
        .write.mode("overwrite").partitionBy("batch").parquet(s"$outDir/doclens")
      dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$outDir/stats")
    }
    Par.awaitAll(Seq(postingsW))
    dlChain.get
  }

  /** Incremental inverted-index maintenance — the text-side twin of
    * `Similarity.appendToIvfPqIndex`: tokenize ONLY the delta docs,
    * append their postings under the term-bucket partitions and their
    * lengths to `doclens/`, then rewrite the 1-row `stats/` table from
    * the merged doclens (the only non-append step — a doc-bounded
    * aggregate of (id, dl) pairs, never the corpus text). BM25's df
    * is derived from the pruned postings at query time and
    * n_docs/avgdl from stats, so serving after an append is EXACTLY
    * full-corpus BM25 (gate-certified against the self-contained q73
    * oracle).
    *
    * REPLAY-IDEMPOTENT (at-least-once tolerant, same contract as the
    * PQ append): each append owns the `batch=<batchId>` partition
    * subtree and writes it with DYNAMIC partition overwrite, so a
    * retried/replayed append of the same deterministic delta replaces
    * its own partitions instead of duplicating posting rows —
    * tf/df/n_docs stay exact after any number of replays (spec-pinned
    * in TextPipelineSpec). `batchId = "base"` is reserved for the
    * full build.
    *
    * ENFORCED contracts (round-11, VERDICT r10 #3 + ADVICE r10 #4 —
    * both were docstring-only warnings before):
    *  - **Re-crawled ids.** serveBm25 derives df from pruned postings
    *    across ALL batches, so a doc id present in two batches would
    *    contribute twice to df and split its tf. Ids already indexed
    *    under a DIFFERENT batch are detected with one column-pruned
    *    doclens read + semi-join (O(n_docs), no text); `onExistingIds`
    *    picks the policy — "fail" (default: throw, listing samples),
    *    "drop" (anti-join them out: the delta's genuinely-new docs
    *    still land), or "allow" (caller knows better, e.g. after an
    *    out-of-band delete).
    *  - **BatchId reuse.** Re-targeting an existing `batch=<batchId>`
    *    with a DIFFERENT delta would dynamic-overwrite only the term
    *    buckets the new write touches, leaving the earlier crawl's
    *    stale postings mixed in — silently corrupt. If the batch
    *    partition exists, its content fingerprint (order-insensitive
    *    bit_xor of xxhash64(id, term, tf) — |delta|-bounded read) is
    *    compared against the incoming delta's: equal ⇒ true replay,
    *    proceed; different ⇒ throw unless `force = true`, which first
    *    DELETES the old batch subtree so the rewrite is clean. */
  def appendToInvertedIndex(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      batchId: String = "delta", onExistingIds: String = "fail",
      force: Boolean = false): Unit = {
    require(batchId != "base" && batchId.nonEmpty,
      "batchId 'base' is reserved for writeInvertedIndex")
    require(Set("fail", "drop", "allow")(onExistingIds),
      s"onExistingIds must be fail|drop|allow, got $onExistingIds")
    // re-crawled-id guard: ids indexed under any OTHER batch (this
    // batch's own ids are a replay, which the fingerprint check owns)
    val priorIds = spark.read.parquet(s"$indexDir/doclens")
      .filter(col("batch") =!= batchId).select(col("id"))
    val deltaDocs = {
      val d = newDocs.select(col(idCol).as("id"), col(textCol).as("text"))
      onExistingIds match {
        case "allow" => d
        case "drop" => d.join(priorIds, Seq("id"), "left_anti")
        case _ =>
          val clash = d.join(priorIds, Seq("id"), "left_semi")
            .select(col("id")).limit(5).collect().map(_.get(0))
          if (clash.nonEmpty) throw new IllegalArgumentException(
            s"appendToInvertedIndex($batchId): ${clash.length}+ delta ids are " +
              s"already indexed under another batch (e.g. ${clash.mkString(", ")}); " +
              "re-crawled ids double-count df — drop them (onExistingIds=\"drop\"), " +
              "or compact + rebuild if the docs genuinely changed")
          d
      }
    }
    val toks = deltaDocs
      .select(col("id"), explode(split(trim(col("text")), WS)).as("term"))
      .filter(col("term") =!= "")
    val posting = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    // batchId-reuse guard: existing batch partition must be a replay
    // (identical content) unless force re-targets it after a delete
    val conf = spark.sparkContext.hadoopConfiguration
    val batchPath = new org.apache.hadoop.fs.Path(
      s"$indexDir/postings/batch=$batchId")
    val fs = batchPath.getFileSystem(conf)
    if (fs.exists(batchPath)) {
      // bit_xor, not sum: order-insensitive, immune to ANSI long
      // overflow, and exact as a set fingerprint because posting rows
      // are unique per (id, term) by construction
      def fingerprint(df: DataFrame): (Long, Long) = {
        val r = df.agg(
          coalesce(bit_xor(xxhash64(col("id"), col("term"), col("tf"))), lit(0L)),
          count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      val old = fingerprint(spark.read.parquet(batchPath.toString))
      val nw = fingerprint(posting)
      if (old != nw) {
        if (!force) throw new IllegalArgumentException(
          s"appendToInvertedIndex($batchId): batch partition exists with " +
            s"DIFFERENT content (rows ${old._2} vs ${nw._2}) — a reuse, not a " +
            "replay; dynamic overwrite would leave stale postings in untouched " +
            "term buckets. Use a fresh batchId, or force=true to delete + rewrite")
        fs.delete(batchPath, true)
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$indexDir/doclens/batch=$batchId"), true)
      }
    }
    // postings append is independent of the doclens→stats chain —
    // overlap them (guide §2.6; the stats rewrite below still waits on
    // its own doclens write, which is a real dependency)
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val postingsW = Future {
      posting
        .withColumn("bkt", termBucket(col("term")))
        .withColumn("batch", lit(batchId))
        .repartition(col("bkt"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "bkt").parquet(s"$indexDir/postings")
    }
    // a doclens/stats failure must still await the in-flight postings
    // append before surfacing (round-17 ADVICE)
    val dlChain = scala.util.Try {
      toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
        .withColumn("batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(s"$indexDir/doclens")
      // materialize the merged totals BEFORE overwriting the path being
      // read (lazy overwrite-what-you-read corrupts)
      val m = spark.read.parquet(s"$indexDir/doclens")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")).head()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("sum_dl",
          org.apache.spark.sql.types.LongType, nullable = true)))
      spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(m.getLong(0), m.getLong(1))),
          schema)
        .write.mode("overwrite").parquet(s"$indexDir/stats")
    }
    Par.awaitAll(Seq(postingsW))
    dlChain.get
  }

  /** Compact an inverted index into a fresh directory — the text twin
    * of `Similarity.compactIvfPqIndex`: postings rewritten
    * one-file-per-term-bucket, doclens coalesced, stats copied.
    * Serving the compacted dir is row-identical (spec-pinned);
    * production swaps the serving pointer to the new dir. */
  def compactInvertedIndex(spark: SparkSession, srcDir: String,
      dstDir: String): Unit = {
    // all source batches fold back into batch=base — the compacted
    // dir starts a fresh append lineage
    spark.read.parquet(s"$srcDir/postings")
      .withColumn("batch", lit("base"))
      .repartition(col("bkt"))
      .write.partitionBy("batch", "bkt").parquet(s"$dstDir/postings")
    spark.read.parquet(s"$srcDir/doclens")
      .withColumn("batch", lit("base")).coalesce(1)
      .write.partitionBy("batch").parquet(s"$dstDir/doclens")
    spark.read.parquet(s"$srcDir/stats").write.parquet(s"$dstDir/stats")
  }

  /** BM25 OFF the persisted index — the same pivoted dataflow and the
    * SAME score expression as [[bm25Search]] (spec-pinned row-equal),
    * but the corpus never re-tokenizes: the query terms' buckets
    * become an `isin` partition filter on `postings/` (asserted in
    * the spec), per-term dfs reduce the pruned postings, doc lengths
    * join only for docs containing ≥1 query term, and n_docs/avgdl
    * come from the exact-integer stats row. This is the standing-
    * index trio's text member (Bloom q107, IVF-PQ, inverted). */
  def serveBm25(spark: SparkSession, indexDir: String,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "serveBm25 needs at least one query term")
    val qts = queryTerms.distinct
    val bkts = qts.map(termBucketOf).distinct
    val posts = spark.read.parquet(s"$indexDir/postings")
      .withColumn("bkt", col("bkt").cast("int"))
      .filter(col("bkt").isin(bkts: _*))
      .filter(col("term").isin(qts: _*))
    val tfs = qts.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf_$i")
    }
    // Round-17 NEGATIVE RESULT (guide §1.1 — the "ideal plan" that
    // measured slower): deriving the per-term dfs from the per-doc tf
    // aggregate (df_t = docs with summed tf_t > 0, valid because
    // posting rows are unique per (term, id)) was tried to collapse
    // the two postings reads onto one exchange-reused scan — and the
    // q183/q185 gates ran consistently ~40% SLOWER: the "saved" second
    // scan is partition-pruned to the query terms' buckets (tiny at
    // every scale), while the df path gained a real keyed exchange +
    // two extra aggregate stages. The two pruned scans below are the
    // cheaper shape; reverted deliberately (OPTIMIZATION_r17.md).
    val dfs = qts.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"df_$i")
    }
    val perDoc = posts.groupBy(col("id")).agg(tfs.head, tfs.tail: _*)
      .join(spark.read.parquet(s"$indexDir/doclens"), Seq("id"))
    val dfRow = posts.agg(dfs.head, dfs.tail: _*)
    val stats = spark.read.parquet(s"$indexDir/stats")
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
      .crossJoin(dfRow)
    perDoc.crossJoin(broadcast(stats))
      .filter(qts.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("id"), round(bm25ScoreCol(qts, k1, b), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** q67 — balanced per-language sample (40 docs per lang, seed s1). */
  def balancedByLang(s: SparkSession, dir: String): DataFrame =
    balancedSample(docs(s, dir), "doc_id", "lang", 40, "s1")
      .select(col("doc_id"), col("lang"), col("rnk"))
      .orderBy(col("doc_id"))

  val balancedByLangSql: String =
    """SELECT doc_id, lang, rnk FROM (
      |  SELECT doc_id, lang, row_number() OVER (
      |      PARTITION BY lang
      |      ORDER BY md5('s1|' || CAST(doc_id AS VARCHAR))) AS rnk
      |  FROM documents)
      |WHERE rnk <= 40 ORDER BY doc_id""".stripMargin

  /** q68 — sequence packing into 2048-token bins over 16 streams. */
  def packing(s: SparkSession, dir: String): DataFrame =
    packSequences(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val packingSql: String = {
    val nTok =
      s"""CASE WHEN length(trim(text)) = 0 THEN 0
         | ELSE len(string_split_regex(trim(text), '$WS')) END""".stripMargin
    """WITH t AS (SELECT doc_id, md5('pack|' || CAST(doc_id AS VARCHAR)) AS h,
      |    NTOK AS n_tokens FROM documents),
      |b AS (SELECT doc_id, h, n_tokens,
      |    (ascii(substr(h, 1, 1)) * 256 + ascii(substr(h, 2, 1))) % 16 AS bucket
      |  FROM t)
      |SELECT doc_id, bucket, CAST(floor((sum(n_tokens) OVER (
      |    PARTITION BY bucket ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2048) AS BIGINT) AS bin,
      |  n_tokens
      |FROM b ORDER BY doc_id""".stripMargin.replace("NTOK", nTok)
  }

  /** q64 — decontamination report: docs sharing ≥3 word-3-grams with
    * the benchmark set (doc_id ≡ 0 mod 20 models the held-out eval
    * suite). */
  def decontaminationReport(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    contaminationReport(
        d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  private def gramCte(n: Int) =
    s"""toks AS (SELECT doc_id AS id, string_split_regex(trim(text), '$WS') AS ts
       |  FROM documents),
       |grams AS (SELECT DISTINCT id, unnest(list_transform(
       |    generate_series(1, len(ts) - ${n - 1}),
       |    i -> array_to_string(ts[i:i+${n - 1}], ' '))) AS gram
       |  FROM toks WHERE len(ts) >= $n)""".stripMargin

  val decontaminationReportSql: String =
    s"""WITH ${gramCte(3)},
       |bench AS (SELECT DISTINCT gram FROM grams WHERE id % 20 = 0)
       |SELECT g.id AS doc_id, count(*) AS n_shared
       |FROM grams g JOIN bench b ON g.gram = b.gram
       |WHERE g.id % 20 != 0
       |GROUP BY g.id HAVING count(*) >= 3
       |ORDER BY doc_id""".stripMargin

  /** q65 — Gopher-style repetition stats per doc. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    repetitionStats(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val repetitionSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '$WS') AS ts
       |  FROM documents),
       |g AS (SELECT doc_id, ts,
       |    CASE WHEN len(ts) >= 3 THEN list_transform(generate_series(1, len(ts) - 2),
       |      i -> array_to_string(ts[i:i+2], ' ')) ELSE [] END AS gs
       |  FROM t)
       |SELECT doc_id, len(ts) AS n_tokens,
       |  CASE WHEN len(gs) > 0
       |    THEN round((len(gs) - len(list_distinct(gs))) / CAST(len(gs) AS DOUBLE), 6)
       |    ELSE 0.0 END AS dup3_frac,
       |  round(list_max(list_transform(list_distinct(ts),
       |    t -> len(list_filter(ts, x -> x = t)))) / CAST(len(ts) AS DOUBLE), 6) AS top_tok_frac,
       |  (CASE WHEN len(gs) > 0
       |    THEN round((len(gs) - len(list_distinct(gs))) / CAST(len(gs) AS DOUBLE), 6)
       |    ELSE 0.0 END) > 0.5
       |   OR round(list_max(list_transform(list_distinct(ts),
       |    t -> len(list_filter(ts, x -> x = t)))) / CAST(len(ts) AS DOUBLE), 6) > 0.2
       |   AS repetitive
       |FROM g ORDER BY doc_id""".stripMargin

  /** q66 — deterministic hash split (seed "v1", 80/20). */
  def split8020(s: SparkSession, dir: String): DataFrame =
    hashSplit(docs(s, dir), "doc_id", "v1")
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  val split8020Sql: String =
    """SELECT doc_id,
      |  CASE WHEN substr(md5('v1|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
      |       THEN 'train' ELSE 'val' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q72 — top-3 TF-IDF terms per document. */
  def tfidfTop3(s: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("rnk"))

  val tfidfTop3Sql: String =
    s"""WITH tk AS (SELECT doc_id AS id, unnest(string_split_regex(trim(text), '$WS')) AS term
       |  FROM documents),
       |tf AS (SELECT id, term, count(*) AS tf FROM tk WHERE term <> '' GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (SELECT id, term,
       |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
       |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
       |rk AS (SELECT *, row_number() OVER (
       |    PARTITION BY id ORDER BY tfidf DESC, term) AS rnk FROM sc)
       |SELECT id AS doc_id, rnk, term, tfidf FROM rk WHERE rnk <= 3
       |ORDER BY doc_id, rnk""".stripMargin

  /** q73 — BM25 retrieval for a fixed 3-term keyword query, top 20. */
  def bm25Top20(s: SparkSession, dir: String): DataFrame =
    bm25Search(docs(s, dir), "doc_id", "text", Seq("spark", "join", "query"))
      .withColumnRenamed("id", "doc_id")

  /** The q73 BM25 scoring chain as a reusable CTE body ending in
    * `sc(id, score)` — shared by the q73 gate and the q82 hybrid
    * retrieval oracle. */
  val bm25ScoreCte: String =
    s"""tk AS (SELECT doc_id AS id, unnest(string_split_regex(trim(text), '$WS')) AS term
       |  FROM documents),
       |tk2 AS (SELECT id, term FROM tk WHERE term <> ''),
       |lens AS (SELECT id, count(*) AS dl FROM tk2 GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs,
       |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
       |tf AS (SELECT id, term, count(*) AS tf FROM tk2
       |  WHERE term IN ('spark', 'join', 'query') GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT id, round(sum(
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
       |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
       |  FROM tf JOIN dfq USING (term) JOIN lens USING (id) CROSS JOIN stats
       |  GROUP BY id)""".stripMargin

  val bm25Top20Sql: String =
    s"""WITH $bm25ScoreCte
       |SELECT id AS doc_id, score FROM sc
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Hash-stable mean to 4 decimals: per-row 1e-6 fixed-point
    * quantization, exact integer sum (order-independent), then ONE
    * deterministic division — the q88 recipe. Replaces
    * round(avg(double), 4), whose float partial sums depend on
    * partition order and could flake on a rounding boundary
    * (round-6 VERDICT "what's wrong" #3, now closed). */
  private def fxAvg4(x: Column): Column =
    round(sum(round(x * 1e6).cast("long")) / (count(lit(1)) * 1e6), 4)

  /** q75 — corpus observability rollup: doc counts, token totals, and
    * mean quality per (lang, source) with subtotals and a grand total
    * — the dashboard every pipeline run reads. One map-side-combined
    * aggregation pass; rollup grouping sets add no extra corpus
    * scan. */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("lang"), col("source"),
        tokenCount(col("text")).as("n_tokens"),
        qualityScore(col("text")).as("q"))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        fxAvg4(col("q")).as("avg_quality"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  val corpusStatsSql: String = {
    val nTok = s"""CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '$WS')) END"""
    val nStop = rc("text", "\\b(the|a|of|and|in|to|is)\\b")
    val nPunct = rc("text", "[^a-zA-Z0-9\\s]")
    s"""WITH d AS (SELECT lang, source, $nTok AS n_tokens,
       |    coalesce(round(
       |      0.5 * least(1.0, CAST($nTok AS DOUBLE) / 50.0) +
       |      0.3 * (1.0 - least(1.0, ($nPunct / nullif(CAST(length(text) AS DOUBLE), 0.0)) * 10.0)) +
       |      0.2 * least(1.0, ($nStop / nullif(CAST($nTok AS DOUBLE), 0.0)) * 5.0), 6), 0.0) AS q
       |  FROM documents)
       |SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  round(sum(CAST(round(q * 1e6) AS BIGINT)) / (count(*) * 1e6), 4) AS avg_quality
       |FROM d GROUP BY ROLLUP (lang, source)
       |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin
  }

  /** Temperature-scaled domain mixture planner — the table that
    * decides WHAT a token-budgeted training run reads from each
    * source: weight_s ∝ tokens_s^alpha (alpha < 1 upsamples small
    * domains — the standard multilingual/multi-domain sampling rule),
    * sampled_s = budget · weight_s, epochs_s = sampled_s / tokens_s
    * (passes over source s; > 1 means repetition). One tiny
    * aggregation: the corpus is scanned once for per-source token
    * sums; everything after operates on a frame with one row per
    * source (thousands at most, at any corpus size), so its
    * single-partition normalizer window is bounded work — see the
    * inline note on why it beats a crossJoin with the total.
    *
    * alpha = 0.5 routes through `sqrt`, which IEEE-754 requires to be
    * correctly rounded (bit-identical across Spark and the DuckDB
    * oracle); generic alpha uses `pow`, whose libm implementations may
    * differ in the last ulp — fine for planning, not for hash gates. */
  def mixturePlan(docsDf: DataFrame, srcCol: String, textCol: String,
      alpha: Double, budgetTokens: Long): DataFrame = {
    val perSrc = docsDf
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol))).cast("long").as("src_tokens"))
    val wRaw =
      if (alpha == 0.5) sqrt(col("src_tokens").cast("double"))
      else pow(col("src_tokens").cast("double"), lit(alpha))
    // The normalizer is a window over the POST-AGGREGATION frame (one
    // row per source) — a single-partition exchange of a few thousand
    // rows at most, vs. the crossJoin-with-total form which makes
    // Catalyst evaluate (and scan the corpus for) the aggregation
    // twice. One corpus scan, one shuffle.
    val weight = wRaw / sum(wRaw).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    perSrc
      .select(col(srcCol), col("n_docs"), col("src_tokens"),
        round(weight, 6).as("weight"),
        round(weight * lit(budgetTokens.toDouble))
          .cast("long").as("sampled_tokens"),
        round(weight * lit(budgetTokens.toDouble) /
          col("src_tokens").cast("double"), 4).as("epochs"))
  }

  /** q76 gate instance: alpha=0.5, 1M-token budget, by source. */
  def mixture(s: SparkSession, dir: String): DataFrame =
    mixturePlan(docs(s, dir), "source", "text", 0.5, 1000000L)
      .orderBy(col("source"))

  val mixtureSql: String = {
    val nTok = s"""CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '$WS')) END"""
    s"""WITH d AS (SELECT source, $nTok AS n_tokens FROM documents),
       |s AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS src_tokens
       |  FROM d GROUP BY source),
       |t AS (SELECT sum(sqrt(CAST(src_tokens AS DOUBLE))) AS w_tot FROM s)
       |SELECT source, n_docs, src_tokens,
       |  round(sqrt(CAST(src_tokens AS DOUBLE)) / w_tot, 6) AS weight,
       |  CAST(round(sqrt(CAST(src_tokens AS DOUBLE)) / w_tot * 1000000.0, 0) AS BIGINT)
       |    AS sampled_tokens,
       |  round(sqrt(CAST(src_tokens AS DOUBLE)) / w_tot * 1000000.0
       |    / CAST(src_tokens AS DOUBLE), 4) AS epochs
       |FROM s, t ORDER BY source""".stripMargin
  }

  /** Unigram language-model scoring (the CCNet/Gopher "perplexity
    * filter" stage, with the LM trained on the corpus itself): score
    * every document by its mean token log-probability under the
    * corpus unigram distribution — low scores mark gibberish / rare-
    * token soup, high scores mark stereotypical text; pipelines keep
    * a middle band or threshold the tail. Dataflow: one explode →
    * token-count aggregation (the LM — vocab-sized, ≪ corpus), then
    * tokens ⋈ LM → per-doc mean. The LM side is broadcast here; at a
    * 100 TB corpus with a huge vocab it becomes a shuffle join on the
    * token — Zipf skew on hot tokens is exactly what AQE skew-join
    * splits, and the per-doc aggregation is map-side partial either
    * way. The normalizer windows over the POST-AGG vocab frame (one
    * row per distinct token), not the corpus. */
  def unigramLogProb(docsDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docsDf.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        explode(split(trim(col(textCol)), WS)).as("tok"))
    val lm = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    toks.join(broadcast(lm), Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        fxAvg4(log(col("cnt").cast("double") / col("total")))
          .as("avg_logprob"))
  }

  def lmScore(s: SparkSession, dir: String): DataFrame =
    unigramLogProb(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val lmScoreSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(text), '$WS')) AS tok
       |  FROM documents WHERE length(trim(text)) > 0),
       |f AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
       |tot AS (SELECT sum(cnt) AS total FROM f)
       |SELECT doc_id, count(*) AS n_tokens,
       |  round(sum(CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1e6) AS BIGINT))
       |    / (count(*) * 1e6), 4) AS avg_logprob
       |FROM t JOIN f USING (tok), tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Line-level exact dedup (the RefinedWeb/CCNet boilerplate pass):
    * a line repeated ANYWHERE in the corpus survives only at its
    * first occurrence — ordered by (doc id, line position) — and
    * every other copy is cut out of its document; documents are then
    * reassembled in original line order, and docs left with no
    * tokens are dropped. Lines under `minLineTokens` tokens (blank
    * separators and the like) never enter the dedup.
    *
    * Scale shape (fingerprint-only shuffle at line granularity):
    * pass 1 shuffles only (md5(line), id, line_no) to
    * rank occurrences — the corpus text does NOT move; the loser
    * list, O(#duplicate lines), broadcasts into a (id, line_no)
    * anti-join; the reassembly groupBy is the one shuffle that moves
    * surviving text, and it moves it exactly once. The synthetic
    * gate corpus has no multi-line docs, so this operator is
    * spec-certified on hand-built frames rather than oracle-gated. */
  def lineDedup(docsDf: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minLineTokens: Int = 1): DataFrame = {
    val lines = docsDf.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("line_no", "line")))
    val losers = lines
      .filter(tokenCount(col("line")) >= minLineTokens)
      .select(md5(col("line")).as("_fp"), col(idCol), col("line_no"))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_fp"))
          .orderBy(col(idCol), col("line_no"))))
      .filter(col("_rk") > 1)
      .select(col(idCol), col("line_no"))
    lines.join(broadcast(losers), Seq(idCol, "line_no"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x("line"))).as(textCol),
        count(lit(1)).as("n_lines_kept"))
      .filter(tokenCount(col(textCol)) > 0)
  }

  /** q85 — lineDedup ORACLE GATE. The synthetic corpus is single-line,
    * so multi-line docs are synthesized INSIDE the query: synthetic
    * doc i = doc i's text + '\n' + doc i+1's text (ids < 200). Every
    * corpus line then occurs in TWO synthetic docs (plus extra copies
    * wherever the corpus has byte-identical texts), so cross-doc
    * first-occurrence line dedup is exercised for real and DuckDB
    * mirrors the synthesis and the dedup step for step. */
  def lineDedupGate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val nxt = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("t2"))
    val synth = d.join(nxt, Seq("doc_id"))
      .select(col("doc_id"), concat(col("text"), lit("\n"), col("t2")).as("text"))
    lineDedup(synth, "doc_id", "text").orderBy(col("doc_id"))
  }

  val lineDedupGateSql: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      |synth AS (SELECT a.doc_id, a.text || chr(10) || b.text AS text
      |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
      |t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth),
      |l AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS pos FROM t),
      |lx AS (SELECT doc_id, pos, ls[pos] AS line FROM l),
      |lo AS (SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
      |    FROM lx WHERE length(trim(line)) > 0) WHERE rk > 1),
      |kept AS (SELECT lx.doc_id, lx.pos, lx.line FROM lx
      |  WHERE NOT EXISTS (SELECT 1 FROM lo
      |    WHERE lo.doc_id = lx.doc_id AND lo.pos = lx.pos)),
      |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
      |    CAST(count(*) AS BIGINT) AS n_lines_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT doc_id, text, n_lines_kept FROM agg
      |WHERE length(trim(text)) > 0 ORDER BY doc_id""".stripMargin

  /** Cross-document duplicate-substring removal — the ExactSubstr pass
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") re-expressed as a distributed k-token window
    * dedup, which is the standard cluster-scale approximation of the
    * paper's suffix-array construction: a k-token window whose exact
    * text occurs anywhere else in the corpus survives only at its
    * first occurrence — globally ordered by (doc id, start position) —
    * and every token covered by a losing window is cut out of its
    * document. A repeated span of length L ≥ k tokens is covered by
    * L−k+1 losing windows in each non-first copy, so the whole span
    * disappears there while the first copy keeps it verbatim (the
    * keep-one semantics of the paper). Documents reassemble from their
    * surviving tokens in order; docs left with no tokens are dropped.
    *
    * Scale shape (the lineDedup pattern at window granularity): the
    * corpus text never shuffles — windows are built map-side from the
    * token array (`ngramArray`) and only (md5(window), id, pos)
    * triples enter the one ranking shuffle; the loser list is
    * O(#duplicate windows) start positions, re-aggregated per doc and
    * broadcast back onto the corpus, where removal is a map-side
    * interval test (`exists` over the doc's loser starts). At extreme
    * duplication rates swap the broadcast for a plain (id → starts)
    * shuffle join — text then moves exactly once. */
  def substringDedup(docsDf: DataFrame, idCol: String, textCol: String,
      k: Int = 8, broadcastLosers: Boolean = true): DataFrame = {
    require(k >= 2, "window must span at least 2 tokens")
    val base = tokenized(docsDf, idCol, textCol)
    val loserStarts = windowFps(base, idCol, k)
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_fp"))
          .orderBy(col(idCol), col("_pos"))))
      .filter(col("_rk") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_pos"))).as("_starts"))
    removeCovered(base, idCol, textCol, loserStarts, k, broadcastLosers)
  }

  /** (id, _toks) frame of the non-blank docs — the shared head of the
    * substring-dedup family. */
  private def tokenized(docsDf: DataFrame, idCol: String, textCol: String): DataFrame =
    docsDf
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("_toks"))

  /** (id, _pos, _fp) k-token window fingerprints, built map-side from
    * the token arrays (docs shorter than k emit no windows). */
  private def windowFps(tokensDf: DataFrame, idCol: String, k: Int): DataFrame =
    tokensDf.select(
      col(idCol),
      posexplode(when(size(col("_toks")) >= k, ngramArray(col("_toks"), k))
        .otherwise(array().cast("array<string>"))).as(Seq("_i0", "_gram")))
      .select(col(idCol), (col("_i0") + 1).as("_pos"), md5(col("_gram")).as("_fp"))

  /** Shared tail: join the per-doc losing start positions back onto
    * the token arrays, cut every covered token map-side, and
    * reassemble. `broadcastLosers` picks the join strategy: at typical
    * duplication rates (1–10% of windows) the loser list is tiny and
    * broadcast wins; at DEEP duplication (a depth-d re-crawl makes
    * ~(d−1)/d of all windows losers) the list is corpus-sized and must
    * shuffle instead — the corpus then moves once on id, the lineDedup
    * reassembly shape (both measured at 1–64× re-crawl depth:
    * docs/SUBSTR_PROBE_r7.jsonl). */
  private def removeCovered(tokensDf: DataFrame, idCol: String, textCol: String,
      loserStarts: DataFrame, k: Int, broadcastLosers: Boolean = true): DataFrame =
    tokensDf.join(
        if (broadcastLosers) broadcast(loserStarts) else loserStarts,
        Seq(idCol), "left")
      .withColumn("_starts", coalesce(col("_starts"), array().cast("array<int>")))
      .withColumn("_kept", filter(
        zip_with(col("_toks"), sequence(lit(1), size(col("_toks"))),
          (t, p) => struct(t.as("t"), p.as("p"))),
        x => !exists(col("_starts"), s => s <= x("p") && x("p") < s + k)))
      .select(
        col(idCol),
        concat_ws(" ", transform(col("_kept"), x => x("t"))).as(textCol),
        size(col("_kept")).cast("long").as("n_kept"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_removed"))
      .filter(col("n_kept") > 0)

  /** Standing window index of a corpus: the DISTINCT k-token window
    * fingerprints — 16 bytes per distinct window, the table a
    * production pipeline persists alongside the corpus (bucket it by
    * fp so the per-crawl delta join co-locates). Which base doc first
    * held a window is irrelevant to delta processing: base always
    * precedes the delta in first-occurrence order, so membership alone
    * decides. */
  def substringIndex(docsDf: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame =
    windowFps(tokenized(docsDf, idCol, textCol), idCol, k)
      .select(col("_fp").as("fp")).distinct()

  /** Incremental substring dedup: clean a NEW batch against a standing
    * window index without reprocessing the base corpus (the per-crawl
    * form — completes the incremental family: q70 text, q74 embedding,
    * q98 PQ codes, and this). A delta window loses if its fingerprint
    * is already in the index (the base copy wins) OR it repeats within
    * the delta (first occurrence by (doc, pos) wins); removal is then
    * the shared interval-coverage cut. Per-crawl cost: the delta is
    * tokenized and fingerprinted once; the index join shuffles only
    * delta-sized (fp, id, pos) triples against the bucketed index —
    * base text is never read. Keep the index current by unioning in
    * `substringIndex` of the cleaned delta. */
  def substringDedupDelta(delta: DataFrame, index: DataFrame, idCol: String,
      textCol: String, k: Int = 8, broadcastLosers: Boolean = true,
      indexBloom: Option[DataFrame] = None): DataFrame = {
    require(k >= 2, "window must span at least 2 tokens")
    val base = tokenized(delta, idCol, textCol)
    val grams = windowFps(base, idCol, k)
    // With a standing bloom of the index fingerprints (q107 family,
    // built once per index compaction via BloomIndex.writeBloom), the
    // index join shrinks to the bloom-POSITIVE distinct fps — on a
    // fresh crawl that's the true-dup fraction plus the FP tail, not
    // every delta window. The verify semi-join kills FPs, so results
    // are bit-identical to the direct join (SubstringDedupSpec pins
    // it, including under a saturated 256-bit bloom).
    val inBase = indexBloom match {
      case None => index.select(col("fp").as("_fp"))
      case Some(bloom) =>
        BloomIndex.prefilter(grams.select(col("_fp")).distinct(), "_fp", bloom)
          .join(index.select(col("fp").as("_fp")), Seq("_fp"), "left_semi")
    }
    val flagged = grams.join(inBase.withColumn("_inBase", lit(true)),
      Seq("_fp"), "left")
    val loserStarts = flagged
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_fp"))
          .orderBy(col(idCol), col("_pos"))))
      .filter(col("_inBase") || col("_rk") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_pos"))).as("_starts"))
    removeCovered(base, idCol, textCol, loserStarts, k, broadcastLosers)
  }

  /** q104 — substringDedupDelta ORACLE GATE: base = docs < 250 (index
    * derived via substringIndex — what a production pipeline would
    * read persisted), delta = docs ≥ 250; DuckDB mirrors the
    * index-membership OR within-delta-rank losing rule and the
    * coverage cut. */
  def substringDeltaGate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val index = substringIndex(d.filter(col("doc_id") < 250), "doc_id", "text", k = 8)
    substringDedupDelta(d.filter(col("doc_id") >= 250), index,
      "doc_id", "text", k = 8)
      .orderBy(col("doc_id"))
  }

  val substringDeltaGateSql: String =
    s"""WITH d0 AS (SELECT doc_id, string_split_regex(trim(text), '$WS') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |bfp AS (SELECT DISTINCT md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS fp
       |  FROM d0, unnest(generate_series(1, len(toks) - 7)) AS u(i)
       |  WHERE doc_id < 250),
       |d AS (SELECT doc_id, toks FROM d0 WHERE doc_id >= 250),
       |g AS (SELECT doc_id, i, md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS fp
       |  FROM d, unnest(generate_series(1, len(toks) - 7)) AS u(i)),
       |lo AS (SELECT doc_id, i FROM (
       |    SELECT doc_id, i, fp, row_number() OVER (PARTITION BY fp ORDER BY doc_id, i) AS rk
       |    FROM g) g2
       |  WHERE rk > 1 OR fp IN (SELECT fp FROM bfp)),
       |t AS (SELECT doc_id, p, toks[p] AS tok, len(toks) AS ntok
       |  FROM d, unnest(generate_series(1, len(toks))) AS v(p)),
       |kept AS (SELECT t.doc_id, t.p, t.tok, t.ntok FROM t
       |  WHERE NOT EXISTS (SELECT 1 FROM lo
       |    WHERE lo.doc_id = t.doc_id AND t.p BETWEEN lo.i AND lo.i + 7))
       |SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text,
       |  CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(max(ntok) - count(*) AS BIGINT) AS n_removed
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q101 — substringDedup ORACLE GATE over the full corpus at k=8
    * (the sf0.01 corpus carries ~1k duplicated 8-token windows from
    * its planted near-dup families, so cross-doc span removal is
    * exercised for real); DuckDB mirrors window construction, global
    * first-occurrence ranking, and interval-coverage removal step for
    * step. */
  def substringDedupGate(s: SparkSession, dir: String): DataFrame =
    substringDedup(docs(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", k = 8)
      .orderBy(col("doc_id"))

  val substringDedupGateSql: String =
    s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '$WS') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (SELECT doc_id, i, md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS fp
       |  FROM d, unnest(generate_series(1, len(toks) - 7)) AS u(i)),
       |lo AS (SELECT doc_id, i FROM (
       |    SELECT doc_id, i, row_number() OVER (PARTITION BY fp ORDER BY doc_id, i) AS rk
       |    FROM g) WHERE rk > 1),
       |t AS (SELECT doc_id, p, toks[p] AS tok, len(toks) AS ntok
       |  FROM d, unnest(generate_series(1, len(toks))) AS v(p)),
       |kept AS (SELECT t.doc_id, t.p, t.tok, t.ntok FROM t
       |  WHERE NOT EXISTS (SELECT 1 FROM lo
       |    WHERE lo.doc_id = t.doc_id AND t.p BETWEEN lo.i AND lo.i + 7))
       |SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text,
       |  CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(max(ntok) - count(*) AS BIGINT) AS n_removed
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q79 — quality-decile curriculum table: docs bucketed into 10
    * quality bands with per-band doc/token/score stats and the
    * cumulative token counts a curriculum schedule cuts on ("train on
    * the top-k bands first"). Scale shape: NOT ntile — a corpus-wide
    * ntile is one global-sort partition. Boundary k is instead
    * defined in exact integer space: the smallest score whose
    * cumulative count reaches ceil(n·k/10), read off the score
    * HISTOGRAM — scores are 6dp-rounded to [0,1], so the histogram
    * is ≤ 10^6+1 rows no matter the corpus size (map-side combined),
    * and its cumulative window is bounded work. Band assignment is
    * then a map-side comparison against the broadcast 9-value array
    * (`1 + |{b : q > b}|` — ties share a band, which a curriculum
    * wants anyway). No float interpolation: interpolated percentiles
    * (Spark `percentile` vs DuckDB `quantile_cont`) disagree in the
    * last ulp of `(n-1)·q`, which moves real docs across bands. */
  def qualityDeciles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs(s, dir).select(col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      qualityScore(col("text")).as("q"))
    val cum = scored.groupBy(col("q")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("q")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val ks = scored.sparkSession.range(1, 10).select(col("id").as("k"))
    val bounds = cum.crossJoin(broadcast(ks))
      .filter(col("cum") >= ceil(col("n") * col("k") / lit(10.0)))
      .groupBy(col("k")).agg(min(col("q")).as("b"))
      .agg(array_sort(collect_list(col("b"))).as("bs"))
    scored.crossJoin(broadcast(bounds))
      .withColumn("decile", lit(1) + size(filter(col("bs"), x => col("q") > x)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        fxAvg4(col("q")).as("avg_quality"))
      .withColumn("cum_tokens", sum(col("total_tokens")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .orderBy(col("decile"))
  }

  val qualityDecilesSql: String = {
    val nTok = s"""CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '$WS')) END"""
    val nStop = rc("text", "\\b(the|a|of|and|in|to|is)\\b")
    val nPunct = rc("text", "[^a-zA-Z0-9\\s]")
    s"""WITH d AS (SELECT doc_id, $nTok AS n_tokens,
       |    coalesce(round(
       |      0.5 * least(1.0, CAST($nTok AS DOUBLE) / 50.0) +
       |      0.3 * (1.0 - least(1.0, ($nPunct / nullif(CAST(length(text) AS DOUBLE), 0.0)) * 10.0)) +
       |      0.2 * least(1.0, ($nStop / nullif(CAST($nTok AS DOUBLE), 0.0)) * 5.0), 6), 0.0) AS q
       |  FROM documents),
       |hist AS (SELECT q, count(*) AS c FROM d GROUP BY q),
       |cum AS (SELECT q, sum(c) OVER (ORDER BY q
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    (SELECT sum(c) FROM hist) AS n FROM hist),
       |ks AS (SELECT unnest(generate_series(1, 9)) AS k),
       |bnd AS (SELECT k, min(q) AS b FROM cum, ks
       |  WHERE cum >= ceil(n * k / 10.0) GROUP BY k),
       |b AS (SELECT list_sort(list(b)) AS bs FROM bnd),
       |a AS (SELECT d.*, 1 + len(list_filter(b.bs, x -> d.q > x)) AS decile FROM d, b),
       |g AS (SELECT decile, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    round(sum(CAST(round(q * 1e6) AS BIGINT)) / (count(*) * 1e6), 4) AS avg_quality
       |  FROM a GROUP BY decile)
       |SELECT decile, n_docs, total_tokens, avg_quality,
       |  CAST(sum(total_tokens) OVER (ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |FROM g ORDER BY decile""".stripMargin
  }

  /** Sliding-window document chunking — the context-window prep every
    * embedding / training pipeline runs before model input: each doc
    * is cut into `chunkTokens`-token windows starting every
    * `chunkTokens − overlap` tokens (the last window may be shorter;
    * every token is covered, boundary tokens twice). Entirely
    * map-side — tokenize once, explode the precomputed start offsets,
    * slice; no shuffle at any corpus size beyond the gate's ORDER BY.
    * chunk_no = start / stride, so chunk identity is a pure function
    * of (doc, position) — stable across layouts and incremental
    * re-chunking. */
  def chunkDocs(docsDf: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    val toks = split(trim(col(textCol)), WS)
    docsDf.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), toks.as("_toks"))
      .select(col(idCol), col("_toks"),
        posexplode(sequence(lit(0), size(col("_toks")) - 1, lit(stride)))
          .as(Seq("chunk_no", "_start")))
      .select(col(idCol), col("chunk_no"),
        array_join(slice(col("_toks"), col("_start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("_toks")) - col("_start"))
          .as("n_chunk_tokens"))
  }

  def chunks(s: SparkSession, dir: String): DataFrame =
    chunkDocs(docs(s, dir), "doc_id", "text", chunkTokens = 20, overlap = 5)
      .orderBy(col("doc_id"), col("chunk_no"))

  val chunksSql: String =
    s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '$WS') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |st AS (SELECT doc_id, toks,
       |    unnest(generate_series(0, len(toks) - 1, 15)) AS start FROM d)
       |SELECT doc_id, CAST(start / 15 AS INT) AS chunk_no,
       |  array_to_string(toks[start + 1 : start + 20], ' ') AS chunk_text,
       |  CAST(least(20, len(toks) - start) AS INT) AS n_chunk_tokens
       |FROM st ORDER BY doc_id, chunk_no""".stripMargin

  /** Bigram language-model scoring with add-k smoothing — the n-gram
    * step up from `unigramLogProb` (production perplexity filters are
    * n-gram LMs): score each doc by its mean ln P(w_i | w_{i−1}) where
    * P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V). Same two-pass
    * train-then-score dataflow as q78 — pass 1 builds the bigram and
    * context count tables (vocab-bounded, broadcast here; shuffle
    * join + AQE at huge vocab), pass 2 re-reads to score. Documents
    * with fewer than 2 tokens have no bigrams and are excluded, like
    * q78's empty docs. Bigrams come from ONE array split per doc
    * (adjacent-pair transform), not a positional self-join. */
  def bigramLogProb(docsDf: DataFrame, idCol: String, textCol: String,
      k: Double = 0.5): DataFrame = {
    val arr = split(trim(col(textCol)), WS)
    val arrDf = docsDf.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), arr.as("_a"))
    def bgOf(df: DataFrame): DataFrame = df
      .filter(size(col("_a")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(_a)), i -> struct(element_at(_a, i - 1) AS w1, element_at(_a, i) AS w2))"))
        .as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    // LM TABLES are vocab-bounded — tiny next to the corpus — so they
    // are materialized EAGERLY off one cached tokenize pass (the
    // trainingRecipe persist/checkpoint/unpersist hygiene), then the
    // cache is released: the round-5 form re-tokenized the corpus four
    // times (c12 agg, c1 agg, vocab count, scoring join), which is the
    // term that dominates at 100×.
    val cached = arrDf.persist(graft.GraftSession.textFrameLevel) // text-sized token arrays (r15 GC audit)
    val c12 = bgOf(cached).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12")).localCheckpoint()
    val v = cached.select(explode(col("_a")).as("tok"))
      .agg(countDistinct(col("tok")).as("v")).localCheckpoint()
    cached.unpersist()
    // c(w1·) by RE-AGGREGATING c12 (sum over w2) — vocab-sized input,
    // not another corpus scan; equals the direct bigram count by w1.
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    // Returned plan: ONE corpus tokenize feeding three broadcast joins
    // and the per-doc aggregation — 2 corpus scans total (build + eval).
    bgOf(arrDf)
      .join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        fxAvg4(log((col("c12") + lit(k)) /
          (col("c1") + lit(k) * col("v")))).as("avg_logprob"))
  }

  def bigramLm(s: SparkSession, dir: String): DataFrame =
    bigramLogProb(docs(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val bigramLmSql: String =
    s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '$WS') AS a
       |  FROM documents WHERE length(trim(text)) > 0),
       |bg AS (SELECT doc_id, a[i - 1] AS w1, a[i] AS w2 FROM (
       |    SELECT doc_id, a, unnest(generate_series(2, len(a))) AS i
       |    FROM d WHERE len(a) >= 2)),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       |v AS (SELECT count(DISTINCT tok) AS v FROM (
       |    SELECT unnest(a) AS tok FROM d))
       |SELECT doc_id, count(*) AS n_bigrams,
       |  round(sum(CAST(round(ln((c12 + 0.5) / (c1 + 0.5 * v)) * 1e6) AS BIGINT))
       |    / (count(*) * 1e6), 4) AS avg_logprob
       |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-domain distribution drift: KL(P_source ‖ P_corpus) over
    * unigram token distributions — the mixture-monitoring number a
    * curation pipeline tracks per ingest (a source whose KL jumps
    * changed character; a near-zero KL source adds no diversity).
    * KL = Σ_t p_t · ln(p_t/q_t) with p the source distribution and q
    * the corpus distribution; terms absent from a source contribute 0
    * (x·ln x → 0), and q_t > 0 whenever p_t > 0 by construction, so
    * no smoothing is needed. Per-term contributions are 1e-9
    * fixed-point BIGINTs summed exactly (the q88 recipe) — one
    * deterministic division at the end.
    *
    * Scale shape: one corpus scan → (source, token) counts; the only
    * shuffles key on token/source and every aggregate after the first
    * is vocab-bounded. Corpus totals ride a 1-row cross join. */
  def domainKl(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), WS)).as("t"))
      .filter(col("t") =!= "")
    // st feeds FOUR consumers (ct, ns, the corpus total, and the join
    // itself) — checkpoint it so the corpus is scanned ONCE, not four
    // times (the q84/bigram precedent; everything downstream is
    // vocab-bounded).
    val st = toks.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c_st")).localCheckpoint()
    val ct = st.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val n = st.agg(sum(col("c_st")).as("n"))
    st.join(ct, Seq("t")).join(broadcast(ns), Seq("source")).crossJoin(broadcast(n))
      .withColumn("kfx", round(
        (col("c_st").cast("double") / col("n_s")) *
          log((col("c_st").cast("double") * col("n")) /
            (col("n_s").cast("double") * col("c_t"))) * 1e9).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_tokens"), count(lit(1)).as("n_terms"),
        round(sum(col("kfx")) / 1e9, 6).as("kl"))
  }

  /** Per-source Shannon entropy of the token distribution — the
    * diversity face of the q112 drift audit (KL says "source X
    * differs from the corpus"; entropy says "source X is templated /
    * repetitive in itself" — low entropy flags boilerplate farms and
    * spun content before they skew a mixture). Same dataflow and the
    * SAME 1e-9 fixed-point per-term recipe as [[domainKl]]: one
    * checkpointed (source, token) count, everything downstream
    * vocab-bounded. */
  def sourceEntropy(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), WS)).as("t"))
      .filter(col("t") =!= "")
    val st = toks.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c_st")).localCheckpoint()
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    st.join(broadcast(ns), Seq("source"))
      .withColumn("hfx", round(
        (col("c_st").cast("double") / col("n_s")) *
          log(col("n_s").cast("double") / col("c_st")) * 1e9).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_tokens"), count(lit(1)).as("n_terms"),
        round(sum(col("hfx")) / 1e9, 6).as("entropy"))
  }

  /** q128 — token entropy per source over the documents corpus. */
  def sourceEntropyGate(s: SparkSession, dir: String): DataFrame =
    sourceEntropy(docs(s, dir), "source", "text").orderBy(col("source"))

  val sourceEntropyGateSql: String =
    s"""WITH t AS (SELECT source, unnest(string_split_regex(trim(text), '$WS')) AS tok
       |  FROM documents),
       |st AS (SELECT source, tok, count(*) AS c_st FROM t WHERE tok <> '' GROUP BY 1, 2),
       |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
       |fx AS (SELECT source, c_st,
       |    CAST(round((CAST(c_st AS DOUBLE) / n_s) *
       |      ln(CAST(n_s AS DOUBLE) / c_st) * 1e9) AS BIGINT) AS hfx
       |  FROM st JOIN ns USING (source))
       |SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens, count(*) AS n_terms,
       |  round(sum(hfx) / 1e9, 6) AS entropy
       |FROM fx GROUP BY source ORDER BY source""".stripMargin

  /** Shared vocabulary for the q113 tokenizer gate: BPE-ish merges
    * (common English digrams/trigrams/words) over a full single-char
    * fallback alphabet. ASCII only — UTF-16 code units (Spark) and
    * code points (DuckDB) then agree; a production tokenizer would
    * operate on bytes with a byte-fallback vocab, same algorithm. */
  val tokVocab: Seq[String] =
    ("abcdefghijklmnopqrstuvwxyz0123456789 ".map(_.toString) ++ Seq(
      "the", "and", "ing", "ion", "tion", "er", "re", "th", "he", "an",
      "in", "on", "at", "en", "es", "or", "te", "of", "ed", "is", "it",
      "al", "ar", "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io",
      "le", "ve", "co", "me", "de", "hi", "ri", "ro", "ic", "ne", "ea",
      "ra", "ce", "li", "ch", "ll", "be", "ma", "si", "om", "ur",
      "the ", " the", "and ", "ing ", "er ", "es ", "ed ")).toSeq

  /** q113 — greedy longest-match tokenization of the corpus against
    * the fixed vocab (the inference-time shape of a trained BPE/
    * WordPiece tokenizer; encode is a pure map-side function of the
    * standing merge table). The emitted token-LENGTH sequence is a
    * complete certificate of every greedy choice — the gate hashes
    * it (md5) next to the token count, and the DuckDB oracle replays
    * the same greedy walk with a recursive CTE (longest match =
    * max(length) over matching entries; no match ⇒ 1-char
    * fallback). Map-only: the vocab rides inside the codegen'd
    * expression as per-length hash sets (≤ maxTokenLen probes per
    * position). */
  def greedyTokenizeGate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GreedyTokenLens.greedy_token_lens
    docs(s, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        greedy_token_lens(lower(trim(col("text"))), tokVocab).as("_lens"))
      .select(col("doc_id"),
        size(split(col("_lens"), ",")).cast("long").as("n_tokens"),
        md5(col("_lens")).as("seg_sig"))
      .orderBy(col("doc_id"))
  }

  val greedyTokenizeGateSql: String = {
    val vocabList = tokVocab.map(t => s"'$t'").mkString(", ")
    s"""WITH RECURSIVE v(tok) AS (SELECT unnest([$vocabList])),
       |d AS (SELECT doc_id, lower(trim(text)) AS s FROM documents
       |  WHERE length(trim(text)) > 0),
       |rec(doc_id, pos, n, lens) AS (
       |  SELECT doc_id, 1, CAST(0 AS BIGINT), '' FROM d
       |  UNION ALL
       |  SELECT r.doc_id,
       |    r.pos + coalesce((SELECT max(length(v.tok)) FROM v
       |      WHERE substr(d.s, r.pos, length(v.tok)) = v.tok), 1),
       |    r.n + 1,
       |    r.lens || CASE WHEN r.lens = '' THEN '' ELSE ',' END ||
       |      CAST(coalesce((SELECT max(length(v.tok)) FROM v
       |        WHERE substr(d.s, r.pos, length(v.tok)) = v.tok), 1) AS VARCHAR)
       |  FROM rec r JOIN d USING (doc_id) WHERE r.pos <= length(d.s))
       |SELECT doc_id, max(n) AS n_tokens,
       |  md5(max_by(lens, n)) AS seg_sig
       |FROM rec GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005): a d×w grid of
    * counters; token t increments cell (i, h_i(t)) for each of the d
    * seeded hashes, and its estimate is the MIN over its d cells —
    * always ≥ the true count, within εN with probability 1-δ for
    * w = e/ε, d = ln(1/δ). The sketch is the fixed-size (d·w)
    * mergeable summary that replaces an unbounded-vocab exact count:
    * partial grids sum cell-wise across partitions/streams, so heavy-
    * hitter tracking at 100 TB is one map-side-combined aggregation
    * into 4096 cells instead of a full-vocab shuffle. Hashes use the
    * md5-only portable convention (first 8 hex digits of
    * md5("cms<i>|" ++ tok), mod w) so the oracle rebuilds the exact
    * same grid. */
  val CMS_D = 4
  val CMS_W = 1024

  private def cmsBucket(tok: Column, i: Int, w: Int): Column =
    conv(substring(md5(concat(lit(s"cms$i|"), tok)), 1, 8), 16, 10)
      .cast("long") % w

  /** The sketch itself: (r, bkt, cnt) with d·w rows at most. */
  def cmsCounters(tokens: DataFrame, tokCol: String,
      d: Int = CMS_D, w: Int = CMS_W): DataFrame =
    tokens
      .select(posexplode(
        array((0 until d).map(i => cmsBucket(col(tokCol), i, w)): _*))
        .as(Seq("r", "bkt")))
      .groupBy(col("r"), col("bkt")).agg(count(lit(1)).as("cnt"))

  /** Point estimates for a candidate frame: min over the d cells.
    * The counters broadcast (≤ d·w rows); candidates never shuffle. */
  def cmsEstimate(counters: DataFrame, cands: DataFrame, tokCol: String,
      d: Int = CMS_D, w: Int = CMS_W): DataFrame = {
    val melted = cands.select(col(tokCol),
      posexplode(array((0 until d).map(i => cmsBucket(col(tokCol), i, w)): _*))
        .as(Seq("r", "bkt")))
    melted.join(broadcast(counters), Seq("r", "bkt"))
      .groupBy(col(tokCol)).agg(min(col("cnt")).as("n_cms"))
  }

  /** q117 — CMS heavy hitters: the exact top-20 corpus tokens next to
    * their sketch estimates. The gate certifies the grid cross-engine
    * (identical hashing, counting, and min-reduction in both), and
    * the n_cms ≥ n_exact overestimate structure is visible in the
    * output. The exact side is gate-only ground truth; the production
    * path keeps just the sketch + a candidate stream. */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(explode(split(trim(col("text")), WS)).as("tok"))
    val counters = cmsCounters(toks, "tok")
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok")).limit(20)
    exact.join(cmsEstimate(counters, exact.select(col("tok")), "tok"),
        Seq("tok"))
      .select(col("tok"), col("n_exact"), col("n_cms"))
      .orderBy(col("n_exact").desc, col("tok"))
  }

  val cmsHeavyHittersSql: String =
    s"""WITH tk AS (SELECT unnest(string_split_regex(trim(text), '$WS')) AS tok
       |  FROM documents WHERE length(trim(text)) > 0),
       |b AS (SELECT tok, r,
       |    CAST('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '|' || tok), 1, 8)
       |      AS BIGINT) % 1024 AS bkt
       |  FROM tk, unnest([0, 1, 2, 3]) AS s(r)),
       |counters AS (SELECT r, bkt, count(*) AS cnt FROM b GROUP BY r, bkt),
       |exact AS (SELECT tok, count(*) AS n_exact FROM tk GROUP BY tok
       |  ORDER BY n_exact DESC, tok LIMIT 20),
       |cb AS (SELECT e.tok, e.n_exact, s.r,
       |    CAST('0x' || substr(md5('cms' || CAST(s.r AS VARCHAR) || '|' || e.tok), 1, 8)
       |      AS BIGINT) % 1024 AS bkt
       |  FROM exact e, unnest([0, 1, 2, 3]) AS s(r))
       |SELECT cb.tok, cb.n_exact, min(c.cnt) AS n_cms
       |FROM cb JOIN counters c USING (r, bkt)
       |GROUP BY cb.tok, cb.n_exact
       |ORDER BY n_exact DESC, tok""".stripMargin

  /** q112 — unigram KL per source over the documents corpus. */
  def domainKlGate(s: SparkSession, dir: String): DataFrame =
    domainKl(docs(s, dir), "source", "text").orderBy(col("source"))

  val domainKlGateSql: String =
    """WITH tk AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents),
      |tk2 AS (SELECT source, t FROM tk WHERE t <> ''),
      |st AS (SELECT source, t, count(*) AS c_st FROM tk2 GROUP BY 1, 2),
      |ct AS (SELECT t, sum(c_st) AS c_t FROM st GROUP BY 1),
      |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
      |tot AS (SELECT sum(c_st) AS n FROM st),
      |fx AS (SELECT source, c_st,
      |    CAST(round((CAST(c_st AS DOUBLE) / n_s) *
      |      ln((CAST(c_st AS DOUBLE) * n) / (CAST(n_s AS DOUBLE) * c_t)) * 1e9) AS BIGINT) AS kfx
      |  FROM st JOIN ct USING (t) JOIN ns USING (source) CROSS JOIN tot)
      |SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens, count(*) AS n_terms,
      |  round(sum(kfx) / 1e9, 6) AS kl
      |FROM fx GROUP BY source ORDER BY source""".stripMargin

  /** Cross-source content-overlap matrix: pairwise Jaccard between
    * each source's DISTINCT word-bigram shingle set — the set-based
    * counterpart to q112's distributional KL (KL says "source X's
    * token mix drifted"; this says "sources X and Y carry the same
    * phrases" — the scraped-from-each-other / mirror-site signal a
    * corpus audit needs before mixing weights are trusted).
    *
    * Scale shape: one corpus scan → distinct (source, shingle) — the
    * only corpus-sized shuffle, map-side distinct first; the
    * shingle-keyed self-join fans out per shingle only to the sources
    * CONTAINING it (bounded by source count, not docs), and the
    * output is source-pair bounded. All-integer output (counts +
    * 1e-6 fixed-point Jaccard by integer division) — hash-stable by
    * construction. */
  def sourceSimilarity(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    // the distinct (source, shingle) frame has THREE consumers (sizes
    // + both self-join sides) — materialize it so the corpus is
    // scanned once, not three times (the q84/q112 precedent)
    val sh = df.select(col(sourceCol).as("src"),
        split(trim(col(textCol)), WS).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("src"),
        explode(array_distinct(graft.functions.TextFunctions.ngramArray(col("ts"), 2))).as("sh"))
      .distinct().localCheckpoint()
    val sz = sh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val shared = sh.select(col("src").as("src_a"), col("sh"))
      .join(sh.select(col("src").as("src_b"), col("sh")), Seq("sh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sz.select(col("src").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sz.select(col("src").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)").as("jacc_fx"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q125 — source-pair bigram-set overlap over the documents corpus. */
  def sourceSimilarityGate(s: SparkSession, dir: String): DataFrame =
    sourceSimilarity(docs(s, dir), "source", "text")

  val sourceSimilarityGateSql: String =
    s"""WITH toks AS (SELECT source AS src, string_split_regex(trim(text), '$WS') AS ts
       |  FROM documents WHERE len(string_split_regex(trim(text), '$WS')) >= 2),
       |pos AS (SELECT src, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks),
       |sh AS (SELECT DISTINCT src, ts[i] || ' ' || ts[i+1] AS sh FROM pos),
       |sz AS (SELECT src, count(*) AS n FROM sh GROUP BY src),
       |sp AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.src < b.src GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       |  CAST((n_shared * 1000000) // (sa.n + sb.n - n_shared) AS BIGINT) AS jacc_fx
       |FROM sp JOIN sz sa ON sp.src_a = sa.src JOIN sz sb ON sp.src_b = sb.src
       |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- repeated n-grams

  /** Memorization-risk report: the word n-grams repeated across the
    * most documents (the training-data side of verbatim memorization —
    * Lee et al. 2022 measure duplication exactly at this granularity),
    * with how many distinct sources carry each — a cross-source repeat
    * is template/boilerplate; a single-source repeat is a true
    * duplicate family. One shuffle on the gram (map-side-combined
    * counts + two-phase distinct counts); at 100 TB the gram stream
    * would first pass the q117 CMS heavy-hitter prefilter so only
    * candidate grams shuffle — this exact report then runs on that
    * survivor set. */
  def repeatedNgrams(docsDf: DataFrame, idCol: String, srcCol: String,
      textCol: String, n: Int, minDocs: Int, topK: Int): DataFrame = {
    val ts = split(trim(col(textCol)), WS)
    // Round-17 (guide §2.3): the single-grouping form with TWO distinct
    // aggregates planned as an Expand — every exploded n-gram row (the
    // widest string in the whole query) tripled before the shuffle.
    // Pre-aggregating on (gram, id, src) first dedups per-doc repeats
    // map-side, and the final grouping then carries ONE distinct column
    // (src), which plans as a plain two-phase aggregate — no Expand, ~3×
    // fewer gram bytes shuffled. n_docs = count of (gram, id) groups
    // (src is functionally dependent on id — one source per document),
    // n_occ = sum of per-doc occurrence counts: values identical.
    docsDf.filter(length(trim(col(textCol))) > 0 && size(ts) >= n)
      .select(col(idCol).as("id"), col(srcCol).as("src"),
        explode(graft.functions.TextFunctions.ngramArray(ts, n)).as("gram"))
      .groupBy(col("gram"), col("id"), col("src"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("src")).as("n_srcs"),
        sum(col("c")).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
      .limit(topK)
  }

  /** q143 — top 30 cross-document 8-grams over the corpus. */
  def repeatedNgramsGate(s: SparkSession, dir: String): DataFrame =
    repeatedNgrams(docs(s, dir), "doc_id", "source", "text",
      n = 8, minDocs = 2, topK = 30)

  val repeatedNgramsGateSql: String =
    s"""WITH d AS (SELECT doc_id, source, string_split_regex(trim(text), '$WS') AS toks
       |  FROM documents WHERE length(trim(text)) > 0),
       |g AS (SELECT doc_id, source, array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
       |  FROM d, unnest(generate_series(1, len(toks) - 7)) AS u(i)),
       |a AS (SELECT gram, count(DISTINCT doc_id) AS n_docs,
       |    count(DISTINCT source) AS n_srcs, count(*) AS n_occ
       |  FROM g GROUP BY 1)
       |SELECT gram, n_docs, n_srcs, n_occ FROM a WHERE n_docs >= 2
       |ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 30""".stripMargin

  /** q183 — the SERVE path of q73, regression-gated: write the
    * hive-partitioned inverted index to a fresh per-run temp dir
    * INSIDE the query fn, then run the same 3-term query off it.
    * `serveBm25` shares `bm25ScoreCol` with `bm25Search` (spec-pinned
    * row-equal), so the oracle is q73's SQL verbatim — a green row
    * certifies the partition-pruned serving plan end-to-end, not just
    * the spec equality. Warm bench time includes the index build
    * (train_in_query); the repeating cost is the `serve_bm25_search`
    * bench row. */
  def serveBm25Gate(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.GraftSession.tempDir("graft_serve_bm25_gate")
    writeInvertedIndex(docs(s, dir), "doc_id", "text", idx)
    serveBm25(s, idx, Seq("spark", "join", "query"), k = 20)
      .withColumnRenamed("id", "doc_id")
  }

  /** q185 — incremental inverted-index maintenance, gated end to end:
    * build the index on the standing docs (doc_id % 4 != 1), append
    * the delta crawl (% 4 == 1), serve the q73 query off the merged
    * partitions. Because df/n_docs/avgdl all re-derive exactly after
    * the append, the oracle is simply q73's self-contained
    * full-corpus SQL — a green row certifies the append path produced
    * the identical retrieval state a full rebuild would. */
  def invertedAppendServeGate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val idx = graft.GraftSession.tempDir("graft_inv_append_gate")
    writeInvertedIndex(d.filter(pmod(col("doc_id"), lit(4)) =!= 1),
      "doc_id", "text", idx)
    appendToInvertedIndex(s, idx,
      d.filter(pmod(col("doc_id"), lit(4)) === 1), "doc_id", "text")
    serveBm25(s, idx, Seq("spark", "join", "query"), k = 20)
      .withColumnRenamed("id", "doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q185_inverted_append_serve" -> invertedAppendServeGate,
    "q183_serve_bm25_search" -> serveBm25Gate,
    "q143_repeated_ngrams" -> repeatedNgramsGate,
    "q125_source_similarity" -> sourceSimilarityGate,
    "q128_source_entropy" -> sourceEntropyGate,
    "q112_domain_kl" -> domainKlGate,
    "q113_greedy_tokenize" -> greedyTokenizeGate,
    "q117_cms_heavy_hitters" -> cmsHeavyHitters,
    "q45_top_bigrams" -> topBigrams,
    "q72_tfidf_terms" -> tfidfTop3,
    "q73_bm25_search" -> bm25Top20,
    "q75_corpus_stats" -> corpusStats,
    "q76_mixture_plan" -> mixture,
    "q78_lm_score" -> lmScore,
    "q79_quality_deciles" -> qualityDeciles,
    "q84_bigram_lm" -> bigramLm,
    "q85_line_dedup" -> lineDedupGate,
    "q101_substring_dedup" -> substringDedupGate,
    "q104_substring_delta" -> substringDeltaGate,
    "q80_chunk_docs" -> chunks,
    "q64_decontaminate" -> decontaminationReport,
    "q65_repetition" -> repetition,
    "q66_hash_split" -> split8020,
    "q67_balanced_sample" -> balancedByLang,
    "q68_pack_sequences" -> packing,
    "q25_token_stats" -> tokenStats,
    "q26_langid_confusion" -> langIdConfusion,
    "q27_quality_scores" -> qualityScores,
    "q28_exact_dedup" -> exactDedup,
    "q29_redaction" -> redaction,
    "q60_winnow_fps" -> winnowStats,
    "q61_containment" -> containment)

  def oracles: Map[String, String] = Map(
    "q185_inverted_append_serve" -> bm25Top20Sql,
    "q183_serve_bm25_search" -> bm25Top20Sql,
    "q143_repeated_ngrams" -> repeatedNgramsGateSql,
    "q125_source_similarity" -> sourceSimilarityGateSql,
    "q128_source_entropy" -> sourceEntropyGateSql,
    "q112_domain_kl" -> domainKlGateSql,
    "q113_greedy_tokenize" -> greedyTokenizeGateSql,
    "q117_cms_heavy_hitters" -> cmsHeavyHittersSql,
    "q45_top_bigrams" -> topBigramsSql,
    "q72_tfidf_terms" -> tfidfTop3Sql,
    "q73_bm25_search" -> bm25Top20Sql,
    "q75_corpus_stats" -> corpusStatsSql,
    "q76_mixture_plan" -> mixtureSql,
    "q78_lm_score" -> lmScoreSql,
    "q79_quality_deciles" -> qualityDecilesSql,
    "q84_bigram_lm" -> bigramLmSql,
    "q85_line_dedup" -> lineDedupGateSql,
    "q101_substring_dedup" -> substringDedupGateSql,
    "q104_substring_delta" -> substringDeltaGateSql,
    "q80_chunk_docs" -> chunksSql,
    "q64_decontaminate" -> decontaminationReportSql,
    "q65_repetition" -> repetitionSql,
    "q66_hash_split" -> split8020Sql,
    "q67_balanced_sample" -> balancedByLangSql,
    "q68_pack_sequences" -> packingSql,
    "q25_token_stats" -> tokenStatsSql,
    "q26_langid_confusion" -> langIdConfusionSql,
    "q27_quality_scores" -> qualityScoresSql,
    "q28_exact_dedup" -> exactDedupSql,
    "q29_redaction" -> redactionSql,
    "q60_winnow_fps" -> winnowStatsSql,
    "q61_containment" -> containmentSql)
}
