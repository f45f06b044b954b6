package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokenCount

/** Corpus-curation operators beyond the cleaning pipeline: fuzzy
  * (fractional) benchmark decontamination, PII auditing with Luhn
  * checksum validation, DSIR-style importance resampling, boilerplate
  * span detection, and token-budget mixture execution.
  *
  * Every float that reaches an oracle-gated output is either a ratio
  * of exact integers or a 1e-6 fixed-point BIGINT, so the per-doc /
  * per-group reductions are order-independent — none of these queries
  * rides on float partial-sum ordering (the recipe the q75/q78/q79/
  * q84 means adopted in round 7, closing the old accepted risk).
  */
object CurationOps {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private val WS = "\\s+"

  // ---------------------------------------------------------------- fuzzy decontamination

  /** Fuzzy benchmark decontamination — the paraphrase-leak test. For
    * every (corpus doc, benchmark doc) pair, the fraction of the
    * BENCHMARK doc's distinct word n-grams contained in the corpus
    * doc; pairs at or above `minFrac` are flagged. `decontaminate`
    * (q64) counts absolute shared grams against the whole benchmark
    * set and catches verbatim leaks; this per-item containment catches
    * partial quotes and light paraphrases of a specific eval item.
    *
    * 100 TB shape: the benchmark is tiny by definition, so its gram
    * set AND its per-item totals broadcast; the corpus side never
    * shuffles text — the only shuffle is the (corpus id, bench id)
    * count over MATCHED gram rows, which is contamination-sized. */
  def fuzzyContamination(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minFrac: Double = 0.5): DataFrame = {
    val bg = TextAnalysis.ngramSets(benchmark, idCol, textCol, n)
      .select(col("id").as("bench_id"), col("gram"))
    val btot = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("bench_total"))
    TextAnalysis.ngramSets(corpus, idCol, textCol, n)
      .join(broadcast(bg), "gram")
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(btot), "bench_id")
      .filter(col("n_shared") / col("bench_total") >= minFrac)
      .select(col("id"), col("bench_id"), col("n_shared"), col("bench_total"),
        round(col("n_shared") / col("bench_total"), 6).as("overlap_frac"))
  }

  /** Ids of corpus docs fuzzily contaminated against `benchmark` —
    * the drop-list form of `fuzzyContamination`, for recipe
    * composition (anti-join side). Contamination-sized output. */
  def fuzzyContaminatedIds(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minFrac: Double = 0.5): DataFrame =
    fuzzyContamination(corpus, benchmark, idCol, textCol, n, minFrac)
      .select(col("id").as(idCol)).distinct()

  /** Streaming-composable fuzzy decontamination: drops every doc the
    * batch `fuzzyContaminatedIds` would drop, but the per-doc test
    * runs MAP-SIDE against the benchmark's per-item gram sets carried
    * as ONE broadcast array of (grams, total) structs — the
    * aggregate-then-anti-join shape of the batch form is illegal on a
    * streaming frame (same constraint as `decontaminateStreaming`).
    * Per-row cost is |bench items| array-intersects; benchmarks are
    * tiny by definition. The doc's gram set is projected into a real
    * column FIRST so the `exists` lambda reads a bound attribute —
    * capturing the split/slide expression tree would re-evaluate it
    * per bench item (the dup3Frac pitfall). Survivor set spec'd
    * identical to the batch form (CorpusStreamSpec). */
  def fuzzyDecontamStreaming(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minFrac: Double = 0.5): DataFrame = {
    val benchItems = TextAnalysis.ngramSets(benchmark, idCol, textCol, n)
      .groupBy(col("id")).agg(collect_set(col("gram")).as("grams"))
      .agg(collect_list(struct(col("grams"),
        size(col("grams")).as("total"))).as("_bench_items"))
    val ts = split(trim(col(textCol)), WS)
    val gs = when(size(ts) >= n,
      array_distinct(graft.functions.TextFunctions.ngramArray(ts, n)))
      .otherwise(array().cast("array<string>"))
    corpus.crossJoin(broadcast(benchItems))
      .withColumn("_gs", gs)
      .filter(!exists(col("_bench_items"), b =>
        size(array_intersect(col("_gs"), b.getField("grams")))
          / b.getField("total") >= minFrac))
      .drop("_bench_items", "_gs")
  }

  /** Streaming-composable boilerplate-heavy drop against a STANDING
    * gram set (from `boilerplateGramSet` over the accumulated corpus,
    * or a curator blocklist): the doc-frequency aggregation cannot run
    * on the live stream (unbounded state), so — like the near-dup
    * index in `landNearDupMasked` — the SET is maintained by the
    * periodic batch job and each micro-batch is tested map-side
    * against its broadcast. Coverage semantics identical to the batch
    * `dropBoilerplateHeavy` at the same gram set (CorpusStreamSpec). */
  def dropBoilerplateHeavyStreaming(docs: DataFrame, textCol: String,
      bpGrams: DataFrame, n: Int = 3, maxFrac: Double = 0.5): DataFrame = {
    val bset = bpGrams.agg(collect_set(col("gram")).as("_bpset"))
    val ts = split(trim(col(textCol)), WS)
    val gs = when(size(ts) >= n, graft.functions.TextFunctions.ngramArray(ts, n))
      .otherwise(array().cast("array<string>"))
    docs.crossJoin(broadcast(bset))
      .withColumn("_gs", gs)
      .filter(!(size(filter(col("_gs"), g => array_contains(col("_bpset"), g))) >
        size(col("_gs")) * maxFrac))
      .drop("_bpset", "_gs")
  }

  // ---------------------------------------------------------------- PII audit

  /** Luhn checksum validity of a digit-string Column — what separates
    * a real card-number detector from a naive digit-run regex. Pure
    * array expression: from the rightmost digit, double every second
    * digit (−9 when >9) and require the sum ≡ 0 mod 10. The lambda
    * captures `rev`, so the reverse is re-evaluated per element
    * (interpreted HOF) — candidates are ≤19 chars, so this stays
    * trivially cheap, unlike the corpus-text capture pitfall
    * documented on `dup3Frac`. */
  def luhnValid(num: Column): Column = {
    val rev = reverse(num)
    val total = aggregate(
      transform(sequence(lit(1), length(num)), i => {
        val d = rev.substr(i, lit(1)).cast("int")
        when(i % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)
    total % 10 === 0
  }

  private[ops] val emailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]"
  private[ops] val phoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"
  private[ops] val cardRe = "[0-9]{13,}"

  /** Per-document PII audit: email / phone counts by regex, card
    * candidates by digit-run regex SPLIT into Luhn-valid vs invalid,
    * and the aggregate has_pii flag (valid cards only — a digit run
    * failing the checksum is noise, not PII). Map-only; composes as a
    * pre-redaction report or a release gate. Complements q29's
    * redaction (which rewrites) — this one measures.
    *
    * Card candidates are MAXIMAL digit runs length-filtered to 13–16:
    * a 17+-digit run (order id, timestamp, hash) is rejected whole
    * rather than scanned as its 16-digit prefix, which Luhn-validates
    * by chance ~10% of the time (round-6 ADVICE). The greedy `{13,}`
    * run + list filter is expressible identically in Java regex and
    * RE2 — lookarounds are not (RE2 has none), so this form keeps the
    * two engines' semantics provably aligned. */
  def piiAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cands = cardCandidates(col(textCol))
    val nValid = size(filter(cands, n => luhnValid(n))).cast("long")
    val nEmails = size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast("long")
    val nPhones = size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0))).cast("long")
    df.select(col(idCol),
      nEmails.as("n_emails"),
      nValid.as("n_cards_valid"),
      (size(cands).cast("long") - nValid).as("n_cards_invalid"),
      nPhones.as("n_phones"),
      (nEmails > 0 || nValid > 0 || nPhones > 0).as("has_pii"))
  }

  private def cardCandidates(t: Column): Column =
    filter(regexp_extract_all(t, lit(cardRe), lit(0)), n => length(n) <= 16)

  /** The `has_pii` decision as a map-only predicate — the release-gate
    * form (`curationRecipe` stage 3): fuses into the scan, no audit
    * frame materialized. Same semantics as `piiAudit.has_pii`. */
  def hasPii(t: Column): Column =
    size(regexp_extract_all(t, lit(emailRe), lit(0))) > 0 ||
      size(filter(cardCandidates(t), n => luhnValid(n))) > 0 ||
      size(regexp_extract_all(t, lit(phoneRe), lit(0))) > 0

  // ---------------------------------------------------------------- DSIR importance resampling

  /** DSIR-style importance resampling (Xie et al., NeurIPS 2023,
    * "Data Selection for Language Models via Importance Resampling"),
    * deterministic top-k variant: score every doc by
    * log P_target(bag) − log P_raw(bag) under add-1-smoothed
    * hashed-unigram models (256 md5-prefix buckets — md5 is the
    * portable hash, see the verify gotchas), keep the k
    * highest-scoring docs. The paper samples with Gumbel noise; the
    * greedy top-k is the reproducible-pipeline form.
    *
    * Hash-stability: per-bucket log-ratios are rounded to 1e-6 fixed
    * point BIGINTs computed from exact integer counts, so the per-doc
    * score is an INTEGER sum — order-independent, unlike a float sum.
    *
    * 100 TB shape: model build is one corpus scan ending in a 256-row
    * table (map-side partial agg does the heavy lifting); scoring is
    * one more scan against the broadcast model, reduced to (id, score)
    * pairs. Two scans total, by design — caching the exploded token
    * frame to save the second scan would materialize something larger
    * than the corpus. Global top-k is sort-limit (TakeOrdered), never
    * a single-partition window over the corpus; rank is stamped on the
    * k survivors only. */
  def importanceResample(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, k: Int = 100, buckets: Int = 256): DataFrame = {
    require(buckets == 256, "bucket key is a 2-hex-char md5 prefix (256 buckets)")
    val tk = df.select(col(idCol).as("id"), isTarget.as("tgt"),
        explode(split(trim(col(textCol)), WS)).as("t"))
      .filter(col("t") =!= "")
      .select(col("id"), col("tgt"), substring(md5(col("t")), 1, 2).as("b"))
    // Totals via a global window over the BUCKET frame (256 rows, not
    // the corpus) — deriving them with a separate agg + crossJoin
    // re-evaluated the token scan a third time (counts feeding both
    // subtrees); this form keeps the model build at exactly one
    // corpus scan.
    val counts = tk.groupBy(col("b")).agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("n_tgt"))
    val wAll = Window.partitionBy(lit(1))
    val lr = counts
      .withColumn("raw_tot", sum(col("n_raw")).over(wAll))
      .withColumn("tgt_tot", sum(col("n_tgt")).over(wAll))
      .select(col("b"),
        round((log((col("n_tgt") + 1.0) / (col("tgt_tot") + lit(buckets.toDouble)))
          - log((col("n_raw") + 1.0) / (col("raw_tot") + lit(buckets.toDouble)))) * 1e6)
          .cast("long").as("lr"))
    val top = tk.join(broadcast(lr), "b")
      .groupBy(col("id")).agg(sum(col("lr")).as("iw_score"))
      .orderBy(col("iw_score").desc, col("id"))
      .limit(k)
    top.withColumn("rnk",
      row_number().over(Window.orderBy(col("iw_score").desc, col("id"))))
  }

  // ---------------------------------------------------------------- boilerplate spans

  /** Boilerplate span detection: word n-grams occurring in at least
    * `minDocs` DISTINCT documents (nav bars, cookie banners, license
    * tails — the C4/RefinedWeb pre-clean target). Complements q85's
    * line-level dedup: catches templated spans that never occupy a
    * whole line. One shuffle on the gram key; countDistinct is exact.
    * Output is vocab-bounded (top `topK` by document frequency). */
  def boilerplateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Long = 50, topK: Int = 50): DataFrame =
    boilerplateReport(df, idCol, textCol, n, minDocs)
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(topK)

  /** The UNCAPPED, UNSORTED span report (gram, n_docs, n_occurrences
    * for every gram over the doc-frequency floor) — the shared
    * aggregation under `boilerplateSpans` (which adds the top-K
    * presentation sort), `boilerplateGramSet`, and the dataset card's
    * summary (which must not inherit a pointless global sort into a
    * 1-row aggregate). */
  def boilerplateReport(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Long = 50): DataFrame =
    df.select(col(idCol).as("id"), split(trim(col(textCol)), WS).as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("id"),
        explode(graft.functions.TextFunctions.ngramArray(col("ts"), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("n_docs"), count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)

  /** The corpus-wide boilerplate gram SET (no top-K cap, no ordering)
    * — the broadcastable blocklist `dropBoilerplateHeavy` and the
    * streaming twin consume. Vocab-bounded after the `minDocs` cut. */
  def boilerplateGramSet(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Long = 50): DataFrame =
    boilerplateReport(df, idCol, textCol, n, minDocs).select(col("gram"))

  /** Drop documents whose boilerplate n-gram COVERAGE (fraction of the
    * doc's gram positions matching `bpGrams`) exceeds `maxFrac` — the
    * RefinedWeb-style doc-level cut for template-dominated pages,
    * complementing q85's line dedup (which strips) and q89's report
    * (which measures). Docs too short to have grams are kept
    * (coverage 0). `bpGrams` is the vocab-bounded set from
    * `boilerplateGramSet` (or a curator-supplied blocklist) →
    * broadcast; the corpus text never shuffles — one gram scan
    * reduced to a doc-sized (id, coverage) frame, then a broadcast
    * anti-join of the heavy ids. */
  def dropBoilerplateHeavy(df: DataFrame, idCol: String, textCol: String,
      bpGrams: DataFrame, n: Int = 3, maxFrac: Double = 0.5): DataFrame = {
    val toks = df.select(col(idCol).as("_bid"), split(trim(col(textCol)), WS).as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("_bid"),
        explode(graft.functions.TextFunctions.ngramArray(col("ts"), n)).as("gram"))
    val heavy = toks
      .join(broadcast(bpGrams.select(col("gram"), lit(1L).as("_bp"))), Seq("gram"), "left")
      .groupBy(col("_bid"))
      .agg(sum(coalesce(col("_bp"), lit(0L))).as("n_bp"), count(lit(1)).as("n_tot"))
      .filter(col("n_bp") > col("n_tot") * maxFrac)
      .select(col("_bid").as(idCol))
    df.join(broadcast(heavy), Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------- token-budget mixture execution

  /** Token-budget mixture execution — the operator that EXECUTES a
    * mixture plan (q76 plans token counts per domain; this draws the
    * sample): per domain, documents are ranked by the deterministic
    * md5(seed|id) key and taken in rank order until the domain's token
    * budget is exhausted. The first doc that crosses the budget is
    * KEPT (budgets are soft floors — every domain reaches its quota),
    * matching reservoir-free deterministic sampling: a pure function
    * of (seed, id), reproducible under any partitioning.
    *
    * 100 TB shape: one window per domain (cumulative sum over the
    * rank order). Domains are typically many and the rank key is
    * uniform, so partitions stay balanced; for a single giant domain,
    * pre-filter by rank prefix first (the expected quota maps to a
    * hex-prefix range, exactly like hashSplit's threshold) so the
    * window only ever sees ~budget worth of candidate docs. */
  def budgetSample(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, budgetTokens: Long, seed: String): DataFrame = {
    val w = Window.partitionBy(col(domainCol)).orderBy(col("rk"), col(idCol))
    df.select(col(idCol), col(domainCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        md5(concat(lit(seed + "|"), col(idCol).cast("string"))).as("rk"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
      .drop("rk")
  }

  // ---------------------------------------------------------------- corpus snapshot diff

  /** Crawl-to-crawl corpus diff: per-doc status between two snapshots
    * — added / removed / changed (text fingerprint moved) — the audit
    * every recurring-ingest pipeline runs before re-deduping a delta.
    *
    * 100 TB shape: text is fingerprinted in place and ONLY (id, md5)
    * shuffles into the full-outer join — the corpus never moves.
    * Emits only the non-unchanged rows (delta-sized, not
    * corpus-sized). */
  def corpusDiff(prev: DataFrame, cur: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val p = prev.select(col(idCol), md5(col(textCol)).as("_fp_prev"))
    val c = cur.select(col(idCol), md5(col(textCol)).as("_fp_cur"))
    p.join(c, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_fp_prev").isNull, lit("added"))
          .when(col("_fp_cur").isNull, lit("removed"))
          .when(col("_fp_prev") =!= col("_fp_cur"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
  }

  // ---------------------------------------------------------------- epoch materialization

  /** Execute the EPOCHS component of a mixture plan (the q76 planner
    * emits per-domain `epochs`; this draws the actual repeated
    * sample): every doc of domain s appears floor(epochs_s) times,
    * plus once more for the deterministic md5(seed|id) fraction of
    * docs matching frac(epochs_s) — the upsampling/repetition step of
    * temperature-sampled training mixtures. A pure function of
    * (plan, seed, id): reproducible under any partitioning, no RNG.
    *
    * 100 TB shape: the plan is domain-cardinality-sized → broadcast;
    * the explode is the only row expansion and its multiplicity IS the
    * epoch count — no shuffle at all (stamp epochs, write). */
  def materializeEpochs(df: DataFrame, idCol: String, domainCol: String,
      plan: DataFrame, seed: String): DataFrame = {
    val u = conv(substring(md5(concat(lit(seed + "|"), col(idCol).cast("string"))),
      1, 4), 16, 10).cast("int")
    val frac = col("epochs") - floor(col("epochs"))
    df.select(col(idCol), col(domainCol))
      .join(broadcast(plan.select(col(domainCol), col("epochs"))), Seq(domainCol))
      .withColumn("n_copies", floor(col("epochs")).cast("long") +
        when(u < floor(frac * 65536).cast("int"), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col(idCol), col(domainCol),
        explode(sequence(lit(1L), col("n_copies"))).as("epoch"))
  }

  // ---------------------------------------------------------------- URL audit

  private val urlRe = "https?://[a-zA-Z0-9.-]+[a-zA-Z0-9./_-]*"

  /** (id, url, host) for every URL in the text, host normalized
    * (scheme stripped by extraction, leading www. removed) — the
    * primitive under URL-based corpus filtering (RefinedWeb §3.1
    * blocklists, host-level mixture caps). Map-only. */
  def urlHosts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(urlRe), lit(0))).as("url"))
      .select(col(idCol), col("url"),
        regexp_replace(regexp_extract(col("url"), "//([a-zA-Z0-9.-]+)", 1),
          "^www\\.", "").as("host"))

  /** Host frequency report: URLs and distinct docs per host — what a
    * curator reads before writing a blocklist. One shuffle on host;
    * output is host-cardinality-sized. */
  def hostFrequency(df: DataFrame, idCol: String, textCol: String): DataFrame =
    urlHosts(df, idCol, textCol)
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"), countDistinct(col(idCol)).as("n_docs"))

  /** Drop every doc containing a URL on a blocked host. The blocklist
    * is curator-sized → broadcast anti-join; corpus text never
    * shuffles. */
  def dropBlockedHosts(df: DataFrame, idCol: String, textCol: String,
      blockedHosts: DataFrame): DataFrame =
    df.join(
      broadcast(urlHosts(df, idCol, textCol)
        .join(broadcast(blockedHosts), Seq("host"), "left_semi")
        .select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  // ---------------------------------------------------------------- URL canonicalization

  /** Canonicalize a URL column — the first dedup pass of any crawl
    * pipeline (re-crawls of one page differ only in scheme case,
    * `www.`, default ports, tracking params, fragments, trailing
    * slash). Pure column-expression pipeline (codegen'd, map-only):
    * lowercase scheme+host → drop fragment → drop default port →
    * drop `www.` → strip tracking params (`utm_*`, `gclid`,
    * `fbclid`) → repair a leading `&` left by param removal → trim
    * trailing `?` / `/`. Kept to the RE2-compatible regex subset so
    * the DuckDB mirror is syntax-identical (no lookarounds).
    * Known limit (documented, not load-bearing): an `&` appearing in
    * the PATH of a query-less URL is treated as a query separator by
    * the repair step. */
  def canonicalizeUrl(u: Column): Column = {
    val lowered = concat(
      lower(regexp_extract(u, "^([^/?#]*://[^/?#]*)", 1)),
      regexp_replace(u, "^[^/?#]*://[^/?#]*", ""))
    val noFrag = regexp_replace(lowered, "#.*", "")
    val noPort = regexp_replace(
      regexp_replace(noFrag, "^(https://[^/:?#]*):443(/|\\?|$)", "$1$2"),
      "^(http://[^/:?#]*):80(/|\\?|$)", "$1$2")
    val noWww = regexp_replace(noPort, "^(https?://)www\\.", "$1")
    val noTrack = regexp_replace(noWww, "[?&](utm_[a-z]+|gclid|fbclid)=[^&#]*", "")
    val fixAmp = regexp_replace(noTrack, "^([^?#]*)&", "$1?")
    regexp_replace(regexp_replace(fixAmp, "[?]$", ""), "/$", "")
  }

  /** Canonical-URL dedup report: one row per canonical URL with the
    * crawl-duplicate count and the keeper (min id — the convention of
    * every keep-canonical collapse here). Canonicalization is map-
    * side; the ONLY shuffle keys on the canonical url string, and
    * output is unique-URL-sized. At 100 TB this replaces a text-level
    * dedup pass for the (dominant) verbatim re-crawl fraction at a
    * tiny fraction of its cost. */
  def canonicalUrlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), canonicalizeUrl(col(urlCol)).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))

  // ---------------------------------------------------------------- weighted sampling

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis 2006): each row draws u ∈ (0,1) from the md5-uniform
    * hash of (seed, id) and keys on ln(u)/w — the k largest keys are
    * a weight-proportional sample, exactly as if rows were drawn
    * sequentially with probability w_i/Σw. The key is reduced to a
    * 1e-6 fixed-point BIGINT (the q88 ln precedent) with id
    * tie-breaks, so the selected set is a pure function of
    * (seed, id, w) — re-runs, repartitions, and engines agree.
    *
    * 100 TB shape: one map-only pass computes keys;
    * `orderBy(...).limit(k)` plans as TakeOrderedAndProject — per-
    * partition top-k then a k-row driver merge, never a global sort.
    * Weighted sampling is how a curation pipeline downsamples a
    * giant crawl proportional to quality/length scores without a
    * shuffle. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
      k: Int, seed: String): DataFrame = {
    val h = conv(substring(md5(concat(lit(seed), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("double")
    val u = (h + 1.0) / 4294967297.0
    val keyed = df.select(col(idCol), weightCol.cast("long").as("weight"))
      .withColumn("wkey", round(log(u) * 1e6 / col("weight")).cast("long"))
      .orderBy(col("wkey").desc, col(idCol)).limit(k)
    keyed.withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
      .orderBy(col("wkey").desc, col(idCol))))
  }

  // ---------------------------------------------------------------- gate bindings

  /** q86 — fuzzy decontamination of the documents corpus against the
    * synthetic benchmark (docs with id % 20 == 0, the q64 convention).
    * Gate threshold 0.03 exercises the borderline band (median random
    * overlap on this corpus is ~0.015); production paraphrase-leak
    * threshold is the 0.5 default. */
  def fuzzyDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    fuzzyContamination(
      d.filter(col("doc_id") % 20 =!= 0), d.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 3, minFrac = 0.03)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("bench_id"))
  }

  private def gramCte(n: Int) =
    s"""toks AS (SELECT doc_id AS id, string_split_regex(trim(text), '$WS') AS ts
       |  FROM documents),
       |grams AS (SELECT DISTINCT id, unnest(list_transform(
       |    generate_series(1, len(ts) - ${n - 1}),
       |    i -> array_to_string(ts[i:i+${n - 1}], ' '))) AS gram
       |  FROM toks WHERE len(ts) >= $n)""".stripMargin

  val fuzzyDecontamSql: String =
    s"""WITH ${gramCte(3)},
       |bench AS (SELECT id AS bench_id, gram FROM grams WHERE id % 20 = 0),
       |btot AS (SELECT bench_id, count(*) AS bench_total FROM bench GROUP BY 1),
       |shared AS (SELECT g.id AS doc_id, b.bench_id, count(*) AS n_shared
       |  FROM grams g JOIN bench b ON g.gram = b.gram
       |  WHERE g.id % 20 != 0 GROUP BY 1, 2)
       |SELECT doc_id, bench_id, n_shared, bench_total,
       |  round(n_shared / CAST(bench_total AS DOUBLE), 6) AS overlap_frac
       |FROM shared JOIN btot USING (bench_id)
       |WHERE n_shared / CAST(bench_total AS DOUBLE) >= 0.03
       |ORDER BY doc_id, bench_id""".stripMargin

  /** q87 — PII audit over the corpus with deterministically planted
    * PII (the corpus itself is PII-free word soup; both engines plant
    * the identical strings, the q85/q38 synthesize-inside-the-query
    * convention). Plants include a Luhn-VALID and a Luhn-INVALID card
    * so the gate certifies the checksum, not just the regex. */
  def piiAuditGate(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit(" card 4111111111111111 on file")).otherwise(lit("")),
      when(col("doc_id") % 7 === 3,
        lit(" card 4111111111111112 on file")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        lit(" tel 555-0142 ext")).otherwise(lit(""))).as("text"))
    piiAudit(planted, "doc_id", "text").orderBy(col("doc_id"))
  }

  val piiAuditGateSql: String =
    s"""WITH planted AS (SELECT doc_id, text
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0 THEN ' card 4111111111111111 on file' ELSE '' END
       |    || CASE WHEN doc_id % 7 = 3 THEN ' card 4111111111111112 on file' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' tel 555-0142 ext' ELSE '' END
       |    AS text FROM documents),
       |luhn AS (SELECT doc_id,
       |    list_filter(regexp_extract_all(text, '$cardRe'), n -> length(n) <= 16) AS cands,
       |    list_transform(list_filter(regexp_extract_all(text, '$cardRe'), n -> length(n) <= 16), n ->
       |      list_sum(list_transform(generate_series(1, length(n)),
       |        i -> CASE WHEN i % 2 = 0
       |          THEN CASE WHEN CAST(substr(reverse(n), i, 1) AS INT) * 2 > 9
       |               THEN CAST(substr(reverse(n), i, 1) AS INT) * 2 - 9
       |               ELSE CAST(substr(reverse(n), i, 1) AS INT) * 2 END
       |          ELSE CAST(substr(reverse(n), i, 1) AS INT) END)) % 10 = 0) AS valid
       |  FROM planted)
       |SELECT p.doc_id,
       |  CAST(len(regexp_extract_all(p.text, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(list_filter(l.valid, v -> v)) AS BIGINT) AS n_cards_valid,
       |  CAST(len(l.valid) - len(list_filter(l.valid, v -> v)) AS BIGINT) AS n_cards_invalid,
       |  CAST(len(regexp_extract_all(p.text, '\\b[0-9]{3}-[0-9]{4}\\b')) AS BIGINT) AS n_phones,
       |  (len(regexp_extract_all(p.text, '$emailRe')) > 0
       |   OR len(list_filter(l.valid, v -> v)) > 0
       |   OR len(regexp_extract_all(p.text, '\\b[0-9]{3}-[0-9]{4}\\b')) > 0) AS has_pii
       |FROM planted p JOIN luhn l USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** q88 — DSIR importance resampling toward the src1/src2 "curated
    * domains" target, top 100. On this synthetic corpus the vocabulary
    * is domain-uniform, so selection enrichment ≈ base rate — the gate
    * certifies the scoring/selection MECHANISM (models, fixed-point
    * log-ratios, deterministic top-k), not a separation the data
    * cannot exhibit; `CurationOpsSpec` demonstrates enrichment on a
    * corpus with a real domain signal. */
  def importanceGate(s: SparkSession, dir: String): DataFrame =
    importanceResample(docs(s, dir), "doc_id", "text",
      col("source").isin("src1", "src2"), k = 100)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("rnk"))

  val importanceGateSql: String =
    """WITH tk AS (SELECT doc_id AS id, source,
      |    unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents),
      |tk2 AS (SELECT id, source, substr(md5(t), 1, 2) AS b FROM tk WHERE t <> ''),
      |counts AS (SELECT b, count(*) AS n_raw,
      |    sum(CASE WHEN source IN ('src1', 'src2') THEN 1 ELSE 0 END) AS n_tgt
      |  FROM tk2 GROUP BY 1),
      |tot AS (SELECT sum(n_raw) AS raw_tot, sum(n_tgt) AS tgt_tot FROM counts),
      |lr AS (SELECT b, CAST(round((ln((n_tgt + 1.0) / (tgt_tot + 256.0))
      |                           - ln((n_raw + 1.0) / (raw_tot + 256.0))) * 1e6) AS BIGINT) AS lr
      |  FROM counts CROSS JOIN tot),
      |scores AS (SELECT id, CAST(sum(lr) AS BIGINT) AS iw_score
      |  FROM tk2 JOIN lr USING (b) GROUP BY id)
      |SELECT id AS doc_id, iw_score,
      |  CAST(row_number() OVER (ORDER BY iw_score DESC, id) AS INT) AS rnk
      |FROM scores ORDER BY iw_score DESC, id LIMIT 100""".stripMargin

  /** q89 — boilerplate span report over the corpus with two planted
    * templated tails (newsletter / terms-of-service), the q87 planting
    * convention. minDocs=50 sits far above any organic 3-gram doc
    * frequency on this corpus, so exactly the planted spans surface. */
  def boilerplateGate(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 3 === 0,
        lit(" subscribe to our newsletter all rights reserved")).otherwise(lit("")),
      when(col("doc_id") % 4 === 1,
        lit(" click here to read more terms of service apply")).otherwise(lit(""))).as("text"))
    boilerplateSpans(planted, "doc_id", "text", n = 3, minDocs = 50, topK = 50)
  }

  val boilerplateGateSql: String =
    """WITH planted AS (SELECT doc_id, text
      |    || CASE WHEN doc_id % 3 = 0 THEN ' subscribe to our newsletter all rights reserved' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 1 THEN ' click here to read more terms of service apply' ELSE '' END
      |    AS text FROM documents),
      |toks AS (SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS ts FROM planted),
      |occ AS (SELECT id, unnest(list_transform(
      |    generate_series(1, len(ts) - 2), i -> array_to_string(ts[i:i+2], ' '))) AS gram
      |  FROM toks WHERE len(ts) >= 3),
      |df AS (SELECT gram, count(DISTINCT id) AS n_docs, count(*) AS n_occurrences
      |  FROM occ GROUP BY 1)
      |SELECT gram, n_docs, n_occurrences FROM df WHERE n_docs >= 50
      |ORDER BY n_docs DESC, gram LIMIT 50""".stripMargin

  /** q90 — token-budget mixture execution: 800 tokens per source under
    * seed "mix1" (each sf0.01 source holds ~1400 tokens, so the budget
    * genuinely binds and the boundary-doc rule is exercised). */
  def budgetGate(s: SparkSession, dir: String): DataFrame =
    budgetSample(docs(s, dir), "doc_id", "text", "source",
      budgetTokens = 800, seed = "mix1")
      .orderBy(col("source"), col("cum_tokens"), col("doc_id"))

  val budgetGateSql: String =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      |    md5('mix1|' || CAST(doc_id AS VARCHAR)) AS rk
      |  FROM documents),
      |w AS (SELECT doc_id, source, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM d)
      |SELECT doc_id, source, n_tokens, cum_tokens
      |FROM w WHERE cum_tokens - n_tokens < 800
      |ORDER BY source, cum_tokens, doc_id""".stripMargin

  /** q91 — snapshot diff between two synthesized crawls of the corpus
    * (prev = ids % 4 != 3; cur = ids % 4 != 0 with ids % 5 == 2
    * edited), exercising all three statuses. */
  def diffGate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val prev = d.filter(col("doc_id") % 4 =!= 3).select(col("doc_id"), col("text"))
    val cur = d.filter(col("doc_id") % 4 =!= 0).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 2, lit(" edited")).otherwise(lit(""))).as("text"))
    corpusDiff(prev, cur, "doc_id", "text").orderBy(col("doc_id"))
  }

  val diffGateSql: String =
    """WITH prev AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 4 != 3),
      |cur AS (SELECT doc_id,
      |    md5(text || CASE WHEN doc_id % 5 = 2 THEN ' edited' ELSE '' END) AS fp
      |  FROM documents WHERE doc_id % 4 != 0),
      |j AS (SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
      |    CASE WHEN prev.fp IS NULL THEN 'added'
      |         WHEN cur.fp IS NULL THEN 'removed'
      |         WHEN prev.fp != cur.fp THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id)
      |SELECT doc_id, status FROM j WHERE status != 'unchanged'
      |ORDER BY doc_id""".stripMargin

  /** q92 — host-frequency report over the corpus with three planted
    * URL families (blog / data / tracker hosts, the q87 planting
    * convention), exercising extraction, www-stripping, and both
    * counters. */
  def urlGate(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 6 === 0,
        concat(lit(" see https://blog.example.org/posts/"),
          col("doc_id").cast("string"), lit(" there"))).otherwise(lit("")),
      when(col("doc_id") % 9 === 0,
        lit(" ref http://www.data.example.net/sets/latest here")).otherwise(lit("")),
      when(col("doc_id") % 15 === 0,
        concat(lit(" spam https://tracker.adsite.example/click/"),
          col("doc_id").cast("string"))).otherwise(lit(""))).as("text"))
    hostFrequency(planted, "doc_id", "text")
      .orderBy(col("n_urls").desc, col("host"))
  }

  val urlGateSql: String =
    """WITH planted AS (SELECT doc_id, text
      |    || CASE WHEN doc_id % 6 = 0 THEN ' see https://blog.example.org/posts/' || CAST(doc_id AS VARCHAR) || ' there' ELSE '' END
      |    || CASE WHEN doc_id % 9 = 0 THEN ' ref http://www.data.example.net/sets/latest here' ELSE '' END
      |    || CASE WHEN doc_id % 15 = 0 THEN ' spam https://tracker.adsite.example/click/' || CAST(doc_id AS VARCHAR) ELSE '' END
      |    AS text FROM documents),
      |urls AS (SELECT doc_id,
      |    unnest(regexp_extract_all(text, 'https?://[a-zA-Z0-9.-]+[a-zA-Z0-9./_-]*')) AS url
      |  FROM planted),
      |hosts AS (SELECT doc_id,
      |    regexp_replace(regexp_extract(url, '//([a-zA-Z0-9.-]+)', 1), '^www\.', '') AS host
      |  FROM urls)
      |SELECT host, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
      |FROM hosts GROUP BY 1 ORDER BY n_urls DESC, host""".stripMargin

  /** q93 — materialize the q76 mixture plan's epochs (alpha=0.5,
    * 300k-token budget, seed "ep1"): certified-planner → certified-
    * executor composition, the q83 pattern. */
  def epochsGate(s: SparkSession, dir: String): DataFrame =
    materializeEpochs(docs(s, dir), "doc_id", "source",
      TextAnalysis.mixturePlan(docs(s, dir), "source", "text", 0.5, 300000L),
      "ep1")
      .orderBy(col("doc_id"), col("epoch"))

  val epochsGateSql: String =
    """WITH d0 AS (SELECT source, CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens FROM documents),
      |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens FROM d0 GROUP BY source),
      |t AS (SELECT sum(sqrt(CAST(src_tokens AS DOUBLE))) AS w_tot FROM s),
      |plan AS (SELECT source,
      |    round(sqrt(CAST(src_tokens AS DOUBLE)) / w_tot * 300000.0
      |      / CAST(src_tokens AS DOUBLE), 4) AS epochs
      |  FROM s CROSS JOIN t),
      |d AS (SELECT doc_id, documents.source, epochs,
      |    CAST(floor(epochs) AS BIGINT)
      |    + CASE WHEN CAST('0x' || substr(md5('ep1|' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
      |           < CAST(floor((epochs - floor(epochs)) * 65536) AS INTEGER)
      |      THEN 1 ELSE 0 END AS n_copies
      |  FROM documents JOIN plan USING (source))
      |SELECT doc_id, source, unnest(generate_series(1, n_copies)) AS epoch
      |FROM d WHERE n_copies > 0 ORDER BY doc_id, epoch""".stripMargin

  /** q99 — the FULL curation recipe as one certified dataflow (the
    * q69 pattern, extended): quality gate → repetition filter → PII
    * release gate → exact 6-gram decontamination → fuzzy 3-gram
    * decontamination → boilerplate-heavy drop → exact dedup →
    * capped-LSH near-dup collapse → per-source 300-token budget →
    * train/val split. PII and boilerplate are exercised via planted
    * tails (q87/q89 conventions: emails on doc_id %% 5 == 0, a
    * newsletter tail on %% 3 == 0); thresholds (fuzzy 0.03, coverage
    * 0.06, budget 300) are set where each stage genuinely fires on
    * this corpus. */
  def curationGate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val planted = d.filter(col("doc_id") % 20 =!= 0).select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit(" subscribe to our newsletter all rights reserved")).otherwise(lit("")))
        .as("text"),
      col("lang"), col("source"))
    val bench = d.filter(col("doc_id") % 20 === 0)
    CorpusPipeline.curationRecipe(planted, bench, "doc_id", "text", "source",
      CorpusPipeline.CurationConfig(
        fuzzyN = 3, fuzzyMinFrac = 0.03, bpN = 3, bpMinDocs = 50,
        bpMaxFrac = 0.06, budgetTokens = Some(300L), budgetSeed = "mix1"))
      .select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"), col("split"))
      .orderBy(col("doc_id"))
  }

  val curationGateSql: String = {
    val ws = "\\s+"
    val nTok =
      s"""CASE WHEN length(trim(text)) = 0 THEN 0
         | ELSE len(string_split_regex(trim(text), '$ws')) END""".stripMargin
    val nStop = s"len(regexp_extract_all(text, '${"\\b(the|a|of|and|in|to|is)\\b"}'))"
    val nPunct = s"len(regexp_extract_all(text, '${"[^a-zA-Z0-9\\s]"}'))"
    val g3 = "list_transform(generate_series(1, len(ts) - 2), i -> array_to_string(ts[i:i+2], ' '))"
    s"""WITH RECURSIVE
       |planted AS (SELECT doc_id, lang, source, text
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
       |    || CASE WHEN doc_id % 3 = 0 THEN ' subscribe to our newsletter all rights reserved' ELSE '' END
       |    AS text FROM documents WHERE doc_id % 20 != 0),
       |qsrc AS (SELECT doc_id, lang, text, $nTok AS n_tokens,
       |    $nStop AS n_stop, $nPunct AS n_punct
       |  FROM planted),
       |qscore AS (SELECT *, coalesce(round(
       |    0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) +
       |    0.3 * (1.0 - least(1.0, (n_punct / nullif(CAST(length(text) AS DOUBLE), 0.0)) * 10.0)) +
       |    0.2 * least(1.0, (n_stop / nullif(CAST(n_tokens AS DOUBLE), 0.0)) * 5.0), 6), 0.0) AS score
       |  FROM qsrc),
       |filt0 AS (SELECT doc_id, lang, text, n_tokens FROM qscore
       |  WHERE n_tokens >= 5 AND score >= 0.3),
       |rl AS (SELECT doc_id, string_split_regex(trim(text), '$ws') AS ts FROM filt0),
       |rg AS (SELECT doc_id, ts, CASE WHEN len(ts) >= 3
       |    THEN $g3 ELSE [] END AS gs FROM rl),
       |rep AS (SELECT doc_id FROM rg WHERE
       |  (CASE WHEN len(gs) > 0
       |     THEN round((len(gs) - len(list_distinct(gs))) / CAST(len(gs) AS DOUBLE), 6)
       |     ELSE 0.0 END) > 0.5
       |  OR round(list_max(list_transform(list_distinct(ts),
       |       t -> len(list_filter(ts, x -> x = t)))) / CAST(len(ts) AS DOUBLE), 6) > 0.2),
       |filt1 AS (SELECT f.* FROM filt0 f LEFT JOIN rep r ON f.doc_id = r.doc_id
       |  WHERE r.doc_id IS NULL),
       |luhnv AS (SELECT doc_id,
       |    list_transform(list_filter(regexp_extract_all(text, '$cardRe'), n -> length(n) <= 16), n ->
       |      list_sum(list_transform(generate_series(1, length(n)),
       |        i -> CASE WHEN i % 2 = 0
       |          THEN CASE WHEN CAST(substr(reverse(n), i, 1) AS INT) * 2 > 9
       |               THEN CAST(substr(reverse(n), i, 1) AS INT) * 2 - 9
       |               ELSE CAST(substr(reverse(n), i, 1) AS INT) * 2 END
       |          ELSE CAST(substr(reverse(n), i, 1) AS INT) END)) % 10 = 0) AS valid
       |  FROM filt1),
       |pii AS (SELECT f.doc_id FROM filt1 f JOIN luhnv l ON f.doc_id = l.doc_id
       |  WHERE len(regexp_extract_all(f.text, '$emailRe')) > 0
       |     OR len(list_filter(l.valid, v -> v)) > 0
       |     OR len(regexp_extract_all(f.text, '$phoneRe')) > 0),
       |filt AS (SELECT f.* FROM filt1 f LEFT JOIN pii p ON f.doc_id = p.doc_id
       |  WHERE p.doc_id IS NULL),
       |btoks AS (SELECT string_split_regex(trim(text), '$ws') AS ts
       |  FROM documents WHERE doc_id % 20 = 0),
       |bgrams AS (SELECT DISTINCT unnest(list_transform(generate_series(1, len(ts) - 5),
       |    i -> array_to_string(ts[i:i+5], ' '))) AS gram FROM btoks WHERE len(ts) >= 6),
       |ctoks AS (SELECT doc_id AS id, string_split_regex(trim(text), '$ws') AS ts FROM filt),
       |cgrams AS (SELECT DISTINCT id, unnest(list_transform(generate_series(1, len(ts) - 5),
       |    i -> array_to_string(ts[i:i+5], ' '))) AS gram FROM ctoks WHERE len(ts) >= 6),
       |contam AS (SELECT DISTINCT c.id FROM cgrams c JOIN bgrams b ON c.gram = b.gram),
       |decon AS (SELECT f.* FROM filt f LEFT JOIN contam c ON f.doc_id = c.id
       |  WHERE c.id IS NULL),
       |fbg AS (SELECT DISTINCT doc_id AS bench_id, unnest($g3) AS gram
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '$ws') AS ts
       |        FROM documents WHERE doc_id % 20 = 0) WHERE len(ts) >= 3),
       |fbtot AS (SELECT bench_id, count(*) AS bench_total FROM fbg GROUP BY 1),
       |fcg AS (SELECT DISTINCT doc_id AS id, unnest($g3) AS gram
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '$ws') AS ts FROM decon)
       |  WHERE len(ts) >= 3),
       |fshared AS (SELECT c.id, b.bench_id, count(*) AS n_shared
       |  FROM fcg c JOIN fbg b ON c.gram = b.gram GROUP BY 1, 2),
       |fuzzy AS (SELECT DISTINCT s.id FROM fshared s JOIN fbtot t USING (bench_id)
       |  WHERE s.n_shared / CAST(t.bench_total AS DOUBLE) >= 0.03),
       |defz AS (SELECT d.* FROM decon d LEFT JOIN fuzzy z ON d.doc_id = z.id
       |  WHERE z.id IS NULL),
       |bpocc AS (SELECT doc_id AS id, unnest($g3) AS gram
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '$ws') AS ts FROM defz)
       |  WHERE len(ts) >= 3),
       |bpset AS (SELECT gram FROM bpocc GROUP BY gram HAVING count(DISTINCT id) >= 50),
       |bpcov AS (SELECT o.id, count(*) AS n_tot, count(s.gram) AS n_bp
       |  FROM bpocc o LEFT JOIN bpset s ON o.gram = s.gram GROUP BY o.id),
       |heavy AS (SELECT id FROM bpcov WHERE n_bp > n_tot * 0.06),
       |debp AS (SELECT d.* FROM defz d LEFT JOIN heavy h ON d.doc_id = h.id
       |  WHERE h.id IS NULL),
       |ex AS (SELECT doc_id, lang, text, n_tokens FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS fp_min FROM debp)
       |  WHERE doc_id = fp_min),
       |${DedupShapes.lshPairsCteFrom("ex")},
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id),
       |surv AS (SELECT e.doc_id, e.lang, e.n_tokens
       |  FROM ex e LEFT JOIN comp c ON c.id = e.doc_id
       |  WHERE c.id IS NULL OR least(c.id, c.mn) = e.doc_id),
       |bd AS (SELECT s.doc_id, p.source, s.lang, s.n_tokens,
       |    md5('mix1|' || CAST(s.doc_id AS VARCHAR)) AS rk
       |  FROM surv s JOIN planted p USING (doc_id)),
       |bw AS (SELECT doc_id, lang, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM bd)
       |SELECT doc_id, lang, n_tokens,
       |  CASE WHEN substr(md5('v1|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
       |       THEN 'train' ELSE 'val' END AS split
       |FROM bw WHERE cum - n_tokens < 300
       |ORDER BY doc_id""".stripMargin
  }

  /** q106 — canonical-URL dedup over five planted crawl-variant forms
    * per url group (gid = (doc_id / 5) % 20 with variant = doc_id % 5,
    * so every group receives ALL five forms — a gid derived from the
    * same modulus would pin each group to a single form and never
    * exercise the collapse): bare, SHOUTING scheme/host + www +
    * trailing slash, :443 + utm param, gclid + fragment — those four
    * collapse to one canonical URL — and an http/:80/&-repair case
    * that canonicalizes to its OWN group (http ≠ https, and `page=2`
    * survives), so the gate certifies both the collapses and the
    * non-collapses. */
  def urlCanonicalGate(s: SparkSession, dir: String): DataFrame = {
    val g = (floor(col("doc_id") / 5) % 20).cast("string")
    val planted = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit("https://site"), g, lit(".example.com/path"), g))
      .when(col("doc_id") % 5 === 1,
        concat(lit("HTTPS://WWW.SITE"), g, lit(".Example.COM/path"), g, lit("/")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("https://site"), g, lit(".example.com:443/path"), g,
          lit("?utm_source=feed")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("https://site"), g, lit(".example.com/path"), g,
          lit("?gclid=x"), col("doc_id").cast("string"), lit("#frag")))
      .otherwise(
        concat(lit("http://site"), g, lit(".example.com:80/path"), g,
          lit("?utm_campaign=a&page=2"))).as("url"))
    canonicalUrlDedup(planted, "doc_id", "url").orderBy(col("canon_url"))
  }

  // Mirror of canonicalizeUrl stage by stage; DuckDB regexp_replace
  // needs the explicit 'g' flag on the (only) multi-match pattern and
  // backslash group refs in replacements.
  val urlCanonicalGateSql: String =
    """WITH base AS (SELECT doc_id, CAST((doc_id // 5) % 20 AS VARCHAR) AS g FROM documents),
      |planted AS (SELECT doc_id,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'https://site' || g || '.example.com/path' || g
      |    WHEN 1 THEN 'HTTPS://WWW.SITE' || g || '.Example.COM/path' || g || '/'
      |    WHEN 2 THEN 'https://site' || g || '.example.com:443/path' || g || '?utm_source=feed'
      |    WHEN 3 THEN 'https://site' || g || '.example.com/path' || g || '?gclid=x' || CAST(doc_id AS VARCHAR) || '#frag'
      |    ELSE 'http://site' || g || '.example.com:80/path' || g || '?utm_campaign=a&page=2'
      |  END AS url FROM base),
      |c1 AS (SELECT doc_id, lower(regexp_extract(url, '^([^/?#]*://[^/?#]*)', 1))
      |    || regexp_replace(url, '^[^/?#]*://[^/?#]*', '') AS u FROM planted),
      |c2 AS (SELECT doc_id, regexp_replace(u, '#.*', '') AS u FROM c1),
      |c3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
      |    '^(https://[^/:?#]*):443(/|\?|$)', '\1\2'),
      |    '^(http://[^/:?#]*):80(/|\?|$)', '\1\2') AS u FROM c2),
      |c4 AS (SELECT doc_id, regexp_replace(u, '^(https?://)www\.', '\1') AS u FROM c3),
      |c5 AS (SELECT doc_id, regexp_replace(u, '[?&](utm_[a-z]+|gclid|fbclid)=[^&#]*', '', 'g') AS u FROM c4),
      |c6 AS (SELECT doc_id, regexp_replace(u, '^([^?#]*)&', '\1?') AS u FROM c5),
      |c7 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '\?$', ''), '/$', '') AS u FROM c6)
      |SELECT u AS canon_url, count(*) AS n_docs, min(doc_id) AS keeper_id
      |FROM c7 GROUP BY 1 ORDER BY canon_url""".stripMargin

  /** q110 — length-weighted deterministic sample of 100 docs (weight
    * = max(n_chars, 1), seed "s110"). */
  def weightedSampleGate(s: SparkSession, dir: String): DataFrame =
    weightedSample(docs(s, dir), "doc_id",
      greatest(col("n_chars"), lit(1)), k = 100, seed = "s110")

  val weightedSampleGateSql: String = {
    // the q41 oracle's hex-digit-sum md5 prefix (uniform in [0, 2^32))
    val digits = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substr(md5('s110' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}.0"
    }.mkString(" + ")
    s"""WITH h AS (SELECT doc_id, CAST(greatest(n_chars, 1) AS BIGINT) AS weight,
       |    ($digits) AS hv FROM documents),
       |keyed AS (SELECT doc_id, weight,
       |    CAST(round(ln((hv + 1.0) / 4294967297.0) * 1e6 / weight) AS BIGINT) AS wkey
       |  FROM h)
       |SELECT doc_id, weight, wkey,
       |  CAST(row_number() OVER (ORDER BY wkey DESC, doc_id) AS INT) AS rnk
       |FROM keyed ORDER BY wkey DESC, doc_id LIMIT 100""".stripMargin
  }

  // ---------------------------------------------------------------- stratified k-fold

  /** Deterministic stratified k-fold assignment: fold(id) = md5-hash
    * of the seeded id mod k — reproducible under any partitioning and
    * any corpus growth (a doc's fold never changes when others are
    * added, unlike round-robin or rank-based folds). Stratification is
    * by construction: a uniform hash splits EVERY stratum ~evenly, and
    * the report certifies the realized balance per (stratum, fold).
    * Map-only fold stamping + one (source, fold)-keyed aggregation. */
  def stratifiedKFold(df: DataFrame, idCol: String, strataCol: String,
      k: Int, seed: String = "fold"): DataFrame =
    df.withColumn("fold",
      conv(substring(md5(concat(lit(seed + "|"), col(idCol).cast("string"))),
        1, 4), 16, 10).cast("int") % k)

  /** q142 — 5-fold balance report over documents, stratified by
    * source: per (source, fold) the doc count and exact char volume
    * (the number a training run uses to verify no fold is skewed). */
  def kfoldGate(s: SparkSession, dir: String): DataFrame =
    stratifiedKFold(docs(s, dir), "doc_id", "source", 5)
      .groupBy(col("source"), col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("source"), col("fold"))

  val kfoldGateSql: String =
    """SELECT source,
      |  CAST('0x' || substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 4)
      |    AS INTEGER) % 5 AS fold,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY 1, 2 ORDER BY source, fold""".stripMargin

  // ---------------------------------------------------------------- quality-rule screen

  /** Gopher-style quality-rule screen (Rae et al. 2021's heuristic
    * family, re-expressed over this corpus's text shape): per doc,
    * four independent pass/fail rules —
    *   r1 word count in [30, 100k]; r2 mean word length in [3, 10]
    *   chars; r3 ≥2 stopword hits; r4 distinct-word ratio ≥ 50%
    * — and per source the doc count, all-rules pass count, PER-RULE
    * failure counts (the actionable column: which rule is gutting a
    * source tells you whether it's boilerplate, spam, or truncation),
    * and the pass rate in 1e-6 fixed point. Everything is map-only
    * per doc (array functions over the one split — no explode, no
    * per-word shuffle) followed by a single source-bounded aggregate;
    * mean word length and the distinct ratio are exact integer
    * divisions, so no rule straddles a float rounding boundary. */
  def qualityRuleScreen(d: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val passAll = col("r1") && col("r2") && col("r3") && col("r4")
    qualityRuleFlags(d, srcCol, textCol)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(passAll, 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("r1"), 1L).otherwise(0L)).as("fail_words"),
        sum(when(!col("r2"), 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!col("r3"), 1L).otherwise(0L)).as("fail_stopwords"),
        sum(when(!col("r4"), 1L).otherwise(0L)).as("fail_repetition"))
      .withColumn("pass_fx", expr("(n_pass * 1000000) div n_docs"))
  }

  /** Per-doc rule flags (source, r1..r4) — the map-only kernel shared
    * by the q187 screen and the q191 best-of-k yield estimator. */
  def qualityRuleFlags(d: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val t = trim(col(textCol))
    val ts = split(t, WS)
    d.select(col(srcCol).as("source"),
        when(length(t) === 0, 0L).otherwise(size(ts).cast("long")).as("nw"),
        length(regexp_replace(t, WS, "")).cast("long").as("nch"),
        size(filter(ts, w => w.isin("the", "a", "of", "and", "to", "in")))
          .cast("long").as("nstop"),
        size(array_distinct(ts)).cast("long").as("ndis"))
      .select(col("source"),
        col("nw").between(30L, 100000L).as("r1"),
        (col("nw") > 0L &&
          expr("(nch * 1000000) div nw").between(3000000L, 10000000L)).as("r2"),
        (col("nstop") >= 2L).as("r3"),
        (col("nw") > 0L && expr("(ndis * 1000000) div nw") >= 500000L).as("r4"))
  }

  /** q187 — the quality-rule screen over documents, per source. */
  def qualityRulesGate(s: SparkSession, dir: String): DataFrame =
    qualityRuleScreen(docs(s, dir), "source", "text")
      .orderBy(col("source"))

  /** Oracle CTE chain `qt, qr, qpass` emitting per-doc
    * (source, pass) under the q187 rules — shared by the q187 screen
    * and q191's pass@k estimator so the two gates certify the same
    * rule kernel. (Defined before its consumers: object vals
    * initialize in declaration order.) */
  val qualityPassCteSql: String =
    s"""qt AS (SELECT source,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '$WS')) END AS nw,
       |    length(regexp_replace(trim(text), '$WS', '', 'g')) AS nch,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(list_filter(string_split_regex(trim(text), '$WS'),
       |           w -> w IN ('the', 'a', 'of', 'and', 'to', 'in'))) END AS nstop,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(list_distinct(string_split_regex(trim(text), '$WS')))
       |         END AS ndis
       |  FROM documents),
       |qr AS (SELECT source,
       |    CASE WHEN nw BETWEEN 30 AND 100000 THEN 1 ELSE 0 END AS r1,
       |    CASE WHEN nw > 0 AND (nch * 1000000) // nw
       |      BETWEEN 3000000 AND 10000000 THEN 1 ELSE 0 END AS r2,
       |    CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS r3,
       |    CASE WHEN nw > 0 AND (ndis * 1000000) // nw >= 500000
       |      THEN 1 ELSE 0 END AS r4
       |  FROM qt),
       |qpass AS (SELECT source, r1 * r2 * r3 * r4 AS pass FROM qr)""".stripMargin

  val qualityRulesGateSql: String =
    s"""WITH $qualityPassCteSql
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(r1 * r2 * r3 * r4) AS BIGINT) AS n_pass,
       |  CAST(sum(1 - r1) AS BIGINT) AS fail_words,
       |  CAST(sum(1 - r2) AS BIGINT) AS fail_wordlen,
       |  CAST(sum(1 - r3) AS BIGINT) AS fail_stopwords,
       |  CAST(sum(1 - r4) AS BIGINT) AS fail_repetition,
       |  CAST((CAST(sum(r1 * r2 * r3 * r4) AS BIGINT) * 1000000) // count(*)
       |    AS BIGINT) AS pass_fx
       |FROM qr GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- temperature mixture

  /** Temperature-scaled mixture weights (the multilingual-sampling
    * recipe of XLM-R/mT5 at τ = 1/2): per source, raw token share and
    * the renormalized sqrt-share sampling weight — upweights the tail
    * sources a proportional mixture starves, without letting any
    * single giant source dominate an epoch. τ is fixed at 1/2 because
    * sqrt is the ONE power IEEE-754 requires correctly rounded, so
    * weight_fx = round(sqrt(tokens/total)·1e6) is bit-identical on
    * any engine — a free determinism guarantee pow(x, 0.7) could
    * never give. Token counts aggregate per source (map-side combine),
    * everything after runs on the |sources|-row frame. */
  def temperatureMixture(d: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val t = trim(col(textCol))
    val nTok = when(length(t) === 0, 0L).otherwise(size(split(t, WS)).cast("long"))
    // the |sources|-row frame feeds three consumers (total, weights,
    // weight sum) — checkpoint it or each consumer re-runs the corpus
    // aggregation (the ≥3-consumer rule)
    val per = d.select(col(srcCol).as("source"), nTok.as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens")).localCheckpoint()
    val tot = per.agg(sum(col("n_tokens")).as("tot"))
    val w = per.crossJoin(broadcast(tot))
      .withColumn("share_fx", expr("(n_tokens * 1000000) div tot"))
      .withColumn("weight_fx",
        round(sqrt(col("n_tokens").cast("double") / col("tot")) * 1e6).cast("long"))
      .localCheckpoint()
    val wsum = w.agg(sum(col("weight_fx")).as("wsum"))
    w.crossJoin(broadcast(wsum))
      .select(col("source"), col("n_tokens"), col("share_fx"), col("weight_fx"),
        expr("(weight_fx * 1000000) div wsum").as("alloc_fx"))
  }

  /** q189 — τ=1/2 temperature mixture over documents, per source. */
  def temperatureMixtureGate(s: SparkSession, dir: String): DataFrame =
    temperatureMixture(docs(s, dir), "source", "text")
      .orderBy(col("source"))

  val temperatureMixtureGateSql: String =
    s"""WITH per AS (SELECT source, CAST(sum(
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '$WS')) END) AS BIGINT)
       |      AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per),
       |w AS (SELECT source, n_tokens,
       |    CAST((n_tokens * 1000000) // tot AS BIGINT) AS share_fx,
       |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / tot) * 1e6) AS BIGINT)
       |      AS weight_fx
       |  FROM per, tot),
       |ws AS (SELECT CAST(sum(weight_fx) AS BIGINT) AS wsum FROM w)
       |SELECT source, n_tokens, share_fx, weight_fx,
       |  CAST((weight_fx * 1000000) // wsum AS BIGINT) AS alloc_fx
       |FROM w, ws ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_quality_rules" -> qualityRulesGate,
    "q189_temperature_mixture" -> temperatureMixtureGate,
    "q142_stratified_kfold" -> kfoldGate,
    "q86_fuzzy_decontam" -> fuzzyDecontam,
    "q87_pii_audit" -> piiAuditGate,
    "q88_importance_resample" -> importanceGate,
    "q89_boilerplate_spans" -> boilerplateGate,
    "q90_budget_sample" -> budgetGate,
    "q91_corpus_diff" -> diffGate,
    "q92_url_hosts" -> urlGate,
    "q93_epoch_mixture" -> epochsGate,
    "q99_curation_recipe" -> curationGate,
    "q106_url_canonical" -> urlCanonicalGate,
    "q110_weighted_sample" -> weightedSampleGate)

  val oracles: Map[String, String] = Map(
    "q187_quality_rules" -> qualityRulesGateSql,
    "q189_temperature_mixture" -> temperatureMixtureGateSql,
    "q142_stratified_kfold" -> kfoldGateSql,
    "q86_fuzzy_decontam" -> fuzzyDecontamSql,
    "q87_pii_audit" -> piiAuditGateSql,
    "q88_importance_resample" -> importanceGateSql,
    "q89_boilerplate_spans" -> boilerplateGateSql,
    "q90_budget_sample" -> budgetGateSql,
    "q91_corpus_diff" -> diffGateSql,
    "q92_url_hosts" -> urlGateSql,
    "q93_epoch_mixture" -> epochsGateSql,
    "q99_curation_recipe" -> curationGateSql,
    "q106_url_canonical" -> urlCanonicalGateSql,
    "q110_weighted_sample" -> weightedSampleGateSql)
}
