package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle-gated entries for the Dedup operators (full `documents`
  * corpus — the planted near-dups sit at Jaccard ≥ 0.9). */
object DedupShapes {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def shingleSql(where: String, src: String = "documents") =
    s"""toks AS (SELECT doc_id AS id, string_split_regex(trim(text), '${"\\s+"}') AS ts FROM $src $where),
       |pos AS (SELECT id, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks WHERE len(ts) >= 2),
       |sh AS (SELECT DISTINCT id, ts[i] || ' ' || ts[i+1] AS sh FROM pos),
       |sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id)""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs (word bigrams, J ≥ 0.5).
    * Exact all-pairs is quadratic by construction, so it runs on a
    * bounded sample (doc_id < 1000 — the whole corpus at gate scale);
    * the full-corpus near-dup path is the LSH pipeline (q31). */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(
        Dedup.wordBigrams(docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text"), 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val jaccardPairsSql: String =
    s"""WITH ${shingleSql("WHERE doc_id < 1000")},
       |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
       |SELECT id_a, id_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
       |FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
       |WHERE inter / (sa.sz + sb.sz - inter) >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** q122 — prefix-filtered EXACT set-similarity join (All-Pairs /
    * PPJoin family) over the same input and threshold as q30, gated
    * against q30's NAIVE all-pairs oracle: a hash match certifies
    * that rarest-first prefix pruning loses no pair — the exact
    * near-dup join that scales where the naive equi-join explodes on
    * hot shingles (and, unlike the q31 LSH path, with zero false-
    * negative probability). */
  def prefixJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterJaccard(
        Dedup.wordBigrams(docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text"), 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** q202 — prefix-filtered EXACT containment join over the q30
    * sample: the ASYMMETRIC near-dup report (short doc swallowed by a
    * long one — quote inclusion, article-in-digest) that Jaccard
    * structurally misses because |B| ≫ |A| crushes |A∩B|/|A∪B|. Gated
    * against the naive all-ordered-pairs oracle, so a hash match
    * certifies the sub-side prefix pruning loses no pair (the q122
    * pattern for the containment measure). */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterContainment(
        Dedup.wordBigrams(docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text"), 0.5)
      .orderBy(col("id_sub"), col("id_sup"))

  val containmentPairsSql: String =
    s"""WITH ${shingleSql("WHERE doc_id < 1000")},
       |inter AS (SELECT a.id AS id_sub, b.id AS id_sup, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id != b.id GROUP BY 1, 2)
       |SELECT id_sub, id_sup,
       |  CAST((inter * 1000000) // sa.sz AS BIGINT) AS containment_fx
       |FROM inter JOIN sz sa ON sa.id = id_sub
       |WHERE (inter * 1000000) // sa.sz >= 500000
       |ORDER BY id_sub, id_sup""".stripMargin

  /** q211 — the df-CAPPED containment twin (the 100 TB production
    * path), gated against a naive DuckDB mirror of its exact
    * semantics: drop shingles with global df > 8, count the capped
    * intersection, divide by the ORIGINAL |A| (round-13 conservative
    * denominator — VERDICT r12 item 1). The cap binds on this corpus
    * (stopword bigrams clear df 8 easily), so the gate certifies the
    * bounded join's real output, not the trivially-exact case. */
  def containmentPairsCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterContainmentCapped(
        Dedup.wordBigrams(docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text"),
        0.5, 8L)
      .orderBy(col("id_sub"), col("id_sup"))

  val containmentPairsCappedSql: String =
    s"""WITH ${shingleSql("WHERE doc_id < 1000")},
       |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
       |kept AS (SELECT s.id, s.sh FROM sh s JOIN dfreq d ON d.sh = s.sh AND d.df <= 8),
       |inter AS (SELECT a.id AS id_sub, b.id AS id_sup, count(*) AS inter
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.id != b.id GROUP BY 1, 2)
       |SELECT id_sub, id_sup,
       |  CAST((inter * 1000000) // sa.sz AS BIGINT) AS containment_fx
       |FROM inter JOIN sz sa ON sa.id = id_sub
       |WHERE (inter * 1000000) // sa.sz >= 500000
       |ORDER BY id_sub, id_sup""".stripMargin

  /** q226 — the containment join under the CORPUS-PROPORTIONAL cap
    * (round-14, VERDICT r13 item 3: the production DEFAULT — a fixed
    * `maxDf` kept 0 pairs at 4× replication in the round-13 probe
    * while a fraction-of-corpus cap kept 5,280). dfFrac = 0.079 is
    * measured to BIND at both gate scales while keeping survivors
    * (sf0.01: cap 40 over 500 sampled docs — 18 shingles dropped, 51
    * pairs; sf0.1: cap 79 over 1000 — 1 shingle dropped, 23 pairs;
    * fractions below ~0.08 start killing the sf0.01 pairs, above
    * stop binding at sf0.1 where max df = 80), and the oracle
    * RESTATES the cap derivation itself:
    * `(count(DISTINCT id) * 79000 + 999999) // 1000000` —
    * fixed-point ceil on both engines, because double `ceil` is off
    * by one at exact multiples (`ceil(0.02·600)` = 13 through
    * doubles, not 12). */
  def containmentPairsFrac(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterContainmentByFrac(
        Dedup.wordBigrams(docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text"),
        0.5, 0.079)
      .orderBy(col("id_sub"), col("id_sup"))

  val containmentPairsFracSql: String =
    s"""WITH ${shingleSql("WHERE doc_id < 1000")},
       |cap AS (SELECT greatest(1, (count(DISTINCT id) * 79000 + 999999) // 1000000) AS max_df FROM sh),
       |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
       |kept AS (SELECT s.id, s.sh FROM sh s JOIN dfreq d ON d.sh = s.sh
       |  WHERE d.df <= (SELECT max_df FROM cap)),
       |inter AS (SELECT a.id AS id_sub, b.id AS id_sup, count(*) AS inter
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.id != b.id GROUP BY 1, 2)
       |SELECT id_sub, id_sup,
       |  CAST((inter * 1000000) // sa.sz AS BIGINT) AS containment_fx
       |FROM inter JOIN sz sa ON sa.id = id_sub
       |WHERE (inter * 1000000) // sa.sz >= 500000
       |ORDER BY id_sub, id_sup""".stripMargin

  /** MinHash+LSH candidates verified by exact Jaccard — the certified
    * shingle→minhash→band→bucket-join pipeline (8 hashes, 4 bands). */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedup(docs(s, dir), "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))

  /** The full LSH pipeline up to verified pairs, as a CTE chain —
    * shared by the q31 pair report, the q55 canonical collapse, and
    * (sourced from the filtered/exact-deduped `ex` CTE) the q59
    * end-to-end pipeline. */
  private[ops] def lshPairsCteFrom(src: String): String =
    s"""${shingleSql("", src)},
       |sig AS (SELECT id, h.i AS i, min(md5(CAST(h.i AS VARCHAR) || '|' || sh)) AS sig
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) h GROUP BY id, h.i),
       |band AS (SELECT id, i // 2 AS b, md5(string_agg(sig, '' ORDER BY i)) AS key
       |  FROM sig GROUP BY id, i // 2),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id),
       |inter AS (SELECT s1.id AS id_a, s2.id AS id_b, count(*) AS inter
       |  FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.id < s2.id
       |  JOIN cand c ON c.id_a = s1.id AND c.id_b = s2.id GROUP BY 1, 2),
       |pairs AS (SELECT i.id_a, i.id_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
       |  FROM inter i JOIN sz sa ON sa.id = i.id_a JOIN sz sb ON sb.id = i.id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5)""".stripMargin

  private val lshPairsCte: String = lshPairsCteFrom("documents")

  val minhashLshSql: String =
    s"""WITH $lshPairsCte
       |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin

  /** Keep-canonical dedup (the pair → component → collapse stage):
    * verified LSH pairs → connected components → every doc mapped to
    * its component's min doc_id (itself when unpaired). Survivors of
    * the dedup are the rows where doc_id = canonical_id, so this one
    * table certifies both the component computation and the survivor
    * set. */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame =
    Dedup.canonicalMap(docs(s, dir), "doc_id",
        Dedup.minhashDedup(docs(s, dir), "doc_id", "text"))
      .orderBy(col("doc_id"))

  // Oracle: transitive closure of the symmetric pair set via a
  // recursive CTE, component = min reachable id (incl. self).
  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE $lshPairsCte,
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(least(c.id, c.mn), d.doc_id) AS canonical_id
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q109 — the q55 collapse with the DISTRIBUTED connected-components
    * path FORCED (maxDriverPairs = 0): min-label propagation with
    * pointer jumping, checkpointed per round — the path a 100 TB run
    * takes when the verified pair list outgrows the driver. q55
    * certifies the driver union-find against the recursive-CTE
    * oracle; this gate certifies the distributed fallback against the
    * SAME oracle, so the two paths can never silently diverge again
    * (previously only spec-pinned equal on fixtures). */
  def dedupCanonicalDistributed(s: SparkSession, dir: String): DataFrame =
    Dedup.canonicalMap(docs(s, dir), "doc_id",
        Dedup.minhashDedup(docs(s, dir), "doc_id", "text"),
        maxDriverPairs = 0L)
      .orderBy(col("doc_id"))

  /** q100 — near-dup cluster-size statistics: the observability
    * report every dedup deployment reads before trusting a collapse
    * (how much duplication, at what family sizes, how many docs
    * affected). Composes the q55-certified canonical map: per
    * canonical id the member count, then the size histogram
    * (cluster_size, n_clusters, n_docs). Exact integer counts —
    * hash-stable by construction. Scale shape: the component map is
    * tiny (pair-derived) and broadcast onto the corpus id list; both
    * aggregations are cluster-cardinality-sized. */
  def dedupClusterStats(s: SparkSession, dir: String): DataFrame =
    Dedup.canonicalMap(docs(s, dir), "doc_id",
        Dedup.minhashDedup(docs(s, dir), "doc_id", "text"))
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  val dedupClusterStatsSql: String =
    s"""WITH RECURSIVE $lshPairsCte,
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id),
       |canon AS (SELECT d.doc_id, coalesce(least(c.id, c.mn), d.doc_id) AS canonical_id
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |sizes AS (SELECT canonical_id, count(*) AS cluster_size FROM canon GROUP BY 1)
       |SELECT cluster_size, count(*) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  /** The end-to-end training-data pipeline (quality gate → exact
    * dedup → LSH near-dup collapse) as ONE certified dataflow: the
    * library composition `CorpusPipeline.clean` — including the
    * hot-bucket-capped candidate join, which at gate scale is pair-identical
    * to the uncapped form — against a DuckDB mirror of all four
    * stages. Output = surviving rows with their token counts. */
  def corpusPipeline(s: SparkSession, dir: String): DataFrame =
    CorpusPipeline.clean(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .orderBy(col("doc_id"))

  val corpusPipelineSql: String = {
    val nTok =
      s"""CASE WHEN length(trim(text)) = 0 THEN 0
         | ELSE len(string_split_regex(trim(text), '${"\\s+"}')) END""".stripMargin
    val nStop = s"len(regexp_extract_all(text, '${"\\b(the|a|of|and|in|to|is)\\b"}'))"
    val nPunct = s"len(regexp_extract_all(text, '${"[^a-zA-Z0-9\\s]"}'))"
    s"""WITH RECURSIVE
       |qsrc AS (SELECT doc_id, lang, text, $nTok AS n_tokens,
       |    $nStop AS n_stop, $nPunct AS n_punct FROM documents),
       |qscore AS (SELECT *, coalesce(round(
       |    0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) +
       |    0.3 * (1.0 - least(1.0, (n_punct / nullif(CAST(length(text) AS DOUBLE), 0.0)) * 10.0)) +
       |    0.2 * least(1.0, (n_stop / nullif(CAST(n_tokens AS DOUBLE), 0.0)) * 5.0), 6), 0.0) AS score
       |  FROM qsrc),
       |filt AS (SELECT doc_id, lang, text, n_tokens FROM qscore
       |  WHERE n_tokens >= 5 AND score >= 0.3),
       |ex AS (SELECT doc_id, lang, text, n_tokens FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS fp_min FROM filt)
       |  WHERE doc_id = fp_min),
       |${lshPairsCteFrom("ex")},
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)
       |SELECT e.doc_id, e.lang, e.n_tokens
       |FROM ex e LEFT JOIN comp c ON c.id = e.doc_id
       |WHERE c.id IS NULL OR least(c.id, c.mn) = e.doc_id
       |ORDER BY e.doc_id""".stripMargin
  }

  /** q69 — the COMPLETE training-data recipe as one certified
    * dataflow: quality gate → Gopher repetition filter → benchmark
    * decontamination (6-grams vs the doc_id ≡ 0 mod 20 eval set) →
    * exact dedup → capped-LSH near-dup collapse → deterministic
    * train/val split. Every stage is the individually-certified
    * operator; this gates their COMPOSITION. */
  def trainingRecipe(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    CorpusPipeline.trainingRecipe(
        d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text")
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"),
        col("split"))
      .orderBy(col("doc_id"))
  }

  val trainingRecipeSql: String = {
    val ws = "\\s+"
    val nTok =
      s"""CASE WHEN length(trim(text)) = 0 THEN 0
         | ELSE len(string_split_regex(trim(text), '$ws')) END""".stripMargin
    val nStop = s"len(regexp_extract_all(text, '${"\\b(the|a|of|and|in|to|is)\\b"}'))"
    val nPunct = s"len(regexp_extract_all(text, '${"[^a-zA-Z0-9\\s]"}'))"
    s"""WITH RECURSIVE
       |qsrc AS (SELECT doc_id, lang, text, $nTok AS n_tokens,
       |    $nStop AS n_stop, $nPunct AS n_punct
       |  FROM documents WHERE doc_id % 20 != 0),
       |qscore AS (SELECT *, coalesce(round(
       |    0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) +
       |    0.3 * (1.0 - least(1.0, (n_punct / nullif(CAST(length(text) AS DOUBLE), 0.0)) * 10.0)) +
       |    0.2 * least(1.0, (n_stop / nullif(CAST(n_tokens AS DOUBLE), 0.0)) * 5.0), 6), 0.0) AS score
       |  FROM qsrc),
       |filt0 AS (SELECT doc_id, lang, text, n_tokens FROM qscore
       |  WHERE n_tokens >= 5 AND score >= 0.3),
       |rl AS (SELECT doc_id, string_split_regex(trim(text), '$ws') AS ts FROM filt0),
       |rg AS (SELECT doc_id, ts, CASE WHEN len(ts) >= 3
       |    THEN list_transform(generate_series(1, len(ts) - 2),
       |      i -> array_to_string(ts[i:i+2], ' ')) ELSE [] END AS gs FROM rl),
       |rep AS (SELECT doc_id FROM rg WHERE
       |  (CASE WHEN len(gs) > 0
       |     THEN round((len(gs) - len(list_distinct(gs))) / CAST(len(gs) AS DOUBLE), 6)
       |     ELSE 0.0 END) > 0.5
       |  OR round(list_max(list_transform(list_distinct(ts),
       |       t -> len(list_filter(ts, x -> x = t)))) / CAST(len(ts) AS DOUBLE), 6) > 0.2),
       |filt AS (SELECT f.* FROM filt0 f LEFT JOIN rep r ON f.doc_id = r.doc_id
       |  WHERE r.doc_id IS NULL),
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
       |ex AS (SELECT doc_id, lang, text, n_tokens FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS fp_min FROM decon)
       |  WHERE doc_id = fp_min),
       |${lshPairsCteFrom("ex")},
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)
       |SELECT e.doc_id, e.lang, e.n_tokens,
       |  CASE WHEN substr(md5('v1|' || CAST(e.doc_id AS VARCHAR)), 1, 4) < 'cccc'
       |       THEN 'train' ELSE 'val' END AS split
       |FROM ex e LEFT JOIN comp c ON c.id = e.doc_id
       |WHERE c.id IS NULL OR least(c.id, c.mn) = e.doc_id
       |ORDER BY e.doc_id""".stripMargin
  }

  /** Prefixed variant of the shingle CTE chain, for oracles that need
    * TWO independent shingle sources (delta vs base) in one query. */
  private def shingleSqlP(p: String, where: String): String =
    s"""${p}toks AS (SELECT doc_id AS id, string_split_regex(trim(text), '${"\\s+"}') AS ts FROM documents $where),
       |${p}pos AS (SELECT id, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM ${p}toks WHERE len(ts) >= 2),
       |${p}sh AS (SELECT DISTINCT id, ts[i] || ' ' || ts[i+1] AS sh FROM ${p}pos),
       |${p}sz AS (SELECT id, count(*) AS sz FROM ${p}sh GROUP BY id)""".stripMargin

  /** Prefixed sig/band CTE chain (8 hashes, band size 2 — the q31
    * construction) over `${p}sh`. */
  private def bandSqlP(p: String): String =
    s"""${p}sig AS (SELECT id, h.i AS i, min(md5(CAST(h.i AS VARCHAR) || '|' || sh)) AS sig
       |  FROM ${p}sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) h GROUP BY id, h.i),
       |${p}band AS (SELECT id, i // 2 AS b, md5(string_agg(sig, '' ORDER BY i)) AS key
       |  FROM ${p}sig GROUP BY id, i // 2)""".stripMargin

  /** q70 — incremental (delta) dedup against a standing corpus: even
    * doc_ids play the indexed base, odd doc_ids the newly-landed
    * crawl. Certifies the full per-crawl operation — delta-vs-index
    * band join, exact-Jaccard verification against ONLY the flagged
    * base docs, within-delta keep-canonical collapse, and the
    * three-way status precedence (dup_of_base > dup_in_delta >
    * kept). The gate instance runs UNCAPPED (maxBucket=MaxValue) so
    * the certified plan enumerates exactly the bucket pairs the
    * oracle does — the production default's hot-bucket cap
    * (maxBucket=10000, sorted-neighborhood pairs) is a declared
    * approximation certified by its own spec (DedupSimilaritySpec
    * capped-candidate tests), not by this oracle. */
  def deltaDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.deltaDedupStatus(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", maxBucket = Int.MaxValue)
      .orderBy(col("doc_id"))
  }

  val deltaDedupSql: String =
    s"""WITH RECURSIVE
       |${shingleSqlP("d", "WHERE doc_id % 2 = 1")},
       |${shingleSqlP("b", "WHERE doc_id % 2 = 0")},
       |${bandSqlP("d")},
       |${bandSqlP("b")},
       |xcand AS (SELECT DISTINCT d.id AS id_d, b.id AS id_base
       |  FROM dband d JOIN bband b ON d.b = b.b AND d.key = b.key),
       |xinter AS (SELECT c.id_d, c.id_base, count(*) AS inter
       |  FROM xcand c JOIN dsh s1 ON s1.id = c.id_d
       |  JOIN bsh s2 ON s2.id = c.id_base AND s2.sh = s1.sh GROUP BY 1, 2),
       |dupbase AS (SELECT DISTINCT i.id_d FROM xinter i
       |  JOIN dsz sa ON sa.id = i.id_d JOIN bsz sb ON sb.id = i.id_base
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |wcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM dband a JOIN dband b ON a.b = b.b AND a.key = b.key AND a.id < b.id),
       |winter AS (SELECT s1.id AS id_a, s2.id AS id_b, count(*) AS inter
       |  FROM dsh s1 JOIN dsh s2 ON s1.sh = s2.sh AND s1.id < s2.id
       |  JOIN wcand c ON c.id_a = s1.id AND c.id_b = s2.id GROUP BY 1, 2),
       |wpairs AS (SELECT i.id_a, i.id_b FROM winter i
       |  JOIN dsz sa ON sa.id = i.id_a JOIN dsz sb ON sb.id = i.id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |edges AS (SELECT id_a AS s, id_b AS d FROM wpairs
       |  UNION SELECT id_b, id_a FROM wpairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)
       |SELECT dd.doc_id,
       |  CASE WHEN db.id_d IS NOT NULL THEN 'dup_of_base'
       |       WHEN c.mn < dd.doc_id THEN 'dup_in_delta'
       |       ELSE 'kept' END AS status
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) dd
       |LEFT JOIN dupbase db ON db.id_d = dd.doc_id
       |LEFT JOIN comp c ON c.id = dd.doc_id
       |ORDER BY dd.doc_id""".stripMargin

  /** q71 — dedup report: near-dup cluster-size histogram over the
    * keep-canonical map (cluster_size 1 = unique docs). The analytics
    * view a pipeline operator actually reads after a dedup run. */
  def dedupReport(s: SparkSession, dir: String): DataFrame =
    Dedup.canonicalMap(docs(s, dir), "doc_id",
        Dedup.minhashDedup(docs(s, dir), "doc_id", "text"))
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  val dedupReportSql: String =
    s"""WITH RECURSIVE $lshPairsCte,
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id),
       |canon AS (SELECT d.doc_id, coalesce(least(c.id, c.mn), d.doc_id) AS canonical_id
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |cl AS (SELECT canonical_id, count(*) AS cluster_size FROM canon GROUP BY 1)
       |SELECT cluster_size, count(*) AS n_clusters FROM cl
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q83 — split-leakage audit (eval hygiene): near-dup pairs that
    * CROSS the train/val boundary — a val doc near-duplicating a
    * train doc silently inflates eval scores even after exact dedup.
    * Composes the certified q31 pair pipeline with the certified q66
    * hash split; output is (val doc, its train near-twin, jaccard).
    * Scale: the pair list is tiny next to the corpus, so the split
    * stamp joins broadcast-pair-side — map-only over the split map. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minhashDedup(d, "doc_id", "text")
    val split = TextAnalysis.hashSplit(d, "doc_id", "v1")
      .select(col("doc_id"), col("split"))
    pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("split_a")), Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("split").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(
        when(col("split_a") === "val", col("id_a")).otherwise(col("id_b")).as("val_doc_id"),
        when(col("split_a") === "val", col("id_b")).otherwise(col("id_a")).as("train_doc_id"),
        col("jaccard"))
      .orderBy(col("val_doc_id"), col("train_doc_id"))
  }

  val splitLeakageSql: String =
    s"""WITH $lshPairsCte,
       |sp AS (SELECT doc_id,
       |    CASE WHEN substr(md5('v1|' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
       |         THEN 'train' ELSE 'val' END AS split
       |  FROM documents)
       |SELECT CASE WHEN sa.split = 'val' THEN p.id_a ELSE p.id_b END AS val_doc_id,
       |  CASE WHEN sa.split = 'val' THEN p.id_b ELSE p.id_a END AS train_doc_id,
       |  p.jaccard
       |FROM pairs p JOIN sp sa ON sa.doc_id = p.id_a
       |             JOIN sp sb ON sb.doc_id = p.id_b
       |WHERE sa.split <> sb.split
       |ORDER BY val_doc_id, train_doc_id""".stripMargin

  /** SimHash fingerprints, aggregated into bucket counts (bucket size
    * > 1 ⇒ near-dup cluster candidate). */
  def simhashBuckets(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash16(docs(s, dir), "doc_id", "text")
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_doc"))
      .orderBy(col("simhash"))

  val simhashBucketsSql: String = {
    val highDigits = "('8','9','a','b','c','d','e','f')"
    val votes = (0 until 16).map(j =>
      s"sum(CASE WHEN substr(th, ${j + 1}, 1) IN $highDigits THEN 1 ELSE -1 END) AS v$j").mkString(", ")
    val bits = (0 until 16).map(j => s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH t AS (SELECT doc_id AS id,
       |    md5(unnest(string_split_regex(trim(text), '${"\\s+"}'))) AS th
       |  FROM documents),
       |v AS (SELECT id, $votes FROM t GROUP BY id),
       |sh AS (SELECT id, $bits AS simhash FROM v)
       |SELECT simhash, count(*) AS n_docs, min(id) AS min_doc
       |FROM sh GROUP BY simhash ORDER BY simhash""".stripMargin
  }

  /** SimHash near-dup pairs: 32-bit hashes, banded candidates, exact
    * Hamming ≤ 1 via the codegen'd HammingDistance expression. */
  def simhashNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(docs(s, dir), "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))

  val simhashNearDupsSql: String = {
    val highDigits = "('8','9','a','b','c','d','e','f')"
    val votes = (0 until 32).map(j =>
      s"sum(CASE WHEN substr(th, ${j + 1}, 1) IN $highDigits THEN 1 ELSE -1 END) AS v$j").mkString(", ")
    val bits = (0 until 32).map(j => s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH t AS (SELECT doc_id AS id,
       |    md5(unnest(string_split_regex(trim(text), '${"\\s+"}'))) AS th
       |  FROM documents),
       |v AS (SELECT id, $votes FROM t GROUP BY id),
       |sh AS (SELECT id, $bits AS simhash FROM v),
       |band AS (SELECT id, simhash, b, substr(simhash, b * 8 + 1, 8) AS key
       |  FROM sh, (SELECT unnest(generate_series(0, 3)) AS b)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    a.simhash AS h_a, b.simhash AS h_b
       |  FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id)
       |SELECT id_a, id_b, CAST(hamming(h_a, h_b) AS INT) AS hamming FROM cand
       |WHERE hamming(h_a, h_b) <= 1 ORDER BY id_a, id_b""".stripMargin
  }

  /** q167 — SimHash estimator CALIBRATION: for every banded candidate
    * pair (any of the 4 8-bit bands agreeing, the q44 candidate
    * space), bucket by exact Hamming distance and report the count
    * and the min/avg/max EXACT token Jaccard per bucket — the audit
    * that tells you what "hamming ≤ k" actually means in similarity
    * terms on YOUR corpus before you pick a near-dup threshold.
    * Per-pair Jaccard is exact-integer 1e-6 fixed point, the bucket
    * mean one truncating division — hash-stable. Scale contract:
    * single-band 8-bit keys make bucket population ~N/256, so the
    * intra-bucket pair expansion is quadratic in N unless BOUNDED —
    * the bound here is enforced, not advisory: a hash-stable doc
    * sample (the q66 md5 split recipe — a pure function of
    * (seed, id), reproducible across partitionings) shrinks pair
    * count by sampleFrac², and `bucketCap` hard-drops any residual
    * hot bucket before expansion (both bounds are mirrored in the
    * oracle, so the gate certifies the bounded spectrum itself). */
  def simhashCalibration(s: SparkSession, dir: String): DataFrame =
    simhashCalibrationOf(docs(s, dir), sampleFrac = 0.5, bucketCap = 64)

  /** Generic core over any (doc_id, text) frame. `sampleFrac` < 1
    * keeps only docs whose md5("cal|"+id) 4-hex prefix falls under the
    * fraction threshold (16-bit resolution, the q66 recipe);
    * `bucketCap` drops (band,key) buckets with more members than the
    * cap BEFORE pair expansion — the worst case per-bucket work is
    * then cap², independent of corpus size. */
  def simhashCalibrationOf(d: DataFrame, sampleFrac: Double = 1.0,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(sampleFrac > 0 && sampleFrac <= 1, "sampleFrac must be in (0, 1]")
    val dd =
      if (sampleFrac >= 1.0) d
      else d.filter(
        substring(md5(concat(lit("cal|"), col("doc_id").cast("string"))), 1, 4)
          < lit(f"${(sampleFrac * 65536).toInt}%04x"))
    val sh = Dedup.simhashBits(dd, "doc_id", "text", 32)
      .withColumn("hl", conv(col("simhash"), 2, 10).cast("long"))
    val bands = sh.select(col("id"), col("hl"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("b"),
        substring(col("simhash"), b * 8 + 1, 8).as("key"))): _*)).as("c"))
      .select(col("id"), col("hl"), col("c.b").as("b"), col("c.key").as("key"))
    // bucket-local pair expansion (the q44 shape, WITHOUT the distance
    // filter — calibration wants the full candidate distance spectrum)
    val cand = bands.groupBy(col("b"), col("key"))
      .agg(sort_array(collect_list(struct(col("id"), col("hl")))).as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= bucketCap)
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
             transform(slice(ms, i + 2, size(ms) - i - 1),
               y -> struct(x.id AS id_a, y.id AS id_b,
                           bit_count(x.hl ^ y.hl) AS hamming))))""")).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .distinct()
    val toksets = dd.select(col("doc_id").as("id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("tok"))).as("ts")).localCheckpoint()
    cand
      .join(toksets.select(col("id").as("id_a"), col("ts").as("ts_a")), Seq("id_a"))
      .join(toksets.select(col("id").as("id_b"), col("ts").as("ts_b")), Seq("id_b"))
      // round-17: ts is sort_array(collect_set(...)) — already sorted
      // + distinct, so the merge-count verify drops in directly
      .withColumn("ni", graft.functions.SetExpressions.sortedIntersectSize(
        col("ts_a"), col("ts_b")))
      .withColumn("jacc_fx", expr(
        "(ni * 1000000) div (size(ts_a) + size(ts_b) - ni)"))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jacc_fx) div count(1)").as("avg_jaccard_fx"),
        min(col("jacc_fx")).as("min_jaccard_fx"),
        max(col("jacc_fx")).as("max_jaccard_fx"))
      .orderBy(col("hamming"))
  }

  val simhashCalibrationSql: String = {
    val highDigits = "('8','9','a','b','c','d','e','f')"
    val votes = (0 until 32).map(j =>
      s"sum(CASE WHEN substr(th, ${j + 1}, 1) IN $highDigits THEN 1 ELSE -1 END) AS v$j").mkString(", ")
    val bits = (0 until 32).map(j => s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH smp AS (SELECT doc_id, text FROM documents
       |  WHERE substr(md5('cal|' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000'),
       |t AS (SELECT doc_id AS id,
       |    md5(unnest(string_split_regex(trim(text), '${"\\s+"}'))) AS th
       |  FROM smp),
       |v AS (SELECT id, $votes FROM t GROUP BY id),
       |sh AS (SELECT id, $bits AS simhash FROM v),
       |band AS (SELECT id, simhash, b, substr(simhash, b * 8 + 1, 8) AS key
       |  FROM sh, (SELECT unnest(generate_series(0, 3)) AS b)),
       |bs AS (SELECT b, key FROM band GROUP BY 1, 2
       |  HAVING count(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    CAST(hamming(a.simhash, b.simhash) AS BIGINT) AS hamming
       |  FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id
       |  JOIN bs ON bs.b = a.b AND bs.key = a.key),
       |tk AS (SELECT DISTINCT doc_id AS id,
       |    unnest(string_split_regex(trim(text), '${"\\s+"}')) AS tok
       |  FROM smp),
       |sz AS (SELECT id, count(*) AS nt FROM tk GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS ni
       |  FROM cand c JOIN tk ta ON ta.id = c.id_a
       |  JOIN tk tb ON tb.id = c.id_b AND tb.tok = ta.tok GROUP BY 1, 2),
       |j AS (SELECT c.hamming,
       |    (coalesce(i.ni, 0) * 1000000) // (sa.nt + sb.nt - coalesce(i.ni, 0))
       |      AS jacc_fx
       |  FROM cand c LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |  JOIN sz sa ON sa.id = c.id_a JOIN sz sb ON sb.id = c.id_b)
       |SELECT hamming, count(*) AS n_pairs,
       |  CAST(sum(jacc_fx) // count(*) AS BIGINT) AS avg_jaccard_fx,
       |  CAST(min(jacc_fx) AS BIGINT) AS min_jaccard_fx,
       |  CAST(max(jacc_fx) AS BIGINT) AS max_jaccard_fx
       |FROM j GROUP BY 1 ORDER BY hamming""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q167_simhash_calibration" -> simhashCalibration,
    "q30_jaccard_pairs" -> jaccardPairs,
    "q122_prefix_jaccard" -> prefixJaccard,
    "q202_containment_pairs" -> containmentPairs,
    "q211_containment_capped" -> containmentPairsCapped,
    "q226_containment_frac" -> containmentPairsFrac,
    "q31_minhash_lsh" -> minhashLsh,
    "q32_simhash_buckets" -> simhashBuckets,
    "q44_simhash_neardups" -> simhashNearDups,
    "q55_dedup_canonical" -> dedupCanonical,
    "q109_cc_distributed" -> dedupCanonicalDistributed,
    "q100_cluster_stats" -> dedupClusterStats,
    "q59_corpus_pipeline" -> corpusPipeline,
    "q69_training_recipe" -> trainingRecipe,
    "q70_delta_dedup" -> deltaDedup,
    "q71_dedup_report" -> dedupReport,
    "q83_split_leakage" -> splitLeakage)

  def oracles: Map[String, String] = Map(
    "q167_simhash_calibration" -> simhashCalibrationSql,
    "q30_jaccard_pairs" -> jaccardPairsSql,
    "q122_prefix_jaccard" -> jaccardPairsSql,
    "q202_containment_pairs" -> containmentPairsSql,
    "q211_containment_capped" -> containmentPairsCappedSql,
    "q226_containment_frac" -> containmentPairsFracSql,
    "q31_minhash_lsh" -> minhashLshSql,
    "q32_simhash_buckets" -> simhashBucketsSql,
    "q44_simhash_neardups" -> simhashNearDupsSql,
    "q55_dedup_canonical" -> dedupCanonicalSql,
    "q109_cc_distributed" -> dedupCanonicalSql,
    "q100_cluster_stats" -> dedupClusterStatsSql,
    "q59_corpus_pipeline" -> corpusPipelineSql,
    "q69_training_recipe" -> trainingRecipeSql,
    "q70_delta_dedup" -> deltaDedupSql,
    "q71_dedup_report" -> dedupReportSql,
    "q83_split_leakage" -> splitLeakageSql)
}
