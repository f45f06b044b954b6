package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-audit operators for the training-data pipeline: the
  * estimator-calibration and budget-planning passes run BEFORE
  * committing to a dedup threshold / context length / embedding
  * space — each one certifiable end-to-end because every statistic
  * is exact-integer (1e-6 fixed point; no float aggregate order
  * anywhere). Companions of q167's SimHash calibration gate. */
object AuditOps {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** q179 — MinHash estimator CALIBRATION: for every LSH candidate
    * pair (the q31 8-hash/4-band candidate space), bucket by the
    * number of agreeing MinHash components (the estimator: ĵ =
    * agree/8) and report count and min/avg/max EXACT bigram Jaccard
    * per bucket — what "k components agree" means in true-similarity
    * terms on YOUR corpus, the audit behind choosing a band scheme.
    * Bounded like q167 — BOTH bounds enforced, not advisory: a
    * hash-stable doc sample (md5 "cal|" recipe, a pure function of
    * (seed, id)) shrinks the candidate space quadratically, and
    * `bucketCap` hard-drops any residual hot band bucket BEFORE pair
    * expansion (`Dedup.lshCandidatesBucketDropped` — worst case per
    * bucket is cap², independent of corpus size; a near-identical
    * boilerplate cluster can no longer go quadratic). Both bounds are
    * mirrored in the oracle, so the gate certifies the bounded
    * spectrum itself. Signatures and band keys are computed map-side
    * from the per-doc shingle arrays (one shuffle builds them);
    * component agreement is a zip_with inside one projection per
    * candidate pair. */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame =
    minhashCalibrationOf(docs(s, dir), sampleFrac = 0.5, bucketCap = 64)

  /** Generic core over any (doc_id, text) frame. `sampleFrac` < 1
    * keeps only docs whose md5("cal|"+id) 4-hex prefix falls under
    * the fraction threshold (the q66 recipe); `bucketCap` drops
    * (band, key) buckets with more members than the cap before pair
    * expansion (all-pairs within retained buckets — unbiased, unlike
    * the star/chain forms). */
  def minhashCalibrationOf(d: DataFrame, sampleFrac: Double = 1.0,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(sampleFrac > 0 && sampleFrac <= 1, "sampleFrac must be in (0, 1]")
    val dd =
      if (sampleFrac >= 1.0) d
      else d.filter(
        substring(md5(concat(lit("cal|"), col("doc_id").cast("string"))), 1, 4)
          < lit(f"${(sampleFrac * 65536).toInt}%04x"))
    val sets = Dedup.docShingleArrays(Dedup.wordBigrams(dd, "doc_id", "text"))
      .withColumn("sigs", array((0 until 8).map(i =>
        array_min(transform(col("shs"), sh =>
          md5(concat(lit(s"$i|"), sh))))): _*)).localCheckpoint()
    // Band keys from the STORED signatures (round-16, guide §1.2 step
    // 2): lshBandsFromArrays re-derives every per-component array_min
    // — 8 more interpreted md5 passes over every shingle of every doc
    // — when `sets` already carries the identical sigs. Same key
    // construction (md5 of the band's two sigs in hash order), so the
    // candidate set is byte-identical.
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("b"),
        md5(concat(element_at(col("sigs"), b * 2 + 1),
          element_at(col("sigs"), b * 2 + 2))).as("key"))
    }
    val cand = Dedup.lshCandidatesBucketDropped(
      sets.select(col("id"), explode(array(bandCols: _*)).as("_bk"))
        .select(col("id"), col("_bk.b").as("b"), col("_bk.key").as("key")),
      bucketCap)
    cand
      // round-17: per-doc sort + merge-count verify (see
      // Dedup.jaccardForCandidates)
      .join(sets.select(col("id").as("id_a"),
        sort_array(col("shs")).as("shs_a"),
        col("sigs").as("sigs_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"),
        sort_array(col("shs")).as("shs_b"),
        col("sigs").as("sigs_b")), Seq("id_b"))
      .withColumn("agree", size(filter(
        zip_with(col("sigs_a"), col("sigs_b"), (x, y) => x === y),
        b => b)).cast("long"))
      .withColumn("ni", graft.functions.SetExpressions.sortedIntersectSize(
        col("shs_a"), col("shs_b")))
      .withColumn("jacc_fx", expr(
        "(ni * 1000000) div (size(shs_a) + size(shs_b) - ni)"))
      .groupBy(col("agree"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jacc_fx) div count(1)").as("avg_jaccard_fx"),
        min(col("jacc_fx")).as("min_jaccard_fx"),
        max(col("jacc_fx")).as("max_jaccard_fx"))
      .orderBy(col("agree"))
  }

  val minhashCalibrationSql: String =
    s"""WITH smp AS (SELECT doc_id, text FROM documents
       |  WHERE substr(md5('cal|' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000'),
       |toks AS (SELECT doc_id AS id,
       |    string_split_regex(trim(text), '${"\\s+"}') AS ts FROM smp),
       |pos AS (SELECT id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |  FROM toks WHERE len(ts) >= 2),
       |sh AS (SELECT DISTINCT id, ts[i] || ' ' || ts[i+1] AS sh FROM pos),
       |sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |sig AS (SELECT id, h.i AS i,
       |    min(md5(CAST(h.i AS VARCHAR) || '|' || sh)) AS sig
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) h
       |  GROUP BY id, h.i),
       |band AS (SELECT id, i // 2 AS b,
       |    md5(string_agg(sig, '' ORDER BY i)) AS key
       |  FROM sig GROUP BY id, i // 2),
       |bs AS (SELECT b, key FROM band GROUP BY 1, 2
       |  HAVING count(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id
       |  JOIN bs ON bs.b = a.b AND bs.key = a.key),
       |agr AS (SELECT c.id_a, c.id_b,
       |    CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT)
       |      AS agree
       |  FROM cand c JOIN sig sa ON sa.id = c.id_a
       |  JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i GROUP BY 1, 2),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS ni
       |  FROM cand c JOIN sh s1 ON s1.id = c.id_a
       |  JOIN sh s2 ON s2.id = c.id_b AND s2.sh = s1.sh GROUP BY 1, 2),
       |j AS (SELECT a.agree,
       |    (coalesce(i.ni, 0) * 1000000)
       |      // (sa.sz + sb.sz - coalesce(i.ni, 0)) AS jacc_fx
       |  FROM agr a LEFT JOIN inter i ON i.id_a = a.id_a AND i.id_b = a.id_b
       |  JOIN sz sa ON sa.id = a.id_a JOIN sz sb ON sb.id = a.id_b)
       |SELECT agree, count(*) AS n_pairs,
       |  CAST(CAST(sum(jacc_fx) AS BIGINT) // count(*) AS BIGINT)
       |    AS avg_jaccard_fx,
       |  CAST(min(jacc_fx) AS BIGINT) AS min_jaccard_fx,
       |  CAST(max(jacc_fx) AS BIGINT) AS max_jaccard_fx
       |FROM j GROUP BY 1 ORDER BY agree""".stripMargin

  /** q180 — context-length BUDGET: per power-of-two token-count
    * bucket (bucket b holds docs with 2^(b−1) ≤ tokens < 2^b, keyed
    * by binary digit count — integer-exact on both engines, no
    * float log2 anywhere), the doc count, total tokens, and the
    * CUMULATIVE token share in 1e-6 fixed point — "how much of the
    * corpus fits a 4k context" read straight off the row. Map-only
    * per-doc token count, one bucket-bounded aggregate, one window
    * over the ≤64-row bucket frame. */
  def contextBudget(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("blen"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val per = docs(s, dir)
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .filter(col("n") >= 1)
      .select(length(bin(col("n"))).cast("int").as("blen"), col("n"))
      .groupBy(col("blen"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot"))
    per.crossJoin(broadcast(tot))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("blen"),
        expr("shiftleft(CAST(1 AS BIGINT), blen)").as("bucket_max"),
        col("n_docs"), col("n_tokens"),
        expr("(cum_tokens * 1000000) div tot").as("cum_share_fx"))
      .orderBy(col("blen"))
  }

  val contextBudgetSql: String =
    s"""WITH per AS (SELECT length(bin(n)) AS blen, count(*) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS n_tokens
       |  FROM (SELECT len(string_split_regex(trim(text), '${"\\s+"}')) AS n
       |        FROM documents) WHERE n >= 1 GROUP BY 1),
       |tot AS (SELECT sum(n_tokens) AS tot FROM per),
       |c AS (SELECT blen, n_docs, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY blen) AS cum_tokens FROM per)
       |SELECT CAST(blen AS INT) AS blen,
       |  CAST(1 << blen AS BIGINT) AS bucket_max, n_docs, n_tokens,
       |  CAST((cum_tokens * 1000000) // tot AS BIGINT) AS cum_share_fx
       |FROM c, tot ORDER BY blen""".stripMargin

  /** q181 — embedding-space QA: per label, the vector count, zero-
    * vector count, and the min/avg/max L2 norm in 1e-6 fixed point —
    * the sanity pass before any ANN/semantic-dedup run (zero or
    * wildly-scaled vectors poison cosine math silently). Per-row
    * norm is the IEEE-deterministic left-to-right double sum over
    * the array (same order both engines), fixed-pointed per row
    * BEFORE aggregation so no float partial-sum order can flip the
    * hash. Map-only + one label-bounded aggregate. */
  def embeddingQa(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    emb
      .select(col("label"),
        round(sqrt(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))) * 1e6)
          .cast("long").as("norm_fx"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("norm_fx") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("norm_fx")).as("min_norm_fx"),
        expr("sum(norm_fx) div count(1)").as("avg_norm_fx"),
        max(col("norm_fx")).as("max_norm_fx"))
      .orderBy(col("label"))
  }

  val embeddingQaSql: String =
    """WITH n AS (SELECT label,
      |    CAST(round(sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1e6) AS BIGINT)
      |      AS norm_fx
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(CASE WHEN norm_fx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(min(norm_fx) AS BIGINT) AS min_norm_fx,
      |  CAST(CAST(sum(norm_fx) AS BIGINT) // count(*) AS BIGINT) AS avg_norm_fx,
      |  CAST(max(norm_fx) AS BIGINT) AS max_norm_fx
      |FROM n GROUP BY 1 ORDER BY label""".stripMargin

  /** q190 — padding-waste audit, the DECISION companion of q180's
    * context budget: for each candidate context length L, pack every
    * doc into ceil(n/L) L-token sequences and report the total
    * sequences, padded-token count, and the padded share of trained
    * tokens in 1e-6 fixed point — the number that actually picks a
    * context length (q180 says how docs distribute; this says what a
    * given L COSTS in wasted FLOPs under doc-boundary packing, the
    * upper bound the q68 stream packer then improves on). ceil is
    * exact-integer ((n + L − 1) div L); the whole query is one
    * map-side 4× expansion of the per-doc count and a 4-row-bounded
    * aggregate — no shuffle touches text. */
  def paddingWaste(s: SparkSession, dir: String): DataFrame =
    paddingWasteOf(docs(s, dir))

  /** Generic core over any frame with a `text` column. */
  def paddingWasteOf(docsDf: DataFrame): DataFrame =
    docsDf
      // empty/whitespace-only text splits to [""] (size 1) — guard it
      // to 0 tokens like qualityRuleFlags does, so zero-word docs
      // don't count as 1-token docs (round-11 fix, ADVICE r10 #2)
      .select(when(length(trim(col("text"))) === 0, 0L)
        .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n"))
      .filter(col("n") >= 1)
      .select(col("n"), explode(array(
        lit(64L), lit(128L), lit(256L), lit(512L))).as("ctx"))
      .withColumn("n_seq", expr("(n + ctx - 1) div ctx"))
      .groupBy(col("ctx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_seq")).as("n_seqs"),
        sum(col("n_seq") * col("ctx") - col("n")).as("n_pad"))
      .withColumn("pad_fx", expr("(n_pad * 1000000) div (n_seqs * ctx)"))
      .orderBy(col("ctx"))

  val paddingWasteSql: String =
    s"""WITH d AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(string_split_regex(trim(text), '${"\\s+"}')) END AS n
       |  FROM documents),
       |x AS (SELECT n, ctx, (n + ctx - 1) // ctx AS n_seq
       |  FROM d CROSS JOIN (SELECT unnest([64, 128, 256, 512]) AS ctx)
       |  WHERE n >= 1),
       |a AS (SELECT ctx, count(*) AS n_docs,
       |    CAST(sum(n_seq) AS BIGINT) AS n_seqs,
       |    CAST(sum(n_seq * ctx - n) AS BIGINT) AS n_pad
       |  FROM x GROUP BY ctx)
       |SELECT CAST(ctx AS BIGINT) AS ctx, n_docs, n_seqs, n_pad,
       |  CAST((n_pad * 1000000) // (n_seqs * ctx) AS BIGINT) AS pad_fx
       |FROM a ORDER BY ctx""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q179_minhash_calibration" -> minhashCalibration,
    "q180_context_budget" -> contextBudget,
    "q181_embedding_qa" -> embeddingQa,
    "q190_padding_waste" -> paddingWaste)

  def oracles: Map[String, String] = Map(
    "q179_minhash_calibration" -> minhashCalibrationSql,
    "q180_context_budget" -> contextBudgetSql,
    "q181_embedding_qa" -> embeddingQaSql,
    "q190_padding_waste" -> paddingWasteSql)
}
