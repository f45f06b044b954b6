package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Lexical-statistics family: collocation mining (PMI), bounded
  * edit-distance joins (FastSS deletion neighborhoods), and BPE merge
  * TRAINING — the learning half of q113's greedy longest-match encode.
  *
  * All three are corpus-vocabulary-shaped: one scan over the corpus
  * produces a vocab-bounded frame (token counts, string sets, word
  * frequencies), and everything after operates on that frame — the
  * 100 TB contract is that nothing downstream of the first aggregation
  * is corpus-sized.
  */
object Lexical {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private val WS = "\\s+"

  // ---------------------------------------------------------------- PMI

  /** Pointwise-mutual-information collocations over adjacent token
    * pairs: PMI(a,b) = ln( p(ab) / (p(a)p(b)) ) with p from corpus
    * counts — the classic collocation-extraction statistic (Church &
    * Hanks 1990), used in curation to spot templated/boilerplate word
    * pairs (high PMI at high count) vs incidental co-occurrence.
    *
    * Scale shape: two map-only corpus passes (one per aggregation —
    * cheaper than materializing the exploded token frame, which is
    * larger than the corpus); each agg is map-side-combined and
    * vocab- (resp. vocab²-) bounded, totals are 1-row aggregates
    * broadcast back (never a window over a post-agg frame), and the
    * unigram frame joins back broadcast. The emitted PMI is 1e-6
    * fixed point of ln(num/den) with num and den computed as DOUBLE
    * products of exact integer factors — every multiplication is the
    * same correctly-rounded IEEE op in any engine, and nothing
    * overflows at any corpus size.
    */
  def pmiCollocations(docsDf: DataFrame, idCol: String, textCol: String,
      minPair: Long = 5L): DataFrame = {
    val arrs = docsDf.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), split(trim(col(textCol)), WS).as("_l"))
    val toks = arrs.select(explode(col("_l")).as("tok"))
    // both agg frames are vocab-bounded and have two consumers each
    // (their total + the scoring join) — materialize them so neither
    // the corpus pass nor the agg is recomputed, and compute totals
    // as 1-row aggs broadcast back (the bm25 stats pattern), never an
    // empty-partitionBy window funneling the pair frame into one task
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c")).localCheckpoint()
    val t1 = uni.agg(sum(col("c")).as("n1"))
    val pairs = arrs
      .withColumn("_a", slice(col("_l"), lit(1), size(col("_l")) - 1))
      .withColumn("_b", slice(col("_l"), lit(2), size(col("_l")) - 1))
      .select(explode(arrays_zip(col("_a"), col("_b"))).as("p"))
      .select(col("p._a").as("w1"), col("p._b").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cp")).localCheckpoint()
    val t2 = pairs.agg(sum(col("cp")).as("n2"))
    val ua = uni.select(col("tok").as("w1"), col("c").as("ca"))
    val ub = uni.select(col("tok").as("w2"), col("c").as("cb"))
    // num/den as DOUBLE products: each factor is an exact integer and
    // every multiplication rounds deterministically (identical IEEE
    // sequence in DuckDB), with no BIGINT overflow at any corpus size
    pairs.filter(col("cp") >= minPair)
      .join(broadcast(ua), Seq("w1"))
      .join(broadcast(ub), Seq("w2"))
      .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .select(col("w1"), col("w2"), col("cp").as("n_pair"),
        round(log(
          (col("cp").cast("double") * col("n1").cast("double") * col("n1").cast("double")) /
          (col("n2").cast("double") * col("ca").cast("double") * col("cb").cast("double"))) * lit(1e6))
          .cast("long").as("pmi_fx"))
      .orderBy(col("pmi_fx").desc, col("w1"), col("w2"))
  }

  /** q118 — PMI collocations over the documents corpus (min pair
    * count 5). */
  def pmiGate(s: SparkSession, dir: String): DataFrame =
    pmiCollocations(docs(s, dir), "doc_id", "text")

  val pmiGateSql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '$WS') AS l
       |  FROM documents WHERE length(trim(text)) > 0),
       |e AS (SELECT doc_id, generate_subscripts(l, 1) AS i, unnest(l) AS tok FROM t),
       |u AS (SELECT tok, count(*) AS c FROM e GROUP BY tok),
       |t1 AS (SELECT sum(c) AS n1 FROM u),
       |p AS (SELECT a.tok AS w1, b.tok AS w2, count(*) AS cp
       |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  GROUP BY 1, 2),
       |t2 AS (SELECT sum(cp) AS n2 FROM p)
       |SELECT w1, w2, cp AS n_pair,
       |  CAST(round(ln((CAST(cp AS DOUBLE) * CAST(t1.n1 AS DOUBLE) * CAST(t1.n1 AS DOUBLE))
       |    / (CAST(t2.n2 AS DOUBLE) * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_fx
       |FROM p JOIN u ua ON p.w1 = ua.tok JOIN u ub ON p.w2 = ub.tok, t1, t2
       |WHERE cp >= 5
       |ORDER BY pmi_fx DESC, w1, w2""".stripMargin

  // ---------------------------------------- FastSS edit-distance join

  /** All-pairs edit-distance ≤ 1 join via FastSS deletion
    * neighborhoods (Bocek et al., "Fast Similarity Search in Large
    * Dictionaries", 2007): every string emits its identity key plus
    * one single-deletion variant per position; two strings are within
    * edit distance 1 iff they share the identity key (ED 0), one's
    * identity equals the other's deletion (insert/delete), or they
    * share a deletion variant AT THE SAME POSITION (substitution).
    * Candidates are verified with exact `levenshtein`, so the
    * position filter only prunes — completeness comes from the
    * neighborhood property, exactness from the verify.
    *
    * Scale shape: this is the dedup-family candidate pattern (LSH,
    * SimHash) applied to spelling variants — each string fans out to
    * len+1 short keys, candidates come from an equi-join on the key
    * (never an all-pairs cross), and only candidate pairs pay the
    * levenshtein. Hot keys are bounded by the variant-bucket size, the
    * same lever as LSH band buckets.
    */
  def editDistance1Join(strings: DataFrame, idCol: String = "sid",
      sCol: String = "s"): DataFrame = {
    // the (id, s) frame has FOUR consumers (both key sides, both
    // verify sides) — materialize it once so the input lineage isn't
    // recomputed per consumer (the materializeAndFree precedent)
    val s = strings.select(col(idCol).as("_id"), col(sCol).as("_s")).localCheckpoint()
    val keys = s.select(col("_id"), col("_s"),
        explode(concat(
          array(struct(col("_s").as("k"), lit(0).as("p"))),
          when(length(col("_s")) > 0,
            transform(sequence(lit(1), length(col("_s"))), i =>
              struct(
                concat(col("_s").substr(lit(1), i - 1),
                  col("_s").substr(i + 1, length(col("_s")) - i)).as("k"),
                i.as("p"))))
            .otherwise(array().cast("array<struct<k:string,p:int>>"))))
          .as("kp"))
      .select(col("_id"), col("kp.k").as("_k"), col("kp.p").as("_p"))
    val a = keys.select(col("_id").as("id_a"), col("_k"), col("_p").as("_pa"))
    val b = keys.select(col("_id").as("id_b"), col("_k"), col("_p").as("_pb"))
    val cand = a.join(b, Seq("_k"))
      .filter(col("id_a") < col("id_b") &&
        (col("_pa") === 0 || col("_pb") === 0 || col("_pa") === col("_pb")))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(s.select(col("_id").as("id_a"), col("_s").as("s_a")), Seq("id_a"))
      .join(s.select(col("_id").as("id_b"), col("_s").as("s_b")), Seq("id_b"))
      // compute the DP once per candidate, then filter on the column
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"), col("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q119 — editDistance1Join ORACLE GATE. The synthetic vocab has no
    * natural misspellings, so variants are planted INSIDE the query
    * (q106 precedent): for every distinct corpus token and p_name
    * word, emit the word itself, a deletion at an md5-derived
    * position, and a substitution at another md5-derived position
    * with an md5-derived letter. The oracle finds pairs with the
    * NAIVE length-banded levenshtein self-join, so candidate
    * completeness — identity, deletion/insertion, and same-position
    * substitution paths — is what the hash certifies. */
  def editDistGate(s: SparkSession, dir: String): DataFrame = {
    val dw = docs(s, dir).filter(length(trim(col("text"))) > 0)
      .select(explode(split(trim(col("text")), WS)).as("w"))
    val pw = Tables.load(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("w"))
    val base = dw.unionByName(pw).filter(length(col("w")) > 0).distinct()
      .withColumn("rk", row_number().over(Window.orderBy(col("w"))).cast("long"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"))
      .withColumn("len", length(col("w")).cast("long"))
      .withColumn("pd", (col("h") % col("len") + 1).cast("int"))
      .withColumn("ps", (expr("h div 7") % col("len") + 1).cast("int"))
      .withColumn("c", expr("char(97 + CAST((h div 11) % 26 AS INT))"))
    val strings = base.select(explode(array(
        struct((col("rk") * 10).as("sid"), col("w").as("s")),
        struct((col("rk") * 10 + 1).as("sid"),
          concat(col("w").substr(lit(1), col("pd") - 1),
            col("w").substr(col("pd") + 1, length(col("w")) - col("pd"))).as("s")),
        struct((col("rk") * 10 + 2).as("sid"),
          concat(col("w").substr(lit(1), col("ps") - 1), col("c"),
            col("w").substr(col("ps") + 1, length(col("w")) - col("ps"))).as("s"))))
        .as("v"))
      .select(col("v.sid").as("sid"), col("v.s").as("s"))
    editDistance1Join(strings)
  }

  val editDistGateSql: String =
    s"""WITH dw AS (SELECT unnest(string_split_regex(trim(text), '$WS')) AS w
       |  FROM documents WHERE length(trim(text)) > 0),
       |pw AS (SELECT unnest(string_split(p_name, ' ')) AS w FROM part),
       |b0 AS (SELECT DISTINCT w FROM (SELECT w FROM dw UNION ALL SELECT w FROM pw)
       |  WHERE length(w) > 0),
       |b AS (SELECT w, row_number() OVER (ORDER BY w) AS rk,
       |    CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h,
       |    length(w) AS len FROM b0),
       |b2 AS (SELECT w, rk, len,
       |    CAST(h % len + 1 AS INT) AS pd,
       |    CAST((h // 7) % len + 1 AS INT) AS ps,
       |    chr(97 + CAST((h // 11) % 26 AS INT)) AS c FROM b),
       |v AS (SELECT rk * 10 AS sid, w AS s FROM b2
       |  UNION ALL
       |  SELECT rk * 10 + 1, substr(w, 1, pd - 1) || substr(w, pd + 1, len - pd) FROM b2
       |  UNION ALL
       |  SELECT rk * 10 + 2, substr(w, 1, ps - 1) || c || substr(w, ps + 1, len - ps) FROM b2)
       |SELECT a.sid AS id_a, b.sid AS id_b, a.s AS s_a, b.s AS s_b,
       |  levenshtein(a.s, b.s) AS dist
       |FROM v a JOIN v b
       |  ON a.sid < b.sid AND abs(length(a.s) - length(b.s)) <= 1
       |  AND levenshtein(a.s, b.s) <= 1
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------- BPE merge training

  /** Merge rounds for the q120 gate (the oracle unrolls the same
    * count). */
  val BPE_MERGES = 8

  /** One greedy left-to-right merge pass: scan the symbol list once,
    * replacing every non-overlapping occurrence of (al, ar) —
    * leftmost first — with the merged symbol. Expressed as a left
    * fold: the merged output can never re-match `al` (al+ar ≠ al), so
    * fold-over-emitted ≡ the two-symbol lookahead scan. The oracle
    * replays the identical scan as a recursive CTE. */
  private def mergeFold(l: Column, al: String, ar: String): Column =
    aggregate(l, lit(Array.empty[String]), (acc, x) => {
      // ""-padded last element: safe under ANSI for the empty acc
      val last = element_at(concat(array(lit("")), acc), size(acc) + 1)
      when(last === lit(al) && x === lit(ar),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(al + ar))))
        .otherwise(concat(acc, array(x)))
    })

  /** Train byte-pair-encoding merges on the corpus (Sennrich et al.
    * 2016): word-frequency table from one corpus scan, words split to
    * character symbols plus an end-of-word marker '#', then `merges`
    * rounds of [count adjacent symbol pairs weighted by word
    * frequency → merge the argmax pair everywhere]. Ties break on
    * (count DESC, left, right) so the trajectory is deterministic.
    *
    * Scale shape (the q102/q103 iterative pattern): the corpus is
    * scanned ONCE — the word-frequency frame is vocab-bounded and
    * cached; each round's pair count is a map-side-combined groupBy
    * on that frame (symbol-pair-bounded output) and the argmax is a
    * 1-row driver collect (the model, never data — the weight-vector
    * pattern). At 100 TB the vocab frame is millions of rows, still
    * ≪ corpus, and the per-round plan is unchanged.
    *
    * Returns (final segmented vocab frame (tok, freq, l), merge list
    * (step, left, right, count)).
    */
  def bpeTrain(docsDf: DataFrame, idCol: String, textCol: String,
      merges: Int): (DataFrame, Seq[(Int, String, String, Long)]) = {
    val base = docsDf.filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), WS)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .withColumn("l", concat(
        transform(sequence(lit(1), length(col("tok"))),
          i => col("tok").substr(i, lit(1))),
        array(lit("#"))))
      .persist()
    try {
      var cur = base
      val ms = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var step = 1
      var exhausted = false
      while (step <= merges && !exhausted) {
        val pairs = cur
          .withColumn("_a", slice(col("l"), lit(1), size(col("l")) - 1))
          .withColumn("_b", slice(col("l"), lit(2), size(col("l")) - 1))
          .select(col("freq"), explode(arrays_zip(col("_a"), col("_b"))).as("p"))
          .groupBy(col("p._a").as("pl"), col("p._b").as("pr"))
          .agg(sum(col("freq")).as("cnt"))
        val best = pairs.orderBy(col("cnt").desc, col("pl"), col("pr"))
          .limit(1).collect()
        if (best.isEmpty) {
          // vocabulary fully merged (every word one symbol): no
          // adjacent pairs remain — stop early rather than crash.
          // (The unrolled oracle mirrors this: each round's s$i falls
          // back to s$(i-1) via NOT EXISTS when no pair remains;
          // LexicalSpec covers exhaustion.)
          exhausted = true
        } else {
          val (al, ar, cnt) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          ms += ((step, al, ar, cnt))
          cur = cur.withColumn("l", mergeFold(col("l"), al, ar))
          step += 1
        }
      }
      (cur, ms.toSeq)
    } finally base.unpersist(blocking = false)
  }

  /** q120 — BPE training ORACLE GATE: the DuckDB mirror unrolls the
    * same [[BPE_MERGES]] rounds (pair count → argmax → recursive-CTE
    * greedy merge scan), so the hash certifies the entire learned
    * merge trajectory through the final segmentation of every vocab
    * word (any divergent argmax or merge application changes some
    * word's segmentation). */
  def bpeGate(s: SparkSession, dir: String): DataFrame = {
    val (fin, _) = bpeTrain(docs(s, dir), "doc_id", "text", BPE_MERGES)
    fin.select(col("tok"), col("freq"),
        size(col("l")).as("n_sym"),
        concat_ws(" ", col("l")).as("seg"))
      .orderBy(col("tok"))
  }

  val bpeGateSql: String = {
    val iters = (1 to BPE_MERGES).map { i =>
      val prev = s"s${i - 1}"
      s"""e$i AS MATERIALIZED (SELECT tok, freq, generate_subscripts(l, 1) AS pos,
         |    unnest(l) AS sym FROM $prev),
         |p$i AS MATERIALIZED (SELECT a.sym AS pl, b.sym AS pr, sum(a.freq) AS cnt
         |  FROM e$i a JOIN e$i b ON a.tok = b.tok AND b.pos = a.pos + 1
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT pl, pr FROM p$i ORDER BY cnt DESC, pl, pr LIMIT 1),
         |m$i AS (SELECT tok, freq, l, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM $prev
         |  UNION ALL
         |  SELECT m.tok, m.freq, m.l,
         |    CASE WHEN m.i < len(m.l) AND m.l[m.i] = b.pl AND m.l[m.i + 1] = b.pr
         |      THEN m.i + 2 ELSE m.i + 1 END,
         |    CASE WHEN m.i < len(m.l) AND m.l[m.i] = b.pl AND m.l[m.i + 1] = b.pr
         |      THEN list_append(m.acc, b.pl || b.pr) ELSE list_append(m.acc, m.l[m.i]) END
         |  FROM m$i m, b$i b WHERE m.i <= len(m.l)),
         |s$i AS MATERIALIZED (SELECT tok, freq, acc AS l FROM m$i WHERE i = len(l) + 1
         |  UNION ALL
         |  SELECT tok, freq, l FROM $prev
         |  WHERE NOT EXISTS (SELECT 1 FROM b$i)),""".stripMargin
    }.mkString("\n")
    s"""WITH RECURSIVE t AS MATERIALIZED (
       |  SELECT unnest(string_split_regex(trim(text), '$WS')) AS tok
       |  FROM documents WHERE length(trim(text)) > 0),
       |s0 AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
       |    [substr(tok, i, 1) for i in generate_series(1, length(tok))] || ['#'] AS l
       |  FROM t GROUP BY tok),
       |$iters
       |sel AS (SELECT 1)
       |SELECT tok, freq, CAST(len(l) AS INT) AS n_sym,
       |  array_to_string(l, ' ') AS seg
       |FROM s$BPE_MERGES ORDER BY tok""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_pmi_collocations" -> pmiGate,
    "q119_edit_distance_join" -> editDistGate,
    "q120_bpe_train" -> bpeGate)

  val oracles: Map[String, String] = Map(
    "q118_pmi_collocations" -> pmiGateSql,
    "q119_edit_distance_join" -> editDistGateSql,
    "q120_bpe_train" -> bpeGateSql)
}
