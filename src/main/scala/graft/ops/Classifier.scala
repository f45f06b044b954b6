package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Distributed quality-classifier distillation — the fastText-style
  * linear-probe step of web-scale curation pipelines (GPT-3 / LLaMA
  * style: distill an expensive quality signal into a cheap linear
  * model over hashed token features, then score the whole corpus with
  * it). The probe here is trained by full-batch gradient descent on
  * hashed token-count features against the corpus's own heuristic
  * quality gate (its binding length rule on this corpus — the label
  * column is pluggable), with a hard-sigmoid link so that EVERY
  * arithmetic step is exact integer fixed-point (1e-6 units): weights,
  * scores, probabilities and gradients are BIGINTs on both engines,
  * which makes 24 iterations of training bit-reproducible — the gate
  * hashes the trained model's corpus-wide predictions against a DuckDB
  * mirror that unrolls the same 24 iterations as CTEs.
  *
  * Scale shape (the MLlib linear-model pattern): the featurized corpus
  * — (id, DENSE count vector c[0..D], label), built MAP-SIDE from the
  * token array with a portable md5 bucket hash — is computed once and
  * cached; each iteration evaluates one map-side score/error pass,
  * posexplodes (err, c) into two-long rows and hash-aggregates them by
  * bucket position — D+1 tiny keys whose partials combine MAP-SIDE, so
  * the one keyed exchange moves at most D+1 rows per partition. (The
  * grouping-free per-column-sums form was tried and rejected:
  * CollapseProject inlines the score expression into every one of the
  * D+1 aggregates, re-evaluating it per row — see the pitfall comment
  * in train().) Driver state is the weight vector, never data. At
  * 100 TB the per-iteration cost is one corpus scan of the cached
  * features; D scales to 2^10s of buckets without changing the plan
  * (the weight vector stays an array literal reference).
  *
  * Round-16 optimization (guide §1.2 step 2 + §4): the original sparse
  * form paid three per-iteration taxes that dominate a 24-iteration
  * loop — (a) the per-doc score was an `aggregate` HOF over a
  * struct-array with an `element_at` MAP lookup per element
  * (interpreted), (b) the gradient exploded every (doc, bucket) pair
  * into rows and hash-aggregated them by bucket id (a keyed exchange
  * per iteration), and (c) the weight map rode into the plan as a
  * `typedlit(Map)` whose per-iteration VALUES changed the optimized
  * plan, defeating plan/codegen reuse. The dense form keeps every
  * arithmetic step identical (BIGINT sums are order-free, and absent
  * buckets contribute exactly 0 to both score and gradient) while the
  * iteration plan is two stages of fixed shape: weights enter as an
  * ArrayType literal (codegen references the ArrayData object instead
  * of inlining 65 constants, so all 24 iterations reuse one compiled
  * class), and the gradient is D+1 codegen'd `sum(err * c[j])`
  * aggregates. Measured on the q102 gate at sf0.1: see
  * OPTIMIZATION_r16.md (plans/r16/q102_quality_probe_{before,after}).
  *
  * Determinism contract: per-doc scores and gradients are exact BIGINT
  * sums (integer addition is associative and commutative, so neither
  * array order nor partition order matters); the only float
  * touchpoints are `floor(S/4.0)` (hard sigmoid) and
  * `floor(G/(256.0·n))` (the learning-rate step), both correctly
  * rounded IEEE ops with identical results in Spark and DuckDB.
  */
object Classifier {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private val WS = "\\s+"

  /** Feature buckets (bias lives at index D). */
  val D = 64
  /** Bias pseudo-count: the bias feature carries value B (not 1) so the
    * intercept learns at a rate comparable to the count features —
    * without it, full-batch GD stalls at the base rate (the intercept
    * must reach ≈ −50·w̄ but sees 1/30th of the gradient mass). */
  val B = 32
  /** Iterations / inverse learning rate (floor(G / (LR_DEN · n))). */
  val T = 24
  val LR_DEN = 256
  /** Label: the quality gate's binding component on this corpus
    * (score ≥ 0.8 ⟺ n_tokens ≥ 50 — integer on both engines). */
  val LABEL_MIN_TOKENS = 50

  /** Featurized corpus: (id, c: array<bigint> of length D+1 — dense
    * per-bucket token counts with the bias pseudo-count B at index D —
    * label). Map-only, one pass, no shuffle; absent buckets hold 0, so
    * integer dots/sums over `c` equal the sparse form's sums exactly. */
  def featurize(docsDf: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), WS)
    // Round-17 (guide §4): the dense counts come from the one-pass
    // codegen'd kernel — the previous aggregate-fold rebuilt the
    // 65-slot accumulator array per TOKEN interpreted (O(tokens × D)
    // lambda dispatches per doc; the q102 featurize stage was 0.85 s
    // of single-task CPU at sf0.1). Value parity spec-pinned
    // (ClassifierKernelSpec) against that fold. A token's bucket is
    // its first 4 md5 hex digits mod D (the md5-only portable-hash
    // convention; both engines see nonnegative ints, so `%` agrees).
    docsDf
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), toks.as("_toks"))
      .select(
        col(idCol),
        graft.functions.ClassifierExpressions
          .bucketCounts(col("_toks"), D, B.toLong).as("c"),
        when(size(col("_toks")) >= LABEL_MIN_TOKENS, lit(1)).otherwise(lit(0))
          .as("label"))
  }

  /** Integer dot of the dense count vector with a weight vector carried
    * as an ARRAY literal. ArrayType literals enter generated code as a
    * referenced ArrayData object (never inlined element constants), so
    * the analyzed plan — and the compiled codegen class — is identical
    * across iterations; zip_with/aggregate evaluate as expression
    * fallback, which at D+1 = 65 elements is noise next to a stable
    * plan. Exact BIGINT arithmetic, any order. */
  private def scoreCol(w: IndexedSeq[Long]): Column =
    // round-17: codegen'd exact BIGINT dot (the zip_with/aggregate
    // pair evaluated 65 interpreted lambdas per row per iteration);
    // the ArrayType literal still enters codegen as a referenced
    // ArrayData object, so all 24 iterations reuse one compiled class
    graft.functions.ClassifierExpressions.dotLong(col("c"), typedlit(w))

  /** Hard-sigmoid link in 1e-6 units: clamp(0.5 + z/4, 0, 1). */
  private def pCol(s: Column): Column =
    least(lit(1000000L), greatest(lit(0L),
      lit(500000L) + floor(s / lit(4.0)).cast("long")))

  private def toVec(w: Map[Int, Long]): IndexedSeq[Long] =
    (0 to D).map(j => w.getOrElse(j, 0L))

  /** Train the probe: T full-batch GD iterations; returns the weight
    * vector (bucket → 1e-6 fixed-point weight). `feats` should be the
    * cached output of [[featurize]]. */
  def train(feats: DataFrame): Map[Int, Long] = {
    val n = feats.count()
    var w: IndexedSeq[Long] = IndexedSeq.fill(D + 1)(0L)
    for (it <- 1 to T) {
      val err = (pCol(scoreCol(w)) - lit(1000000L) * col("label")).as("_e")
      // posexplode, NOT D+1 per-column sums over the projected _e: an
      // Aggregate directly over the projection lets CollapseProject
      // inline the score expression into every aggregate — D+1
      // re-evaluations per row (the dup3Frac pitfall, at the aggregate
      // layer). The TWO-STEP select matters just as much: a generator
      // in the same select as `err` analyzes to Project(err) ABOVE the
      // Generate — err re-evaluated per EXPLODED row (65×/doc,
      // measured 1.3 s/iteration) — whereas computing _e in its own
      // projection first pins it BELOW the Generate (once per doc;
      // CollapseProject cannot merge across Generate). Exploded rows
      // are two longs each and partial-aggregate map-side to D+1 rows
      // per partition before the one exchange.
      val gradDf = feats
        .select(err, col("c"))
        .select(col("_e"), posexplode(col("c")))
        .groupBy(col("pos"))
        .agg(sum(col("_e") * col("col")).as("g"))
      val grad = gradDf.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = IndexedSeq.tabulate(D + 1) { j =>
        val g = grad.getOrElse(j, 0L)
        w(j) - math.floor(g / (LR_DEN * 1.0 * n)).toLong
      }
    }
    (0 to D).map(j => j -> w(j)).toMap
  }

  /** Score a corpus with a trained weight map — map-only (the shape
    * that runs over the full 100 TB once the probe is trained). */
  def predict(feats: DataFrame, idCol: String, w: Map[Int, Long]): DataFrame = {
    val s = scoreCol(toVec(w))
    feats.select(
      col(idCol),
      s.as("score_fx"),
      pCol(s).as("p_fx"),
      when(pCol(s) >= 500000L, lit(1)).otherwise(lit(0)).as("pred"),
      col("label"))
  }

  /** Corpus scoring with a standing trained model — featurize ∘
    * predict composed, pure map-only (no shuffle, no state), so it
    * runs unchanged on a STREAMING frame: the continuous-ingest twin
    * of the probe (score each arriving doc against the broadcast
    * weight map — the shape a live quality filter needs).
    * CorpusStreamSpec pins stream ∘ scoreCorpus ≡ batch. */
  def scoreCorpus(docsDf: DataFrame, idCol: String, textCol: String,
      w: Map[Int, Long]): DataFrame =
    predict(featurize(docsDf, idCol, textCol), idCol, w)

  /** q102 — end-to-end train + corpus-wide predict ORACLE GATE: the
    * DuckDB mirror unrolls the same 24 fixed-point iterations as CTEs,
    * so a hash match certifies the entire training trajectory (weights
    * included, transitively), not just the final scores. Converges to
    * ~0.97 train accuracy on this corpus (majority class is 0.554). */
  def qualityProbeGate(s: SparkSession, dir: String): DataFrame = {
    // Partitioning: the feature frame is a map of the documents scan,
    // so its partition count already tracks input size
    // (maxPartitionBytes) — no repartition needed at any scale.
    // DISK_ONLY (r15, VERDICT r14 item 1): at MEMORY level the
    // deserialized arrays were resident heap for the whole loop — the
    // q102 GC-pressure signature (dense longs shrink it, same rule).
    val feats = featurize(docs(s, dir), "doc_id", "text")
      .persist(graft.GraftSession.textFrameLevel)
    try {
      val w = train(feats)
      predict(feats, "doc_id", w).orderBy(col("doc_id"))
    } finally feats.unpersist(blocking = false)
  }

  val qualityProbeGateSql: String = {
    val iters = (1 to T).map { i =>
      val pw = if (i == 1) "w0" else s"w${i - 1}"
      s"""s$i AS MATERIALIZED (SELECT doc_id, sum(w * c) AS S FROM x JOIN $pw USING (j) GROUP BY doc_id),
         |p$i AS MATERIALIZED (SELECT s.doc_id, y, least(1000000, greatest(0, 500000 + CAST(floor(S / 4.0) AS BIGINT))) AS P
         |  FROM s$i s JOIN yd USING (doc_id)),
         |g$i AS MATERIALIZED (SELECT j, sum((P - 1000000 * y) * c) AS G
         |  FROM x JOIN p$i USING (doc_id) GROUP BY j),
         |w$i AS MATERIALIZED (SELECT j, w - CAST(floor(G / ($LR_DEN.0 * n)) AS BIGINT) AS w
         |  FROM $pw JOIN g$i USING (j), nn),""".stripMargin
    }.mkString("\n")
    s"""WITH t AS MATERIALIZED (SELECT doc_id, unnest(string_split_regex(trim(text), '$WS')) AS tok
       |  FROM documents WHERE length(trim(text)) > 0),
       |xb AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 4) AS INTEGER) % $D AS j FROM t),
       |x AS MATERIALIZED (SELECT doc_id, j, CAST(count(*) AS BIGINT) AS c FROM xb GROUP BY doc_id, j
       |  UNION ALL
       |  SELECT doc_id, $D AS j, CAST($B AS BIGINT) AS c FROM documents
       |  WHERE length(trim(text)) > 0),
       |yd AS MATERIALIZED (SELECT doc_id, CASE WHEN count(*) >= $LABEL_MIN_TOKENS THEN 1 ELSE 0 END AS y
       |  FROM t GROUP BY doc_id),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM yd),
       |w0 AS MATERIALIZED (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM x),
       |$iters
       |sf AS (SELECT doc_id, CAST(sum(w * c) AS BIGINT) AS S FROM x JOIN w$T USING (j) GROUP BY doc_id),
       |pf AS (SELECT s.doc_id, S,
       |    least(1000000, greatest(0, 500000 + CAST(floor(S / 4.0) AS BIGINT))) AS P, y
       |  FROM sf s JOIN yd USING (doc_id))
       |SELECT doc_id, S AS score_fx, P AS p_fx,
       |  CASE WHEN P >= 500000 THEN 1 ELSE 0 END AS pred, y AS label
       |FROM pf ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_quality_probe" -> qualityProbeGate)

  val oracles: Map[String, String] = Map(
    "q102_quality_probe" -> qualityProbeGateSql)
}
