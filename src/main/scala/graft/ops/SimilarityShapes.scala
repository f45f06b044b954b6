package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle-gated similarity-search entries over `embeddings`. */
object SimilarityShapes {
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Brute-force cosine top-5 for query vectors vec_id < 5. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(emb(s, dir), "vec_id", "embedding",
        col("vec_id") < 5, k = 5)
      .orderBy(col("q_id"), col("rnk"))

  // Oracle computes cosine explicitly in DOUBLE (per-position sums) —
  // DuckDB's list_cosine_similarity accumulates in float32, which can
  // round differently at the 4th decimal.
  val cosineTopKSql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
      |p AS (SELECT q_id, e.vec_id AS n_id, qe, e.embedding AS ce
      |      FROM q JOIN embeddings e ON e.vec_id <> q_id),
      |x AS (SELECT q_id, n_id, qe, ce, unnest(generate_series(1, len(qe))) AS i FROM p),
      |d AS (SELECT q_id, n_id,
      |        sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
      |        sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq2,
      |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
      |      FROM x GROUP BY q_id, n_id),
      |s AS (SELECT q_id, n_id, dot / (sqrt(nq2) * sqrt(nc2)) AS sim FROM d),
      |r AS (SELECT q_id, n_id, sim,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
      |      FROM s)
      |SELECT q_id, rnk, n_id, round(sim, 4) AS sim FROM r
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** Embedding cosine near-dup pairs (threshold on the full corpus). */
  def cosineDupPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupPairs(emb(s, dir), "vec_id", "embedding", 0.5)
      .orderBy(col("id_a"), col("id_b"))

  // Row-wise list_sum(list_transform(...)) — the q181 recipe — NOT the
  // unnest-to-rows form: unnest materialized pairs × dims rows each
  // carrying BOTH 64-float arrays (~128M rows at sf0.1), which ran
  // ~17s standalone and ~190s under a long gate run's memory
  // pressure; the row-wise form is ~3s with bit-identical rows
  // (per-pair double products summed in list order, same as Spark's
  // left-fold `aggregate`; per-vector norms precomputed like the
  // Spark side's withNorm).
  val cosineDupPairsSql: String =
    """WITH n AS (SELECT vec_id, embedding,
      |        sqrt(list_sum(list_transform(embedding,
      |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm
      |      FROM embeddings),
      |d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |        list_sum(list_transform(generate_series(1, len(a.embedding)),
      |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |          / (a.nrm * b.nrm) AS sim
      |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, round(sim, 4) AS sim FROM d
      |WHERE sim >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** q105 — semantic benchmark decontamination: the embedding-space
    * member of the decontamination trio (verbatim q64 / fuzzy q86 /
    * semantic here). Benchmark = vec_id % 20 == 0 (the q64/q86 split
    * convention); every corpus vector within cosine 0.35 of an eval
    * item is flagged. Corpus scan is map-only against the broadcast
    * eval set — nothing corpus-sized shuffles. Threshold 0.35 sits in
    * the distribution tail (max cross-split cosine at sf0.01 is 0.49,
    * p99 0.29) so the flagged set is non-trivial but leak-sized. */
  def semanticDecontam(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.semanticContamination(
      e.filter(col("vec_id") % 20 =!= 0), e.filter(col("vec_id") % 20 === 0),
      "vec_id", "embedding", 0.35)
      .orderBy(col("vec_id"), col("bench_id"))
  }

  // Same per-position DOUBLE accumulation as the q33/q34 oracles
  // (DuckDB list functions are float32).
  val semanticDecontamSql: String =
    """WITH c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id % 20 != 0),
      |b AS (SELECT vec_id AS bench_id, embedding AS bv FROM embeddings WHERE vec_id % 20 = 0),
      |p AS (SELECT vec_id, bench_id, cv, bv FROM c CROSS JOIN b),
      |x AS (SELECT vec_id, bench_id, cv, bv, unnest(generate_series(1, len(cv))) AS i FROM p),
      |d AS (SELECT vec_id, bench_id,
      |        sum(CAST(cv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)) AS dot,
      |        sum(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)) AS nc2,
      |        sum(CAST(bv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)) AS nb2
      |      FROM x GROUP BY vec_id, bench_id),
      |s AS (SELECT vec_id, bench_id, dot / (sqrt(nc2) * sqrt(nb2)) AS sim FROM d)
      |SELECT vec_id, bench_id, round(sim, 4) AS sim FROM s
      |WHERE sim >= 0.35 ORDER BY vec_id, bench_id""".stripMargin

  /** IVF approximate top-k (scale path), FULLY oracle-gated: every
    * stage — seeding, dual assignment, probe selection, within-probe
    * exact rank — is deterministic (cosine with id tie-breaks), so the
    * whole approximate pipeline is mirrored step-for-step in DuckDB
    * below; the recall contract vs brute force (≥ 0.9 @5) is
    * additionally asserted in DedupSimilaritySpec. nProbe=8 of ~14
    * clusters + dual assignment is the tuned operating point. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(emb(s, dir), "vec_id", "embedding",
        col("vec_id") < 5, k = 5, seedStep = 37, nProbe = 8, nAssign = 2)
      .orderBy(col("q_id"), col("rnk"))

  /** Step-for-step DuckDB mirror of `Similarity.ivfTopK` (seedStep=37,
    * nAssign=2, nProbe=8, k=5, queries vec_id < 5): assignment ranks
    * every vector against every centroid (top-2, id tie-break),
    * centroids surviving self-assignment form the probe set, probes =
    * the 8 nearest centroids per query, candidates = DISTINCT (query,
    * neighbor) pairs through probed clusters (dual assignment can
    * surface a neighbor twice — dedup BEFORE scoring, as the Spark
    * side's dropDuplicates does), then exact per-position DOUBLE
    * cosine + rank. */
  val ivfTopKSql: String =
    """WITH c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
      |      WHERE vec_id % 37 = 0),
      |ap AS (SELECT e.vec_id, c.c_id, e.embedding AS ve, c.ce FROM embeddings e, c),
      |ax AS (SELECT vec_id, c_id, ve, ce, unnest(generate_series(1, len(ve))) AS i FROM ap),
      |ad AS (SELECT vec_id, c_id,
      |        sum(CAST(ve[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
      |        sum(CAST(ve[i] AS DOUBLE) * CAST(ve[i] AS DOUBLE)) AS nv2,
      |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
      |      FROM ax GROUP BY vec_id, c_id),
      |ar AS (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY dot / (sqrt(nv2) * sqrt(nc2)) DESC, c_id) AS rk FROM ad),
      |assigned AS (SELECT vec_id, c_id AS cluster_id FROM ar WHERE rk <= 2),
      |cents AS (SELECT cluster_id AS c_id FROM assigned WHERE vec_id = cluster_id),
      |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
      |pp AS (SELECT q.q_id, q.qe, cc.c_id, e2.embedding AS ce
      |      FROM q, cents cc JOIN embeddings e2 ON e2.vec_id = cc.c_id),
      |px AS (SELECT q_id, c_id, qe, ce, unnest(generate_series(1, len(qe))) AS i FROM pp),
      |pd AS (SELECT q_id, c_id,
      |        sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
      |        sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq2,
      |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
      |      FROM px GROUP BY q_id, c_id),
      |pr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
      |        ORDER BY dot / (sqrt(nq2) * sqrt(nc2)) DESC, c_id) AS r FROM pd),
      |probes AS (SELECT q_id, c_id AS cluster_id FROM pr WHERE r <= 8),
      |cand AS (SELECT DISTINCT p.q_id, a.vec_id AS n_id
      |      FROM probes p JOIN assigned a ON a.cluster_id = p.cluster_id
      |      WHERE a.vec_id <> p.q_id),
      |cv AS (SELECT cd.q_id, cd.n_id, eq.embedding AS qe, en.embedding AS ne
      |      FROM cand cd JOIN embeddings eq ON eq.vec_id = cd.q_id
      |                   JOIN embeddings en ON en.vec_id = cd.n_id),
      |sx AS (SELECT q_id, n_id, qe, ne, unnest(generate_series(1, len(qe))) AS i FROM cv),
      |sd AS (SELECT q_id, n_id,
      |        sum(CAST(qe[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS dot,
      |        sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq2,
      |        sum(CAST(ne[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS nn2
      |      FROM sx GROUP BY q_id, n_id),
      |sr AS (SELECT q_id, n_id, dot / (sqrt(nq2) * sqrt(nn2)) AS sim,
      |        row_number() OVER (PARTITION BY q_id
      |          ORDER BY dot / (sqrt(nq2) * sqrt(nn2)) DESC, n_id) AS rnk
      |      FROM sd)
      |SELECT q_id, rnk, n_id, round(sim, 4) AS sim FROM sr
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** The IVF index itself, oracle-gated: centroid seeding and the
    * argmax-cosine assignment are deterministic (id tie-break), so the
    * index construction — not just its downstream top-k effect — gets
    * a full hash compare. Same per-position DOUBLE cosine as q33 (the
    * DuckDB list functions accumulate in float32). */
  def ivfAssignment(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfAssign(emb(s, dir), "vec_id", "embedding", seedStep = 37)
      .select(col("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))

  val ivfAssignmentSql: String =
    """WITH c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
      |      WHERE vec_id % 37 = 0),
      |p AS (SELECT e.vec_id, c.c_id, e.embedding AS ve, c.ce FROM embeddings e, c),
      |x AS (SELECT vec_id, c_id, ve, ce, unnest(generate_series(1, len(ve))) AS i FROM p),
      |d AS (SELECT vec_id, c_id,
      |        sum(CAST(ve[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
      |        sum(CAST(ve[i] AS DOUBLE) * CAST(ve[i] AS DOUBLE)) AS nv2,
      |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
      |      FROM x GROUP BY vec_id, c_id),
      |s AS (SELECT vec_id, c_id, dot / (sqrt(nv2) * sqrt(nc2)) AS csim FROM d),
      |r AS (SELECT vec_id, c_id,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rk
      |      FROM s)
      |SELECT vec_id, c_id AS cluster_id FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin

  /** q186 — cluster-quality silhouette over the q56 IVF index
    * (seedStep 37): per cluster, the member count and min/avg/max
    * assignment-margin silhouette in 1e-6 fixed point. The QA row a
    * deployment reads before trusting nProbe routing — boundary-heavy
    * clusters (avg ≈ 0) are where approximate recall dies first. Same
    * centroid seeding and raw-double cosine argmax as the gated q56
    * assignment, so this certifies the margin math on the exact same
    * index the serving path uses. */
  def clusterSilhouetteGate(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterSilhouette(emb(s, dir), "vec_id", "embedding", seedStep = 37)
      .orderBy(col("cluster_id"))

  val clusterSilhouetteSql: String =
    """WITH c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
      |      WHERE vec_id % 37 = 0),
      |p AS (SELECT e.vec_id, c.c_id, e.embedding AS ve, c.ce FROM embeddings e, c),
      |x AS (SELECT vec_id, c_id, ve, ce, unnest(generate_series(1, len(ve))) AS i FROM p),
      |d AS (SELECT vec_id, c_id,
      |        sum(CAST(ve[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
      |        sum(CAST(ve[i] AS DOUBLE) * CAST(ve[i] AS DOUBLE)) AS nv2,
      |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
      |      FROM x GROUP BY vec_id, c_id),
      |s AS (SELECT vec_id, c_id, dot / (sqrt(nv2) * sqrt(nc2)) AS csim FROM d),
      |r AS (SELECT vec_id, c_id, csim,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS rk
      |      FROM s),
      |t AS (SELECT vec_id,
      |        max(CASE WHEN rk = 1 THEN c_id END) AS cluster_id,
      |        max(CASE WHEN rk = 1 THEN CAST(round(csim * 1e4) AS BIGINT) END) AS c1,
      |        max(CASE WHEN rk = 2 THEN CAST(round(csim * 1e4) AS BIGINT) END) AS c2
      |      FROM r WHERE rk <= 2 GROUP BY vec_id),
      |q AS (SELECT cluster_id, CASE WHEN c2 >= 10000 THEN 0
      |        ELSE ((c1 - c2) * 1000000) // (10000 - c2) END AS sil_fx FROM t)
      |SELECT cluster_id, count(*) AS n_vecs,
      |  CAST(CAST(sum(sil_fx) AS BIGINT) // count(*) AS BIGINT) AS avg_sil_fx,
      |  CAST(min(sil_fx) AS BIGINT) AS min_sil_fx,
      |  CAST(max(sil_fx) AS BIGINT) AS max_sil_fx
      |FROM q GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** Random-hyperplane (cosine) LSH fingerprints, aggregated into
    * bucket counts — certifies the hash construction itself (like q32
    * for text SimHash). The ±1 planes are deterministic
    * (Similarity.rpSignMatrix) and inlined into the oracle as list
    * literals; the dot is rounded to 6dp before the sign on both
    * sides so summation order can't flip a bit. */
  def rpLshBuckets(s: SparkSession, dir: String): DataFrame =
    Similarity.rpSimhash(emb(s, dir), "vec_id", "embedding")
      .groupBy(col("rp_hash"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
      .orderBy(col("rp_hash"))

  private def rpHashSql: String = {
    val planes = Similarity.rpSignsSql(16, 64)
    val bits = planes.zipWithIndex.map { case (p, i) =>
      s"""CASE WHEN round((SELECT sum(CAST(embedding[j] AS DOUBLE) * ($p)[j])
         |  FROM generate_series(1, 64) t(j)), 6) > 0 THEN '1' ELSE '0' END""".stripMargin
    }
    bits.mkString(" || ")
  }

  val rpLshBucketsSql: String =
    s"""WITH h AS (SELECT vec_id, $rpHashSql AS rp_hash FROM embeddings)
       |SELECT rp_hash, count(*) AS n_vecs, min(vec_id) AS min_vec
       |FROM h GROUP BY rp_hash ORDER BY rp_hash""".stripMargin

  /** LSH near-dup pairs over embeddings (banded rp hash → candidate
    * bucket join → exact-cosine verification): the cosine-LSH sibling
    * of q44, third ANN path next to brute force (q33/q34) and IVF
    * (q35/q56). */
  def rpNearDupPairs(s: SparkSession, dir: String): DataFrame =
    Similarity.rpNearDups(emb(s, dir), "vec_id", "embedding", 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val rpNearDupPairsSql: String =
    s"""WITH h AS (SELECT vec_id, embedding, $rpHashSql AS rp_hash FROM embeddings),
       |band AS (SELECT vec_id, embedding, b, substr(rp_hash, b * 4 + 1, 4) AS key
       |  FROM h, (SELECT unnest(generate_series(0, 3)) AS b)),
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b,
       |    x.embedding AS ae, y.embedding AS be
       |  FROM band x JOIN band y ON x.b = y.b AND x.key = y.key AND x.vec_id < y.vec_id),
       |pos AS (SELECT id_a, id_b, ae, be, unnest(generate_series(1, len(ae))) AS i FROM cand),
       |d AS (SELECT id_a, id_b,
       |    sum(CAST(ae[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS dot,
       |    sum(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS na2,
       |    sum(CAST(be[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS nb2
       |  FROM pos GROUP BY id_a, id_b),
       |sim AS (SELECT id_a, id_b, dot / (sqrt(na2) * sqrt(nb2)) AS sim FROM d)
       |SELECT DISTINCT id_a, id_b, round(sim, 4) AS sim FROM sim
       |WHERE sim >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** q74 — incremental embedding dedup: even vec_ids are the standing
    * corpus (and supply the IVF centroids: % 37 of the base side), odd
    * vec_ids the newly-arrived batch. Certifies the full per-batch
    * operation — dual assignment of BOTH sides to the base's
    * centroids, cluster-bucketed candidates, exact-cosine
    * verification, within-delta keep-canonical components, and the
    * three-way status precedence. minSim 0.44 is below this corpus's
    * closest cross/within pairs, so all three statuses occur. */
  def embeddingDelta(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.embeddingDeltaStatus(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", minSim = 0.44, seedStep = 37)
      .orderBy(col("vec_id"))
  }

  /** Per-side assignment CTE chain against the shared centroid CTE
    * `c`: every vector of parity `par` ranked by double cosine against
    * every centroid, top-2 kept (id tie-break) — the q35/q56 mirror
    * construction, prefixed so two sides coexist in one query. */
  private def assignSqlP(p: String, pred: String): String =
    s"""${p}p AS (SELECT e.vec_id, c.c_id, e.embedding AS ve, c.ce
       |  FROM embeddings e, c WHERE $pred),
       |${p}x AS (SELECT vec_id, c_id, ve, ce,
       |    unnest(generate_series(1, len(ve))) AS i FROM ${p}p),
       |${p}d AS (SELECT vec_id, c_id,
       |    sum(CAST(ve[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
       |    sum(CAST(ve[i] AS DOUBLE) * CAST(ve[i] AS DOUBLE)) AS nv2,
       |    sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
       |  FROM ${p}x GROUP BY vec_id, c_id),
       |${p}a AS (SELECT vec_id, cluster_id FROM (
       |    SELECT vec_id, c_id AS cluster_id, row_number() OVER (
       |      PARTITION BY vec_id
       |      ORDER BY dot / (sqrt(nv2) * sqrt(nc2)) DESC, c_id) AS rk
       |    FROM ${p}d) WHERE rk <= 2)""".stripMargin

  /** Pairwise double-cosine verification CTE chain over candidate
    * pairs `$cand(id_a, id_b)`, emitting `${p}sim(id_a, id_b, sim)`. */
  private def verifySqlP(p: String, cand: String): String =
    s"""${p}v AS (SELECT cd.id_a, cd.id_b, ea.embedding AS ae, eb.embedding AS be
       |  FROM $cand cd JOIN embeddings ea ON ea.vec_id = cd.id_a
       |                JOIN embeddings eb ON eb.vec_id = cd.id_b),
       |${p}vx AS (SELECT id_a, id_b, ae, be,
       |    unnest(generate_series(1, len(ae))) AS i FROM ${p}v),
       |${p}vd AS (SELECT id_a, id_b,
       |    sum(CAST(ae[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS dot,
       |    sum(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS na2,
       |    sum(CAST(be[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS nb2
       |  FROM ${p}vx GROUP BY id_a, id_b),
       |${p}sim AS (SELECT id_a, id_b, dot / (sqrt(na2) * sqrt(nb2)) AS sim FROM ${p}vd)""".stripMargin

  val embeddingDeltaSql: String =
    s"""WITH RECURSIVE
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
       |  WHERE vec_id % 2 = 0 AND vec_id % 37 = 0),
       |${assignSqlP("b", "e.vec_id % 2 = 0")},
       |${assignSqlP("d", "e.vec_id % 2 = 1")},
       |xc AS (SELECT DISTINCT d.vec_id AS id_a, b.vec_id AS id_b
       |  FROM da d JOIN ba b USING (cluster_id)),
       |${verifySqlP("x", "xc")},
       |dupbase AS (SELECT DISTINCT id_a AS id_d FROM xsim WHERE sim >= 0.44),
       |wc AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM da a JOIN da b USING (cluster_id) WHERE a.vec_id < b.vec_id),
       |${verifySqlP("w", "wc")},
       |wpairs AS (SELECT id_a, id_b FROM wsim WHERE sim >= 0.44),
       |edges AS (SELECT id_a AS s, id_b AS d FROM wpairs
       |  UNION SELECT id_b, id_a FROM wpairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)
       |SELECT dd.vec_id,
       |  CASE WHEN db.id_d IS NOT NULL THEN 'dup_of_base'
       |       WHEN cm.mn < dd.vec_id THEN 'dup_in_delta'
       |       ELSE 'kept' END AS status
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1) dd
       |LEFT JOIN dupbase db ON db.id_d = dd.vec_id
       |LEFT JOIN comp cm ON cm.id = dd.vec_id
       |ORDER BY dd.vec_id""".stripMargin

  /** q77 — SemDeDup-style semantic dedup over the full embedding
    * table: IVF assignment (seedStep 37, dual assignment), within-
    * cluster exact-cosine pairs ≥ 0.4, keep-canonical components. The
    * oracle mirrors every stage (same construction as q74's, minus the
    * base/delta parity split) plus the q55 recursive-CTE transitive
    * closure, so the whole scale path — candidate pruning included —
    * is hash-certified, not just the final survivor count. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticCanonical(emb(s, dir), "vec_id", "embedding",
        minSim = 0.4, seedStep = 37, nAssign = 2)
      .orderBy(col("vec_id"))

  val semanticDedupSql: String =
    s"""WITH RECURSIVE
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
       |  WHERE vec_id % 37 = 0),
       |${assignSqlP("a", "1 = 1")},
       |wc AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM aa x JOIN aa y USING (cluster_id) WHERE x.vec_id < y.vec_id),
       |${verifySqlP("w", "wc")},
       |wpairs AS (SELECT id_a, id_b FROM wsim WHERE sim >= 0.4),
       |edges AS (SELECT id_a AS s, id_b AS d FROM wpairs
       |  UNION SELECT id_b, id_a FROM wpairs),
       |reach(id, r) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |comp AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)
       |SELECT e.vec_id, coalesce(least(cm.id, cm.mn), e.vec_id) AS canonical_id
       |FROM embeddings e LEFT JOIN comp cm ON cm.id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin

  /** q82 — hybrid retrieval (the RAG-standard two-stage): BM25 top-50
    * lexical candidates (q73's scorer, same terms) reranked by dense
    * cosine against a query-by-example vector (vec_id 0), top 10 out.
    * Docs without an embedding row drop at the rerank join — the
    * documented semantics when the embedding table lags the corpus.
    * Every stage is deterministic, so the oracle mirrors the full
    * two-stage pipeline: the shared q73 CTE, the candidate LIMIT, the
    * per-position double cosine, and the final rank. */
  def hybridSearch(s: SparkSession, dir: String): DataFrame = {
    val cand = graft.ops.TextAnalysis.bm25Search(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "query"), k = 50)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("score", "bm25")
    Similarity.cosineRerank(cand, "doc_id", emb(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10)
      .orderBy(col("rank"))
  }

  val hybridSearchSql: String =
    s"""WITH ${graft.ops.TextAnalysis.bm25ScoreCte},
       |cand AS (SELECT id AS doc_id, score AS bm25 FROM sc
       |  ORDER BY score DESC, id LIMIT 50),
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ce AS (SELECT c.doc_id, c.bm25, e.embedding AS de, qv.qe
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id, qv),
       |cx AS (SELECT doc_id, bm25, de, qe,
       |    unnest(generate_series(1, len(de))) AS i FROM ce),
       |cd AS (SELECT doc_id, bm25,
       |    sum(CAST(de[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS dot,
       |    sum(CAST(de[i] AS DOUBLE) * CAST(de[i] AS DOUBLE)) AS nd2,
       |    sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq2
       |  FROM cx GROUP BY doc_id, bm25),
       |cs AS (SELECT doc_id, bm25, dot / (sqrt(nd2) * sqrt(nq2)) AS c FROM cd),
       |r AS (SELECT row_number() OVER (ORDER BY c DESC, doc_id) AS rank,
       |    doc_id, bm25, round(c, 4) AS cos FROM cs)
       |SELECT rank, doc_id, bm25, cos FROM r WHERE rank <= 10
       |ORDER BY rank""".stripMargin

  /** q94 — ANN recall@5 report: the certified brute-force ranking
    * (q33) joined against the certified IVF ranking (q35), per query.
    * Certified-exact × certified-approx composition — the
    * DedupSimilaritySpec recall ≥ 0.9 contract, promoted to an
    * oracle-gated OPERATOR output. */
  def annRecall(s: SparkSession, dir: String): DataFrame =
    Similarity.recallReport(
      Similarity.bruteForceTopK(emb(s, dir), "vec_id", "embedding",
        col("vec_id") < 5, k = 5),
      Similarity.ivfTopK(emb(s, dir), "vec_id", "embedding",
        col("vec_id") < 5, k = 5, seedStep = 37, nProbe = 8, nAssign = 2))
      .orderBy(col("q_id"))

  val annRecallSql: String =
    s"""SELECT ex.q_id,
       |  CAST(count(iv.n_id) AS BIGINT) AS n_hits,
       |  round(count(iv.n_id) / CAST(count(*) AS DOUBLE), 4) AS recall
       |FROM ($cosineTopKSql) ex
       |LEFT JOIN ($ivfTopKSql) iv ON ex.q_id = iv.q_id AND ex.n_id = iv.n_id
       |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin


  /** q95 — the PQ codes table itself (index construction certified,
    * the q56 convention): normalize → seed codebooks (vec_id %% 7) →
    * one fixed-point Lloyd step → re-encode. */
  def pqCodes(s: SparkSession, dir: String): DataFrame =
    Similarity.pqModel(emb(s, dir), "vec_id", "embedding", m = 8, seedStep = 7)
      ._2.withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"), col("s"))

  /** Step-for-step DuckDB mirror of `Similarity.pqModel` (m=8,
    * seedStep=7, one Lloyd step; fixed-point 1e-6 distances and
    * centroid means — integer math, order-independent). */
  val pqCodesSql: String =
    """WITH nrm AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ve
       |  FROM embeddings),
       |sub AS (SELECT vec_id, s, ve[s*8+1 : s*8+8] AS sv
       |      FROM nrm CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s)),
       |cb0 AS (SELECT s, vec_id AS code, sv AS cw FROM sub WHERE vec_id % 7 = 0),
       |d0 AS (SELECT sub.vec_id, sub.s AS s, cb0.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM sub JOIN cb0 ON sub.s = cb0.s),
       |e0 AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d0) WHERE rk = 1),
       |comp AS (SELECT e0.s AS s, e0.code, i,
       |      CAST(sum(CAST(round(sv[i] * 1e6) AS BIGINT)) AS DOUBLE) / (1e6 * count(*)) AS c
       |  FROM e0 JOIN sub ON e0.vec_id = sub.vec_id AND e0.s = sub.s
       |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
       |  GROUP BY e0.s, e0.code, i),
       |cb1 AS (SELECT s, code, list(c ORDER BY i) AS cw FROM comp GROUP BY s, code),
       |d1 AS (SELECT sub.vec_id, sub.s AS s, cb1.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM sub JOIN cb1 ON sub.s = cb1.s),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d1) WHERE rk = 1)
       |SELECT vec_id, s, code FROM enc ORDER BY vec_id, s""".stripMargin

  /** q96 — PQ ADC retrieval: integer asymmetric-distance shortlist
    * (100) off the codes table, exact cosine rerank to top-5. Same
    * query set as q33/q35. */
  def pqTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(emb(s, dir), "vec_id", "embedding",
      col("vec_id") < 5, k = 5, m = 8, seedStep = 7, shortlist = 100)

  val pqTopKSql: String =
    """WITH nrm AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ve
       |  FROM embeddings),
       |sub AS (SELECT vec_id, s, ve[s*8+1 : s*8+8] AS sv
       |      FROM nrm CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s)),
       |cb0 AS (SELECT s, vec_id AS code, sv AS cw FROM sub WHERE vec_id % 7 = 0),
       |d0 AS (SELECT sub.vec_id, sub.s AS s, cb0.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM sub JOIN cb0 ON sub.s = cb0.s),
       |e0 AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d0) WHERE rk = 1),
       |comp AS (SELECT e0.s AS s, e0.code, i,
       |      CAST(sum(CAST(round(sv[i] * 1e6) AS BIGINT)) AS DOUBLE) / (1e6 * count(*)) AS c
       |  FROM e0 JOIN sub ON e0.vec_id = sub.vec_id AND e0.s = sub.s
       |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
       |  GROUP BY e0.s, e0.code, i),
       |cb1 AS (SELECT s, code, list(c ORDER BY i) AS cw FROM comp GROUP BY s, code),
       |d1 AS (SELECT sub.vec_id, sub.s AS s, cb1.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM sub JOIN cb1 ON sub.s = cb1.s),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d1) WHERE rk = 1),
       |q AS (SELECT vec_id AS q_id, ve AS qe FROM nrm WHERE vec_id < 5),
       |tab AS (SELECT q_id, cb1.s AS s, cb1.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (qe[s*8+i] - cw[i]) * (qe[s*8+i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM q CROSS JOIN cb1),
       |scored AS (SELECT t.q_id, e.vec_id AS n_id, CAST(sum(t.d2i) AS BIGINT) AS ad2i
       |  FROM enc e JOIN tab t ON e.s = t.s AND e.code = t.code
       |  WHERE e.vec_id <> t.q_id GROUP BY t.q_id, e.vec_id),
       |short AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY ad2i, n_id) AS srk
       |    FROM scored) WHERE srk <= 100),
       |rx AS (SELECT sh.q_id, sh.n_id, q.qe, n.ve AS ne FROM short sh
       |  JOIN q ON q.q_id = sh.q_id JOIN nrm n ON n.vec_id = sh.n_id),
       |rd AS (SELECT q_id, n_id,
       |      list_sum(list_transform(generate_series(1, 64), i -> qe[i] * ne[i])) AS sim
       |  FROM rx),
       |rr AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
       |  FROM rd)
       |SELECT q_id, rnk, n_id, round(sim, 4) AS sim FROM rr WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin


  /** q97 — IVF-PQ (IVFADC) composed retrieval: the q35-certified IVF
    * router picks the candidate set, the q95-certified PQ codes score
    * it with integer ADC, exact cosine reranks the 100-shortlist.
    * Recall@5 = 0.92 on the gate queries — exactly the router's own
    * ceiling (q94). */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(emb(s, dir), "vec_id", "embedding",
      col("vec_id") < 5, k = 5)

  val ivfPqTopKSql: String =
    """WITH
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id % 37 = 0),
       |ap AS (SELECT e.vec_id, c.c_id, e.embedding AS ve0, c.ce FROM embeddings e, c),
       |ax AS (SELECT vec_id, c_id, ve0, ce, unnest(generate_series(1, len(ve0))) AS i FROM ap),
       |ad AS (SELECT vec_id, c_id,
       |        sum(CAST(ve0[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
       |        sum(CAST(ve0[i] AS DOUBLE) * CAST(ve0[i] AS DOUBLE)) AS nv2,
       |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
       |      FROM ax GROUP BY vec_id, c_id),
       |ar AS (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dot / (sqrt(nv2) * sqrt(nc2)) DESC, c_id) AS rk FROM ad),
       |assigned AS (SELECT vec_id, c_id AS cluster_id FROM ar WHERE rk <= 2),
       |cents AS (SELECT cluster_id AS c_id FROM assigned WHERE vec_id = cluster_id),
       |qv AS (SELECT vec_id AS q_id, embedding AS qe0 FROM embeddings WHERE vec_id < 5),
       |pp AS (SELECT qv.q_id, qv.qe0, cc.c_id, e2.embedding AS ce
       |      FROM qv, cents cc JOIN embeddings e2 ON e2.vec_id = cc.c_id),
       |px AS (SELECT q_id, c_id, qe0, ce, unnest(generate_series(1, len(qe0))) AS i FROM pp),
       |pd AS (SELECT q_id, c_id,
       |        sum(CAST(qe0[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
       |        sum(CAST(qe0[i] AS DOUBLE) * CAST(qe0[i] AS DOUBLE)) AS nq2,
       |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
       |      FROM px GROUP BY q_id, c_id),
       |pr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |        ORDER BY dot / (sqrt(nq2) * sqrt(nc2)) DESC, c_id) AS r FROM pd),
       |probes AS (SELECT q_id, c_id AS cluster_id FROM pr WHERE r <= 8),
       |cand AS (SELECT DISTINCT p.q_id, a.vec_id AS n_id
       |      FROM probes p JOIN assigned a ON a.cluster_id = p.cluster_id
       |      WHERE a.vec_id <> p.q_id),
       |nrm AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ve
       |  FROM embeddings),
       |sub AS (SELECT vec_id, s, ve[s*8+1 : s*8+8] AS sv
       |      FROM nrm CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s)),
       |cb0 AS (SELECT s, vec_id AS code, sv AS cw FROM sub WHERE vec_id % 7 = 0),
       |d0 AS (SELECT sub.vec_id, sub.s AS s, cb0.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM sub JOIN cb0 ON sub.s = cb0.s),
       |e0 AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d0) WHERE rk = 1),
       |comp AS (SELECT e0.s AS s, e0.code, i,
       |      CAST(sum(CAST(round(sv[i] * 1e6) AS BIGINT)) AS DOUBLE) / (1e6 * count(*)) AS cc
       |  FROM e0 JOIN sub ON e0.vec_id = sub.vec_id AND e0.s = sub.s
       |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
       |  GROUP BY e0.s, e0.code, i),
       |cb1 AS (SELECT s, code, list(cc ORDER BY i) AS cw FROM comp GROUP BY s, code),
       |d1 AS (SELECT sub.vec_id, sub.s AS s, cb1.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM sub JOIN cb1 ON sub.s = cb1.s),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d1) WHERE rk = 1),
       |q AS (SELECT vec_id AS q_id, ve AS qe FROM nrm WHERE vec_id < 5),
       |tab AS (SELECT q_id, cb1.s AS s, cb1.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (qe[s*8+i] - cw[i]) * (qe[s*8+i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM q CROSS JOIN cb1),
       |scored AS (SELECT t.q_id, e.vec_id AS n_id, CAST(sum(t.d2i) AS BIGINT) AS ad2i
       |  FROM enc e JOIN cand ON cand.n_id = e.vec_id
       |  JOIN tab t ON e.s = t.s AND e.code = t.code AND t.q_id = cand.q_id
       |  GROUP BY t.q_id, e.vec_id),
       |short AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY ad2i, n_id) AS srk
       |    FROM scored) WHERE srk <= 100),
       |rx AS (SELECT sh.q_id, sh.n_id, q.qe, n.ve AS ne FROM short sh
       |  JOIN q ON q.q_id = sh.q_id JOIN nrm n ON n.vec_id = sh.n_id),
       |rd AS (SELECT q_id, n_id,
       |      list_sum(list_transform(generate_series(1, 64), i -> qe[i] * ne[i])) AS sim
       |  FROM rx),
       |rr AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
       |  FROM rd)
       |SELECT q_id, rnk, n_id, round(sim, 4) AS sim FROM rr WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin


  /** q98 — incremental PQ encode: codebooks trained on the standing
    * corpus (vec_id %% 4 != 1), the delta (vec_id %% 4 == 1) encoded
    * against them — the per-crawl form; mirrors train-on-base,
    * encode-delta step for step. */
  def pqDeltaCodes(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (cb, _) = Similarity.pqModel(e.filter(col("vec_id") % 4 =!= 1),
      "vec_id", "embedding", m = 8, seedStep = 7)
    Similarity.pqEncode(e.filter(col("vec_id") % 4 === 1), "vec_id", "embedding", cb)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id"), col("s"))
  }

  val pqDeltaCodesSql: String =
    """WITH
       |nrm AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ve
       |  FROM embeddings),
       |sub AS (SELECT vec_id, s, ve[s*8+1 : s*8+8] AS sv
       |      FROM nrm CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s)),
       |bsub AS (SELECT * FROM sub WHERE vec_id % 4 != 1),
       |cb0 AS (SELECT s, vec_id AS code, sv AS cw FROM bsub WHERE vec_id % 7 = 0),
       |d0 AS (SELECT bsub.vec_id, bsub.s AS s, cb0.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM bsub JOIN cb0 ON bsub.s = cb0.s),
       |e0 AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d0) WHERE rk = 1),
       |comp AS (SELECT e0.s AS s, e0.code, i,
       |      CAST(sum(CAST(round(sv[i] * 1e6) AS BIGINT)) AS DOUBLE) / (1e6 * count(*)) AS cc
       |  FROM e0 JOIN bsub ON e0.vec_id = bsub.vec_id AND e0.s = bsub.s
       |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
       |  GROUP BY e0.s, e0.code, i),
       |cb1 AS (SELECT s, code, list(cc ORDER BY i) AS cw FROM comp GROUP BY s, code),
       |dsub AS (SELECT * FROM sub WHERE vec_id % 4 = 1),
       |d1 AS (SELECT dsub.vec_id, dsub.s AS s, cb1.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM dsub JOIN cb1 ON dsub.s = cb1.s),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d1) WHERE rk = 1)
       |SELECT vec_id, s, code FROM enc ORDER BY vec_id, s""".stripMargin

  /** q141 — MMR diversified top-5 against vec_id 0's embedding over a
    * top-20 relevance pool (λ=0.7). The DuckDB mirror recomputes the
    * pool, the pairwise 1e-6 fixed-point cosines, and UNROLLS all five
    * greedy rounds — the hash certifies the entire selection
    * trajectory (any divergent argmax changes a later penalty). */
  def mmrGate(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(emb(s, dir), "vec_id", "embedding",
        col("vec_id") === 0, poolK = 20, k = 5)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("step"))

  val mmrGateSql: String = {
    val rounds = (2 to 5).map { i =>
      val prev = s"sel${i - 1}"
      s"""c$i AS (SELECT p.vec_id,
         |    7 * p.rel_fx - 3 * (SELECT max(sim_fx) FROM sims
         |      WHERE ai = p.vec_id AND bi IN (SELECT vec_id FROM $prev)) AS mmr
         |  FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM $prev)),
         |s$i AS (SELECT vec_id, mmr FROM c$i ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id FROM $prev UNION ALL SELECT vec_id FROM s$i),""".stripMargin
    }.mkString("\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |px AS (SELECT vec_id, embedding AS e, qe,
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings, q WHERE vec_id <> 0),
       |relr AS (SELECT vec_id,
       |    sum(CAST(e[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS dp,
       |    sum(CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE)) AS n2,
       |    sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS q2
       |  FROM px GROUP BY 1),
       |pool AS (SELECT vec_id,
       |    CAST(round(dp / (sqrt(n2) * sqrt(q2)) * 1e6) AS BIGINT) AS rel_fx
       |  FROM relr ORDER BY rel_fx DESC, vec_id LIMIT 20),
       |pv AS (SELECT p.vec_id, e.embedding AS e FROM pool p
       |  JOIN embeddings e USING (vec_id)),
       |ppx AS (SELECT a.vec_id AS ai, b.vec_id AS bi, a.e AS ae, b.e AS be,
       |    unnest(generate_series(1, len(a.e))) AS i
       |  FROM pv a JOIN pv b ON a.vec_id <> b.vec_id),
       |simr AS (SELECT ai, bi,
       |    sum(CAST(ae[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS dp,
       |    sum(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS a2,
       |    sum(CAST(be[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS b2
       |  FROM ppx GROUP BY 1, 2),
       |sims AS (SELECT ai, bi,
       |    CAST(round(dp / (sqrt(a2) * sqrt(b2)) * 1e6) AS BIGINT) AS sim_fx
       |  FROM simr),
       |s1 AS (SELECT vec_id, 7 * rel_fx AS mmr FROM pool
       |  ORDER BY rel_fx DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id FROM s1),
       |$rounds
       |fin AS (SELECT 1 AS step, vec_id, mmr FROM s1
       |  UNION ALL SELECT 2, vec_id, mmr FROM s2
       |  UNION ALL SELECT 3, vec_id, mmr FROM s3
       |  UNION ALL SELECT 4, vec_id, mmr FROM s4
       |  UNION ALL SELECT 5, vec_id, mmr FROM s5)
       |SELECT step, vec_id, CAST(mmr AS BIGINT) AS mmr_fx
       |FROM fin ORDER BY step""".stripMargin
  }

  /** q182 — the SERVE path of q97, regression-gated: write the
    * persisted hive-partitioned IVF-PQ index to a fresh per-run temp
    * dir INSIDE the query fn, then serve the same 5-query batch off
    * it. `servePqIndex` is expression-for-expression the `ivfPqTopK`
    * dataflow (spec-pinned row-identical), so the oracle is q97's SQL
    * verbatim — a green row certifies the partition-pruned serving
    * plan end-to-end (index layout, probe pruning, ADC, rerank), not
    * just the spec equality. Warm bench time includes the index build
    * (train_in_query); the repeating serve-only cost is the
    * `serve_ivfpq_topk` bench row. */
  def serveIvfPqGate(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val idx = graft.GraftSession.tempDir("graft_serve_ivfpq_gate")
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding", idx)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    Similarity.servePqIndex(s, idx, q, k = 5, nProbe = 8, shortlist = 100)
  }

  /** q184 — INCREMENTAL index maintenance, regression-gated end to
    * end: build the IVF-PQ index on the standing corpus (vec_id % 4
    * != 1), `appendToIvfPqIndex` the delta crawl (% 4 == 1) against
    * the persisted model — no retraining — then serve the 5-query
    * batch off the merged partitions. The oracle mirrors the whole
    * contract in one statement: IVF centroids seeded from BASE,
    * PQ codebooks trained on BASE (the q98 delta-encode CTEs), every
    * vector of base ∪ delta routed and encoded against that frozen
    * model, then the q97 ADC + exact-rerank tail. A green row
    * certifies that the per-crawl append path (assign + encode +
    * partition-append) is byte-equivalent to a base-model full
    * rebuild — at delta cost. */
  def ivfPqAppendServe(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val idx = graft.GraftSession.tempDir("graft_ivfpq_append_gate")
    Similarity.writeIvfPqIndex(
      e.filter(col("vec_id") % 4 =!= 1), "vec_id", "embedding", idx)
    Similarity.appendToIvfPqIndex(
      s, idx, e.filter(col("vec_id") % 4 === 1), "vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    Similarity.servePqIndex(s, idx, q, k = 5, nProbe = 8, shortlist = 100)
  }

  val ivfPqAppendServeSql: String =
    """WITH
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
       |      WHERE vec_id % 37 = 0 AND vec_id % 4 != 1),
       |ap AS (SELECT e.vec_id, c.c_id, e.embedding AS ve0, c.ce FROM embeddings e, c),
       |ax AS (SELECT vec_id, c_id, ve0, ce, unnest(generate_series(1, len(ve0))) AS i FROM ap),
       |ad AS (SELECT vec_id, c_id,
       |        sum(CAST(ve0[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
       |        sum(CAST(ve0[i] AS DOUBLE) * CAST(ve0[i] AS DOUBLE)) AS nv2,
       |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
       |      FROM ax GROUP BY vec_id, c_id),
       |ar AS (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dot / (sqrt(nv2) * sqrt(nc2)) DESC, c_id) AS rk FROM ad),
       |assigned AS (SELECT vec_id, c_id AS cluster_id FROM ar WHERE rk <= 2),
       |qv AS (SELECT vec_id AS q_id, embedding AS qe0 FROM embeddings WHERE vec_id < 5),
       |pp AS (SELECT qv.q_id, qv.qe0, cc.c_id, cc.ce
       |      FROM qv, c cc),
       |px AS (SELECT q_id, c_id, qe0, ce, unnest(generate_series(1, len(qe0))) AS i FROM pp),
       |pd AS (SELECT q_id, c_id,
       |        sum(CAST(qe0[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
       |        sum(CAST(qe0[i] AS DOUBLE) * CAST(qe0[i] AS DOUBLE)) AS nq2,
       |        sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc2
       |      FROM px GROUP BY q_id, c_id),
       |pr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |        ORDER BY dot / (sqrt(nq2) * sqrt(nc2)) DESC, c_id) AS r FROM pd),
       |probes AS (SELECT q_id, c_id AS cluster_id FROM pr WHERE r <= 8),
       |cand AS (SELECT DISTINCT p.q_id, a.vec_id AS n_id
       |      FROM probes p JOIN assigned a ON a.cluster_id = p.cluster_id
       |      WHERE a.vec_id <> p.q_id),
       |nrm AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS ve
       |  FROM embeddings),
       |sub AS (SELECT vec_id, s, ve[s*8+1 : s*8+8] AS sv
       |      FROM nrm CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s)),
       |bsub AS (SELECT * FROM sub WHERE vec_id % 4 != 1),
       |cb0 AS (SELECT s, vec_id AS code, sv AS cw FROM bsub WHERE vec_id % 7 = 0),
       |d0 AS (SELECT bsub.vec_id, bsub.s AS s, cb0.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM bsub JOIN cb0 ON bsub.s = cb0.s),
       |e0 AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d0) WHERE rk = 1),
       |comp AS (SELECT e0.s AS s, e0.code, i,
       |      CAST(sum(CAST(round(sv[i] * 1e6) AS BIGINT)) AS DOUBLE) / (1e6 * count(*)) AS cc
       |  FROM e0 JOIN bsub ON e0.vec_id = bsub.vec_id AND e0.s = bsub.s
       |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
       |  GROUP BY e0.s, e0.code, i),
       |cb1 AS (SELECT s, code, list(cc ORDER BY i) AS cw FROM comp GROUP BY s, code),
       |d1 AS (SELECT sub.vec_id, sub.s AS s, cb1.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM sub JOIN cb1 ON sub.s = cb1.s),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rk
       |    FROM d1) WHERE rk = 1),
       |q AS (SELECT vec_id AS q_id, ve AS qe FROM nrm WHERE vec_id < 5),
       |tab AS (SELECT q_id, cb1.s AS s, cb1.code,
       |      CAST(round(list_sum(list_transform(generate_series(1, 8),
       |        i -> (qe[s*8+i] - cw[i]) * (qe[s*8+i] - cw[i]))) * 1e6) AS BIGINT) AS d2i
       |  FROM q CROSS JOIN cb1),
       |scored AS (SELECT t.q_id, e.vec_id AS n_id, CAST(sum(t.d2i) AS BIGINT) AS ad2i
       |  FROM enc e JOIN cand ON cand.n_id = e.vec_id
       |  JOIN tab t ON e.s = t.s AND e.code = t.code AND t.q_id = cand.q_id
       |  GROUP BY t.q_id, e.vec_id),
       |short AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY ad2i, n_id) AS srk
       |    FROM scored) WHERE srk <= 100),
       |rx AS (SELECT sh.q_id, sh.n_id, q.qe, n.ve AS ne FROM short sh
       |  JOIN q ON q.q_id = sh.q_id JOIN nrm n ON n.vec_id = sh.n_id),
       |rd AS (SELECT q_id, n_id,
       |      list_sum(list_transform(generate_series(1, 64), i -> qe[i] * ne[i])) AS sim
       |  FROM rx),
       |rr AS (SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rnk
       |  FROM rd)
       |SELECT q_id, rnk, n_id, round(sim, 4) AS sim FROM rr WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q186_cluster_silhouette" -> clusterSilhouetteGate,
    "q184_ivfpq_append_serve" -> ivfPqAppendServe,
    "q182_serve_ivfpq_topk" -> serveIvfPqGate,
    "q141_mmr_topk" -> mmrGate,
    "q33_cosine_topk" -> cosineTopK,
    "q94_ann_recall" -> annRecall,
    "q95_pq_codes" -> pqCodes,
    "q97_ivfpq_topk" -> ivfPqTopK,
    "q98_pq_delta_codes" -> pqDeltaCodes,
    "q96_pq_topk" -> pqTopK,
    "q34_cosine_dup_pairs" -> cosineDupPairs,
    "q105_semantic_decontam" -> semanticDecontam,
    "q35_ann_ivf" -> ivfTopK,
    "q56_ivf_assign" -> ivfAssignment,
    "q62_rp_lsh_buckets" -> rpLshBuckets,
    "q63_rp_neardups" -> rpNearDupPairs,
    "q74_embedding_delta" -> embeddingDelta,
    "q77_semantic_dedup" -> semanticDedup,
    "q82_hybrid_search" -> hybridSearch)

  def oracles: Map[String, String] = Map(
    "q186_cluster_silhouette" -> clusterSilhouetteSql,
    "q184_ivfpq_append_serve" -> ivfPqAppendServeSql,
    "q182_serve_ivfpq_topk" -> ivfPqTopKSql,
    "q141_mmr_topk" -> mmrGateSql,
    "q33_cosine_topk" -> cosineTopKSql,
    "q94_ann_recall" -> annRecallSql,
    "q95_pq_codes" -> pqCodesSql,
    "q97_ivfpq_topk" -> ivfPqTopKSql,
    "q98_pq_delta_codes" -> pqDeltaCodesSql,
    "q96_pq_topk" -> pqTopKSql,
    "q35_ann_ivf" -> ivfTopKSql,
    "q34_cosine_dup_pairs" -> cosineDupPairsSql,
    "q105_semantic_decontam" -> semanticDecontamSql,
    "q56_ivf_assign" -> ivfAssignmentSql,
    "q62_rp_lsh_buckets" -> rpLshBucketsSql,
    "q63_rp_neardups" -> rpNearDupPairsSql,
    "q74_embedding_delta" -> embeddingDeltaSql,
    "q77_semantic_dedup" -> semanticDedupSql,
    "q82_hybrid_search" -> hybridSearchSql)
}
