package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.functions.VectorExpressions.{cosine, dot, l2norm, squaredL2}

/** Similarity search over embedding columns (north star): brute-force
  * cosine top-k as the exact baseline, IVF (inverted-file) as the
  * scale path.
  *
  * Vector math uses the codegen'd DotProduct expression
  * (graft.functions.VectorExpressions) — a tight primitive loop inside
  * WholeStageCodegen; float elements are double-promoted before
  * accumulation so results match the DuckDB oracle's explicit double
  * formulation at 4+ decimals.
  *
  * Scale: brute force is one broadcast of the query set and a single
  * linear scan of the corpus (embarrassingly parallel, no shuffle
  * before the per-query top-k). IVF cuts the scanned fraction to
  * ~nProbe/nClusters: centroid assignment is a map-only pass against
  * broadcast centroids; at 100 TB the corpus would be written bucketed
  * by cluster_id so probes prune files.
  */
object Similarity {

  /** Attach the L2 norm (single codegen'd pass). */
  def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol), l2norm(col(vecCol)).as("norm"))

  /** Exact cosine top-k: for each query vector, the k nearest others
    * ranked by similarity (ties → lower id first). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val q = n.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"), col("norm").as("qn"))
    val c = n.select(col(idCol).as("n_id"), col(vecCol).as("cv"), col("norm").as("cn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 4).as("sim"))
  }

  /** Deterministic seed centroids (every `seedStep`-th vector) with
    * norms — the frame a production deployment PERSISTS as the IVF
    * index definition (assignments derive from it; re-deriving
    * centroids from a grown corpus would re-cluster everything). */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
      seedStep: Int): DataFrame =
    withNorm(emb, idCol, vecCol).filter(col(idCol) % seedStep === 0)
      .select(col(idCol).as("c_id"), col(vecCol).as("cv"), col("norm").as("cn"))

  /** Assignment against PROVIDED centroids — the incremental form: new
    * vectors join the standing index without touching (or moving) the
    * corpus that built it. Map-only against the broadcast centroid
    * frame.
    *
    * Round-16 shape (guide §2.4 — remove shuffles outright): the
    * previous form exploded a corpus × centroids grid (each row
    * carrying the FULL corpus vector) and ranked it with a
    * row_number window partitioned by id — an Exchange + Sort of
    * nClusters× the corpus payload, per assignment. The centroid set
    * is model-sized by construction, so the top-nAssign selection now
    * runs PER ROW against ONE broadcast array of (c_id, cv, cn)
    * structs: transform computes each centroid's cosine (the same
    * codegen'd DotProduct expression — interpreted under the HOF it
    * yields bit-identical doubles), and
    * `reverse(array_sort(struct(csim, −c_id)))` reproduces the window
    * ordering EXACTLY — (csim desc, c_id asc) with NaN first and
    * +0.0 before −0.0, matching row_number over (csim.desc, c_id) —
    * before slicing nAssign winners. Zero exchanges: the only join is
    * a single-row broadcast (the model), and the corpus never moves.
    * Output rows and values are identical (q56's oracle gates the
    * assignment values; q35/q74/q77/q97/q182/q184 compose it). */
  def ivfAssignTo(emb: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, nAssign: Int = 1): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val carr = centroids.agg(
      collect_list(struct(col("c_id"), col("cv"), col("cn"))).as("_cents"))
    n.crossJoin(broadcast(carr))
      .select(col(idCol), col(vecCol), col("norm"),
        explode(slice(reverse(array_sort(transform(col("_cents"), c =>
          struct(
            cosine(col(vecCol), c.getField("cv"), col("norm"),
              c.getField("cn")).as("csim"),
            (-c.getField("c_id")).as("_negid"),
            c.getField("c_id").as("c_id"))))), 1, nAssign)).as("_t"))
      .select(col(idCol), col("_t.c_id").as("cluster_id"), col(vecCol), col("norm"))
  }

  /** IVF index: deterministic seed centroids (every `seedStep`-th
    * vector), each vector assigned to its `nAssign` max-cosine
    * centroids (multi-assignment trades nAssign× index size for
    * recall on boundary vectors — nAssign=1 is the classic index). */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String, seedStep: Int,
      nAssign: Int = 1): DataFrame =
    ivfAssignTo(emb, ivfCentroids(emb, idCol, vecCol, seedStep),
      idCol, vecCol, nAssign)

  /** Centroid-based (simplified) silhouette per cluster — the
    * clustering-QA pass run BEFORE trusting an IVF index: per vector,
    * a = cosine distance to its assigned (nearest) centroid and b =
    * distance to the second-nearest, giving the assignment-margin
    * silhouette s = (b−a)/max(a,b) = (cos1−cos2)/(1−cos2) — always in
    * [0,1] under argmax assignment (the full-pairwise silhouette's
    * negative branch can't occur when "own cluster" IS the nearest
    * centroid; what this audits is routing confidence: clusters whose
    * members sit near a Voronoi boundary score ~0 and are where
    * nProbe=1 recall dies first — q94's recall report tells you the
    * effect, this tells you WHERE).
    *
    * Determinism: ranking reuses q56's raw-double cosine argmax
    * (c_id tie-break); the two ranked cosines are 1e-4 fixed-pointed
    * per row BEFORE the margin division, which is then exact-integer
    * ((c1−c2)·1e6 div (1e4−c2), guarded 0 when c2 = 1e4), so no
    * aggregate rides on float order. Scale: centroids broadcast; the
    * grid is map-side; the only shuffles are the per-vector top-2
    * window and the cluster-bounded close — same plan family as the
    * gated q56 assignment itself. */
  def clusterSilhouette(emb: DataFrame, idCol: String, vecCol: String,
      seedStep: Int): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, seedStep)
    val n = withNorm(emb, idCol, vecCol)
    val w = Window.partitionBy(col(idCol)).orderBy(col("csim").desc, col("c_id"))
    val per = n.join(broadcast(cents))
      .withColumn("csim", cosine(col(vecCol), col("cv"), col("norm"), col("cn")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 2)
      .groupBy(col(idCol))
      .agg(
        max(when(col("r") === 1, col("c_id"))).as("cluster_id"),
        max(when(col("r") === 1, round(col("csim") * 1e4).cast("long"))).as("c1"),
        max(when(col("r") === 2, round(col("csim") * 1e4).cast("long"))).as("c2"))
    per
      // c2 is NULL when seeding yields a single centroid (no second-
      // nearest exists): that is maximal routing confidence, not an
      // undefined margin — score 1e6, don't let the null fall through
      // the >= guard into a null silhouette (round-11, ADVICE r10 #5)
      .withColumn("sil_fx", when(col("c2").isNull, lit(1000000L))
        .when(col("c2") >= 10000L, lit(0L))
        .otherwise(expr("((c1 - c2) * 1000000) div (10000 - c2)")))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(sil_fx) div count(1)").as("avg_sil_fx"),
        min(col("sil_fx")).as("min_sil_fx"),
        max(col("sil_fx")).as("max_sil_fx"))
  }

  /** Incremental embedding near-dup — the embedding-space twin of
    * `Dedup.deltaDedupStatus`: classify a NEW batch of vectors against
    * a standing corpus whose IVF index (centroids from the base's
    * seeding) already exists. Candidates are pairs sharing an IVF
    * cluster (both sides assigned to the BASE's centroids — the base
    * assignment is the persisted index table in production, re-derived
    * here for the gate); exact cosine ≥ `minSim` verifies. Every delta
    * vector is classified `dup_of_base` (verified match to a base
    * vector — base wins), else `dup_in_delta` (non-canonical member of
    * a within-delta component over ALL verified delta pairs), else
    * `kept` — same precedence contract as the text-side operator. */
  def embeddingDeltaStatus(base: DataFrame, delta: DataFrame, idCol: String,
      vecCol: String, minSim: Double, seedStep: Int,
      nAssign: Int = 2): DataFrame = {
    val cents = ivfCentroids(base, idCol, vecCol, seedStep)
    val ab = ivfAssignTo(base, cents, idCol, vecCol, nAssign)
      .select(col("cluster_id"), col(idCol).as("id_b"),
        col(vecCol).as("vb"), col("norm").as("nb"))
    val ad = ivfAssignTo(delta, cents, idCol, vecCol, nAssign)
      .select(col("cluster_id"), col(idCol).as("id_d"),
        col(vecCol).as("vd"), col("norm").as("nd"))
    // shuffle-hash hints: the join key is cluster_id — a handful of
    // distinct values — so a sort-merge join's per-partition sort buys
    // nothing; hash lookup on the small side is strictly cheaper.
    // (Within-cluster pair explosion is the IVF trade itself, same as
    // cosineDupPairsIVF.)
    val dupOfBase = ad.join(ab.hint("shuffle_hash"), Seq("cluster_id"))
      .filter(cosine(col("vd"), col("vb"), col("nd"), col("nb")) >= minSim)
      .select(col("id_d")).distinct()
    val withinPairs = ad.select(col("cluster_id"), col("id_d").as("id_a"),
        col("vd").as("va"), col("nd").as("na"))
      .join(ad.select(col("cluster_id"), col("id_d").as("id_b"),
        col("vd").as("vb"), col("nd").as("nb")).hint("shuffle_hash"), Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb"), col("na"), col("nb")) >= minSim)
      .select(col("id_a"), col("id_b")).distinct()
    val losers = Dedup.connectedComponents(withinPairs)
      .filter(col("comp") =!= col("id")).select(col("id"))
    delta.select(col(idCol))
      .join(broadcast(dupOfBase.select(col("id_d").as(idCol), lit(1).as("_mb"))),
        Seq(idCol), "left")
      .join(broadcast(losers.select(col("id").as(idCol), lit(1).as("_ml"))),
        Seq(idCol), "left")
      .select(col(idCol),
        when(col("_mb") === 1, lit("dup_of_base"))
          .when(col("_ml") === 1, lit("dup_in_delta"))
          .otherwise(lit("kept")).as("status"))
  }

  /** IVF approximate top-k: probe the nProbe nearest clusters per
    * query, exact rank within them. `nAssign` > 1 multi-assigns each
    * corpus vector to its nAssign nearest clusters (the standard
    * boundary-recall lever: a true neighbor just across a Voronoi
    * edge is still found through its second assignment, at nAssign×
    * index size and unchanged probe cost). */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, seedStep: Int, nProbe: Int,
      nAssign: Int = 1): DataFrame = {
    val assigned = ivfAssign(emb, idCol, vecCol, seedStep, nAssign)
    val cents = assigned.filter(col(idCol) === col("cluster_id"))
      .select(col("cluster_id").as("c_id"), col(vecCol).as("cv"), col("norm").as("cn"))
    val q = withNorm(emb, idCol, vecCol).filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"), col("norm").as("qn"))
    val wp = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("c_id"))
    val probes = broadcast(q).join(broadcast(cents))
      .withColumn("csim", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("r", row_number().over(wp))
      .filter(col("r") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id").as("cluster_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val scored = broadcast(probes)
      .join(assigned.withColumnRenamed(idCol, "n_id"), "cluster_id")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("qv"), col(vecCol), col("qn"), col("norm")))
    // Multi-assignment can surface the same neighbor through two
    // probed clusters — dedup (q, n) before ranking or it would
    // occupy two top-k slots.
    (if (nAssign > 1) scored.dropDuplicates("q_id", "n_id") else scored)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 4).as("sim"))
  }

  /** Embedding near-dup pairs: all pairs with cosine ≥ threshold
    * (the embedding-space analogue of Dedup.jaccardPairs). Quadratic
    * by construction — the exact baseline; the scale path is
    * `cosineDupPairsIVF`. */
  def cosineDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      minSim: Double): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val a = n.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("norm").as("na"))
    val b = n.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("norm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Scale path for embedding near-dup: pair only vectors sharing an
    * IVF cluster — the pair join becomes an equi-join on cluster_id
    * (shuffle-partitioned, quadratic only within a cluster). High-
    * similarity pairs co-cluster overwhelmingly; recall vs the exact
    * baseline is asserted in DedupSimilaritySpec. */
  def cosineDupPairsIVF(emb: DataFrame, idCol: String, vecCol: String,
      minSim: Double, seedStep: Int, nAssign: Int = 2): DataFrame = {
    val assigned = ivfAssign(emb, idCol, vecCol, seedStep, nAssign)
    val a = assigned.select(col("cluster_id"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("norm").as("na"))
    val b = assigned.select(col("cluster_id"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("norm").as("nb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .distinct()
  }

  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    * collapse embedding-space near-duplicates to one canonical
    * representative — cluster via IVF assignment (broadcast seeded
    * centroids, map-only), pair only within clusters (the quadratic
    * stays inside a cluster, exactly `cosineDupPairsIVF`), verified
    * pairs → connected components → every vector mapped to its
    * component's min id. Survivors are the rows where the two columns
    * agree, so this one table certifies components AND the survivor
    * set — the embedding-space twin of `Dedup.canonicalMap` over
    * MinHash pairs (q55). At 100 TB the corpus is written bucketed by
    * cluster_id, so the pair join is co-located and the collapse is
    * one broadcast of the (tiny) component map. */
  def semanticCanonical(emb: DataFrame, idCol: String, vecCol: String,
      minSim: Double, seedStep: Int, nAssign: Int = 2): DataFrame =
    Dedup.canonicalMap(emb, idCol,
      cosineDupPairsIVF(emb, idCol, vecCol, minSim, seedStep, nAssign))

  /** Semantic (embedding-space) benchmark decontamination — the third
    * member of the decontamination trio: verbatim n-gram (q64,
    * `TextAnalysis.decontaminate`), fuzzy n-gram overlap (q86,
    * `CurationOps.fuzzyContamination`), and this — paraphrase /
    * translation leaks that share no surface n-grams but embed next
    * to an eval item. Returns every (corpus id, bench_id, sim) pair
    * with cosine ≥ `minSim`.
    *
    * Scale shape: the benchmark is eval-set-sized (thousands of
    * items, not corpus-sized) → ONE broadcast; the corpus embedding
    * scan is map-only (cosine per broadcast row, no shuffle of corpus
    * vectors) and the output is leak-sized. At 100 TB the corpus side
    * reads the standing `embeddings` table once; nothing corpus-sized
    * ever moves. */
  def semanticContamination(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, minSim: Double): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol)
      .select(col(idCol), col(vecCol).as("_cv"), col("norm").as("_cn"))
    val b = withNorm(benchmark, idCol, vecCol)
      .select(col(idCol).as("bench_id"), col(vecCol).as("_bv"), col("norm").as("_bn"))
    c.crossJoin(broadcast(b))
      .withColumn("sim", cosine(col("_cv"), col("_bv"), col("_cn"), col("_bn")))
      .filter(col("sim") >= minSim)
      .select(col(idCol), col("bench_id"), round(col("sim"), 4).as("sim"))
  }

  /** Drop every corpus row semantically contaminated against the
    * benchmark (max cosine over eval items ≥ `minSim`). The flagged-id
    * set is leak-sized → broadcast anti-join; corpus rows never
    * shuffle. */
  def dropSemanticContaminated(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, minSim: Double): DataFrame =
    corpus.join(
      broadcast(semanticContamination(corpus, benchmark, idCol, vecCol, minSim)
        .select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Streaming-composable semantic decontamination: drops every row
    * the batch `dropSemanticContaminated` would drop, but the per-row
    * test runs MAP-SIDE against the eval set carried as ONE broadcast
    * array of (vector, norm) structs — the flag-then-anti-join shape
    * of the batch form is illegal on a streaming frame (the
    * `fuzzyDecontamStreaming` constraint and pattern). Per-row cost
    * is |bench| dot products; eval sets are tiny by definition.
    * Survivor set spec'd identical to the batch form
    * (CorpusStreamSpec). */
  def dropSemanticContaminatedStreaming(stream: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, minSim: Double): DataFrame = {
    val bench = withNorm(benchmark, idCol, vecCol)
      .agg(collect_list(struct(col(vecCol).as("bv"), col("norm").as("bn")))
        .as("_bench_vecs"))
    stream.crossJoin(broadcast(bench))
      .withColumn("_n", l2norm(col(vecCol)))
      .filter(!exists(col("_bench_vecs"), b =>
        dot(col(vecCol), b.getField("bv")) / (col("_n") * b.getField("bn"))
          >= lit(minSim)))
      .drop("_bench_vecs", "_n")
  }

  /** Dense rerank for hybrid retrieval (the standard RAG shape:
    * lexical recall → dense precision): rerank an already-small
    * candidate frame by cosine against one query vector. The
    * candidate set is top-k output (≤ hundreds), so the embedding
    * join is candidate-sized — broadcast the candidates into the
    * embedding scan and nothing corpus-sized moves; the query vector
    * is a broadcast single row. Ranks on the raw double cosine
    * (same cross-engine-stable accumulation as `bruteForceTopK`). */
  def cosineRerank(candidates: DataFrame, candIdCol: String,
      emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val q = n.filter(col(idCol) === queryId)
      .select(col(vecCol).as("_qv"), col("norm").as("_qn"))
    broadcast(candidates)
      .join(n.withColumnRenamed(idCol, candIdCol), Seq(candIdCol))
      .crossJoin(broadcast(q))
      .withColumn("_cos", cosine(col(vecCol), col("_qv"), col("norm"), col("_qn")))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("_cos").desc, col(candIdCol))))
      .filter(col("rank") <= k)
      .select(col("rank") +: col(candIdCol) +:
        candidates.columns.filterNot(_ == candIdCol).map(col) :+
        round(col("_cos"), 4).as("cos"): _*)
  }

  /** Deterministic ±1 hyperplane matrix for random-projection LSH:
    * sign(i, j) = +1 iff the first hex digit of md5("i|j") ≥ '8'.
    * Reproducible from the formula alone, so the DuckDB oracle inlines
    * the SAME values as list literals (`rpSignsSql`). */
  def rpSignMatrix(nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (i, j) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i|$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) >= 8) 1.0 else -1.0
    }

  /** The sign matrix as DuckDB list literals, row i = plane i. */
  def rpSignsSql(nBits: Int, dim: Int): Seq[String] =
    rpSignMatrix(nBits, dim).toSeq.map(_.map(v =>
      if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]"))

  /** Random-hyperplane SimHash over embeddings (Charikar cosine LSH —
    * the third ANN path next to brute force and IVF): bit i =
    * sign(v · h_i) with h_i the deterministic ±1 planes above.
    * P(bit match) = 1 − θ/π, so near-identical vectors collide on
    * whole bands with high probability while the hash is one map-side
    * pass (nBits codegen'd DotProducts per row, no shuffle). The dot
    * is rounded to 6dp before the sign so both engines' float32→double
    * summation order can never flip a bit. */
  def rpSimhash(emb: DataFrame, idCol: String, vecCol: String,
      nBits: Int = 16, dim: Int = 64): DataFrame = {
    val signs = rpSignMatrix(nBits, dim)
    val bits = signs.toSeq.map { s =>
      when(round(graft.functions.VectorExpressions.dot(col(vecCol), typedlit(s.toSeq)), 6) > 0, "1")
        .otherwise("0")
    }
    emb.select(col(idCol), concat(bits: _*).as("rp_hash"))
  }

  /** LSH near-dup pairs over embeddings: band the rp hash (nBands
    * bands), candidates = vectors sharing any band bucket, verified by
    * exact cosine ≥ minSim.
    *
    * Salted like Dedup.simhashNearDups: a 4-bit band key space is only
    * 16 buckets, so every bucket holds ~N/16 vectors and the
    * self-join's per-key cross-product would otherwise run inside
    * single tasks (within-key skew AQE can't split). Replicate left ×
    * salt, hash right into sub-buckets — pair set unchanged. At corpus
    * scale also widen the bands (more hash tables of more bits) to
    * match the target similarity. */
  def rpNearDups(emb: DataFrame, idCol: String, vecCol: String,
      minSim: Double, nBits: Int = 16, nBands: Int = 4, dim: Int = 64,
      salt: Int = 16): DataFrame = {
    val bandBits = nBits / nBands
    val h = rpSimhash(withNorm(emb, idCol, vecCol)
        .select(col(idCol), col(vecCol), col("norm")), idCol, vecCol, nBits, dim)
    val withVec = h.join(withNorm(emb, idCol, vecCol), Seq(idCol))
    val bands = withVec.crossJoin(
        emb.sparkSession.range(nBands).select(col("id").cast("int").as("b")).hint("broadcast"))
      .select(col(idCol), col(vecCol), col("norm"),
        expr(s"substring(rp_hash, b * $bandBits + 1, $bandBits)").as("key"), col("b"))
    val x = bands.withColumn("_s", explode(array((0 until salt).map(lit): _*)))
    // shuffle_hash: SMJ would SORT rows carrying the 64-float vectors
    // on both sides; a per-partition hash build skips that entirely.
    val y = bands.withColumn("_s", pmod(xxhash64(col(idCol)), lit(salt)).cast("int"))
      .hint("shuffle_hash")
    x.as("x").join(y.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key") &&
          col("x._s") === col("y._s") && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        cosine(col(s"x.$vecCol"), col(s"y.$vecCol"),
          col("x.norm"), col("y.norm")).as("sim"))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      .distinct()
  }
  /** Encode vectors against a STANDING PQ model — the incremental
    * form, the PQ twin of `deltaDedupStatus`/`embeddingDeltaStatus`:
    * a recurring-crawl pipeline trains codebooks once, persists them,
    * and encodes each delta map-side against their broadcast — no
    * retraining, and the standing corpus is never touched. Returns
    * (id, s, code), append-ready onto the standing codes table.
    *
    * The subspace width comes from the MODEL (size of its centroid
    * sub-vectors), not from scanning the delta — so an EMPTY delta (a
    * crawl with nothing new, realistic for the recurring pipeline this
    * targets) yields an empty codes frame instead of throwing on
    * `.first()` (round-6 ADVICE). Delta vectors of the wrong
    * dimensionality are a caller error, as with any standing index.
    * The width is read once as a Scala Int because `subVectors` cuts
    * the m slices from the embedding frame BEFORE it meets the
    * codebooks; as an expression it would first need the model's
    * width joined onto every vector row. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int = 8): DataFrame = {
    val subDim = codebooks.select(size(col("cw"))).first().getInt(0)
    assignCodes(subVectors(normalized(emb, idCol, vecCol), m, subDim), codebooks)
  }

  /** Streaming-composable PQ encode against a STANDING model — the
    * continuous-ingest twin of `pqEncode` (the map-side analog of
    * `decontaminateStreaming`/`fuzzyDecontamStreaming`): the batch
    * form's argmin is a join + groupBy, illegal on a streaming frame,
    * so the codebooks are carried as ONE broadcast array of
    * (s, code, cw) structs and each row computes its per-subspace
    * argmin with an `aggregate` HOF over the same packed
    * (d2i << 31 | code) minimum the batch form uses — so codes are
    * IDENTICAL to `pqEncode` at the same model (spec-pinned).
    * Per-row cost is m × k interpreted squared-L2 evals (HOFs don't
    * codegen): right for micro-batch ingest; bulk re-encodes should
    * use the batch `pqEncode`. */
  def pqEncodeStreaming(emb: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    val cb = codebooks.agg(
      collect_list(struct(col("s"), col("code"), col("cw"))).as("_cb"))
    normalized(emb, idCol, vecCol)
      .crossJoin(broadcast(cb))
      .select(col("id"), explode(
        // the subspace ids and their width are read from the broadcast
        // model itself, so no side job runs on the codebooks; a
        // subspace with no finite distance keeps the Long.MaxValue seed
        // and is filtered out rather than emitting a fabricated code
        filter(
          transform(array_sort(array_distinct(
              transform(col("_cb"), e => e.getField("s").cast("int")))), s =>
            struct(s.as("s"),
              aggregate(
                filter(col("_cb"), e => e.getField("s") === s),
                lit(Long.MaxValue),
                (acc, e) => {
                  val subDim = size(e.getField("cw"))
                  least(acc,
                    round(squaredL2(slice(col("ve"), s * subDim + 1, subDim),
                      e.getField("cw")) * 1e6).cast("long") * Pack
                      + e.getField("code"))
                }).as("p"))),
          sc => sc.getField("p") =!= Long.MaxValue)).as("_sc"))
      .select(col("id"), col("_sc.s").as("s"),
        (col("_sc.p") % Pack).as("code"))
  }

  /** IVF-PQ (IVFADC — the composed serving architecture): the IVF
    * router (q35's certified construction) selects each query's probe
    * clusters and thus its candidate set; the PQ codes table scores
    * ONLY those candidates with integer asymmetric distance; exact
    * cosine reranks the shortlist. At corpus scale this is the ANN
    * architecture that actually serves: the router prunes the corpus
    * to ~nProbe/nClusters, the scan reads m-byte codes instead of raw
    * vectors (32× less memory traffic), and raw vectors are fetched
    * for `shortlist` ids per query. Recall ceiling is the router's —
    * the gate operating point hits it exactly (0.92@5, = q35's own
    * recall vs brute force). */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, seedStepIvf: Int = 37, nProbe: Int = 8,
      nAssign: Int = 2, m: Int = 8, seedStepPq: Int = 7,
      shortlist: Int = 100): DataFrame = {
    // Router: probe selection + candidate ids (the ivfTopK front half).
    // The assignment grid (corpus × centroids cosine ranking) feeds
    // both the centroid frame and the candidate join — persist it or
    // the subtree plans twice.
    val assigned = ivfAssign(emb, idCol, vecCol, seedStepIvf, nAssign).persist()
    val cents = assigned.filter(col(idCol) === col("cluster_id"))
      .select(col("cluster_id").as("c_id"), col(vecCol).as("cv"), col("norm").as("cn"))
    val qv = withNorm(emb, idCol, vecCol).filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"), col("norm").as("qn"))
    val wp = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("c_id"))
    val probes = broadcast(qv).join(broadcast(cents))
      .withColumn("csim", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("r", row_number().over(wp))
      .filter(col("r") <= nProbe)
      .select(col("q_id"), col("c_id").as("cluster_id"))
    val cand = probes
      .join(assigned.select(col("cluster_id"), col(idCol).as("n_id")), "cluster_id")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()
    // Compressed scan: ADC restricted to the candidate set. The
    // candidate frame is (queries × probed fraction)-sized and prunes
    // the codes scan via its join — at production scale this is the
    // per-query file-pruned read of a cluster-bucketed codes table.
    val dim = emb.select(size(col(vecCol))).first().getInt(0)
    val (cb, codes) = pqModel(emb, idCol, vecCol, m, seedStepPq, dim)
    val nrm = normalized(emb, idCol, vecCol).persist()
    val q = nrm.filter(queryPred).select(col("id").as("q_id"), col("ve").as("qe"))
    val tab = q.crossJoin(broadcast(cb))
      .select(col("q_id"), col("s"), col("code"),
        d2i(slice(col("qe"), col("s") * (dim / m) + 1, lit(dim / m)), col("cw")).as("d2i"))
    val candCodes = codes
      .join(broadcast(cand.select(col("q_id"), col("n_id").as("id"))), Seq("id"))
    val scored = candCodes.join(broadcast(tab), Seq("q_id", "s", "code"))
      .groupBy(col("q_id"), col("id")).agg(sum(col("d2i")).as("ad2i"))
    val short = scored
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ad2i"), col("id"))))
      .filter(col("srk") <= shortlist)
      .select(col("q_id"), col("id").as("n_id"))
    val rr = short
      .join(q, Seq("q_id"))
      .join(nrm.select(col("id").as("n_id"), col("ve").as("ne")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), dot(col("qe"), col("ne")).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("q_id"), col("rnk"))
    val out = rr.localCheckpoint()
    nrm.unpersist()
    assigned.unpersist()
    out
  }

  /** Recall@k report between two (q_id, n_id) retrieval results — the
    * observability operator every ANN deployment runs on a sampled
    * query set (exact side on the sample only, approximate side from
    * the production index). Counts and the recall ratio are exact
    * integers / a ratio of exact integers, so the report is
    * hash-stable. Both inputs are k·|queries|-sized: everything here
    * is sample-sized, nothing corpus-sized moves. Inputs are deduped
    * on (q_id, n_id) first, so a frame carrying a neighbor twice
    * (e.g. the union of two retrieval runs) can neither double-count
    * a hit nor push recall past 1.0. The denominator is the PER-QUERY
    * exact count, not a fixed k — so a query with fewer than k exact
    * neighbors (tiny corpus, filtered sample) still reads 1.0 when the
    * approximate side found everything there was to find (round-6
    * ADVICE). */
  def recallReport(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("q_id"), col("n_id")).dropDuplicates("q_id", "n_id")
      .join(broadcast(approx.select(col("q_id"), col("n_id"), lit(1L).as("_hit"))
          .dropDuplicates("q_id", "n_id")),
        Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hits"),
        count(lit(1L)).as("_n_exact"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits") / col("_n_exact"), 4).as("recall"))

  // ------------------------------------------------------------------ PQ (4th ANN family)

  /** Fixed-point squared L2: 1e-6 BIGINT off the codegen'd SquaredL2
    * expression (ascending-index double accumulation — the same order
    * as DuckDB's list_sum mirror, so the cast hash-matches). The HOF
    * form (aggregate over zip_with) evaluated interpreted, and an
    * unrolled element_at chain fell out of whole-stage codegen too —
    * both made the O(n·k) encode grid ~25× slower than this kernel
    * (bench: q95 28s → 2s). Fixed-point integer comparisons/sums
    * downstream are the q81/q88 determinism trick. */
  private def d2i(a: Column, b: Column): Column =
    round(squaredL2(a, b) * 1e6).cast("long")

  private[ops] def normalized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    // Precompute the norm OUTSIDE the transform lambda: a lambda body
    // that captures an aggregate-over-the-array subexpression
    // re-evaluates it per element (the dup3Frac pitfall — measured
    // 64× redundant work per vector here).
    emb.select(col(idCol).as("id"), col(vecCol).as("_v"),
        l2norm(col(vecCol)).as("_n"))
      .select(col("id"), transform(col("_v"), x => x.cast("double") / col("_n")).as("ve"))

  private def subVectors(nrm: DataFrame, m: Int, subDim: Int): DataFrame =
    nrm.select(col("id"), posexplode(
        array((0 until m).map(s => slice(col("ve"), s * subDim + 1, subDim)): _*)))
      .toDF("id", "s", "sv")

  // argmin via a PACKED long: (d2i << 31) | code is lexicographic in
  // (d2i, code) — min(struct) would force SortAggregate (struct
  // buffers aren't hash-aggregable), sorting the whole n·k distance
  // grid; a primitive long min stays in HashAggregate with map-side
  // partials. Bounds: d2i ≤ 32e6 (normalized subvectors) << 2^31;
  // codes are seed vector ids, required < 2^31.
  private val Pack = 1L << 31

  private def assignCodes(sub: DataFrame, codebooks: DataFrame): DataFrame =
    sub.join(broadcast(codebooks), Seq("s"))
      .select(col("id"), col("s"),
        (d2i(col("sv"), col("cw")) * Pack + col("code")).as("_p"))
      .groupBy(col("id"), col("s"))
      .agg(min(col("_p")).as("_p"))
      .select(col("id"), col("s"), (col("_p") % Pack).as("code"))

  /** Product-quantization model (Jégou et al., TPAMI 2011): vectors
    * L2-normalized (so ADC's L2 order equals cosine order), split into
    * `m` subspaces; per-subspace codebooks seeded from the
    * vec_id % seedStep vectors and refined by ONE Lloyd step whose
    * centroid means are fixed-point integer sums divided by exact
    * counts — deterministic under any partition order, so the trained
    * codebooks (and everything downstream) hash-match the DuckDB
    * mirror. Returns (codebooks(s, code, cw), codes(id, s, code)).
    *
    * 100 TB shape: codebooks are tiny and broadcast everywhere; the
    * codes table is m bytes-ish per vector (m=8 codes vs 64 floats =
    * 32× memory compression) — the index a billion-vector corpus can
    * actually hold per executor. Encode = one corpus scan per Lloyd
    * pass + one for final codes. */
  def pqModel(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, seedStep: Int = 7): (DataFrame, DataFrame) =
    pqModel(emb, idCol, vecCol, m, seedStep,
      emb.select(size(col(vecCol))).first().getInt(0))

  /** pqModel with the vector width supplied by the caller — skips the
    * probe job when the caller already knows `dim` (ivfPqTopK and the
    * index writer probe it once and share; round-16, guide §1.2 —
    * don't pay a scheduling round for a constant). */
  private[ops] def pqModel(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, seedStep: Int, dim: Int): (DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val nrm = normalized(emb, idCol, vecCol)
    // The two n·k assignment grids below evaluate the codegen'd
    // distance ON sub's partitions (broadcast-hash join on s) — a
    // single-file embeddings scan leaves sub at 1 partition and the
    // grids on ONE task (round 17, per-job timing: 2×1.7 s of a 4.3 s warm
    // q95). Guide §2.5: unsplittable input → spread right after the
    // read. Scale-adaptive: only widens BELOW core count (at real
    // scale the scan already has more partitions than cores, so this
    // is a no-op); values are unaffected — everything downstream is
    // keyed fixed-point min/sum aggregation.
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val sub0 = subVectors(nrm, m, subDim)
    val sub = (if (sub0.rdd.getNumPartitions < par) sub0.repartition(par)
      else sub0).persist()
    val cb0 = sub.filter(col("id") % seedStep === 0)
      .select(col("s"), col("id").as("code"), col("sv").as("cw"))
    val e0 = assignCodes(sub, cb0)
    // Lloyd step: per-(s, code, component) fixed-point mean.
    // (Round-16 note: a draft carried sv THROUGH the argmin aggregate
    // via first(sv) to drop this join-back — but an ArrayType column
    // in the aggregation buffer knocks the n·k grid aggregate out of
    // HashAggregate into object/sort-based aggregation, and the PQ
    // family measured 25–60% SLOWER. The (id, s)-keyed join of two
    // already-co-partitioned frames is the cheaper shape at every
    // scale; reverted deliberately — see OPTIMIZATION_r16.md.)
    val comp = e0.join(sub, Seq("id", "s"))
      .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy(col("s"), col("code"), col("i"))
      .agg(sum(round(col("x") * 1e6).cast("long")).as("xi"), count(lit(1)).as("n"))
      .select(col("s"), col("code"), col("i"),
        (col("xi").cast("double") / (col("n") * lit(1e6))).as("c"))
    // Checkpoint the trained codebooks BEFORE the final encode
    // consumes them — otherwise the Lloyd chain evaluates twice (once
    // inside the codes broadcast, once for the codebook return).
    val cb1 = comp.groupBy(col("s"), col("code"))
      .agg(sort_array(collect_list(struct(col("i"), col("c")))).as("ics"))
    val cb1ck = cb1.select(col("s"), col("code"),
      transform(col("ics"), ic => ic.getField("c")).as("cw")).localCheckpoint()
    val codes = assignCodes(sub, cb1ck).localCheckpoint()
    sub.unpersist()
    (cb1ck, codes)
  }

  // ---------------------------------------------------- persisted IVF-PQ index

  /** The declared schema of each IVF-PQ index table; `cluster_id` is the
    * hive partition column of `codes/` and `vectors/`. Every index write
    * conforms its output to these types and every read names them, so
    * no path pays a schema-inference job (one per `spark.read.parquet`
    * of an undeclared table), the partition column reads as BIGINT with
    * no cast, and a file whose column types disagree fails the read
    * instead of returning nulls. Centroids and codebooks are stored as
    * double whatever the embedding's element type: float to double is
    * exact, and the vector kernels promote to double anyway. */
  private val IvfPqSchema: Map[String, StructType] = Map(
    "centroids" -> StructType.fromDDL("c_id BIGINT, cv ARRAY<DOUBLE>, cn DOUBLE"),
    "codebooks" -> StructType.fromDDL("s INT, code BIGINT, cw ARRAY<DOUBLE>"),
    "codes" -> StructType.fromDDL("id BIGINT, s INT, code BIGINT, cluster_id BIGINT"),
    "vectors" -> StructType.fromDDL("id BIGINT, ve ARRAY<DOUBLE>, cluster_id BIGINT"))

  private def readIndexTable(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.schema(IvfPqSchema(table)).parquet(s"$dir/$table")

  /** Write one IVF-PQ index table in its declared schema; `codes/` and
    * `vectors/` are clustered on the hive key first: without it every
    * task writes a sliver into every cluster dir — up to tasks ×
    * clusters tiny files, the small-file explosion that kills a 100 TB
    * index (and measurably slows this write). With it, each cluster's
    * rows land in one task → one right-sized file per cluster (at real
    * scale Spark splits oversized tasks by maxRecordsPerFile, keeping
    * files bounded both ways). */
  private def writeIndexTable(df: DataFrame, dir: String, table: String,
      mode: String): Unit = {
    val out = df.select(IvfPqSchema(table).fields.map(f => col(f.name).cast(f.dataType)): _*)
    if (out.columns.contains("cluster_id"))
      out.repartition(col("cluster_id"))
        .write.mode(mode).partitionBy("cluster_id").parquet(s"$dir/$table")
    else out.write.mode(mode).parquet(s"$dir/$table")
  }

  /** Materialize the IVF-PQ serving index as a TABLE LAYOUT — the
    * 100 TB shape the in-memory `ivfPqTopK` describes: `codes/` and
    * `vectors/` are hive-partitioned by `cluster_id`, so a query
    * batch's probed clusters become PARTITION PRUNING on both reads
    * (`PartitionFilters` in the scan — asserted in
    * DedupSimilaritySpec); `centroids/` and `codebooks/` are the tiny
    * broadcast-side tables. Multi-assignment replicates a vector's
    * rows into each of its `nAssign` clusters (the standard IVF
    * trade: nAssign× index size for boundary recall). Vectors are
    * stored L2-NORMALIZED (`ve`) — the form rerank consumes. */
  def writeIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      outDir: String, seedStepIvf: Int = 37, nAssign: Int = 2,
      m: Int = 8, seedStepPq: Int = 7): Unit = {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val assigned = ivfAssign(emb, idCol, vecCol, seedStepIvf, nAssign).persist()
    try {
      val clusters = assigned.select(col(idCol).as("id"), col("cluster_id"))
      // Independent jobs OVERLAP (guide §2.6: actions are only sequential
      // because the driver calls them sequentially): the centroids write
      // and the PQ training touch disjoint inputs, as do the three table
      // writes after it — later jobs' tasks back-fill executors freed by
      // the current job's tail instead of idling behind it. Output bytes
      // are identical to the sequential form; only the wall clock
      // changes. Failure contract (round-17 ADVICE): every in-flight
      // write is awaited before a failure propagates (Par.awaitAll), and
      // the cache is released in the finally.
      val centroidsW = Future {
        writeIndexTable(assigned.filter(col(idCol) === col("cluster_id"))
          .select(col("cluster_id").as("c_id"), col(vecCol).as("cv"), col("norm").as("cn")),
          outDir, "centroids", "overwrite")
      }
      // a pqModel failure must still await the in-flight centroids
      // write before surfacing, so nothing mutates outDir post-throw
      val model = scala.util.Try(pqModel(emb, idCol, vecCol, m, seedStepPq))
      Par.awaitAll(Seq(centroidsW))
      val (cb, codes) = model.get
      Par.awaitAll(Seq(
        Future { writeIndexTable(cb, outDir, "codebooks", "overwrite") },
        Future {
          writeIndexTable(codes.join(clusters, Seq("id")), outDir, "codes", "overwrite")
        },
        Future {
          writeIndexTable(normalized(emb, idCol, vecCol).join(clusters, Seq("id")),
            outDir, "vectors", "overwrite")
        }))
    } finally assigned.unpersist()
  }

  /** Incremental index maintenance — append a delta batch (the new
    * crawl) to a standing IVF-PQ index WITHOUT retraining: the
    * persisted centroids route the new vectors (same cosine argmax as
    * the build), the persisted codebooks encode them (q98's
    * train-on-base / encode-delta contract), and both corpus-sized
    * tables are appended under their cluster partitions. Nothing
    * existing is rewritten and no model state changes, so serving
    * needs no coordination with the append beyond parquet's
    * file-level atomicity.
    *
    * Equivalence contract (spec-pinned): append(base-index, delta) is
    * ROW-IDENTICAL under `servePqIndex` to an index whose model was
    * trained on base but whose tables encode base ∪ delta — i.e. the
    * append IS the incremental form of that rebuild, at delta cost
    * (one delta scan per table) instead of corpus cost.
    *
    * 100 TB shape: the per-crawl refresh touches only |delta| rows;
    * the standing corpus is never re-read. Periodic retrains (when
    * centroid drift degrades recall — measured by the q94 recall
    * report against the current corpus) rebuild via
    * `writeIvfPqIndex`; between retrains this is the only write.
    *
    * Deliberate asymmetry with `TextAnalysis.appendToInvertedIndex`'s
    * round-11 guards: this append needs NO re-crawl/batch-reuse
    * enforcement because nothing here derives cross-batch statistics
    * — serving dedups by vector id at read time (spec-pinned replay
    * tolerance), so a replayed or re-crawled id costs duplicate rows
    * until the next compaction, never a wrong score. BM25's df IS a
    * cross-batch statistic, which is why the text index enforces what
    * this one only absorbs; adding fail-fast id checks here would
    * break the at-least-once contract its appends rely on (no batch
    * partition column to scope a replay to). */
  def appendToIvfPqIndex(spark: SparkSession, indexDir: String,
      newEmb: DataFrame, idCol: String, vecCol: String,
      nAssign: Int = 2): Unit = {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val cents = readIndexTable(spark, indexDir, "centroids")
    val cb = readIndexTable(spark, indexDir, "codebooks")
    val assigned = ivfAssignTo(newEmb, cents, idCol, vecCol, nAssign).persist()
    try {
      val clusters = assigned.select(col(idCol).as("id"), col("cluster_id"))
      // The two per-crawl appends are independent — overlap them
      // (guide §2.6), same bytes as the sequential form; await BOTH
      // before surfacing either's failure (round-17 ADVICE).
      Par.awaitAll(Seq(
        Future {
          writeIndexTable(pqEncode(newEmb, idCol, vecCol, cb).join(clusters, Seq("id")),
            indexDir, "codes", "append")
        },
        Future {
          writeIndexTable(normalized(newEmb, idCol, vecCol).join(clusters, Seq("id")),
            indexDir, "vectors", "append")
        }))
    } finally assigned.unpersist()
  }

  /** Compact an IVF-PQ index into a fresh directory: after T
    * `appendToIvfPqIndex` runs every cluster partition holds T files;
    * this rewrites `codes/` and `vectors/` one-file-per-cluster (the
    * write-time repartition rule) and copies the tiny model tables.
    * Output goes to a NEW dir — production swaps the serving pointer
    * atomically (catalog/symlink), never rewrites a dir being read.
    * Serving the compacted dir is row-identical (spec-pinned); the
    * win is file-count: the per-query open cost returns to
    * O(probed clusters) instead of O(probed clusters × appends). */
  def compactIvfPqIndex(spark: SparkSession, srcDir: String,
      dstDir: String): Unit = {
    for (t <- Seq("centroids", "codebooks", "codes", "vectors"))
      writeIndexTable(readIndexTable(spark, srcDir, t), dstDir, t, "errorifexists")
  }

  /** The resident IVF-PQ model: the centroids and codebooks of the last
    * index dir `servePqIndex` served, and the listing of those two
    * tables (qualified path, length and mtime of each file) they were
    * read under. One slot, replaced whenever another dir or another
    * listing is served. Spark names every file it writes afresh, so an
    * overwrite of the dir or a compaction into a new dir reads as a new
    * listing; an append writes neither table. Model rows with a null
    * field are dropped: the index writer emits none. */
  private final case class ResidentPq(listing: Seq[(String, Long, Long)],
      cents: Array[Row], codebooks: Array[Row])
  private val residentPq = new java.util.concurrent.atomic.AtomicReference[ResidentPq]()

  private def residentPqModel(spark: SparkSession, indexDir: String): ResidentPq = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = Seq("centroids", "codebooks").flatMap(t =>
      fs.listStatus(new org.apache.hadoop.fs.Path(root, t)).toSeq
        .map(f => (fs.makeQualified(f.getPath).toString, f.getLen, f.getModificationTime))
        .sorted)
    val held = residentPq.get
    if (held != null && held.listing == listing) held
    else {
      def rows(t: String) = readIndexTable(spark, indexDir, t).collect().filterNot(_.anyNull)
      val loaded = ResidentPq(listing, rows("centroids"), rows("codebooks"))
      residentPq.set(loaded)
      loaded
    }
  }

  /** Spark's ascending order of a double sort key
    * (`SQLOrderingUtil.compareDoubles`): −0.0 equals 0.0, NaN sorts
    * above every number. */
  private val SparkDoubleOrder: Ordering[Double] = SQLOrderingUtil.compareDoubles(_, _)

  /** Serve IVF-PQ retrieval OFF the persisted index: the `ivfPqTopK`
    * dataflow (results pin row-identical at the same parameters,
    * spec'd) over the resident model, with every corpus-sized read
    * file-pruned: the query batch's probed cluster set is an `isin`
    * partition filter on `codes/` and `vectors/`. `queryVecs` carries
    * RAW vectors (q_id, qv); a query with a null id or vector returns
    * no rows. The result is a local relation ordered by (q_id, rnk).
    *
    * Job budget: a call on a resident model runs 3 Spark jobs, and the
    * call that loads the model 5 (DedupSimilaritySpec holds both):
    *  1. the query batch is collected with its norm and normalized form;
    *  2. one pruned scan of `codes/` returns (q_id, id, s, d2i): a
    *     broadcast variable carries each probed cluster's queries and
    *     the ADC tables;
    *  3. one pruned scan of `vectors/` returns (q_id, n_id, dot) for the
    *     shortlisted ids.
    * The model is one driver-held slot (`residentPqModel`), reloaded
    * (one `collect` per table) when the listing of `centroids/` or
    * `codebooks/` changes, so the writers keep no version. Each scan
    * reads only the probed `cluster_id=` dirs that exist, under
    * `basePath` so the partition column and its `isin` filter stay: the
    * driver lists the table root once, where a read of the whole table
    * above 32 cluster dirs would cost a parallel-listing job (a batch
    * that probes more than 32 clusters still pays it). The probe
    * ranking, the ADC tables, the (q_id, id, s) dedup before the ADC
    * sum, the shortlist, the rerank's (q_id, n_id) dedup and the top-k
    * run on the driver. Cosines, the
    * normalization, the ADC distances and the rounding are the Column
    * expressions of `ivfPqTopK`, evaluated on driver rows by projecting
    * a local relation (Catalyst folds it, no job), and every double sort
    * key is ranked in Spark's order with the gate's tie-breaks. Frames
    * are built per call: concurrent plans of one frame share lambda
    * slots. Driver-held data is the query batch × the model, and per
    * query the candidates are bounded by nProbe × cluster size ×
    * nAssign × m; the cluster count grows with the corpus (one centroid
    * per `seedStepIvf` vectors), so cluster size stays bounded. */
  def servePqIndex(spark: SparkSession, indexDir: String,
      queryVecs: DataFrame, k: Int, nProbe: Int = 8,
      shortlist: Int = 100): DataFrame = {
    import spark.implicits._
    val model = residentPqModel(spark, indexDir)
    val qs = queryVecs
      .select(col("q_id").cast("long").as("q_id"), col("qv"), l2norm(col("qv")).as("qn"))
      .filter(col("q_id").isNotNull && col("qv").isNotNull)
      .select(col("q_id"), col("qv"), col("qn"),
        transform(col("qv"), x => x.cast("double") / col("qn")).as("qe"))
    val qRows = qs.collect()
    def onDriver(rows: Seq[Row], schema: StructType, cols: Column*): Array[Row] =
      spark.createDataFrame(rows.asJava, schema).select(cols: _*).collect()

    val csim = onDriver(
      for (q <- qRows.toSeq; c <- model.cents) yield Row.fromSeq(q.toSeq.take(3) ++ c.toSeq),
      StructType(qs.schema.fields.take(3) ++ IvfPqSchema("centroids").fields),
      col("q_id"), col("c_id"), cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("csim"))
    val probes: Map[Long, Array[Long]] = csim.toSeq.groupBy(_.getLong(0)).toSeq
      .flatMap { case (q, cs) =>
        cs.map(r => (r.getDouble(2), r.getLong(1)))
          .sorted(Ordering.Tuple2(SparkDoubleOrder.reverse, Ordering.Long))
          .take(nProbe).map(c => c._2 -> q)
      }
      .groupMap(_._1)(_._2).map { case (c, qIds) => c -> qIds.toArray }
    val probed = probes.keys.toSeq.sorted
    val subDim = size(col("cw"))
    val adc: Map[(Long, Int, Long), Long] = onDriver(
      for (q <- qRows.toSeq; c <- model.codebooks) yield Row(q.getLong(0), q.get(3), c(0), c(1), c(2)),
      StructType(Seq(qs.schema("q_id"), qs.schema("qe")) ++ IvfPqSchema("codebooks").fields),
      col("q_id"), col("s"), col("code"),
      d2i(slice(col("qe"), col("s") * subDim + 1, subDim), col("cw")).as("d2i"))
      .collect { case r if !r.anyNull => (r.getLong(0), r.getInt(1), r.getLong(2)) -> r.getLong(3) }
      .toMap

    def scan[A: org.apache.spark.sql.Encoder, B: scala.reflect.ClassTag](table: String, state: B)(
        f: (B, Row) => Iterator[A]): Array[A] = {
      val root = new org.apache.hadoop.fs.Path(indexDir, table)
      val dirs = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
        .map(_.getPath.getName).toSet
      val bc = spark.sparkContext.broadcast(state)
      try spark.read.schema(IvfPqSchema(table)).option("basePath", root.toString)
        .parquet(probed.map(c => s"cluster_id=$c").filter(dirs).map(d => s"$root/$d"): _*)
        .filter(col("cluster_id").isin(probed: _*))
        .mapPartitions(rows => rows.filterNot(_.anyNull).flatMap(r => f(bc.value, r)))
        .collect()
      finally bc.destroy()
    }
    val hits = scan("codes", (probes, adc)) { case ((probes, adc), r) =>
      val (id, s, code) = (r.getLong(0), r.getInt(1), r.getLong(2))
      probes(r.getLong(3)).iterator.filter(_ != id)
        .flatMap(q => adc.get((q, s, code)).map(d => (q, id, s, d)))
    }
    val short: Map[Long, Array[Long]] = hits.distinctBy(h => (h._1, h._2, h._3))
      .groupMapReduce(h => (h._1, h._2))(_._4)(_ + _).toSeq
      .groupBy(_._1._1).toSeq
      .flatMap { case (_, cands) =>
        cands.sortBy { case ((_, id), ad2i) => (ad2i, id) }.take(shortlist).map(_._1.swap)
      }
      .groupMap(_._1)(_._2).map { case (id, qIds) => id -> qIds.toArray }
    val qe = qRows.map(r => r.getLong(0) -> r.getSeq[Double](3).toArray).toMap
    val dots = scan("vectors", (short, qe)) { case ((short, qe), r) =>
      val (id, ne) = (r.getLong(0), r.getSeq[Double](1))
      short.getOrElse(id, Array.empty[Long]).iterator.map { q =>
        // DotProduct's loop: ascending index, double accumulation
        val qv = qe(q)
        var acc = 0.0
        for (i <- 0 until math.min(qv.length, ne.length)) acc += qv(i) * ne(i)
        (q, id, acc)
      }
    }
    val top = dots.distinctBy(d => (d._1, d._2)).groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, ds) =>
        ds.toSeq.sortBy(d => (d._3, d._2))(Ordering.Tuple2(SparkDoubleOrder.reverse, Ordering.Long))
          .take(k).zipWithIndex.map { case ((q, n, sim), i) => Row(q, i + 1, n, sim) }
      }
    spark.createDataFrame(top.asJava, StructType.fromDDL("q_id BIGINT, rnk INT, n_id BIGINT, sim DOUBLE"))
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 4).as("sim"))
  }

  /** PQ retrieval: asymmetric-distance (ADC) shortlist of `shortlist`
    * candidates per query off the codes table, then EXACT cosine
    * rerank of the shortlist — the standard compressed-index serving
    * pattern. Query-side distance tables are queries × m × codes rows
    * (broadcast); the ADC scan touches only the codes table (never
    * raw vectors); raw vectors are read back for the shortlist ids
    * only. Integer ADC sums → deterministic ranking (id tie-break). */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int = 8, seedStep: Int = 7,
      shortlist: Int = 100): DataFrame = {
    val (cb, codes) = pqModel(emb, idCol, vecCol, m, seedStep)
    pqServe(emb, idCol, vecCol, queryPred, k, cb, codes, shortlist)
  }

  /** PQ SERVING path against a STANDING model — ADC shortlist + exact
    * rerank only, no training. This is what a production deployment
    * runs per query batch: `pqModel` trains once (offline, amortized
    * over every retrieval), codebooks/codes persist as tables, and
    * retrieval touches the m-byte codes plus `shortlist` raw vectors
    * per query. Byte-identical to `pqTopK` at the same model
    * (DedupSimilaritySpec pins it); split out so training cost is measured
    * separately from serving cost (round-6 verdict residual #2 —
    * MICRO_r7 `pq_serve` row). Subspace width comes from the model,
    * like `pqEncode`. */
  def pqServe(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, cb: DataFrame, codes: DataFrame,
      shortlist: Int = 100): DataFrame = {
    val subDim = size(col("cw"))
    val nrm = normalized(emb, idCol, vecCol).persist()
    val q = nrm.filter(queryPred).select(col("id").as("q_id"), col("ve").as("qe"))
    val tab = q.crossJoin(broadcast(cb))
      .select(col("q_id"), col("s"), col("code"),
        d2i(slice(col("qe"), col("s") * subDim + 1, subDim), col("cw")).as("d2i"))
    val scored = codes.join(broadcast(tab), Seq("s", "code"))
      .filter(col("id") =!= col("q_id"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("d2i")).as("ad2i"))
    val short = scored
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ad2i"), col("id"))))
      .filter(col("srk") <= shortlist)
      .select(col("q_id"), col("id").as("n_id"))
    val rr = short
      .join(q, Seq("q_id"))
      .join(nrm.select(col("id").as("n_id"), col("ve").as("ne")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), dot(col("qe"), col("ne")).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 4).as("sim"))
      .orderBy(col("q_id"), col("rnk"))
    val out = rr.localCheckpoint()
    nrm.unpersist()
    out
  }

  /** Maximal Marginal Relevance diversified retrieval (Carbonell &
    * Goldstein SIGIR'98): greedily pick `k` results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected, so the
    * result set trades raw relevance for coverage.
    *
    * Architecture is the serving split the probe family documented
    * (MICRO_r7): the RELEVANCE pass is distributed — one broadcast of
    * the query vector, a map-side codegen'd cosine over the whole
    * corpus, and a TakeOrderedAndProject shortlist of `poolK` — then
    * the greedy walk runs driver-side over the pool (model-sized:
    * poolK rows + poolK² similarities; poolK is a constant, never
    * corpus-scaled). The walk itself is EXACT INTEGER arithmetic:
    * relevance and pairwise cosines are frozen to 1e-6 fixed point
    * first, λ is in tenths, so the selection trajectory cannot ride a
    * float partial-sum — the only float op is the initial per-pair
    * cosine, shared with the q33-certified recipe.
    *
    * Returns (step 1..k, id, mmr_fx = 10λ·rel_fx − (10−10λ)·maxsim_fx).
    */
  def mmrTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, poolK: Int, k: Int,
      lambdaTenths: Int = 7): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = withNorm(emb, idCol, vecCol)
    val q = n.filter(queryPred)
      .select(col(vecCol).as("qv"), col("norm").as("qn"))
    val pool = n.filter(!queryPred)
      .crossJoin(broadcast(q))
      .withColumn("rel_fx",
        round(cosine(col(vecCol), col("qv"), col("norm"), col("qn")) * 1e6)
          .cast("long"))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        col("norm").as("nm"), col("rel_fx"))
      .orderBy(col("rel_fx").desc, col("id"))
      .limit(poolK).localCheckpoint()
    val sims = pool.as("a").join(pool.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("ai"), col("b.id").as("bi"),
        round(cosine(col("a.v"), col("b.v"), col("a.nm"), col("b.nm")) * 1e6)
          .cast("long").as("sim_fx"))
    // the pool is the model, not data: collect and walk greedily
    val rels = pool.select(col("id").cast("long"), col("rel_fx"))
      .as[(Long, Long)].collect().toSeq
    val simMap = sims.as[(Long, Long, Long)].collect()
      .map { case (a, b, sfx) => (a, b) -> sfx }.toMap
    var selected = Vector.empty[(Int, Long, Long)]
    var remaining = rels
    for (step <- 1 to math.min(k, rels.size)) {
      val scored = remaining.map { case (id, rel) =>
        val pen =
          if (selected.isEmpty) 0L
          else selected.map(s => simMap((id, s._2))).max
        (id, lambdaTenths * rel - (10L - lambdaTenths) * pen)
      }
      val (bid, bscore) = scored.maxBy { case (id, sc) => (sc, -id) }
      selected :+= ((step, bid, bscore))
      remaining = remaining.filterNot(_._1 == bid)
    }
    selected.toDF("step", "id", "mmr_fx")
  }

}
