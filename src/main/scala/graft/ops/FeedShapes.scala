package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.feed.{Fanout, IdempotentSink}

/** The feed-domain operators (SURVEY §2.3/§2.1) exercised through the
  * DuckDB-oracle gate, modeled on testdata: `events` plays the post
  * stream (author = user_id), a derived customer projection plays the
  * follow-edge table. The queries call the actual graft.feed library
  * functions so the gate certifies the product code, not a copy.
  */
object FeedShapes {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Edge table: customer c follows followee (c_custkey % 50) — a
    * deterministic graph with built-in "celebrity" skew (every
    * followee has ~n/50 followers). */
  private def follows(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey").cast("string").as("user_id"),
      (col("c_custkey") % 50).cast("string").as("followee_id"))

  /** Post stream analogue: events authored by user_id. */
  private def posts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id").cast("string").as("post_id"),
      col("user_id").cast("string").as("author_id"),
      col("event_type").as("body"),
      timestamp_micros(expr("ts div 1000")).as("created_at"))

  /** F1 — fan-out materialization, aggregated per feed owner. */
  def fanoutAgg(s: SparkSession, dir: String): DataFrame =
    Fanout.fanout(posts(s, dir), follows(s, dir))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_feed_items"),
        countDistinct(col("author_id")).as("n_authors"))
      .orderBy(col("user_id"))

  val fanoutAggSql: String =
    """WITH f AS (SELECT CAST(c_custkey AS VARCHAR) AS user_id,
      |             CAST(c_custkey % 50 AS VARCHAR) AS followee_id FROM customer),
      |p AS (SELECT CAST(event_id AS VARCHAR) AS post_id,
      |        CAST(user_id AS VARCHAR) AS author_id FROM events)
      |SELECT f.user_id, count(*) AS n_feed_items,
      |  count(DISTINCT p.author_id) AS n_authors
      |FROM p JOIN f ON p.author_id = f.followee_id
      |GROUP BY f.user_id ORDER BY f.user_id""".stripMargin

  /** F5 — delivery verification: drop a deterministic subset from the
    * "actual" feed, count undelivered per owner via the library
    * anti-join. */
  def undeliveredAgg(s: SparkSession, dir: String): DataFrame = {
    // The fan-out is the biggest intermediate in the pipeline, and the
    // anti-join only consumes its KEY columns — so build it once,
    // PROJECTED to (user_id, post_id), and cache it pre-partitioned on
    // the join keys: both anti-join sides then read the same in-memory
    // relation whose hashpartitioning satisfies the join's
    // distribution, so the SMJ plans with ZERO extra exchanges (the
    // round-2 form re-derived the wide join twice + shuffled both
    // sides; the round-3 form localCheckpoint'ed the full-width
    // fan-out — 5 columns × 9M rows eagerly serialized, 4× the bytes
    // this needs, and checkpoint blocks outlive clearCache).
    // post_id stays BIGINT here (the oracle's `p` CTE does the same):
    // the anti-join hashes a long instead of a string — q21's
    // string-keyed projection is for feed-API parity, not needed for
    // the verification shape.
    val postsLong = t(s, dir, "events").select(
      col("event_id").as("post_id"),
      col("user_id").as("author_id"),
      col("event_type").as("body"),
      timestamp_micros(expr("ts div 1000")).as("created_at"))
    val followsLong = t(s, dir, "customer").select(
      col("c_custkey").as("user_id"), (col("c_custkey") % 50).as("followee_id"))
    val expected = Fanout.fanout(postsLong, followsLong)
      .select(col("user_id"), col("post_id"))
      .repartition(col("user_id"), col("post_id"))
      .persist()
    val actual = expected.filter(col("post_id") % 97 =!= 13)
      .hint("shuffle_hash")
    Fanout.undelivered(expected, actual)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_missing"))
      .select(col("user_id").cast("string").as("user_id"), col("n_missing"))
      .orderBy(col("user_id"))
  }

  val undeliveredAggSql: String =
    """WITH f AS (SELECT CAST(c_custkey AS VARCHAR) AS user_id,
      |             CAST(c_custkey % 50 AS VARCHAR) AS followee_id FROM customer),
      |p AS (SELECT event_id AS post_id, CAST(user_id AS VARCHAR) AS author_id FROM events),
      |expected AS (SELECT f.user_id, p.post_id FROM p JOIN f ON p.author_id = f.followee_id),
      |actual AS (SELECT * FROM expected WHERE post_id % 97 <> 13)
      |SELECT e.user_id, count(*) AS n_missing
      |FROM expected e
      |WHERE NOT EXISTS (SELECT 1 FROM actual a
      |  WHERE a.user_id = e.user_id AND a.post_id = e.post_id)
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin

  /** S6/A5 — CAS username claim through the library writer: candidates
    * (custkey ≥ 1300, usernames mod 150 → in-batch duplicates) claim
    * against the existing set (custkey < 100 → u0..u99 taken):
    * residues 0..99 lose the CAS, 100..149 claimed first-wins. */
  def claimUsernames(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val candidates = c.filter(col("c_custkey") >= 1300).select(
      col("c_custkey").cast("string").as("user_id"),
      concat(lit("u"), (col("c_custkey") % 150).cast("string")).as("username"))
    val existing = c.filter(col("c_custkey") < 100).select(
      concat(lit("u"), (col("c_custkey") % 150).cast("string")).as("username")).distinct()
    IdempotentSink.claimUsernames(candidates, existing)
      .select(col("user_id"), col("username"))
      .orderBy(col("username"))
  }

  val claimUsernamesSql: String =
    """WITH cand AS (SELECT CAST(c_custkey AS VARCHAR) AS user_id,
      |    'u' || CAST(c_custkey % 150 AS VARCHAR) AS username
      |  FROM customer WHERE c_custkey >= 1300),
      |ex AS (SELECT DISTINCT 'u' || CAST(c_custkey % 150 AS VARCHAR) AS username
      |  FROM customer WHERE c_custkey < 100),
      |first AS (SELECT user_id, username,
      |    row_number() OVER (PARTITION BY username ORDER BY user_id) AS rn FROM cand)
      |SELECT user_id, username FROM first
      |WHERE rn = 1 AND username NOT IN (SELECT username FROM ex)
      |ORDER BY username""".stripMargin

  /** R6 — validation predicates as a quarantine split (bounds 1..300
    * to exercise both branches on this corpus; the feed API's
    * reference bounds 1..1000 are covered in FanoutSpec). */
  def validationSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("is_valid", length(col("text")).between(1, 300))
      .groupBy(col("lang"), col("is_valid"))
      .agg(count(lit(1)).as("n"), max(length(col("text"))).as("max_len"))
      .orderBy(col("lang"), col("is_valid"))

  val validationSplitSql: String =
    """SELECT lang, length(text) BETWEEN 1 AND 300 AS is_valid,
      |  count(*) AS n, max(length(text)) AS max_len
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Two-hop reach over the follow graph (friends-of-friends — the
    * graph-traversal shape the social domain implies): edge self-join
    * with distinct-count per origin. Edges: u follows u%97 and
    * (u*3+1)%97. */
  def twoHop(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey").as("u"))
    val edges = c.select(col("u"), (col("u") % 97).as("v"))
      .unionByName(c.select(col("u"), ((col("u") * 3 + 1) % 97).as("v")))
      .filter(col("u") =!= col("v")).distinct()
    val e2 = edges.select(col("u").as("mid"), col("v").as("dst"))
    edges.join(e2, col("v") === col("mid"))
      .filter(col("dst") =!= col("u"))
      .groupBy(col("u"))
      .agg(countDistinct(col("dst")).as("n_two_hop"))
      .orderBy(col("u"))
  }

  val twoHopSql: String =
    """WITH e AS (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT c_custkey AS u, c_custkey % 97 AS v FROM customer
      |    UNION ALL
      |    SELECT c_custkey, (c_custkey * 3 + 1) % 97 FROM customer)
      |  WHERE u <> v)
      |SELECT a.u, count(DISTINCT b.v) AS n_two_hop
      |FROM e a JOIN e b ON a.v = b.u
      |WHERE b.v <> a.u
      |GROUP BY a.u ORDER BY a.u""".stripMargin

  /** Influence rank over an edge frame — PageRank (Brin & Page 1998;
    * the host/domain-authority scoring step of web-corpus curation,
    * e.g. Common Crawl's harmonic-centrality host ranking) with a
    * fixed iteration count and exact integer fixed-point arithmetic
    * (1e-6 units) so the trajectory is bit-reproducible: per-node rank
    * r₀ = 1e6; each iteration sends floor(r_u/deg_u) along every edge,
    * and r'_v = 0.15·1e6 + floor(0.85·Σ). Dangling mass is dropped
    * (the standard simplification); nodes with no in-edges settle at
    * the teleport floor.
    *
    * Scale shape (Pregel-by-hand): edges are the big side — partition
    * them ONCE by src and cache; each iteration is a rank⋈edge join on
    * src followed by one map-side-combined groupBy on dst. The rank and
    * contrib frames are O(nodes) and are broadcast, so the cached edge
    * frame never moves or re-sorts and each hop is one map-side join
    * plus one dst reduction. Limit: the node frame must fit a
    * broadcast. */
  def pageRank(edges: DataFrame, iterations: Int = 3): DataFrame = {
    val e = edges.select(col("u"), col("v")).repartition(col("u")).persist()
    val nodes = e.select(col("u")).unionByName(e.select(col("v").as("u")))
      .distinct().persist()
    try {
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
      var rank = nodes.select(col("u"), lit(1000000L).as("r"))
      for (_ <- 1 to iterations) {
        val contrib = e
          .join(broadcast(rank), Seq("u"))
          .join(broadcast(deg), Seq("u"))
          .select(col("v"),
            floor(col("r") / col("d").cast("double")).cast("long").as("m"))
          .groupBy(col("v")).agg(sum(col("m")).as("s"))
        rank = nodes
          .join(broadcast(contrib), nodes("u") === contrib("v"), "left")
          .select(nodes("u"),
            (lit(150000L) + floor(lit(0.85) * coalesce(col("s"), lit(0L)))
              .cast("long")).as("r"))
      }
      rank.localCheckpoint()
    } finally {
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** q103 — PageRank ORACLE GATE over the q46 follow graph (3
    * iterations, top 30 by rank): DuckDB unrolls the same fixed-point
    * iterations, so the hash certifies every hop, not just the
    * ordering. */
  def followPageRank(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey").as("u"))
    val edges = c.select(col("u"), (col("u") % 97).as("v"))
      .unionByName(c.select(col("u"), ((col("u") * 3 + 1) % 97).as("v")))
      .filter(col("u") =!= col("v")).distinct()
    pageRank(edges, iterations = 3)
      .select(col("u"), col("r").as("rank_fx"))
      .orderBy(col("rank_fx").desc, col("u"))
      .limit(30)
  }

  val followPageRankSql: String =
    """WITH c AS (SELECT c_custkey AS u FROM customer),
      |e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
      |    SELECT u, u % 97 AS v FROM c
      |    UNION ALL SELECT u, (u * 3 + 1) % 97 FROM c) WHERE u <> v),
      |nodes AS MATERIALIZED (SELECT DISTINCT u FROM (SELECT u FROM e UNION ALL SELECT v FROM e)),
      |deg AS MATERIALIZED (SELECT u, count(*) AS d FROM e GROUP BY u),
      |r0 AS MATERIALIZED (SELECT u, CAST(1000000 AS BIGINT) AS r FROM nodes),
      |c1 AS (SELECT e.v, CAST(sum(CAST(floor(r.r / CAST(deg.d AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s
      |  FROM e JOIN r0 r ON e.u = r.u JOIN deg ON deg.u = e.u GROUP BY e.v),
      |r1 AS MATERIALIZED (SELECT n.u, 150000 + CAST(floor(0.85 * coalesce(c1.s, 0)) AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN c1 ON c1.v = n.u),
      |c2 AS (SELECT e.v, CAST(sum(CAST(floor(r.r / CAST(deg.d AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s
      |  FROM e JOIN r1 r ON e.u = r.u JOIN deg ON deg.u = e.u GROUP BY e.v),
      |r2 AS MATERIALIZED (SELECT n.u, 150000 + CAST(floor(0.85 * coalesce(c2.s, 0)) AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN c2 ON c2.v = n.u),
      |c3 AS (SELECT e.v, CAST(sum(CAST(floor(r.r / CAST(deg.d AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s
      |  FROM e JOIN r2 r ON e.u = r.u JOIN deg ON deg.u = e.u GROUP BY e.v),
      |r3 AS (SELECT n.u, 150000 + CAST(floor(0.85 * coalesce(c3.s, 0)) AS BIGINT) AS r
      |  FROM nodes n LEFT JOIN c3 ON c3.v = n.u)
      |SELECT u, r AS rank_fx FROM r3
      |ORDER BY rank_fx DESC, u LIMIT 30""".stripMargin

  /** HITS hub/authority scores (Kleinberg 1999 — the link-analysis
    * dual of PageRank: authorities are pointed AT by good hubs, hubs
    * point at good authorities; in corpus curation the authority side
    * ranks link targets, the hub side flags link farms). Fixed
    * iteration count with MAX-normalized exact-integer arithmetic:
    * each half-step is an exact BIGINT sum over in/out edges followed
    * by (score·1e6) div max — the max-norm variant (standard in the
    * literature as an alternative to L2) keeps every iterate an
    * integer, so the trajectory is bit-reproducible and the oracle
    * unrolls it hop for hop. Overflow-safe at any scale: scores
    * re-enter [0, 1e6] every half-step, so a raw sum is bounded by
    * degree·1e6.
    *
    * Scale shape: TWO cached copies of the edge frame, partitioned on
    * the key each half-step consumes (u for the hub→authority
    * gather, v for the authority→hub gather — the LPA/k-core round-9
    * lesson: partition on the key the join actually uses, or the
    * edge frame re-shuffles every round). Score frames are O(nodes) and
    * are broadcast, so no edge-sized data moves after the two initial
    * partitionings; the per-iteration shuffle is the map-side-combined
    * degree reduction alone. Limit: the node frame must fit a
    * broadcast. */
  def hits(edges: DataFrame, iterations: Int = 2): DataFrame = {
    val eU = edges.select(col("u"), col("v")).repartition(col("u")).persist()
    val eV = edges.select(col("u"), col("v")).repartition(col("v")).persist()
    try {
      val nodes = eU.select(col("u"))
        .unionByName(eU.select(col("v").as("u"))).distinct().persist()
      var hub = nodes.select(col("u"), lit(1000000L).as("h"))
      var auth = nodes.select(col("u"), lit(1000000L).as("a"))
      for (it <- 1 to iterations) {
        // node-sized frames are each consumed twice (max + join), so
        // checkpoint per half-step or the lineage re-derives the whole
        // prior trajectory per consumer (the q146 round-9 lesson:
        // 68 exchanges → single digits)
        val araw = eU.join(broadcast(hub), Seq("u"))
          .groupBy(col("v")).agg(sum(col("h")).as("s")).localCheckpoint()
        val amax = araw.agg(max(col("s")).as("mx"))
        auth = nodes
          .join(broadcast(araw.select(col("v").as("u"), col("s"))), Seq("u"), "left")
          .crossJoin(broadcast(amax))
          .select(col("u"), expr("(coalesce(s, 0) * 1000000) div mx").as("a")).localCheckpoint()
        val hraw = eV.join(broadcast(auth.select(col("u").as("v"), col("a"))), Seq("v"))
          .groupBy(col("u")).agg(sum(col("a")).as("s")).localCheckpoint()
        val hmax = hraw.agg(max(col("s")).as("mx"))
        hub = nodes.join(broadcast(hraw), Seq("u"), "left")
          .crossJoin(broadcast(hmax))
          .select(col("u"), expr("(coalesce(s, 0) * 1000000) div mx").as("h")).localCheckpoint()
      }
      // both sides are node-sized checkpoints — broadcast one so the
      // close is a BHJ, not a sort-merge of two tiny frames
      hub.join(broadcast(auth), Seq("u")).localCheckpoint()
    } finally {
      eU.unpersist(blocking = false)
      eV.unpersist(blocking = false)
    }
  }

  /** q193 — HITS ORACLE GATE over the q46/q103 follow graph (2
    * iterations, top 30 authorities): DuckDB unrolls the same
    * max-normalized integer half-steps, certifying every hop. */
  def followHits(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey").as("u"))
    val edges = c.select(col("u"), (col("u") % 97).as("v"))
      .unionByName(c.select(col("u"), ((col("u") * 3 + 1) % 97).as("v")))
      .filter(col("u") =!= col("v")).distinct()
    hits(edges, iterations = 2)
      .select(col("u"), col("h").as("hub_fx"), col("a").as("auth_fx"))
      .orderBy(col("auth_fx").desc, col("hub_fx").desc, col("u"))
      .limit(30)
  }

  val followHitsSql: String =
    """WITH c AS (SELECT c_custkey AS u FROM customer),
      |e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
      |    SELECT u, u % 97 AS v FROM c
      |    UNION ALL SELECT u, (u * 3 + 1) % 97 FROM c) WHERE u <> v),
      |nodes AS MATERIALIZED (SELECT DISTINCT u FROM (SELECT u FROM e UNION ALL SELECT v FROM e)),
      |h0 AS (SELECT u, CAST(1000000 AS BIGINT) AS h FROM nodes),
      |a1r AS (SELECT e.v, CAST(sum(h0.h) AS BIGINT) AS s
      |  FROM e JOIN h0 ON e.u = h0.u GROUP BY e.v),
      |a1m AS (SELECT max(s) AS mx FROM a1r),
      |a1 AS MATERIALIZED (SELECT n.u,
      |    CAST((coalesce(a1r.s, 0) * 1000000) // mx AS BIGINT) AS a
      |  FROM nodes n LEFT JOIN a1r ON a1r.v = n.u, a1m),
      |h1r AS (SELECT e.u, CAST(sum(a1.a) AS BIGINT) AS s
      |  FROM e JOIN a1 ON e.v = a1.u GROUP BY e.u),
      |h1m AS (SELECT max(s) AS mx FROM h1r),
      |h1 AS MATERIALIZED (SELECT n.u,
      |    CAST((coalesce(h1r.s, 0) * 1000000) // mx AS BIGINT) AS h
      |  FROM nodes n LEFT JOIN h1r ON h1r.u = n.u, h1m),
      |a2r AS (SELECT e.v, CAST(sum(h1.h) AS BIGINT) AS s
      |  FROM e JOIN h1 ON e.u = h1.u GROUP BY e.v),
      |a2m AS (SELECT max(s) AS mx FROM a2r),
      |a2 AS MATERIALIZED (SELECT n.u,
      |    CAST((coalesce(a2r.s, 0) * 1000000) // mx AS BIGINT) AS a
      |  FROM nodes n LEFT JOIN a2r ON a2r.v = n.u, a2m),
      |h2r AS (SELECT e.u, CAST(sum(a2.a) AS BIGINT) AS s
      |  FROM e JOIN a2 ON e.v = a2.u GROUP BY e.u),
      |h2m AS (SELECT max(s) AS mx FROM h2r),
      |h2 AS (SELECT n.u,
      |    CAST((coalesce(h2r.s, 0) * 1000000) // mx AS BIGINT) AS h
      |  FROM nodes n LEFT JOIN h2r ON h2r.u = n.u, h2m)
      |SELECT h2.u, h2.h AS hub_fx, a2.a AS auth_fx
      |FROM h2 JOIN a2 ON a2.u = h2.u
      |ORDER BY auth_fx DESC, hub_fx DESC, h2.u LIMIT 30""".stripMargin

  /** Per-node triangle counts via degree orientation (the classic
    * distributed-triangle algorithm: Cohen 2009 / Suri & Vassilvitskii
    * WWW'11 "Counting triangles and the curse of the last reducer").
    * Undirected edges are canonicalized (a<b, distinct), then each
    * edge is ORIENTED from the endpoint that is lower in the total
    * order (degree, id) to the higher. The orientation makes the graph
    * a DAG where every triangle {x,y,z} with x<y<z (in that order)
    * appears exactly once as x→y, x→z, y→z — so wedges are generated
    * only from each node's OUT-edges, whose count is bounded by
    * O(sqrt(m)) amortized (a hub's edges all point INTO it, so the
    * curse-of-the-last-reducer wedge blowup at a celebrity node never
    * happens). Wedge closure is a single equi-join back to the
    * oriented edge set; per-node counts explode each found triangle
    * to its three corners.
    *
    * Shuffle budget: dedup (1) + degree agg (1) + two broadcast-able
    * degree joins + wedge self-join on src (1) + closure join on
    * (y,z) (1) + corner agg (1); every frame after dedup is
    * edge-sized or smaller, and the wedge frame is the only
    * super-linear one — bounded by the orientation. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(broadcast(deg.select(col("n").as("a"), col("d").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("n").as("b"), col("d").as("db"))), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
    val e1 = oriented.select(col("src"), col("dst").as("y"), col("dd").as("dy"))
    val e2 = oriented.select(col("src"), col("dst").as("z"), col("dd").as("dz"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("dy") < col("dz") ||
        (col("dy") === col("dz") && col("y") < col("z")))
    val closing = oriented.select(col("src").as("y"), col("dst").as("z"))
    val tris = wedges.join(closing, Seq("y", "z"))
      .select(col("src").as("x"), col("y"), col("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("u"))
  }

  /** q116 — per-node triangle counts over the q46 follow graph. */
  def followTriangles(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey").as("u"))
    val edges = c.select(col("u"), (col("u") % 97).as("v"))
      .unionByName(c.select(col("u"), ((col("u") * 3 + 1) % 97).as("v")))
      .filter(col("u") =!= col("v"))
    triangleCounts(edges)
  }

  val followTrianglesSql: String =
    """WITH c AS (SELECT c_custkey AS u FROM customer),
      |raw AS (SELECT u, u % 97 AS v FROM c
      |  UNION ALL SELECT u, (u * 3 + 1) % 97 FROM c),
      |und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      |  FROM raw WHERE u <> v),
      |deg AS (SELECT n, count(*) AS d FROM (
      |    SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY n),
      |o AS (SELECT
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS src,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS dst,
      |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN db.d ELSE da.d END AS dd
      |  FROM und JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
      |w AS (SELECT e1.src, e1.dst AS y, e2.dst AS z
      |  FROM o e1 JOIN o e2 ON e1.src = e2.src
      |  WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
      |tri AS (SELECT w.src AS x, w.y, w.z
      |  FROM w JOIN o ON o.src = w.y AND o.dst = w.z)
      |SELECT u, count(*) AS n_tri FROM (
      |  SELECT x AS u FROM tri UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri)
      |GROUP BY u ORDER BY u""".stripMargin

  /** Time-decayed engagement ("hotness") ranking — the recency-
    * weighted score a feed ranker keeps per user/item: each event
    * contributes value × 2^(−age/halflife), so yesterday's engagement
    * counts half of today's (halflife = 1 day). The decay is EXACT
    * integer arithmetic: age quantizes to whole half-lives (capped at
    * `maxBuckets`, past which an event's weight is the 1-unit floor),
    * and the weight is the power-of-two 2^(maxBuckets − bucket) —
    * value in cents × weight sums as BIGINT, so the score is a pure
    * function of the event set (no float decay product, no partial-
    * sum order). Map-side weight computation + one map-side-combined
    * groupBy + TakeOrderedAndProject — never a global sort. The
    * 100 TB form is identical; `maxBuckets` bounds the weight range
    * so Σ stays far from the BIGINT edge. */
  def decayedEngagement(events: DataFrame, keyCol: String, tsCol: String,
      valCol: String, halflifeNs: Long, maxBuckets: Int = 20,
      topK: Int = 50): DataFrame = {
    val tmax = events.agg(max(col(tsCol)).as("tmax"))
    events.select(col(keyCol), col(tsCol), col(valCol))
      .crossJoin(broadcast(tmax)) // 1-row frame
      .withColumn("bkt",
        least(expr(s"(tmax - $tsCol) div $halflifeNs"), lit(maxBuckets.toLong)))
      .withColumn("w", pow(lit(2.0), lit(maxBuckets.toLong) - col("bkt")).cast("long"))
      .withColumn("vc", round(col(valCol) * 100).cast("long"))
      .groupBy(col(keyCol))
      .agg(sum(col("vc") * col("w")).as("score_fx"),
        count(lit(1)).as("n_events"))
      .orderBy(col("score_fx").desc, col(keyCol))
      .limit(topK)
  }

  /** q126 — top-50 users by 1-day-halflife decayed engagement. */
  def hotUsers(s: SparkSession, dir: String): DataFrame =
    decayedEngagement(Tables.events(s, dir), "user_id", "ts", "value",
      86400L * 1000 * 1000 * 1000)

  val hotUsersSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |mx AS (SELECT max(t) AS tmax FROM e),
      |w AS (SELECT user_id, vc,
      |    CAST(pow(2.0, 20 - least((tmax - t) // 86400000000, 20)) AS BIGINT) AS w
      |  FROM e, mx)
      |SELECT user_id, CAST(sum(vc * w) AS BIGINT) AS score_fx,
      |  count(*) AS n_events
      |FROM w GROUP BY user_id
      |ORDER BY score_fx DESC, user_id LIMIT 50""".stripMargin

  /** Synchronous label propagation (Raghavan et al. 2007) —
    * community detection as iterated neighbor-majority voting: every
    * node starts as its own label; each round a node adopts the most
    * frequent label among its neighbors (ties → smallest label),
    * isolated nodes keep their own. Deterministic by construction
    * (synchronous update + total tie order), so the whole trajectory
    * is oracle-certifiable — unlike the asynchronous formulation.
    *
    * Scale shape (the q103 Pregel-by-hand pattern): the undirected
    * adjacency is built once and cached partitioned on `u`; the
    * O(nodes) label frame is broadcast, so each round's vote join is
    * map-side and the groupBy(u, lab) + argmax window run
    * exchange-free. The edge-sized adjacency never re-shuffles after
    * the initial build. Limit: the node frame must fit a broadcast. */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame = {
    // adjacency and node set are each consumed every round — material-
    // ize once (the Pregel edge-partition-once contract);
    // localCheckpoint preserves outputPartitioning, so every round
    // reuses it without an exchange
    val und = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .repartition(col("u")).localCheckpoint().persist()
    val nodes = und.select(col("u")).distinct().localCheckpoint().persist()
    try {
      var lab = nodes.select(col("u"), col("u").cast("long").as("lab"))
      for (_ <- 1 to iterations) {
        val votes = und
          .join(broadcast(lab.withColumnRenamed("u", "v")), Seq("v"))
          .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("cnt"))
        val best = votes
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("u")).orderBy(col("cnt").desc, col("lab"))))
          .filter(col("rk") === 1)
          .select(col("u"), col("lab").as("new_lab"))
        // node-bounded frame, consumed by the next round's join AND
        // broadcast — materialize per round (the q103 pageRank shape)
        // so round N+1's plan starts from labels, not the full lineage
        lab = nodes
          .join(broadcast(lab), Seq("u"))
          .join(broadcast(best), Seq("u"), "left")
          .select(col("u"), coalesce(col("new_lab"), col("lab")).as("lab")).localCheckpoint()
      }
      lab
    } finally { und.unpersist(blocking = false); nodes.unpersist(blocking = false) }
  }

  /** q146 — label propagation ORACLE GATE over the q46 follow graph
    * (3 synchronous rounds): DuckDB unrolls the identical rounds, so
    * the hash certifies every vote, tie-break and adoption. */
  def followCommunities(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey").as("u"))
    val edges = c.select(col("u"), (col("u") % 97).as("v"))
      .unionByName(c.select(col("u"), ((col("u") * 3 + 1) % 97).as("v")))
      .filter(col("u") =!= col("v"))
    labelPropagation(edges, iterations = 3)
      .orderBy(col("u"))
  }

  val followCommunitiesSql: String = {
    val rounds = (1 to 3).map { i =>
      val prev = s"l${i - 1}"
      s"""c$i AS (SELECT a.u, p.lab, count(*) AS cnt
         |  FROM adj a JOIN $prev p ON p.u = a.v GROUP BY 1, 2),
         |b$i AS (SELECT u, lab AS new_lab FROM (
         |    SELECT u, lab, row_number() OVER (PARTITION BY u
         |      ORDER BY cnt DESC, lab) AS rk FROM c$i) WHERE rk = 1),
         |l$i AS (SELECT n.u, coalesce(b.new_lab, p.lab) AS lab
         |  FROM nodes n JOIN $prev p USING (u) LEFT JOIN b$i b USING (u)),""".stripMargin
    }.mkString("\n")
    s"""WITH c AS (SELECT c_custkey AS u FROM customer),
       |raw AS (SELECT u, u % 97 AS v FROM c
       |  UNION ALL SELECT u, (u * 3 + 1) % 97 FROM c),
       |adj AS (SELECT DISTINCT u, v FROM (
       |  SELECT u, v FROM raw WHERE u <> v
       |  UNION ALL SELECT v, u FROM raw WHERE u <> v)),
       |nodes AS (SELECT DISTINCT u FROM adj),
       |l0 AS (SELECT u, CAST(u AS BIGINT) AS lab FROM nodes),
       |$rounds
       |sel AS (SELECT 1)
       |SELECT u, lab FROM l3 ORDER BY u""".stripMargin
  }

  /** k-core decomposition by synchronous peeling (Seidman 1983;
    * Batagelj–Zaveršnik gives the sequential version — the
    * round-synchronous peel here is the standard distributed
    * adaptation): each round drops every node whose degree in the
    * current induced subgraph is < k, truncated at `rounds` rounds
    * (peeling converges in O(peel-depth) rounds; the spec pins
    * convergence on a known graph). Scale shape mirrors q146's LPA
    * contract: the undirected adjacency is built ONCE, checkpointed
    * partitioned on `u`; the O(nodes) alive set is broadcast, so each
    * round's v-side semi-join is map-side, u-partitioning carries
    * through it into the groupBy, and the u-side alive restriction is
    * applied AFTER aggregation on the node-bounded degree frame
    * (restricting u after counting v-alive neighbors gives the
    * identical induced degree — see induceDeg) — so nothing
    * edge-sized shuffles after the initial build. Limit: the node
    * frame must fit a broadcast. Returns the surviving nodes with
    * their degree in the final induced subgraph. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .repartition(col("u")).localCheckpoint().persist()
    try {
      // induced degree of ALIVE u = # alive neighbors v. Count over
      // v-alive edges first (edge frame untouched on its partitioning),
      // then semi-join the node-bounded (u, deg) frame to alive u —
      // identical result to filtering both endpoints before counting,
      // but the u-side restriction never touches edge-sized data.
      def induceDeg(alive: DataFrame): DataFrame = und
        .join(broadcast(alive.withColumnRenamed("u", "v")), Seq("v"), "left_semi")
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .join(broadcast(alive), Seq("u"), "left_semi")
      var alive = und.select(col("u")).distinct().localCheckpoint()
      for (_ <- 1 to rounds) {
        alive = induceDeg(alive).filter(col("deg") >= k).select(col("u")).localCheckpoint()
      }
      induceDeg(alive)
    } finally { und.unpersist(blocking = false) }
  }

  /** q158 — 3-core ORACLE GATE over a deterministic customer graph
    * with mixed degrees (every node has 2 base edges, every third
    * node a long-range extra, hub moduli 211/431 — so the peel
    * actually cascades: degree-2 leaves fall first, hub degrees then
    * decay round by round). DuckDB unrolls the identical 4 rounds, so
    * the hash certifies every removal decision. */
  def followKCore(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey").as("u"))
    val edges = c.select(col("u"), (col("u") % 211).as("v"))
      .unionByName(c.select(col("u"), ((col("u") * 7 + 3) % 211).as("v")))
      .unionByName(c.filter(col("u") % 3 === 0)
        .select(col("u"), ((col("u") * 13 + 5) % 431).as("v")))
      .filter(col("u") =!= col("v"))
    kCore(edges, k = 3, rounds = 4).orderBy(col("u"))
  }

  val followKCoreSql: String = {
    val rounds = (1 to 4).map { i =>
      val prev = s"a${i - 1}"
      s"""d$i AS (SELECT e.u AS u, count(*) AS deg FROM adj e
         |  JOIN $prev x ON x.u = e.u JOIN $prev y ON y.u = e.v GROUP BY e.u),
         |a$i AS (SELECT u FROM d$i WHERE deg >= 3),""".stripMargin
    }.mkString("\n")
    s"""WITH c AS (SELECT c_custkey AS u FROM customer),
       |raw AS (SELECT u, u % 211 AS v FROM c
       |  UNION ALL SELECT u, (u * 7 + 3) % 211 FROM c
       |  UNION ALL SELECT u, (u * 13 + 5) % 431 FROM c WHERE u % 3 = 0),
       |adj AS (SELECT DISTINCT u, v FROM (
       |  SELECT u, v FROM raw WHERE u <> v
       |  UNION ALL SELECT v, u FROM raw WHERE u <> v)),
       |a0 AS (SELECT DISTINCT u FROM adj),
       |$rounds
       |sel AS (SELECT 1)
       |SELECT e.u AS u, count(*) AS deg FROM adj e
       |JOIN a4 x ON x.u = e.u JOIN a4 y ON y.u = e.v
       |GROUP BY e.u ORDER BY 1""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_kcore" -> followKCore,
    "q146_label_propagation" -> followCommunities,
    "q126_hot_users" -> hotUsers,
    "q46_two_hop" -> twoHop,
    "q103_follow_pagerank" -> followPageRank,
    "q193_follow_hits" -> followHits,
    "q116_triangles" -> followTriangles,
    "q21_fanout_agg" -> fanoutAgg,
    "q22_undelivered" -> undeliveredAgg,
    "q23_claim_usernames" -> claimUsernames,
    "q24_validation_split" -> validationSplit)

  def oracles: Map[String, String] = Map(
    "q158_kcore" -> followKCoreSql,
    "q146_label_propagation" -> followCommunitiesSql,
    "q126_hot_users" -> hotUsersSql,
    "q46_two_hop" -> twoHopSql,
    "q103_follow_pagerank" -> followPageRankSql,
    "q193_follow_hits" -> followHitsSql,
    "q116_triangles" -> followTrianglesSql,
    "q21_fanout_agg" -> fanoutAggSql,
    "q22_undelivered" -> undeliveredAggSql,
    "q23_claim_usernames" -> claimUsernamesSql,
    "q24_validation_split" -> validationSplitSql)
}
