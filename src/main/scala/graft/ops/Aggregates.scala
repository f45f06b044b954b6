package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TrimmedAggs

/** Aggregation operators (SURVEY.md §2.6) — the reference's bench
  * statistics generalized to grouped form, plus the grouping-set
  * family Spark exposes for free.
  *
  * Scale notes:
  *   - percentile/trimmed-* are exact (collect-per-group) to satisfy
  *     the oracle; the 100 TB path swaps `percentile` →
  *     `percentile_approx` and trimmed mean → two-pass (percentile
  *     bounds, then filtered avg) with identical plans otherwise.
  *   - counts/sums/avgs are partially aggregated map-side before the
  *     shuffle (HashAggregate partial → final in .explain).
  */
object Aggregates {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** A2 — exact percentiles with linear interpolation, grouped.
    * Spark's `percentile` uses k=(p/100)(n-1) interpolation — the same
    * formula as the reference (e2e_bench.go:292-305) and DuckDB's
    * quantile_cont. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy(col("event_type"))

  val percentilesSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A3 — trimmed mean via the custom Aggregator (trim 1%, reference
    * default, e2e_bench.go:47). */
  def trimmedMean(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(TrimmedAggs.trimmed_mean(col("value"), 1.0), 6).as("trimmed_mean"))
      .orderBy(col("event_type"))

  // Oracle mirrors the Go semantics: trim = trunc(n/100), capped at n/2,
  // drop `trim` rows from each end of the sort, average the rest.
  val trimmedMeanSql: String =
    """WITH s AS (
      |  SELECT event_type, value AS v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |k AS (SELECT *, CASE WHEN 2 * CAST(trunc(n * 1.0 / 100) AS BIGINT) >= n
      |  THEN n // 2 ELSE CAST(trunc(n * 1.0 / 100) AS BIGINT) END AS tr FROM s)
      |SELECT event_type, round(avg(v), 6) AS trimmed_mean
      |FROM k WHERE rn > tr AND rn <= n - tr
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A4 — trimmed percentile (trim 1%, then p50/p99). */
  def trimmedPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(TrimmedAggs.trimmed_percentile(col("value"), 50.0, 1.0), 6).as("tp50"),
        round(TrimmedAggs.trimmed_percentile(col("value"), 99.0, 1.0), 6).as("tp99"))
      .orderBy(col("event_type"))

  val trimmedPercentileSql: String =
    """WITH s AS (
      |  SELECT event_type, value AS v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |k AS (SELECT *, CASE WHEN 2 * CAST(trunc(n * 1.0 / 100) AS BIGINT) >= n
      |  THEN n // 2 ELSE CAST(trunc(n * 1.0 / 100) AS BIGINT) END AS tr FROM s)
      |SELECT event_type,
      |  round(quantile_cont(v, 0.5), 6) AS tp50,
      |  round(quantile_cont(v, 0.99), 6) AS tp99
      |FROM k WHERE rn > tr AND rn <= n - tr
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A3 scale path — identical row-trim semantics to the exact
    * Aggregator, computed WITHOUT the per-group value buffer: rank +
    * group count via window functions (a distributed, spillable sort —
    * a 10⁹-row group spills to disk instead of OOMing an ArrayBuffer),
    * then a plain avg over the kept rank range. Drops exactly `tr`
    * ROWS per end like the Go code, so it is output-identical for
    * every tie configuration and shares q14's oracle SQL verbatim. */
  def trimmedMeanByRank(df: DataFrame, groupCol: String, valueCol: String,
      trimPct: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val wAll = Window.partitionBy(col(groupCol))
    val rawTr = floor(col("n") * lit(trimPct) / 100.0).cast("long")
    df.select(col(groupCol), col(valueCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tr",
        when(rawTr * 2 >= col("n"), floor(col("n") / 2).cast("long")).otherwise(rawTr))
      .filter(col("rn") > col("tr") && col("rn") <= col("n") - col("tr"))
      .groupBy(col(groupCol))
      .agg(round(avg(col(valueCol)), 6).as("trimmed_mean"))
  }

  def trimmedMeanScalable(s: SparkSession, dir: String): DataFrame =
    trimmedMeanByRank(t(s, dir, "events"), "event_type", "value", 1.0)
      .orderBy(col("event_type"))

  /** A3 approx path for groups too large even to rank-sort on one
    * partition: pass 1 computes percentile_approx trim bounds per
    * group, pass 2 averages the values between them — two shuffle-free
    * map-side-combined aggs and a broadcast join, no sort anywhere.
    * VALUE-based (keeps all duplicates of the boundary values) so it
    * deviates from the exact row-trim when ties straddle a bound;
    * ApproxSpec bounds the error vs the exact Aggregator instead of
    * an oracle gate. */
  def trimmedMean2P(df: DataFrame, groupCol: String, valueCol: String,
      trimPct: Double, accuracy: Int = 10000): DataFrame = {
    val p = trimPct / 100.0
    val bounds = df.groupBy(col(groupCol)).agg(
      expr(s"percentile_approx($valueCol, $p, $accuracy)").as("lo"),
      expr(s"percentile_approx($valueCol, ${1 - p}, $accuracy)").as("hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .filter(col(valueCol).between(col("lo"), col("hi")))
      .groupBy(col(groupCol))
      .agg(round(avg(col(valueCol)), 6).as("trimmed_mean_2p"))
  }

  /** A6 — throughput: events per hour bucket (reference msgs/sec,
    * kafka_producer.go:116-120, generalized to event-time buckets).
    * Bucket emitted as epoch nanos so the compare is integer-exact. */
  def throughput(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts_utc")).as("bucket"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        (col("bucket").cast("long") * lit(1000000000L)).as("bucket_ns"),
        col("n_events"), col("sum_value"))
      .orderBy(col("bucket_ns"))

  val throughputSql: String =
    """SELECT epoch_ns(date_trunc('hour', ts)) AS bucket_ns,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** A1 + A8 — CASE-WHEN classification with grouped counters
    * (reference status-class counters http_load.go:115-130 and
    * deadline classification e2e_bench.go:222-244). */
  def classify(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("value_class",
        when(col("value") < 50, "low")
          .when(col("value") < 150, "mid")
          .otherwise("high"))
      .groupBy(col("event_type"), col("value_class"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("user_id") % 2 === 0, 1).otherwise(0)).as("n_even_users"))
      .orderBy(col("event_type"), col("value_class"))

  // n_even_users via FILTER count, not sum(CASE): DuckDB sum over INTEGER
  // returns HUGEINT (int128), which the driver's hash compare does not
  // coerce to Spark's BIGINT (round-1 q17 hash mismatch). count(*) FILTER
  // returns BIGINT natively.
  val classifySql: String =
    """SELECT event_type,
      |  CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid' ELSE 'high' END AS value_class,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE user_id % 2 = 0) AS n_even_users
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Rollup over the region→nation hierarchy (grouping-set family,
    * SURVEY §2.6 closing note). */
  def rollupRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("n_name").asc_nulls_first)

  val rollupRevenueSql: String =
    """SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name) ORDER BY n_name NULLS FIRST""".stripMargin

  /** SC2 — JSON field extraction from the event props envelope
    * (reference worker JSON decode, cmd/worker/worker.go:122-126).
    * Spark side uses get_json_object (real JSON path); oracle uses a
    * regexp so it runs without DuckDB's json extension. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("user_id") < lit(10L))
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))

  val jsonExtractSql: String =
    """SELECT event_id, CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
      |FROM events WHERE user_id < 10 ORDER BY event_id""".stripMargin

  /** Distinct-count family: exact + approx (approx not oracle-gated;
    * here only exact forms). */
  def distinctUsers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  val distinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Cube over two dims (the full grouping-set lattice). */
  def cubeRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .cube(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("n_name").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val cubeRevenueSql: String =
    """SELECT n_name, o_orderpriority, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE (n_name, o_orderpriority)
      |ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Engine-native approximate aggregates (HLL++ / GK quantiles) —
    * sketch internals differ per engine so this form can never
    * hash-match an oracle; ApproxSpec bounds its error vs the exact
    * operators instead. The GATED q41 below replaces it with
    * deterministic sketches (KMV + md5-bottom-k sampling) that ARE
    * pure functions of the value set and therefore oracle-certifiable. */
  def approxStatsNative(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        round(expr("percentile_approx(value, 0.5, 1000)"), 4).as("approx_p50"),
        round(expr("percentile_approx(value, 0.99, 1000)"), 4).as("approx_p99"))
      .orderBy(col("event_type"))

  /** q41 — approximate stats, ORACLE-CERTIFIED (the q81 precedent
    * applied to the full approx-stats workload,
    * bench/http_load/http_load.go:197-209's summary shape):
    * distinct users via the KMV bottom-k estimator, and approximate
    * quantiles as EXACT interpolated percentiles over a deterministic
    * uniform row sample — the m rows per group with the smallest
    * md5-prefix hash of their unique event_id. Both engines take the
    * SAME sample (the hash is a pure function of the row key, ties
    * broken by event_id), so the estimates hash-match, unlike
    * HLL/GK-sketch internals which are engine-private. The window
    * ranking is the certified baseline; at 100 TB both pieces run as
    * O(k)-state bottom-k Aggregators (SketchAggs.kmv_distinct — the
    * sample variant keeps (h, value) pairs), same estimates, no
    * per-group sort. */
  def approxStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 64   // KMV sketch size
    val m = 1000 // sample rows per group
    val ev = t(s, dir, "events")
    val kmv = ev
      .select(col("event_type"), kmvHash(col("user_id")).as("h"))
      .distinct()
      .withColumn("r", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"))))
      .groupBy(col("event_type"))
      .agg(max(col("r")).as("nh"),
        max(when(col("r") === k, col("h"))).as("hk"))
      .select(col("event_type"),
        round(when(col("nh") < k, col("nh").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) / col("hk")), 2)
          .as("approx_users"))
    val samp = ev
      .select(col("event_type"), col("value"), col("event_id"),
        kmvHash(col("event_id")).as("h"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"), col("event_id"))))
      .filter(col("r") <= m)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sample"),
        round(expr("percentile(value, 0.5)"), 6).as("approx_p50"),
        round(expr("percentile(value, 0.99)"), 6).as("approx_p99"))
    kmv.join(samp, Seq("event_type")).orderBy(col("event_type"))
  }

  val approxStatsSql: String = {
    def digits(c: String) = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substr($c, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}.0"
    }.mkString(" + ")
    s"""WITH uh AS (SELECT DISTINCT event_type,
       |    ${digits("md5(CAST(user_id AS VARCHAR))")} AS h FROM events),
       |ur AS (SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r FROM uh),
       |ua AS (SELECT event_type, max(r) AS nh,
       |    max(CASE WHEN r = 64 THEN h END) AS hk FROM ur GROUP BY event_type),
       |kmv AS (SELECT event_type,
       |    round(CASE WHEN nh < 64 THEN CAST(nh AS DOUBLE)
       |      ELSE 63.0 * 4294967296.0 / hk END, 2) AS approx_users FROM ua),
       |sh AS (SELECT event_type, value, event_id,
       |    ${digits("md5(CAST(event_id AS VARCHAR))")} AS h FROM events),
       |sr AS (SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS r FROM sh),
       |samp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample,
       |    round(quantile_cont(value, 0.5), 6) AS approx_p50,
       |    round(quantile_cont(value, 0.99), 6) AS approx_p99
       |  FROM sr WHERE r <= 1000 GROUP BY event_type)
       |SELECT kmv.event_type, approx_users, n_sample, approx_p50, approx_p99
       |FROM kmv JOIN samp USING (event_type) ORDER BY event_type""".stripMargin
  }

  /** Pivot: per-user event-type counts as columns (fixed pivot values
    * → deterministic schema; oracle mirrors with FILTER aggregates). */
  def pivotEventCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("user_id") < 30)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("user_id"))

  val pivotEventCountsSql: String =
    """SELECT user_id,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS "view"
      |FROM events WHERE user_id < 30 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Generator surface (§2.8): posexplode of whitespace tokens —
    * one row per (doc, position, token). */
  def posexplodeTokens(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("token"))
      .orderBy(col("doc_id"), col("pos"))

  val posexplodeTokensSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |  FROM documents WHERE doc_id < 20),
      |p AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS pos FROM t)
      |SELECT doc_id, pos, ts[pos] AS token FROM p ORDER BY doc_id, pos""".stripMargin

  /** Uniform [0, 2^32) hash shared by the KMV sketch and its oracle:
    * the first 8 hex digits of md5 of the value's decimal string —
    * reproducible from the formula alone, so DuckDB rebuilds the SAME
    * integers digit by digit. */
  def kmvHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("double")

  /** q81 — KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002),
    * ORACLE-CERTIFIED: per event_type, the exact distinct user count
    * next to the (k−1)/h_k estimate from the k=64 smallest distinct
    * md5-prefix hashes. Spark's BUILTIN HLL (q41's
    * approx_count_distinct) can never hash-match across engines —
    * its register layout is engine-private; KMV is a pure function of
    * the value set, so the sketch estimate itself is gated, not just
    * bounded (and q121 now certifies a real HLL the same way, by
    * building the registers from md5). This window form is the
    * certified baseline; `SketchAggs.kmv_distinct` is the O(k)-state
    * Aggregator scale form (no per-group rank over all distinct
    * hashes), spec'd equal on the same input. */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val ranked = Tables.load(s, dir, "events")
      .select(col("event_type"), kmvHash(col("user_id")).as("h"))
      .distinct()
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("h"))))
      .groupBy(col("event_type"))
      .agg(max(col("r")).as("nh"),
        max(when(col("r") === k, col("h"))).as("hk"))
    val exact = Tables.load(s, dir, "events").groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(ranked, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        round(when(col("nh") < k, col("nh").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) / col("hk")), 2)
          .as("kmv_est"))
      .orderBy(col("event_type"))
  }

  val kmvDistinctSql: String = {
    val digits = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substr(mh, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}.0"
    }.mkString(" + ")
    s"""WITH hsrc AS (SELECT event_type,
       |    md5(CAST(user_id AS VARCHAR)) AS mh FROM events),
       |h AS (SELECT DISTINCT event_type, $digits AS h FROM hsrc),
       |r AS (SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r FROM h),
       |a AS (SELECT event_type, max(r) AS nh,
       |    max(CASE WHEN r = 64 THEN h END) AS hk FROM r GROUP BY event_type),
       |e AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY event_type)
       |SELECT e.event_type, e.n_exact,
       |  round(CASE WHEN a.nh < 64 THEN CAST(a.nh AS DOUBLE)
       |    ELSE 63.0 * 4294967296.0 / a.hk END, 2) AS kmv_est
       |FROM e JOIN a USING (event_type) ORDER BY event_type""".stripMargin
  }

  /** Robust per-group outlier flagging — the Iglewicz–Hoaglin modified
    * z-score: z = 0.6745·(x − median)/MAD, flag |z| > 3.5. Median and
    * MAD resist the very outliers they detect (unlike mean/stddev,
    * which a single huge value drags toward itself). Two grouped
    * exact percentiles (group-count-sized frames, broadcast back) +
    * one map-side flag pass; the 100 TB path swaps `percentile` →
    * `percentile_approx` with identical plumbing (the q13/q41
    * convention). */
  def robustOutliers(events: DataFrame, minAbsZ: Double): DataFrame = {
    // med/mad are rounded to 6dp BEFORE the z computation: exact
    // interpolated percentiles agree across engines only to ~1 ulp
    // (q13 certifies them at 6dp), and an unrounded ulp would
    // propagate into z's 4th decimal on rounding-boundary rows.
    val med = events.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val withMed = events.select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(med), Seq("event_type"))
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = withMed.groupBy(col("event_type"))
      .agg(round(expr("percentile(ad, 0.5)"), 6).as("mad"))
    withMed.join(broadcast(mad), Seq("event_type"))
      .filter(col("mad") > 0)
      .withColumn("z", lit(0.6745) * (col("value") - col("med")) / col("mad"))
      .filter(abs(col("z")) > minAbsZ)
      // 1e-4 fixed point (the q88 recipe), NOT round(z, 4): decimal-
      // string rounding diverges across engines when z lands exactly
      // on a half boundary (which 2dp inputs make common).
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z") * 1e4).cast("long").as("z_fx"))
  }

  /** q111 — modified-z outliers over events.value at the standard 3.5
    * cut (392 of 10k rows at sf0.01). */
  def robustOutliersGate(s: SparkSession, dir: String): DataFrame =
    robustOutliers(t(s, dir, "events"), 3.5).orderBy(col("event_id"))

  val robustOutliersGateSql: String =
    """WITH m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM events GROUP BY 1),
      |a AS (SELECT e.event_id, e.event_type, e.value, m.med,
      |    abs(e.value - m.med) AS ad FROM events e JOIN m USING (event_type)),
      |md AS (SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad FROM a GROUP BY 1)
      |SELECT event_id, event_type, value,
      |  CAST(round(0.6745 * (value - med) / mad * 1e4) AS BIGINT) AS z_fx
      |FROM a JOIN md USING (event_type)
      |WHERE mad > 0 AND abs(0.6745 * (value - med) / mad) > 3.5
      |ORDER BY event_id""".stripMargin

  /** Portable HyperLogLog registers (Flajolet et al. 2007) — m = 64
    * buckets, every bit derived from md5 of the value's decimal
    * string, so the registers are a pure function of the value SET
    * (the KMV portability argument, q81): bucket = first md5 byte
    * mod 64, rank = leading-zero count of the next 48 bits + 1,
    * computed with integer/string ops only. This is the sketch q81's
    * doc note says Spark's builtin can never certify — the builtin's
    * register layout is engine-private; this one is rebuildable from
    * the formula alone, so the ESTIMATE hash-matches DuckDB.
    *
    * Scale shape: the register frame is the aggregation state —
    * groups × 64 rows regardless of input size, map-side-combined
    * max; registers from disjoint shards max-merge (spec'd), which is
    * the property that lets 1000 executors sketch 100 TB and combine
    * 64-row states. */
  def hllRegisters(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val h = md5(col(valCol).cast("string"))
    val tail = substring(h, 3, 12)
    val stripped = ltrim(tail, "0")
    val zeros = lit(12) - length(stripped)
    val first = substring(stripped, 1, 1)
    val extra = when(first === "1", 3).when(first.isin("2", "3"), 2)
      .when(first.isin("4", "5", "6", "7"), 1).otherwise(0)
    val rho = when(length(stripped) === 0, lit(49))
      .otherwise(lit(4) * zeros + extra + 1)
    df.select(col(groupCol),
        (conv(substring(h, 1, 2), 16, 10).cast("int") % 64).as("bkt"),
        rho.as("rho"))
      .groupBy(col(groupCol), col("bkt")).agg(max(col("rho")).as("mj"))
  }

  /** HLL estimate from a register frame: raw = α₆₄·m²/Σ2^(−Mⱼ) with
    * the small-range linear-counting correction (raw ≤ 2.5m with
    * empty registers → m·ln(m/V)). The register sum is EXACT BIGINT
    * (Σ 2^(49−Mⱼ), empty buckets contributing 2⁴⁹), so the only
    * float ops are one division and one ln — portable per the q78
    * precedent. */
  def hllEstimate(regs: DataFrame, groupCol: String): DataFrame = {
    val two49 = 562949953421312L // 2^49
    regs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("np"),
        sum(pow(lit(2.0), lit(49) - col("mj")).cast("long")).as("sp"))
      .withColumn("s", col("sp") + (lit(64L) - col("np")) * two49)
      .withColumn("v", (lit(64L) - col("np")).cast("long"))
      .withColumn("eraw",
        lit(0.709) * lit(4096.0) * lit(562949953421312.0) / col("s"))
      .select(col(groupCol), col("v").as("n_zero_regs"),
        when(col("v") > 0 && col("eraw") <= 160.0,
          round(lit(64.0) * log(lit(64.0) / col("v"))).cast("long"))
          .otherwise(round(col("eraw")).cast("long")).as("hll_est"))
  }

  /** q121 — HLL distinct sketch ORACLE GATE: per event_type, the
    * exact distinct user count next to the md5-register HLL estimate
    * (DuckDB rebuilds the identical 64 registers digit by digit).
    * Completes the certified-sketch quartet: KMV (q81), count-min
    * (q117), Bloom (q107), HLL. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val est = hllEstimate(hllRegisters(ev, "event_type", "user_id"), "event_type")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(est, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_zero_regs"), col("hll_est"))
      .orderBy(col("event_type"))
  }

  val hllDistinctSql: String =
    """WITH h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS mh FROM events),
      |b AS (SELECT event_type,
      |    CAST('0x' || substr(mh, 1, 2) AS INT) % 64 AS bkt,
      |    ltrim(substr(mh, 3, 12), '0') AS st FROM h),
      |r AS (SELECT event_type, bkt,
      |    CASE WHEN length(st) = 0 THEN 49
      |      ELSE 4 * (12 - length(st))
      |        + CASE WHEN substr(st, 1, 1) = '1' THEN 3
      |               WHEN substr(st, 1, 1) IN ('2', '3') THEN 2
      |               WHEN substr(st, 1, 1) IN ('4', '5', '6', '7') THEN 1
      |               ELSE 0 END + 1 END AS rho
      |  FROM b),
      |reg AS (SELECT event_type, bkt, max(rho) AS mj FROM r GROUP BY 1, 2),
      |a AS (SELECT event_type, count(*) AS np,
      |    sum(CAST(pow(2.0, 49 - mj) AS BIGINT)) AS sp FROM reg GROUP BY 1),
      |est AS (SELECT event_type,
      |    CAST(64 - np AS BIGINT) AS n_zero_regs,
      |    sp + (64 - np) * 562949953421312 AS s,
      |    CAST(0.709 AS DOUBLE) * 4096.0 * 562949953421312.0
      |      / (sp + (64 - np) * 562949953421312) AS eraw
      |  FROM a),
      |e AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type, e.n_exact, est.n_zero_regs,
      |  CASE WHEN est.n_zero_regs > 0 AND est.eraw <= 160.0
      |    THEN CAST(round(64.0 * ln(64.0 / est.n_zero_regs)) AS BIGINT)
      |    ELSE CAST(round(est.eraw) AS BIGINT) END AS hll_est
      |FROM e JOIN est USING (event_type) ORDER BY event_type""".stripMargin

  /** Grouped least-squares trend (value vs time) with EXACT integer
    * moment sums. Spark ships `regr_slope`/`regr_intercept`, but
    * their double partial sums accumulate in partition order — the
    * float-nondeterminism anti-pattern that can never hash-match an
    * oracle. This twin reduces each group to five exact BIGINT
    * moments (n, Σx, Σy, Σxy, Σx²) over cents and hours-since-group-
    * start — all < 2⁵³, so the closing slope/intercept arithmetic is
    * a handful of IEEE double ops on exactly-represented integers,
    * identical in any engine and any partition order. One map-side-
    * combined aggregation per group; the min-ts frame broadcasts
    * back. */
  def groupedTrend(events: DataFrame, groupCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val mins = events.groupBy(col(groupCol)).agg(min(col(tsCol)).as("ts0"))
    val m = events.select(col(groupCol), col(tsCol), col(valCol))
      .join(broadcast(mins), Seq(groupCol))
      // ts is epoch-nanos (Tables.normalizeTs); x = whole hours since
      // the group's first event, y = exact cents
      .withColumn("x", expr(s"($tsCol - ts0) div 3600000000000"))
      .withColumn("y", round(col(valCol) * 100).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        min(col("x")).as("mnx"), max(col("x")).as("mxx"))
    val n = col("n").cast("double")
    val xb = col("sx").cast("double") / n
    val yb = col("sy").cast("double") / n
    val den = col("sxx").cast("double") - n * xb * xb
    val num = col("sxy").cast("double") - n * xb * yb
    // zero x-variance ⟺ min(x) = max(x): an exact, overflow-free
    // degenerate test (n·sxx and sx² overflow BIGINT at large n)
    m.filter(col("mnx") =!= col("mxx"))
      .select(col(groupCol), col("n"),
        round(num / den * 1e4).cast("long").as("slope_fx"),
        round((yb - num / den * xb) * 1e4).cast("long").as("intercept_fx"))
  }

  /** q124 — per-event_type value trend (cents per hour, 1e-4 fixed
    * point). */
  def groupedTrendGate(s: SparkSession, dir: String): DataFrame =
    groupedTrend(Tables.events(s, dir), "event_type", "ts", "value")
      .orderBy(col("event_type"))

  val groupedTrendGateSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS tus, value FROM events),
      |m0 AS (SELECT event_type, min(tus) AS t0 FROM e GROUP BY 1),
      |xy AS (SELECT event_type,
      |    (tus - t0) // 3600000000 AS x,
      |    CAST(round(value * 100) AS BIGINT) AS y
      |  FROM e JOIN m0 USING (event_type)),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
      |    min(x) AS mnx, max(x) AS mxx
      |  FROM xy GROUP BY 1)
      |SELECT event_type, n,
      |  CAST(round((CAST(sxy AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
      |    / (CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) * 1e4) AS BIGINT) AS slope_fx,
      |  CAST(round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |    - (CAST(sxy AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
      |      / (CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) * 1e4) AS BIGINT) AS intercept_fx
      |FROM s WHERE mnx <> mxx
      |ORDER BY event_type""".stripMargin

  /** Grouped Pearson correlation with exact integer moments — the
    * `corr` builtin's deterministic twin (same argument as
    * [[groupedTrend]]: six BIGINT moments, then a fixed sequence of
    * IEEE double ops — products stay under 2⁵³ per factor, and the
    * double rounding of each product/sqrt is identical in any
    * engine). Degenerate groups (zero variance on either axis) are
    * dropped by EXACT integer predicates, never a float epsilon. */
  def groupedCorr(events: DataFrame, groupCol: String, xCol: Column,
      yCol: Column): DataFrame = {
    val m = events
      .withColumn("x", xCol.cast("long")).withColumn("y", yCol.cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        min(col("x")).as("mnx"), max(col("x")).as("mxx"),
        min(col("y")).as("mny"), max(col("y")).as("mxy2"))
    val n = col("n").cast("double")
    val num = col("sxy").cast("double") * n - col("sx").cast("double") * col("sy").cast("double")
    val d1 = col("sxx").cast("double") * n - col("sx").cast("double") * col("sx").cast("double")
    val d2 = col("syy").cast("double") * n - col("sy").cast("double") * col("sy").cast("double")
    // zero variance ⟺ min = max on that axis — exact and
    // overflow-free (n·syy and sy² overflow BIGINT at large n)
    m.filter(col("mnx") =!= col("mxx") && col("mny") =!= col("mxy2"))
      .select(col(groupCol), col("n"),
        round(num / sqrt(d1 * d2) * 1e6).cast("long").as("corr_fx"))
  }

  /** q127 — per-event_type correlation of value (cents) with
    * hour-of-day: the seasonality screen run before trusting any
    * per-hour aggregate. */
  def groupedCorrGate(s: SparkSession, dir: String): DataFrame =
    groupedCorr(Tables.events(s, dir), "event_type",
      expr("(ts div 3600000000000) % 24"),
      round(col("value") * 100))
      .orderBy(col("event_type"))

  val groupedCorrGateSql: String =
    """WITH xy AS (SELECT event_type,
      |    (epoch_us(ts) // 3600000000) % 24 AS x,
      |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy2
      |  FROM xy GROUP BY 1)
      |SELECT event_type, n,
      |  CAST(round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt((CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         * (CAST(syy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    * 1e6) AS BIGINT) AS corr_fx
      |FROM s WHERE mnx <> mxx AND mny <> mxy2
      |ORDER BY event_type""".stripMargin

  /** Chi-square homogeneity drift test per group: did the category
    * distribution change between two periods (the A/B-significance /
    * seasonal-drift screen)? Contingency counts are exact integers;
    * each cell's (O−E)²/E is computed in double from exact integer
    * factors and emitted as a 1e-6 fixed-point BIGINT so the final
    * per-group SUM is integer — order-free (the q112 recipe; a raw
    * double sum over cells would be partition-order dependent). One
    * count aggregation over events; every later exchange (the
    * row/column/grand totals the plan audit counts) operates on the
    * checkpointed contingency frame of groups × categories × periods
    * rows — cell-bounded, never corpus-sized.
    *
    * The contingency grid is the FULL cross of each group's observed
    * categories × periods, with unobserved cells coalesced to O=0 —
    * a vanished category still contributes its (0−E)²/E = E term, so
    * extreme drift (a class present in only one period) is not
    * understated. */
  def chiSquareDrift(events: DataFrame, groupCol: String, catCol: Column,
      periodCol: Column): DataFrame = {
    // the cell-bounded contingency frame has FOUR consumers (row,
    // column, grand totals + the term join) — materialize it so the
    // events scan runs once
    val observed = events
      .select(col(groupCol).as("g"), catCol.as("cat"), periodCol.as("per"))
      .groupBy(col("g"), col("cat"), col("per")).agg(count(lit(1)).as("o")).localCheckpoint()
    // complete the grid: every (group, cat) × (group, per) observed
    // anywhere gets a cell, missing ones at O=0 (cell-bounded frames,
    // both broadcastable)
    val cells = observed.select(col("g"), col("cat")).distinct()
      .join(observed.select(col("g"), col("per")).distinct(), Seq("g"))
      .join(observed, Seq("g", "cat", "per"), "left")
      .na.fill(0L, Seq("o"))
    val rt = cells.groupBy(col("g"), col("cat")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("g"), col("per")).agg(sum(col("o")).as("ct"))
    val gt = cells.groupBy(col("g")).agg(sum(col("o")).as("gt"),
      countDistinct(col("cat")).as("ncat"), countDistinct(col("per")).as("nper"))
    val e = col("rt").cast("double") * col("ct").cast("double") / col("gt").cast("double")
    cells
      .join(broadcast(rt), Seq("g", "cat"))
      .join(broadcast(ct), Seq("g", "per"))
      .join(broadcast(gt), Seq("g"))
      .withColumn("termfx", round(
        (col("o").cast("double") - e) * (col("o").cast("double") - e) / e * 1e6)
        .cast("long"))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("gt")).as("n"),
        ((max(col("ncat")) - 1) * (max(col("nper")) - 1)).as("dof"),
        sum(col("termfx")).as("chi2_fx"))
  }

  /** q131 — per-event_type drift of the value-class distribution
    * (q17's low/mid/high bands) between the first and second half of
    * the observed month. */
  def chiSquareGate(s: SparkSession, dir: String): DataFrame =
    chiSquareDrift(Tables.events(s, dir), "event_type",
      when(col("value") < 50, "low").when(col("value") < 150, "mid")
        .otherwise("high"),
      when(expr("ts div 86400000000000") < lit(19738L), lit(0)).otherwise(lit(1)))
      .orderBy(col("event_type"))

  // 19738 = 2024-01-16 in epoch days: the fixed mid-month split.
  val chiSquareGateSql: String =
    """WITH c0 AS (SELECT event_type AS g,
      |    CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid'
      |         ELSE 'high' END AS cat,
      |    CASE WHEN epoch_us(ts) // 86400000000 < 19738 THEN 0 ELSE 1 END AS per,
      |    count(*) AS o
      |  FROM events GROUP BY 1, 2, 3),
      |cats AS (SELECT DISTINCT g, cat FROM c0),
      |pers AS (SELECT DISTINCT g, per FROM c0),
      |c AS (SELECT g, cat, per, coalesce(o, 0) AS o
      |  FROM cats JOIN pers USING (g) LEFT JOIN c0 USING (g, cat, per)),
      |rt AS (SELECT g, cat, sum(o) AS rt FROM c GROUP BY 1, 2),
      |ct AS (SELECT g, per, sum(o) AS ct FROM c GROUP BY 1, 2),
      |gt AS (SELECT g, sum(o) AS gt, count(DISTINCT cat) AS ncat,
      |    count(DISTINCT per) AS nper FROM c GROUP BY 1),
      |fx AS (SELECT c.g, CAST(round(
      |      (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(gt AS DOUBLE))
      |    * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(gt AS DOUBLE))
      |    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(gt AS DOUBLE)) * 1e6) AS BIGINT) AS termfx,
      |    gt, ncat, nper
      |  FROM c JOIN rt USING (g, cat) JOIN ct USING (g, per) JOIN gt USING (g))
      |SELECT g AS event_type, CAST(max(gt) AS BIGINT) AS n,
      |  CAST((max(ncat) - 1) * (max(nper) - 1) AS BIGINT) AS dof,
      |  CAST(sum(termfx) AS BIGINT) AS chi2_fx
      |FROM fx GROUP BY g ORDER BY event_type""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_chi_square_drift" -> chiSquareGate,
    "q127_grouped_corr" -> groupedCorrGate,
    "q124_grouped_trend" -> groupedTrendGate,
    "q121_hll_distinct" -> hllDistinct,
    "q111_robust_outliers" -> robustOutliersGate,
    "q81_kmv_distinct" -> kmvDistinct,
    "q47_pivot_events" -> pivotEventCounts,
    "q48_posexplode_tokens" -> posexplodeTokens,
    "q40_cube_revenue" -> cubeRevenue,
    "q41_approx_stats" -> approxStats,
    "q13_percentiles" -> percentiles,
    "q14_trimmed_mean" -> trimmedMean,
    "q15_trimmed_percentile" -> trimmedPercentile,
    "q16_throughput" -> throughput,
    "q17_classify" -> classify,
    "q18_rollup_revenue" -> rollupRevenue,
    "q19_json_extract" -> jsonExtract,
    "q20_distinct_users" -> distinctUsers,
    "q57_trimmed_mean_rank" -> trimmedMeanScalable)

  def oracles: Map[String, String] = Map(
    "q131_chi_square_drift" -> chiSquareGateSql,
    "q127_grouped_corr" -> groupedCorrGateSql,
    "q124_grouped_trend" -> groupedTrendGateSql,
    "q121_hll_distinct" -> hllDistinctSql,
    "q111_robust_outliers" -> robustOutliersGateSql,
    "q41_approx_stats" -> approxStatsSql,
    "q81_kmv_distinct" -> kmvDistinctSql,
    "q57_trimmed_mean_rank" -> trimmedMeanSql,
    "q47_pivot_events" -> pivotEventCountsSql,
    "q48_posexplode_tokens" -> posexplodeTokensSql,
    "q40_cube_revenue" -> cubeRevenueSql,
    "q13_percentiles" -> percentilesSql,
    "q14_trimmed_mean" -> trimmedMeanSql,
    "q15_trimmed_percentile" -> trimmedPercentileSql,
    "q16_throughput" -> throughputSql,
    "q17_classify" -> classifySql,
    "q18_rollup_revenue" -> rollupRevenueSql,
    "q19_json_extract" -> jsonExtractSql,
    "q20_distinct_users" -> distinctUsersSql)
}
