package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Date/time scalar family + batch sessionization.
  *
  * q51 is the interesting one: Spark's `session_window` (used
  * streaming in StreamOps.sessionize) runs in BATCH here and is
  * hash-verified against a first-principles gaps-and-islands oracle
  * (lag + cumulative flag sum) — certifying the session semantics
  * themselves: an event extends a session iff it starts strictly
  * inside predecessor's [ts, ts+gap) window.
  */
object Temporal {

  /** Date arithmetic/extraction family (SC-family widening). */
  def dateMath(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") < 3000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).as("days_to_2002"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"))
      .orderBy(col("o_orderkey"))

  val dateMathSql: String =
    """SELECT o_orderkey,
      |  CAST(date_part('year', o_orderdate) AS INT) AS yr,
      |  CAST(date_part('month', o_orderdate) AS INT) AS mo,
      |  CAST(date_part('day', o_orderdate) AS INT) AS dom,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
      |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin

  /** Batch sessionization: session_window(ts, 30 min) per user over
    * events, emitted as (user, session_start_us, n_events). */
  def sessions(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts_utc"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))

  // Gaps-and-islands: new session when ts - prev_ts >= 30 min.
  val sessionsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |flagged AS (SELECT user_id, us,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
      |      >= 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |grp AS (SELECT user_id, us,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, min(us) AS session_start_us, count(*) AS n_events
      |FROM grp GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  /** Range (band) self-join: for every event, how many events of the
    * SAME user fall strictly inside the trailing window (t−Δ, t) —
    * the rate-limit / burst-detection / abuse-audit shape. This is
    * the range-window form: ONE shuffle on user, an in-partition sort,
    * and an incrementally-maintained sliding frame (no pair blowup at
    * all). `priorEventCountBucketed` is the skew-safe twin for hot
    * keys; RangeJoinSpec pins the two equal. */
  def priorEventCount(events: DataFrame, userCol: String, tsCol: String,
      windowNs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol))
      .rangeBetween(-(windowNs - 1), -1)
    events.select(col("event_id"), col(userCol), col(tsCol))
      .withColumn("n_prior", count(lit(1)).over(w))
      .select(col("event_id"), col("n_prior"))
  }

  /** Skew-safe band-join form of `priorEventCount`: bucket time by Δ,
    * emit each build row into its own bucket AND the next (any
    * trailing-Δ window crosses at most one boundary), equi-join on
    * (user, bucket), then test the exact band. The quadratic is
    * confined to a (user, Δ-bucket) cell, and a hot user's cells can
    * be salted independently — the form that survives a key with
    * millions of events where the range-window form's single
    * partition would die. Left join keeps zero-prior events. */
  def priorEventCountBucketed(events: DataFrame, userCol: String, tsCol: String,
      windowNs: Long): DataFrame = {
    val probe = events.select(col("event_id"), col(userCol).as("_u"),
        col(tsCol).as("_t"))
      .withColumn("_bkt", floor(col("_t") / windowNs))
    val build0 = events.select(col(userCol).as("_bu"), col(tsCol).as("_bt"))
      .withColumn("_bbkt", floor(col("_bt") / windowNs))
    val build = build0.select(col("_bu"), col("_bt"), col("_bbkt").as("_bkt"))
      .unionByName(build0.select(col("_bu"), col("_bt"), (col("_bbkt") + 1).as("_bkt")))
    probe.join(build,
        probe("_u") === build("_bu") && probe("_bkt") === build("_bkt"), "left")
      .withColumn("_hit",
        when(col("_bt") < col("_t") && col("_t") - col("_bt") < windowNs, 1L)
          .otherwise(0L))
      .groupBy(col("event_id"))
      .agg(sum(col("_hit")).as("n_prior"))
  }

  /** q108 — trailing-24h prior-event count per event (range-window
    * form; the bucketed twin is spec-pinned identical). */
  def priorEvents(s: SparkSession, dir: String): DataFrame =
    priorEventCount(Tables.events(s, dir), "user_id", "ts",
        86400L * 1000 * 1000 * 1000)
      .orderBy(col("event_id"))

  // Independent mirror: the naive inequality self-join DuckDB's
  // IEJoin handles directly (no buckets, no window frames).
  val priorEventsSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events)
      |SELECT a.event_id, count(b.event_id) AS n_prior
      |FROM e a LEFT JOIN e b
      |  ON a.user_id = b.user_id AND b.t < a.t AND a.t - b.t < 86400000000
      |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin

  /** Cohort retention: users bucketed by first-activity week; for
    * every (cohort, week offset) the distinct users still active —
    * the standard product-analytics triangle. Two shuffles (first-
    * week per user, then the cohort×offset distinct count); the
    * first-week frame is user-cardinality-sized and broadcasts back.
    * Weeks via `date_trunc("week", …)` (Monday start in both
    * engines), offsets as exact day-diff / 7. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"),
      date_trunc("week", col("ts_utc")).as("wk"))
    val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    e.join(broadcast(first), Seq("user_id"))
      .groupBy(col("cohort"),
        (datediff(col("wk").cast("date"), col("cohort").cast("date")) / 7)
          .cast("int").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** q114 — weekly retention triangle over events. */
  def retention(s: SparkSession, dir: String): DataFrame =
    retentionCohorts(Tables.events(s, dir))

  val retentionSql: String =
    """WITH e AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
      |  CAST(date_diff('day', CAST(cohort AS DATE), CAST(wk AS DATE)) // 7 AS INT) AS week_offset,
      |  count(DISTINCT user_id) AS n_users
      |FROM e JOIN f USING (user_id)
      |GROUP BY cohort, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Ordered-funnel analysis: how many users complete step k of a
    * named event sequence, where step k counts only events STRICTLY
    * AFTER the user's (greedy, earliest-possible) completion of step
    * k-1. The greedy frontier is the standard funnel semantics:
    * step-0 time is the user's first step-0 event, step-k time the
    * first step-k event after the step-(k-1) time.
    *
    * Scale shape: one pass over (type-filtered, 3-column) events per
    * step — the type predicate pushes into the parquet scan — and the
    * inter-step state is a per-user frame (user, frontier-ts) that
    * broadcasts back; no window over the raw events, no event-level
    * shuffle beyond the per-user min. Hot users cost nothing extra
    * (min is map-side-combined). */
  def funnelSteps(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col(userCol).as("_u"), col(typeCol).as("_k"),
      col(tsCol).as("_t"))
    val frontiers = steps.tail.scanLeft(
      e.filter(col("_k") === steps.head)
        .groupBy(col("_u")).agg(min(col("_t")).as("_rt"))) {
      case (prev, step) =>
        e.filter(col("_k") === step)
          .join(broadcast(prev.select(col("_u"), col("_rt").as("_pt"))), Seq("_u"))
          .filter(col("_t") > col("_pt"))
          .groupBy(col("_u")).agg(min(col("_t")).as("_rt"))
    }
    frontiers.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i).as("step_idx"), lit(steps(i)).as("step"),
          col("n_users"))
    }.reduce(_ unionByName _).orderBy(col("step_idx"))
  }

  /** q115 — signup → view → click → purchase funnel over events. */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelSteps(Tables.events(s, dir), "user_id", "event_type", "ts",
      Seq("signup", "view", "click", "purchase"))

  val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s0 AS (SELECT user_id, min(t) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
      |s1 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s0 USING (user_id)
      |  WHERE e.event_type = 'view' AND e.t > s0.t GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.t > s1.t GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.t > s2.t GROUP BY 1)
      |SELECT 0 AS step_idx, 'signup' AS step, count(*) AS n_users FROM s0
      |UNION ALL SELECT 1, 'view', count(*) FROM s1
      |UNION ALL SELECT 2, 'click', count(*) FROM s2
      |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
      |ORDER BY step_idx""".stripMargin

  /** Markov transition matrix over per-user event sequences: for every
    * ordered (type → next type) step the count and the row-normalized
    * transition probability — the "what do users do next" statistic
    * behind funnel discovery and session modeling. One window shuffle
    * on user (the same partitioning q108's range window pays);
    * everything after is on the types×types frame. Probabilities are
    * 1e-6 fixed point via exact integer division — no float sums.
    * Ordering ties (same user, same ts) break on `tieCol` (a unique
    * row id — default event_id) so both engines walk the identical
    * sequence. */
  def transitionMatrix(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val trans = events.select(col(userCol), col(typeCol), col(tsCol), col(tieCol))
      .withColumn("to_type", lead(col(typeCol), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    trans
      .withColumn("tot", sum(col("n_trans")).over(
        Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        expr("(n_trans * 1000000) div tot").as("p_fx"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q123 — event-type transition matrix over events. */
  def transitions(s: SparkSession, dir: String): DataFrame =
    transitionMatrix(Tables.events(s, dir), "user_id", "event_type", "ts")

  val transitionsSql: String =
    """WITH e AS (SELECT user_id, event_type, event_id,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |t AS (SELECT event_type AS from_type, to_type, count(*) AS n_trans
      |  FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT from_type, sum(n_trans) AS tot FROM t GROUP BY 1)
      |SELECT from_type, to_type, n_trans,
      |  CAST((n_trans * 1000000) // tot AS BIGINT) AS p_fx
      |FROM t JOIN r USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands shape on integer day numbers: distinct
    * (user, day), rank days per user, and `day − rank` is constant
    * exactly along a run of consecutive days. All-integer (epoch
    * days), one user-keyed window shuffle over the user-day frame
    * (≪ events), aggregates island- then user-sized. */
  def activityStreaks(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ud = events
      .select(col(userCol), expr(s"$tsCol div 86400000000000").as("d"))
      .distinct()
    val w = Window.partitionBy(col(userCol)).orderBy(col("d"))
    ud.withColumn("grp", col("d") - row_number().over(w))
      .groupBy(col(userCol), col("grp")).agg(count(lit(1)).as("len"))
      .groupBy(col(userCol))
      .agg(sum(col("len")).as("n_active_days"), max(col("len")).as("longest_streak"))
      .orderBy(col(userCol))
  }

  /** q129 — per-user activity streaks over events. */
  def streaks(s: SparkSession, dir: String): DataFrame =
    activityStreaks(Tables.events(s, dir), "user_id", "ts")

  val streaksSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
      |g AS (SELECT user_id, d,
      |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp FROM ud),
      |runs AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
      |  CAST(max(len) AS BIGINT) AS longest_streak
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Rolling active users — DAU and trailing-7-day WAU per day. The
    * scale trick is the explode form: the distinct (user, day) frame
    * (≪ events) fans each row out to the 7 observation days it keeps
    * the user "active" for (map-side `sequence`), and WAU is then a
    * plain day-keyed distinct count — no per-day range scan over
    * history, no window over raw events. Observation days clamp to
    * days that actually occur (left-semi on the day list). The
    * oracle computes the same numbers INDEPENDENTLY as a range join
    * (DuckDB IEJoin), so the fan-out construction itself is what the
    * hash certifies. */
  def rollingActiveUsers(events: DataFrame, userCol: String,
      tsCol: String, windowDays: Int = 7): DataFrame = {
    // the user-day frame has THREE consumers (dau, the wau fan-out,
    // and the day-list clamp) — materialize it so events is scanned
    // once, not three times
    val ud = events
      .select(col(userCol), expr(s"$tsCol div 86400000000000").as("d"))
      .distinct().localCheckpoint()
    // ud is already distinct, so DAU is a plain count; the day list
    // and the DAU frame are day-cardinality-sized — broadcast both
    val dau = ud.groupBy(col("d").as("day_num"))
      .agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col(userCol),
        explode(sequence(col("d"), col("d") + (windowDays - 1))).as("day_num"))
      .join(broadcast(ud.select(col("d").as("day_num")).distinct()),
        Seq("day_num"), "left_semi")
      .groupBy(col("day_num")).agg(countDistinct(col(userCol)).as("wau"))
    wau.join(broadcast(dau), Seq("day_num")).select(col("day_num"),
        col("dau"), col("wau"))
      .orderBy(col("day_num"))
  }

  /** q130 — daily DAU + trailing-7-day WAU over events. */
  def activeUsers(s: SparkSession, dir: String): DataFrame =
    rollingActiveUsers(Tables.events(s, dir), "user_id", "ts")

  val activeUsersSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
      |days AS (SELECT DISTINCT d FROM ud),
      |dau AS (SELECT d AS day_num, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
      |wau AS (SELECT days.d AS day_num, count(DISTINCT ud.user_id) AS wau
      |  FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
      |  GROUP BY 1)
      |SELECT day_num, dau, wau FROM dau JOIN wau USING (day_num)
      |ORDER BY day_num""".stripMargin

  /** Last-touch conversion attribution: every conversion event is
    * credited to the user's most recent PRIOR event of a different
    * type (the standard marketing-attribution rule; first-touch is
    * the same window with `first` over an unbounded-preceding
    * frame). One user-window shuffle — `last(..., ignoreNulls)` over
    * rows [unbounded, −1] — then a types-sized count. Conversions
    * with no prior touch credit "(none)". Ties on ts break on
    * event_id (the q123 contract), so both engines walk the same
    * sequence. */
  def lastTouchAttribution(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, conversionType: String,
      tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events.select(col(userCol), col(typeCol), col(tsCol), col(tieCol))
      .withColumn("touch",
        last(when(col(typeCol) =!= conversionType, col(typeCol)), ignoreNulls = true)
          .over(w))
      .filter(col(typeCol) === conversionType)
      .groupBy(coalesce(col("touch"), lit("(none)")).as("attributed_type"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy(col("attributed_type"))
  }

  /** q132 — purchases attributed to the last prior non-purchase
    * touch. */
  def attribution(s: SparkSession, dir: String): DataFrame =
    lastTouchAttribution(Tables.events(s, dir), "user_id", "event_type",
      "ts", "purchase")

  val attributionSql: String =
    """WITH e AS (SELECT user_id, event_type, event_id,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events)
      |SELECT coalesce(touch, '(none)') AS attributed_type,
      |  count(*) AS n_conversions
      |FROM e WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY attributed_type""".stripMargin

  /** q161 — classical additive seasonal decomposition of daily order
    * revenue: trend = centered 7-day moving average (RANGE window over
    * the integer day, emitted only when all 7 calendar days exist, so
    * missing days can't silently shrink the mean), day-of-week
    * seasonal = mean detrended value per dow, residual = value −
    * trend − seasonal. All terms are exact integer cents with one
    * truncating division each (Spark `div` ≡ DuckDB `//` — both
    * truncate toward zero, verified). Scale: the only corpus-sized
    * work is the orders scan + day aggregation; everything after is
    * day-grain (≤ a few thousand rows/decade), checkpointed once and
    * re-used by the window, the dow aggregate, and the final join. */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame =
    seasonalOf(Tables.load(s, dir, "orders")
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_fx")))

  /** Generic core over any (day BIGINT, rev_fx BIGINT) daily frame. */
  def seasonalOf(daily: DataFrame): DataFrame = {
    val w = Window.orderBy(col("day")).rangeBetween(-3, 3)
    val tr = daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("trend_fx",
        when(col("n_win") === 7, expr("sum(rev_fx) OVER (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) div 7")))
      .select(col("day"), col("rev_fx"), col("trend_fx")).localCheckpoint()
    val dow = tr.filter(col("trend_fx").isNotNull)
      .groupBy((col("day") % 7).as("dow"))
      .agg(expr("sum(rev_fx - trend_fx) div count(1)").as("seasonal_fx"))
    tr.join(broadcast(dow), col("day") % 7 === col("dow"))
      .select(col("day"), col("rev_fx"), col("trend_fx"), col("seasonal_fx"),
        (col("rev_fx") - col("trend_fx") - col("seasonal_fx")).as("resid_fx"))
      .orderBy(col("day"))
  }

  val seasonalDecomposeSql: String =
    """WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_fx
      |  FROM orders GROUP BY 1),
      |t AS (SELECT day, rev_fx,
      |    count(*) OVER win AS n_win, sum(rev_fx) OVER win AS s_win
      |  FROM d WINDOW win AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t2 AS (SELECT day, CAST(rev_fx AS BIGINT) AS rev_fx,
      |    CASE WHEN n_win = 7 THEN CAST(s_win // 7 AS BIGINT) END AS trend_fx FROM t),
      |se AS (SELECT day % 7 AS dow,
      |    CAST(sum(rev_fx - trend_fx) // count(*) AS BIGINT) AS seasonal_fx
      |  FROM t2 WHERE trend_fx IS NOT NULL GROUP BY 1)
      |SELECT day, rev_fx, trend_fx, seasonal_fx,
      |  rev_fx - trend_fx - seasonal_fx AS resid_fx
      |FROM t2 JOIN se ON day % 7 = dow
      |ORDER BY day""".stripMargin

  /** q162 — truncated exponentially-weighted moving average of daily
    * per-user activity (α = 1/4 over the user's 8 most recent OBSERVED
    * days — gap-insensitive by contract, like every lag-based EWMA on
    * sparse activity data). The geometric weights are exact rationals
    * over the common denominator 4⁸: w_i = 3^i·4^(7−i), so the whole
    * statistic is one BIGINT dot product and one truncating division
    * — no float powers anywhere. One shuffle builds the (user, day)
    * count frame; the 8-lag window rides the same user partitioning;
    * the final screen is a TakeOrderedAndProject top-50. */
  def ewmaActivity(s: SparkSession, dir: String): DataFrame =
    ewmaOf(Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("cnt")))
      .orderBy(col("ewma_fx").desc, col("user_id"))
      .limit(50)

  /** Generic core over any (user_id, day, cnt) frame: each user's
    * final-day truncated-EWMA row. */
  def ewmaOf(ud: DataFrame): DataFrame = {
    val weights = (0 to 7).map(i =>
      math.pow(3, i).toLong * math.pow(4, 7 - i).toLong)
    val uw = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val dot = (0 to 7).map(i =>
      lag(col("cnt"), i, 0L).over(uw) * lit(weights(i))).reduce(_ + _)
    ud.withColumn("wsum", dot)
      .withColumn("ewma_fx", expr("(wsum * 1000000) div 65536"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("day").desc)))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("day"), col("ewma_fx"))
  }

  val ewmaActivitySql: String = {
    val weights = (0 to 7).map(i =>
      math.pow(3, i).toLong * math.pow(4, 7 - i).toLong)
    val dot = (0 to 7).map(i =>
      s"lag(cnt, $i, 0) OVER (PARTITION BY user_id ORDER BY day) * ${weights(i)}")
      .mkString(" + ")
    s"""WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |    count(*) AS cnt FROM events GROUP BY 1, 2),
       |w AS (SELECT user_id, day, $dot AS wsum FROM ud),
       |f AS (SELECT user_id, day,
       |    CAST((wsum * 1000000) // 65536 AS BIGINT) AS ewma_fx,
       |    row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rk
       |  FROM w)
       |SELECT user_id, day, ewma_fx FROM f WHERE rk = 1
       |ORDER BY ewma_fx DESC, user_id LIMIT 50""".stripMargin
  }

  /** Streaming twin of [[ewmaOf]] (ST9): per-user truncated EWMA
    * maintained across micro-batches with flatMapGroupsWithState.
    * State = the per-day counts of the user's 8 newest OBSERVED days
    * (same-day arrivals across batches merge into one count, so any
    * batch split of an in-order stream converges to the batch
    * result — spec-pinned). Emits the user's current
    * (final day, ewma_fx) on every update; same exact rational
    * weights 3^i·4^(7−i)/4^8 as batch. */
  def ewmaStreaming(events: DataFrame, userCol: String, dayCol: String)
      : org.apache.spark.sql.Dataset[EwmaRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val weights = (0 to 7).map(i =>
      math.pow(3, i).toLong * math.pow(4, 7 - i).toLong)
    val s = events.sparkSession
    import s.implicits._
    events.select(col(userCol).cast("long").as("u"), col(dayCol).cast("long").as("d"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (u: Long, it: Iterator[(Long, Long)], st: GroupState[EwmaState]) =>
          val prev: Map[Long, Long] = st.getOption
            .map(s0 => s0.days.zip(s0.cnts).toMap).getOrElse(Map.empty)
          val merged = it.foldLeft(prev) { case (m, (_, d)) =>
            m.updated(d, m.getOrElse(d, 0L) + 1L)
          }
          val kept = merged.toSeq.sortBy(-_._1).take(8) // newest first
          st.update(EwmaState(kept.map(_._1), kept.map(_._2)))
          val wsum = kept.zipWithIndex.map { case ((_, c), i) => c * weights(i) }.sum
          Iterator.single(EwmaRow(u, kept.head._1, wsum * 1000000L / 65536L))
      }
  }

  /** q165 — inter-arrival gap percentiles: per event type, the exact
    * interpolated p50/p90 of the time between a user's consecutive
    * events of that type — the engagement-cadence statistic behind
    * notification tuning and churn models. One (user, type) window
    * shuffle computes the lag diffs; successive differences of a
    * sorted multiset are tie-order invariant, so ORDER BY ts alone is
    * deterministic. Gaps are exact integer micros; `percentile` is
    * Spark's exact interpolating aggregate ≡ DuckDB quantile_cont
    * (the q13 recipe, rounded to 6dp on both sides). */
  def interArrival(s: SparkSession, dir: String): DataFrame = {
    // micros on both sides: truncate nanos → micros BEFORE the window
    // order and the diff, matching the oracle's epoch_us domain (raw-
    // nano ordering could flip micro-tied neighbors)
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap_us", col("ts_us") - col("prev"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)"), 6).as("p50_us"),
        round(expr("percentile(gap_us, 0.9)"), 6).as("p90_us"))
      .orderBy(col("event_type"))
  }

  val interArrivalSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |g AS (SELECT event_type,
      |    us - lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us)
      |      AS gap_us
      |  FROM e)
      |SELECT event_type, count(*) AS n_gaps,
      |  round(quantile_cont(gap_us, 0.5), 6) AS p50_us,
      |  round(quantile_cont(gap_us, 0.9), 6) AS p90_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q165_inter_arrival" -> interArrival,
    "q161_seasonal_decompose" -> seasonalDecompose,
    "q162_ewma_activity" -> ewmaActivity,
    "q132_last_touch" -> attribution,
    "q129_activity_streaks" -> streaks,
    "q130_active_users" -> activeUsers,
    "q123_transition_matrix" -> transitions,
    "q50_date_math" -> dateMath,
    "q51_sessions" -> sessions,
    "q108_prior_events" -> priorEvents,
    "q114_retention_cohorts" -> retention,
    "q115_funnel" -> funnel)

  def oracles: Map[String, String] = Map(
    "q165_inter_arrival" -> interArrivalSql,
    "q161_seasonal_decompose" -> seasonalDecomposeSql,
    "q162_ewma_activity" -> ewmaActivitySql,
    "q132_last_touch" -> attributionSql,
    "q129_activity_streaks" -> streaksSql,
    "q130_active_users" -> activeUsersSql,
    "q123_transition_matrix" -> transitionsSql,
    "q50_date_math" -> dateMathSql,
    "q51_sessions" -> sessionsSql,
    "q108_prior_events" -> priorEventsSql,
    "q114_retention_cohorts" -> retentionSql,
    "q115_funnel" -> funnelSql)
}

/** Emitted row of [[Temporal.ewmaStreaming]]. */
final case class EwmaRow(user_id: Long, day: Long, ewma_fx: Long)

/** State of [[Temporal.ewmaStreaming]]: per-day counts of the 8
  * newest observed days, parallel sequences (encoder-friendly). */
final case class EwmaState(days: Seq[Long], cnts: Seq[Long])
