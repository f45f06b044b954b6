package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Warehouse analytics surface (round 8): the multi-way-join report
  * shapes a Spark-native engine must plan well (TPC-H Q3/Q5 families,
  * market-basket lift) plus the SQL analytics gaps — distribution
  * window functions, unpivot, exact mode, equal-width histograms,
  * conversion-latency percentiles.
  *
  * Money math follows the repo's fixed-point discipline: prices in
  * exact integer cents (`round(x*100)::long`), discounts as integer
  * percents, so every revenue SUM is a BIGINT sum — partition-order
  * free on both engines (see .claude/skills/verify gotchas).
  */
object Analytics {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Exact integer cents of a dollar double. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** TPC-H Q3-shaped shipping priority: top-10 open orders of one
    * market segment by pending revenue. Plan shape: the filtered
    * customer key set is a BROADCAST to the orders scan, orders⋈
    * lineitem shuffles on the order key once, and the top-10 is a
    * TakeOrderedAndProject (no global sort). At 100 TB the only large
    * exchange is lineitem's, keyed on its natural join key. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < cut)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_fx"))
      .orderBy(col("revenue_fx").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"), col("revenue_fx"))
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  o_orderpriority,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_fx
      |FROM customer
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue_fx DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5-shaped local supplier volume: revenue by nation where
    * the supplier and customer share the nation, one region, one
    * order-date year. Six tables; every dimension side (region →
    * nation → customer key set, supplier) broadcasts, so the only
    * shuffle is orders⋈lineitem on the order key — the join-reorder /
    * broadcast-selection showcase. */
  def supplierVolume(s: SparkSession, dir: String): DataFrame = {
    val asia = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = t(s, dir, "customer")
      .join(broadcast(asia), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
    val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    t(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_fx"))
      .orderBy(col("revenue_fx").desc, col("n_name"))
  }

  val supplierVolumeSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_fx
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue_fx DESC, n_name""".stripMargin

  /** q208 — TPC-H Q9-shaped product profit by nation and year, the
    * classic 6-way join tree (part ⋈ lineitem ⋈ supplier ⋈ nation ⋈
    * region + orders for the year axis). Adapted to this star: the
    * testdata has no partsupp, so unit cost is the part's list price
    * (p_retailprice·l_quantity); the profit measure keeps Q9's
    * revenue−cost shape in exact fixed point (cents·100 units, BIGINT
    * throughout). Plan shape: the name-filtered part frame and the
    * supplier→nation→region chain both BROADCAST into the lineitem
    * scan, so the only corpus-sized exchange is lineitem⋈orders on
    * the order key — the q134 single-fact-shuffle discipline. */
  def productProfit(s: SparkSession, dir: String): DataFrame = {
    val redParts = t(s, dir, "part")
      .filter(col("p_name").like("%red%"))
      .select(col("p_partkey"), cents(col("p_retailprice")).as("cost_c"))
    val supNation = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") =!= "AFRICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    t(s, dir, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(
        cents(col("l_extendedprice")) *
          (lit(100L) - round(col("l_discount") * 100).cast("long")) -
          col("cost_c") * col("l_quantity").cast("long") * lit(100L))
        .as("profit_fx"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val productProfitSql: String =
    """SELECT n_name AS nation,
      |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |    - CAST(round(p_retailprice * 100) AS BIGINT)
      |      * CAST(l_quantity AS BIGINT) * 100) AS BIGINT) AS profit_fx
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |JOIN orders ON o_orderkey = l_orderkey
      |WHERE p_name LIKE '%red%' AND r_name <> 'AFRICA'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  /** q209 — TPC-H Q12-shaped two-bucket conditional aggregate: for
    * lines of the two "checked" return flags shipped in one year,
    * count urgent/high-priority orders vs the rest per flag. Adapted:
    * this lineitem has no l_shipmode/l_commitdate/l_receiptdate, so
    * the flag column plays the mode and l_shipdate the date guard —
    * the operator under test (join + CASE-sum two-bucket agg) is
    * Q12's. Plan shape: one shuffle join on the order key between
    * the date+flag-filtered lineitem and orders; the conditional
    * buckets are map-side CASE sums. */
  def flagPriority(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("return_flag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("return_flag"))

  val flagPrioritySql: String =
    """SELECT l_returnflag AS return_flag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_returnflag IN ('A', 'R')
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY return_flag""".stripMargin

  /** q210 — TPC-H Q20-shaped nested-IN-with-aggregate → semi-join
    * chain: suppliers in one region who moved "excess" volume of
    * name-matched parts in a two-year window (per supplier-part sum
    * of quantity above a threshold — the partsupp half-of-stock
    * predicate adapted to a star without partsupp). Plan shape: the
    * inner aggregate groups the part-broadcast-filtered lineitem on
    * (suppkey, partkey) — one bounded shuffle — and the outer query
    * consumes it as a LEFT SEMI join into the (broadcast) dimension-
    * filtered supplier frame: the nested IN never materializes a
    * duplicate-carrying join. */
  def excessSuppliers(s: SparkSession, dir: String): DataFrame = {
    val red = t(s, dir, "part")
      .filter(col("p_name").like("%red%")).select(col("p_partkey"))
    val bigShippers = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(red), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
      .filter(col("qty") > 60L)
      .select(col("l_suppkey"))
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      // the HAVING-cut key set is sparse by construction (excess
      // volume is the exception) — broadcast it instead of letting
      // the planner sort-merge the supplier dimension against it
      .join(broadcast(bigShippers), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"))
      .orderBy(col("s_suppkey"))
  }

  val excessSuppliersSql: String =
    """SELECT s_suppkey, s_name, n_name AS nation
      |FROM supplier
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |WHERE r_name = 'EUROPE' AND s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  WHERE p_name LIKE '%red%'
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |  GROUP BY l_suppkey, l_partkey
      |  HAVING sum(l_quantity) > 60)
      |ORDER BY s_suppkey""".stripMargin

  /** q213 — TPC-H Q22-shaped dormant high-balance customers: the
    * uncorrelated-scalar-subquery + anti-join combination (Q22's
    * cntrycode buckets played by the nation key; "no orders at all"
    * tightened to "no orders since 2000" because this star's order
    * table covers every customer). The above-average cut is an exact
    * integer CROSS-MULTIPLICATION (bal·n_pos > Σbal_pos) — no
    * division, so no float boundary and no scale sensitivity. Plan
    * shape: the 1-row stats frame broadcasts into the customer scan;
    * the anti side is the date-filtered orders key set (shuffled
    * left-anti on the customer key — at 100 TB that's the one
    * exchange, keyed on the natural join key). */
  def dormantCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .filter(col("c_nationkey").isin(3, 7, 11, 14, 19))
      .select(col("c_custkey"),
        col("c_nationkey").cast("long").as("cntrycode"),
        cents(col("c_acctbal")).as("bal_c"))
    val stats = cust.filter(col("bal_c") > 0L)
      .agg(sum(col("bal_c")).as("tot"), count(lit(1)).as("npos"))
    cust.crossJoin(broadcast(stats))
      .filter(col("bal_c") * col("npos") > col("tot"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
      .orderBy(col("cntrycode"))
  }

  val dormantCustomersSql: String =
    """WITH cust AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS cntrycode,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer WHERE c_nationkey IN (3, 7, 11, 14, 19)),
      |st AS (SELECT CAST(sum(bal_c) AS BIGINT) AS tot, count(*) AS npos
      |  FROM cust WHERE bal_c > 0)
      |SELECT cntrycode, count(*) AS numcust,
      |  CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
      |FROM cust, st
      |WHERE bal_c * npos > tot AND c_custkey NOT IN (
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1 ORDER BY cntrycode""".stripMargin

  /** q219 — TPC-H Q17-shaped small-quantity revenue: lines of one
    * brand whose quantity sits under 20% of their part's average.
    * The correlated per-part average decorrelates into one bounded
    * aggregate joined back, and the 0.2·avg cut is the exact integer
    * cross-multiplication qty·5·count < Σqty — no division, no float
    * boundary. Plan shape: the brand key set broadcasts into the
    * lineitem scan; the per-part aggregate (bounded by one brand's
    * parts) broadcasts back; single fact shuffle for the aggregate. */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val brandParts = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("q"),
        cents(col("l_extendedprice")).as("ep"))
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("c"), sum(col("q")).as("sq"))
    li.join(broadcast(perPart), col("l_partkey") === col("pk"))
      .filter(col("q") * lit(5L) * col("c") < col("sq"))
      .agg(sum(col("ep")).as("lost_revenue_fx"), count(lit(1)).as("n_lines"))
  }

  val smallQtyRevenueSql: String =
    """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
      |li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ep
      |  FROM lineitem JOIN bp ON p_partkey = l_partkey),
      |pa AS (SELECT l_partkey AS pk, count(*) AS c,
      |    CAST(sum(q) AS BIGINT) AS sq FROM li GROUP BY 1)
      |SELECT CAST(sum(ep) AS BIGINT) AS lost_revenue_fx,
      |  count(*) AS n_lines
      |FROM li JOIN pa ON pk = l_partkey WHERE q * 5 * c < sq""".stripMargin

  /** q220 — TPC-H Q18-shaped large-volume customers: orders whose
    * total quantity clears a threshold (the HAVING-subquery-IN
    * shape), joined back to the customer. Deterministic top-100 by
    * (quantity desc, order key). Plan shape: ONE fact shuffle for the
    * per-order sum; the surviving big-order keys are sparse and flow
    * into a key join; the final top-100 is a TakeOrderedAndProject. */
  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("okey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 220L)
    t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(big, col("o_orderkey") === col("okey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  val largeOrdersSql: String =
    """WITH big AS (SELECT l_orderkey AS okey,
      |    CAST(sum(l_quantity) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 220)
      |SELECT c_name, o_orderkey, total_qty
      |FROM orders JOIN big ON o_orderkey = okey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin

  /** q221 — TPC-H Q21-shaped waiting suppliers: the EXISTS +
    * NOT-EXISTS double self-correlation. A supplier "kept the order
    * waiting" when it shipped a finished order's line 200+ days
    * after the order date, the order involved ANOTHER supplier
    * (EXISTS → the multi-supplier semi-join), and NO other supplier
    * in that order was also late (NOT EXISTS → anti-join against the
    * late set keyed on the same order with a different supplier).
    * Adapted dates: this lineitem has no receipt/commit columns, so
    * lateness is l_shipdate > o_orderdate + 200 days. Plan shape:
    * the late set is one filtered fact projection; both
    * correlations are key joins on the order key — never a
    * cartesian. */
  def waitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val late = t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 200 DAYS"))
      .select(col("l_suppkey").as("sk"), col("l_orderkey").as("ok")).distinct()
    val multi = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("mok"))
      .agg(countDistinct(col("l_suppkey")).as("nsup"))
      .filter(col("nsup") > 1L).select(col("mok"))
    val cand = late.join(multi, col("ok") === col("mok")).drop("mok")
    val others = late.select(col("ok").as("ok2"), col("sk").as("sk2"))
    cand
      .join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_anti")
      .groupBy(col("sk")).agg(count(lit(1)).as("numwait"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
        col("sk") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val waitingSuppliersSql: String =
    """WITH late AS (SELECT DISTINCT l_suppkey AS sk, l_orderkey AS ok
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE o_orderstatus = 'F'
      |    AND l_shipdate > o_orderdate + INTERVAL 200 DAY),
      |multi AS (SELECT l_orderkey AS mok FROM lineitem
      |  GROUP BY 1 HAVING count(DISTINCT l_suppkey) > 1)
      |SELECT s_name, count(*) AS numwait
      |FROM late
      |JOIN multi ON ok = mok
      |JOIN supplier ON s_suppkey = sk
      |WHERE NOT EXISTS (SELECT 1 FROM late l2
      |  WHERE l2.ok = late.ok AND l2.sk <> late.sk)
      |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin

  /** q222 — TPC-H Q15-shaped top supplier: revenue per supplier over
    * one quarter, keep the row(s) EQUAL to the maximum (the
    * view-plus-scalar-max shape). The 1-row max broadcasts back over
    * the bounded per-supplier aggregate; exact fixed-point revenue so
    * the equality can never float-miss. */
  def topSupplierRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("sk"))
      .agg(sum(cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .as("total_revenue_fx"))
    val mx = rev.agg(max(col("total_revenue_fx")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue_fx") === col("mx"))
      .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
        col("sk") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_fx"))
      .orderBy(col("s_suppkey"))
  }

  val topSupplierRevenueSql: String =
    """WITH rev AS (SELECT l_suppkey AS sk,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
      |      AS total_revenue_fx
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, total_revenue_fx
      |FROM rev JOIN supplier ON s_suppkey = sk
      |WHERE total_revenue_fx = (SELECT max(total_revenue_fx) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** Market-basket brand co-occurrence with lift: for every ordered
    * brand pair, in how many orders do both appear, and the lift
    * n_ab·N / (n_a·n_b) as 1e-6 fixed point by exact integer
    * division. Scale shape: the (order, brand) frame is distinct-ed
    * once (one shuffle on order key), the pair self-join is
    * CO-PARTITIONED on that same key (pairs per order are bounded by
    * distinct brands per order, ~lines², never corpus²), and the
    * per-brand totals are a tiny broadcast. */
  def basketLift(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
    basketLiftOf(items, "okey", "brand", minPairs = 5)
  }

  /** Generic basket-lift core over a (basket id, item) frame. */
  def basketLiftOf(items: DataFrame, basketCol: String, itemCol: String,
      minPairs: Long): DataFrame = {
    // ONE corpus shuffle (on the basket key): per-basket distinct item
    // sets via collect_set; pairs explode MAP-SIDE from the sorted set
    // (bounded by per-basket item count², never a self-join), so no
    // second corpus-sized exchange exists. The set frame has three
    // consumers (pairs, totals, basket count) — materialized once.
    val sets = items
      .groupBy(col(basketCol).as("okey"))
      .agg(sort_array(collect_set(col(itemCol))).as("bs")).localCheckpoint()
    val totals = sets.select(explode(col("bs")).as("brand"))
      .groupBy(col("brand")).agg(count(lit(1)).as("n_brand"))
    val nOrd = sets.select(count(lit(1)).as("n_ord"))
    val pairs = sets
      .select(explode(expr(
        "flatten(transform(bs, (x, i) -> transform(slice(bs, i + 2, size(bs)), " +
          "y -> struct(x AS brand_a, y AS brand_b))))")).as("p"))
      .groupBy(col("p.brand_a").as("brand_a"), col("p.brand_b").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(totals.withColumnRenamed("brand", "brand_a")
        .withColumnRenamed("n_brand", "n_a")), Seq("brand_a"))
      .join(broadcast(totals.withColumnRenamed("brand", "brand_b")
        .withColumnRenamed("n_brand", "n_b")), Seq("brand_b"))
      .crossJoin(broadcast(nOrd))
      .filter(col("n_ab") >= minPairs)
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        expr("(n_ab * n_ord * 1000000) div (n_a * n_b)").as("lift_fx"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  val basketLiftSql: String =
    """WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |tot AS (SELECT brand, count(*) AS n_brand FROM ob GROUP BY 1),
      |n AS (SELECT count(DISTINCT okey) AS n_ord FROM ob),
      |p AS (SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
      |  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, n_ab,
      |  CAST((n_ab * n_ord * 1000000) // (ta.n_brand * tb.n_brand) AS BIGINT) AS lift_fx
      |FROM p JOIN tot ta ON ta.brand = brand_a
      |       JOIN tot tb ON tb.brand = brand_b
      |CROSS JOIN n
      |WHERE n_ab >= 5
      |ORDER BY brand_a, brand_b""".stripMargin

  /** Distribution window functions (ntile + cumulative distribution):
    * per event type, the 4 value quartile buckets with counts, exact
    * cent bounds, and the cumulative fraction at each bucket top as
    * 1e-6 fixed point. The ntile runs over a TOTAL order (cents, then
    * event_id) so bucket assignment is deterministic on both engines;
    * the cumulative pass is a window over the 20-row aggregate, not
    * the corpus. */
  def valueQuartiles(s: SparkSession, dir: String): DataFrame =
    quartileSummary(
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), cents(col("value")).as("v_fx")),
      "event_type", "v_fx", "event_id")

  /** Generic ntile-quartile core over (group, fixed-point value,
    * tiebreak id) columns. */
  def quartileSummary(df: DataFrame, groupCol: String, valFxCol: String,
      tieCol: String): DataFrame = {
    val b = df
      .select(col(groupCol).as("_g"), col(valFxCol).as("v_fx"),
        col(tieCol).as("_tie"))
      .withColumn("quartile", ntile(4).over(
        Window.partitionBy(col("_g")).orderBy(col("v_fx"), col("_tie"))))
      .groupBy(col("_g"), col("quartile"))
      .agg(count(lit(1)).as("n"), min(col("v_fx")).as("min_fx"),
        max(col("v_fx")).as("max_fx"))
    val cw = Window.partitionBy(col("_g")).orderBy(col("quartile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tw = Window.partitionBy(col("_g"))
    b.withColumn("cum_n", sum(col("n")).over(cw))
      .withColumn("tot_n", sum(col("n")).over(tw))
      .select(col("_g").as(groupCol), col("quartile"), col("n"),
        col("min_fx"), col("max_fx"),
        expr("cum_n * 1000000 div tot_n").as("cume_fx"))
      .orderBy(col(groupCol), col("quartile"))
  }

  val valueQuartilesSql: String =
    """WITH e AS (SELECT event_type, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS v_fx FROM events),
      |q AS (SELECT event_type, v_fx,
      |    ntile(4) OVER (PARTITION BY event_type ORDER BY v_fx, event_id) AS quartile
      |  FROM e),
      |b AS (SELECT event_type, quartile, count(*) AS n,
      |    min(v_fx) AS min_fx, max(v_fx) AS max_fx
      |  FROM q GROUP BY 1, 2),
      |c AS (SELECT *,
      |    sum(n) OVER (PARTITION BY event_type ORDER BY quartile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
      |    sum(n) OVER (PARTITION BY event_type) AS tot_n
      |  FROM b)
      |SELECT event_type, quartile, n, min_fx, max_fx,
      |  CAST(cum_n * 1000000 // tot_n AS BIGINT) AS cume_fx
      |FROM c ORDER BY event_type, quartile""".stripMargin

  /** Unpivot (melt): the q47 pivoted per-user event-count frame turned
    * back long via `Dataset.unpivot` — the oracle derives the long
    * form INDEPENDENTLY (plain group-by), so the gate certifies the
    * pivot→unpivot round trip, not unpivot against itself. */
  def unpivotEvents(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .filter(col("user_id") < 30)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
      .na.fill(0L)
      .unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
      .filter(col("n") > 0)
      .orderBy(col("user_id"), col("event_type"))
  }

  val unpivotEventsSql: String =
    """SELECT user_id, event_type, count(*) AS n
      |FROM events WHERE user_id < 30
      |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin

  /** Exact per-group mode with a deterministic tiebreak (most frequent
    * event type per user; ties → lexicographically first type). One
    * shuffle to the (user, type) counts, a row_number window on that
    * small frame, never a global sort of events. */
  def modePerUser(s: SparkSession, dir: String): DataFrame =
    modePerGroup(Tables.events(s, dir), "user_id", "event_type")
      .orderBy(col("user_id"))

  /** Generic exact mode: the most frequent `valCol` per `groupCol`,
    * ties to the lexicographically first value. */
  def modePerGroup(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n_mode").desc, col("mode_type"))
    df.groupBy(col(groupCol), col(valCol).as("mode_type"))
      .agg(count(lit(1)).as("n_mode"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
  }

  val modePerUserSql: String =
    """WITH c AS (SELECT user_id, event_type AS mode_type, count(*) AS n_mode
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY n_mode DESC, mode_type) AS rk FROM c)
      |SELECT user_id, mode_type, n_mode FROM r WHERE rk = 1
      |ORDER BY user_id""".stripMargin

  /** Equal-width histogram: 10 bins per event type over the exact
    * cent range — bin index by exact integer arithmetic
    * (`(v−mn)·10 div (mx−mn)`, top value clamped into bin 9), so
    * both engines bucket identically with no float edges. Two passes:
    * a per-type min/max broadcast, then one map-side bucket + count
    * aggregation. */
  def valueHistogram(s: SparkSession, dir: String): DataFrame =
    histogram(
      Tables.events(s, dir).select(col("event_type"), cents(col("value")).as("v_fx")),
      "event_type", "v_fx", bins = 10)

  /** Generic equal-width histogram over a (group, fixed-point value)
    * frame; a degenerate single-value group lands entirely in bin 0. */
  def histogram(df: DataFrame, groupCol: String, valFxCol: String,
      bins: Int): DataFrame = {
    val e = df.select(col(groupCol).as("_g"), col(valFxCol).as("v_fx"))
    val ranges = e.groupBy(col("_g"))
      .agg(min(col("v_fx")).as("mn"), max(col("v_fx")).as("mx"))
    e.join(broadcast(ranges), Seq("_g"))
      .withColumn("bin",
        when(col("mx") === col("mn"), 0L) // degenerate single-value range
          .otherwise(least(lit(bins - 1L),
            expr(s"(v_fx - mn) * $bins div (mx - mn)"))))
      .groupBy(col("_g"), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("mn")).as("range_lo_fx"),
        max(col("mx")).as("range_hi_fx"))
      .select(col("_g").as(groupCol), col("bin"), col("n"),
        col("range_lo_fx"), col("range_hi_fx"))
      .orderBy(col(groupCol), col("bin"))
  }

  val valueHistogramSql: String =
    """WITH e AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS v_fx FROM events),
      |r AS (SELECT event_type, min(v_fx) AS mn, max(v_fx) AS mx
      |  FROM e GROUP BY 1)
      |SELECT event_type,
      |  CASE WHEN mx = mn THEN 0
      |       ELSE least(9, CAST((v_fx - mn) * 10 // (mx - mn) AS BIGINT)) END AS bin,
      |  count(*) AS n,
      |  CAST(min(mn) AS BIGINT) AS range_lo_fx,
      |  CAST(max(mx) AS BIGINT) AS range_hi_fx
      |FROM e JOIN r USING (event_type)
      |GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  /** Signup→purchase conversion latency: per user the gap between the
    * first signup and the first LATER purchase, summarized as exact
    * interpolated percentiles (micros). The per-user reduction is two
    * filtered min-aggregations sharing one user-keyed shuffle; the
    * percentile runs over the user-sized frame. */
  def conversionLatency(s: SparkSession, dir: String): DataFrame =
    conversionLatencyOf(Tables.events(s, dir), "user_id", "event_type", "ts",
      "signup", "purchase")

  /** Generic first-A→first-later-B latency percentiles; `tsCol` is
    * exact epoch-nanos (the Tables.events contract), latencies are
    * emitted in micros. Nanos are truncated to micros BEFORE the
    * compare and the diff (the "micros on both sides" oracle-parity
    * rule): the oracle works in epoch_us, so comparing raw nanos
    * would diverge on micro-tied events if the parquet ever carried
    * sub-micro residue. */
  def conversionLatencyOf(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, fromType: String, toType: String): DataFrame = {
    val ev = events.select(col(userCol), col(typeCol),
      expr(s"$tsCol div 1000").as("ts_us"))
    val firstFrom = ev.filter(col(typeCol) === fromType)
      .groupBy(col(userCol)).agg(min(col("ts_us")).as("s_ts"))
    val lat = ev.filter(col(typeCol) === toType)
      .join(firstFrom, Seq(userCol))
      .filter(col("ts_us") > col("s_ts"))
      .groupBy(col(userCol)).agg(min(col("ts_us")).as("p_ts"),
        min(col("s_ts")).as("s_ts2"))
      .select((col("p_ts") - col("s_ts2")).as("lat_us"))
    lat.agg(count(lit(1)).as("n_users"),
      round(expr("percentile(lat_us, 0.25)"), 4).as("p25_us"),
      round(expr("percentile(lat_us, 0.5)"), 4).as("p50_us"),
      round(expr("percentile(lat_us, 0.9)"), 4).as("p90_us"))
  }

  val conversionLatencySql: String =
    """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS s_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |l AS (SELECT e.user_id, min(epoch_us(e.ts)) - min(s.s_ts) AS lat_us
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.s_ts
      |  GROUP BY 1)
      |SELECT count(*) AS n_users,
      |  round(quantile_cont(lat_us, 0.25), 4) AS p25_us,
      |  round(quantile_cont(lat_us, 0.5), 4) AS p50_us,
      |  round(quantile_cont(lat_us, 0.9), 4) AS p90_us
      |FROM l""".stripMargin

  /** Top session paths: 30-minute sessionization (the q51 machinery),
    * each session reduced to its first five event types in (ts,
    * event_id) order, top 20 paths by session count. The per-session
    * ordering happens INSIDE the aggregate via sort_array over
    * (ts, event_id, type) structs — no second shuffle after the
    * session grouping; the path histogram is path-cardinality-sized. */
  def sessionPaths(s: SparkSession, dir: String): DataFrame =
    sessionPathsOf(Tables.events(s, dir), "user_id", "event_type",
      gap = "30 minutes", maxSteps = 5, topK = 20)

  /** Generic top session paths over the Tables.events contract
    * (`ts` exact nanos + `ts_utc` micros timestamp). */
  def sessionPathsOf(events: DataFrame, userCol: String, typeCol: String,
      gap: String, maxSteps: Int, topK: Int): DataFrame =
    events
      .groupBy(session_window(col("ts_utc"), gap), col(userCol))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col(typeCol)))).as("evs"))
      .select(concat_ws(">",
        slice(transform(col("evs"), e => e.getField(typeCol)), 1, maxSteps))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)

  val sessionPathsSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |flagged AS (SELECT *,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      >= 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |grp AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |paths AS (SELECT array_to_string(
      |    list_slice(list(event_type ORDER BY us, event_id), 1, 5), '>') AS path
      |  FROM grp GROUP BY user_id, sid)
      |SELECT path, count(*) AS n_sessions FROM paths
      |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** Streaming twin of [[sessionPathsOf]]'s per-session reduction:
    * session_window aggregation with a watermark, emitting one
    * (user, path) row per CLOSED session in append mode. The top-K
    * path histogram is a second aggregation — in production it runs
    * downstream of the sink this stream writes (the q117/q121 sketch
    * twins' layering); `AnalyticsStreamSpec` pins stream ∘ close ≡
    * batch on the same events. */
  def sessionPathsStreaming(events: DataFrame, userCol: String,
      typeCol: String, gap: String, maxSteps: Int,
      watermark: String): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(session_window(col("ts_utc"), gap), col(userCol))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col(typeCol)))).as("evs"))
      .select(col(userCol),
        unix_micros(col("session_window.start")).as("session_start_us"),
        concat_ws(">",
          slice(transform(col("evs"), e => e.getField(typeCol)), 1, maxSteps))
          .as("path"))

  /** GROUPING SETS (the explicit member of the group-by-extension
    * family next to rollup q18 / cube q40): revenue at (flag, status),
    * (flag) and grand-total granularities in ONE aggregation pass —
    * Catalyst expands the sets into a single Expand + hash aggregate,
    * not three scans. gid is the explicit grouping bitmask, computed
    * the same way on both engines. */
  def groupingSetsRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg((grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
        .cast("long").as("gid"),
        sum(cents(col("l_extendedprice"))).as("revenue_fx"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("revenue_fx"), col("n"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  val groupingSetsRevenueSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_fx,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q8-shaped market share: within one region's revenue, the
    * share supplied by one nation, per order year — conditional
    * aggregation over the q134 join tree (both totals come out of ONE
    * pass; share by exact integer division). */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val asia = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = t(s, dir, "customer")
      .join(broadcast(asia), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
    val supNat = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val rev = cents(col("l_extendedprice")) *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))
    t(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("yr"))
      .agg(sum(rev).as("total_fx"),
        sum(when(col("n_name") === "NATION_5", rev).otherwise(0L))
          .as("nation_fx"))
      .withColumn("share_fx", expr("(nation_fx * 1000000) div total_fx"))
      .orderBy(col("yr"))
  }

  val marketShareSql: String =
    """WITH l AS (
      |  SELECT CAST(date_part('year', o_orderdate) AS INT) AS yr, n2.n_name,
      |    CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev
      |  FROM region
      |  JOIN nation ON n_regionkey = r_regionkey
      |  JOIN customer ON c_nationkey = n_nationkey
      |  JOIN orders ON o_custkey = c_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
      |  WHERE r_name = 'ASIA')
      |SELECT yr, CAST(sum(rev) AS BIGINT) AS total_fx,
      |  CAST(sum(CASE WHEN n_name = 'NATION_5' THEN rev ELSE 0 END) AS BIGINT) AS nation_fx,
      |  CAST((sum(CASE WHEN n_name = 'NATION_5' THEN rev ELSE 0 END) * 1000000)
      |    // sum(rev) AS BIGINT) AS share_fx
      |FROM l GROUP BY yr ORDER BY yr""".stripMargin

  /** Vocabulary growth curve (Heaps' law audit): the corpus in
    * doc_id order split into 5 equal ntile chunks; per checkpoint the
    * cumulative token volume and cumulative distinct vocabulary —
    * sublinear vocab growth is the health signal, a LINEAR curve
    * means unbounded novel tokens (OCR noise, ids, serials). Scale
    * shape: a token's first-seen chunk is one min-aggregation on the
    * token (vocab-bounded); cumulative sums run over the 5-row
    * frame. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame =
    vocabGrowthOf(Tables.load(s, dir, "documents"), "doc_id", "text", 5)

  /** Generic vocabulary-growth core. The ntile over the doc-id order
    * is a doc-count-sized window (at 100 TB replace with range
    * partitioning on the id — the chunk boundary math is unchanged). */
  def vocabGrowthOf(docsDf: DataFrame, idCol: String, textCol: String,
      nChunks: Int): DataFrame = {
    val toks = docsDf
      .filter(length(trim(col(textCol))) > 0)
      .withColumn("chunk", ntile(nChunks).over(Window.orderBy(col(idCol))))
      .select(col("chunk"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val tokVol = toks.groupBy(col("chunk")).agg(count(lit(1)).as("n_tok"))
    val firstSeen = toks.groupBy(col("tok")).agg(min(col("chunk")).as("chunk"))
      .groupBy(col("chunk")).agg(count(lit(1)).as("n_new"))
    val cw = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // left join: a chunk introducing ZERO new vocabulary (saturated
    // corpus) still emits its checkpoint row
    tokVol.join(firstSeen, Seq("chunk"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("tokens_cum", sum(col("n_tok")).over(cw))
      .withColumn("vocab_cum", sum(col("n_new")).over(cw))
      .select(col("chunk"), col("tokens_cum"), col("vocab_cum"))
      .orderBy(col("chunk"))
  }

  val vocabGrowthSql: String =
    """WITH d AS (SELECT doc_id, text,
      |    ntile(5) OVER (ORDER BY doc_id) AS chunk
      |  FROM documents WHERE length(trim(text)) > 0),
      |tk AS (SELECT chunk, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM d),
      |tk2 AS (SELECT chunk, tok FROM tk WHERE tok <> ''),
      |vol AS (SELECT chunk, count(*) AS n_tok FROM tk2 GROUP BY 1),
      |fs AS (SELECT min(chunk) AS chunk FROM tk2 GROUP BY tok),
      |nv AS (SELECT chunk, count(*) AS n_new FROM fs GROUP BY 1)
      |SELECT chunk,
      |  CAST(sum(n_tok) OVER (ORDER BY chunk
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tokens_cum,
      |  CAST(sum(n_new) OVER (ORDER BY chunk
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_cum
      |FROM (SELECT vol.chunk, n_tok, coalesce(n_new, 0) AS n_new
      |      FROM vol LEFT JOIN nv USING (chunk))
      |ORDER BY chunk""".stripMargin

  /** Zipf rank-frequency slope over the top-1000 terms: ln(freq) vs
    * ln(rank) least squares with the q124 exact-moment recipe — logs
    * quantized to 1e-6 fixed point first, BIGINT moment sums, one
    * deterministic double closing sequence. A healthy natural-language
    * corpus sits near slope −1; a flat or cliffed curve flags
    * templated or synthetic text. */
  def zipfSlope(s: SparkSession, dir: String): DataFrame =
    zipfSlopeOf(Tables.load(s, dir, "documents"), "text", 1000)

  /** Generic Zipf-slope core over a text column. */
  def zipfSlopeOf(docsDf: DataFrame, textCol: String, topK: Int): DataFrame = {
    val top = docsDf
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(topK)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("freq").desc, col("tok"))))
      .select(round(log(col("rnk").cast("double")) * 1e6).cast("long").as("x_fx"),
        round(log(col("freq").cast("double")) * 1e6).cast("long").as("y_fx"))
    top.agg(count(lit(1)).as("n_terms"), sum(col("x_fx")).as("sx"),
        sum(col("y_fx")).as("sy"), sum(col("x_fx") * col("y_fx")).as("sxy"),
        sum(col("x_fx") * col("x_fx")).as("sxx"))
      .select(col("n_terms"),
        round((col("sxy").cast("double") * col("n_terms").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("sxx").cast("double") * col("n_terms").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")) * 1e6)
          .cast("long").as("slope_fx"))
  }

  val zipfSlopeSql: String =
    """WITH tk AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents WHERE length(trim(text)) > 0),
      |f AS (SELECT tok, count(*) AS freq FROM tk WHERE tok <> '' GROUP BY 1
      |  ORDER BY freq DESC, tok LIMIT 1000),
      |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rnk FROM f),
      |q AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS x_fx,
      |    CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y_fx FROM r),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(x_fx) AS BIGINT) AS sx, CAST(sum(y_fx) AS BIGINT) AS sy,
      |    CAST(sum(x_fx * y_fx) AS BIGINT) AS sxy,
      |    CAST(sum(x_fx * x_fx) AS BIGINT) AS sxx
      |  FROM q)
      |SELECT n_terms,
      |  CAST(round((CAST(sxy AS DOUBLE) * CAST(n_terms AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(sxx AS DOUBLE) * CAST(n_terms AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1e6) AS BIGINT) AS slope_fx
      |FROM m""".stripMargin

  /** Single-pass column profiling (the Deequ/data-quality shape):
    * null and distinct counts for every events column out of ONE
    * corpus aggregation, emitted long-form. The distinct counts are
    * exact two-phase aggregates; at 100 TB swap in approx_count_
    * distinct per column — the dataflow is unchanged. */
  def columnProfile(s: SparkSession, dir: String): DataFrame =
    columnProfileOf(Tables.events(s, dir),
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))

  /** Generic single-pass profiler over the named columns. */
  def columnProfileOf(e: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        countDistinct(col(c)).as(s"dist_$c"))
    }
    // the 1-row profile frame has one consumer PER COLUMN — checkpoint
    // so the events scan runs once, not |cols| times
    val one = e.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    val longForm = cols.map { c =>
      one.select(lit(c).as("column"), col(s"null_$c").as("n_null"),
        col(s"dist_$c").as("n_distinct"))
    }.reduce(_ unionByName _)
    longForm.orderBy(col("column"))
  }

  val columnProfileSql: String =
    """WITH p AS (SELECT
      |  sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS null_event_id,
      |  count(DISTINCT event_id) AS dist_event_id,
      |  sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS null_ts,
      |  count(DISTINCT epoch_us(ts) * 1000) AS dist_ts,
      |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user_id,
      |  count(DISTINCT user_id) AS dist_user_id,
      |  sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS null_event_type,
      |  count(DISTINCT event_type) AS dist_event_type,
      |  sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS null_value,
      |  count(DISTINCT value) AS dist_value,
      |  sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS null_props,
      |  count(DISTINCT props) AS dist_props
      |FROM events)
      |SELECT 'event_id' AS column, CAST(null_event_id AS BIGINT) AS n_null,
      |  CAST(dist_event_id AS BIGINT) AS n_distinct FROM p
      |UNION ALL SELECT 'ts', CAST(null_ts AS BIGINT), CAST(dist_ts AS BIGINT) FROM p
      |UNION ALL SELECT 'user_id', CAST(null_user_id AS BIGINT), CAST(dist_user_id AS BIGINT) FROM p
      |UNION ALL SELECT 'event_type', CAST(null_event_type AS BIGINT), CAST(dist_event_type AS BIGINT) FROM p
      |UNION ALL SELECT 'value', CAST(null_value AS BIGINT), CAST(dist_value AS BIGINT) FROM p
      |UNION ALL SELECT 'props', CAST(null_props AS BIGINT), CAST(dist_props AS BIGINT) FROM p
      |ORDER BY "column"""".stripMargin

  /** TPC-H Q10-shaped returned-item report: customers ranked by
    * revenue lost to returns in one quarter — the churn-risk list.
    * lineitem filters on return flag BEFORE the join (pushed to the
    * scan), the order window prunes orders-side, customer attributes
    * broadcast in last; top-20 is a TakeOrderedAndProject. */
  def returnedItems(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .as("revenue_fx"), count(lit(1)).as("n_items"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("revenue_fx"), col("n_items"))
      .orderBy(col("revenue_fx").desc, col("c_custkey"))
      .limit(20)
  }

  val returnedItemsSql: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_fx,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue_fx DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q14-shaped promo revenue share per month: what fraction of
    * each month's lineitem revenue came from PROMO-type parts —
    * conditional aggregation over one broadcast part join, share by
    * exact integer division. */
  def promoShare(s: SparkSession, dir: String): DataFrame = {
    val rev = cents(col("l_extendedprice")) *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM")
        .as("month"))
      .agg(sum(rev).as("total_fx"),
        sum(when(col("p_type") === "PROMO", rev).otherwise(0L)).as("promo_fx"))
      .withColumn("share_fx", expr("(promo_fx * 1000000) div total_fx"))
      .orderBy(col("month"))
  }

  val promoShareSql: String =
    """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_fx,
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END) AS BIGINT) AS promo_fx,
      |  CAST((sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END) * 1000000)
      |    // sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS share_fx
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1 ORDER BY month""".stripMargin

  /** Power-user curve (engagement-depth histogram): how many users
    * were active on exactly-N distinct days — the DAU-quality
    * companion to q130's rolling counts. The (user, day) distinct
    * frame is ONE shuffle; everything after is user- then
    * histogram-sized. */
  def powerUserCurve(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("active_days"))
      .groupBy(col("active_days")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("active_days"))

  val powerUserCurveSql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    epoch_us(ts) // 86400000000 AS day FROM events),
      |ad AS (SELECT user_id, count(*) AS active_days FROM ud GROUP BY 1)
      |SELECT active_days, count(*) AS n_users FROM ad
      |GROUP BY 1 ORDER BY active_days""".stripMargin

  /** TPC-H Q4-shaped order-priority checking: per priority, how many
    * of one quarter's orders had at least one badly late line
    * (shipped >60 days after the order date) — the fulfilment-SLA
    * report. The EXISTS is a LEFT SEMI join on the order key; the
    * quarter filter prunes the orders scan and, because the lateness
    * predicate implies `l_shipdate > quarter_start + 60 days`, that
    * bound is ALSO pushed to the lineitem scan as a plain pushdown
    * filter — at 100 TB the semi join's build side is one quarter of
    * orders and its probe side only the lineitems that could possibly
    * qualify, not the whole table. */
  def orderPriorityCheck(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-04-01").cast("timestamp")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val late = t(s, dir, "lineitem")
      // conservative scan-level bound implied by the join predicate:
      // every qualifying order has o_orderdate >= lo
      .filter(col("l_shipdate") > lo + expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(late, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val orderPriorityCheckSql: String =
    """SELECT o_orderpriority, count(*) AS n_late_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q11-shaped value concentration: the parts whose lifetime
    * revenue exceeds 4/3 of the MEAN per-part share — the "important stock"
    * screen. ONE lineitem shuffle keyed on the part (map-side partial
    * sums first), then the global total is a 1-row broadcast and the
    * HAVING is the exact integer cross-multiplication
    * `part_fx * n_parts * 3 > total_fx * 4` — no division, no float threshold,
    * so the cut is reproducible at any scale. */
  def valueConcentration(s: SparkSession, dir: String): DataFrame = {
    val rev = cents(col("l_extendedprice")) *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))
    val perPart = t(s, dir, "lineitem")
      .groupBy(col("l_partkey")).agg(sum(rev).as("value_fx"))
    val total = perPart.agg(sum(col("value_fx")).as("total_fx"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_fx") * col("n_parts") * 3 > col("total_fx") * 4)
      .select(col("l_partkey"), col("value_fx"))
      .orderBy(col("value_fx").desc, col("l_partkey"))
  }

  val valueConcentrationSql: String =
    """WITH pp AS (SELECT l_partkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS value_fx
      |  FROM lineitem GROUP BY 1)
      |SELECT l_partkey, value_fx FROM pp
      |WHERE value_fx * (SELECT count(*) FROM pp) * 3 > (SELECT sum(value_fx) FROM pp) * 4
      |ORDER BY value_fx DESC, l_partkey""".stripMargin

  /** TPC-H Q13-shaped customer order-count distribution: how many
    * customers placed exactly-N open orders, INCLUDING the
    * zero-order customers the inner-join family silently drops — the
    * left-outer twin of q153's power-user curve. The status filter
    * sits on the orders side of the LEFT join (so it can't fabricate
    * rows); one shuffle keyed on the customer, then the distribution
    * aggregate is count-bounded. */
  def custOrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"), col("o_orderkey"))
    t(s, dir, "customer").select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val custOrderDistributionSql: String =
    """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderstatus = 'O'
      |  GROUP BY 1)
      |SELECT c_count, count(*) AS custdist FROM co
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q22-shaped dormant high-balance accounts: per market
    * segment, the count and total balance of customers richer than
    * the positive-balance average who placed NO order since 2000 — the reactivation-campaign list. The average threshold
    * is applied by exact cross-multiplication against a 1-row
    * broadcast (`bal_cents * n_pos > sum_pos_cents` — no division,
    * no float compare), and the dormancy test is a LEFT ANTI join
    * against the date-pruned orders scan. */
  def dormantAccounts(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        cents(col("c_acctbal")).as("bal_cents"))
    val posStats = cust.filter(col("bal_cents") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(col("bal_cents")).as("sum_pos"))
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(posStats))
      .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"), sum(col("bal_cents")).as("total_bal_cents"))
      .orderBy(col("c_mktsegment"))
  }

  val dormantAccountsSql: String =
    """WITH c AS (SELECT c_custkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer),
      |p AS (SELECT count(*) AS n_pos, sum(bal_cents) AS sum_pos
      |  FROM c WHERE bal_cents > 0)
      |SELECT c_mktsegment, count(*) AS n_custs,
      |  CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
      |FROM c, p
      |WHERE bal_cents * n_pos > sum_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q18-shaped large-volume orders: the orders whose total
    * line quantity exceeds 250 units, with their customer — the
    * bulk-buyer screen. ONE lineitem shuffle keyed on the order
    * (map-side partial sums), the HAVING cut applied BEFORE any join
    * (so only qualifying order keys move), customers broadcast, and
    * the top-100 a TakeOrderedAndProject. Quantity is integral in
    * the data — summed as exact BIGINT units. */
  def largeVolumeOrders(s: SparkSession, dir: String): DataFrame = {
    val oq = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("total_qty"))
      .filter(col("total_qty") > 250)
    t(s, dir, "orders")
      .join(oq, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        cents(col("o_totalprice")).as("totalprice_cents"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  val largeVolumeOrdersSql: String =
    """WITH oq AS (SELECT l_orderkey,
      |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY 1 HAVING total_qty > 250)
      |SELECT c_custkey, c_name, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents, total_qty
      |FROM oq JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q17-shaped small-quantity revenue per brand: revenue from
    * lines ordering less than 20% of their part's average quantity —
    * the "lost bulk discount" report. The per-part (Σqty, n) stats
    * frame is part-bounded and BROADCASTS back onto the lineitem
    * scan; the 20%-of-average cut is the exact cross-multiplication
    * `qty·5·n < Σqty` (no division, no float average). Two lineitem
    * scans are inherent to the self-statistic (scan once for stats,
    * once for the probe); at 100 TB the stats side is a pure
    * map-side-combined aggregate. */
  def smallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    val qty = round(col("l_quantity")).cast("long")
    val ps = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"))
      .agg(sum(qty).as("sum_qty"), count(lit(1)).as("n_lines_part"))
    t(s, dir, "lineitem")
      .join(broadcast(ps), col("l_partkey") === col("ps_partkey"))
      .filter(qty * 5 * col("n_lines_part") < col("sum_qty"))
      .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(cents(col("l_extendedprice")) *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_fx"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))
  }

  val smallQuantityRevenueSql: String =
    """WITH ps AS (SELECT l_partkey AS pk,
      |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |    count(*) AS n_lines_part
      |  FROM lineitem GROUP BY 1)
      |SELECT p_brand,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_fx,
      |  count(*) AS n_lines
      |FROM lineitem JOIN ps ON l_partkey = pk
      |JOIN part ON p_partkey = l_partkey
      |WHERE CAST(round(l_quantity) AS BIGINT) * 5 * n_lines_part < sum_qty
      |GROUP BY 1 ORDER BY p_brand""".stripMargin

  /** Audience-overlap matrix: for every event-type pair, how many
    * distinct users did both, with the exact Jaccard of the two
    * audiences — the co-engagement report. Same scale contract as
    * basket lift: ONE corpus shuffle builds each user's sorted
    * distinct type set, pairs explode MAP-SIDE (bounded by types²
    * per user, never corpus²), and the per-type audience totals
    * broadcast into the final exact-integer Jaccard. */
  def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sets = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts")).localCheckpoint()
    val totals = sets.select(explode(col("ts")).as("et"))
      .groupBy(col("et")).agg(count(lit(1)).as("n"))
    val pairs = sets
      .select(explode(expr(
        "flatten(transform(ts, (x, i) -> transform(slice(ts, i + 2, size(ts)), " +
          "y -> struct(x AS type_a, y AS type_b))))")).as("p"))
      .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(totals.select(col("et").as("type_a"), col("n").as("n_a"))),
        Seq("type_a"))
      .join(broadcast(totals.select(col("et").as("type_b"), col("n").as("n_b"))),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        expr("(n_both * 1000000) div (n_a + n_b - n_both)").as("jaccard_fx"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val audienceOverlapSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |t AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both, ta.n AS n_a, tb.n AS n_b,
      |  CAST((n_both * 1000000) // (ta.n + tb.n - n_both) AS BIGINT) AS jaccard_fx
      |FROM p JOIN t ta ON ta.event_type = type_a
      |JOIN t tb ON tb.event_type = type_b
      |ORDER BY 1, 2""".stripMargin

  /** RFM customer segmentation: quintile scores for Recency (last
    * order date), Frequency (order count) and Monetary (lifetime
    * cents), concatenated into the classic 111–555 segment grid, with
    * per-segment population and value — the marketing-analytics
    * workhorse. ntile windows are made deterministic by the custkey
    * tiebreak. Scale: the scored frame is customer-bounded (orders
    * aggregate first — the only corpus-sized shuffle); the three
    * global ntile sorts run on that bounded frame. At true 100 TB
    * customer counts the global ntile becomes a range-partitioned
    * sort — still one exchange of the bounded frame. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(cents(col("o_totalprice"))).as("monetary_cents"))
    val r = ntile(5).over(Window.orderBy(col("last_order"), col("o_custkey")))
    val f = ntile(5).over(Window.orderBy(col("freq"), col("o_custkey")))
    val m = ntile(5).over(Window.orderBy(col("monetary_cents"), col("o_custkey")))
    cust
      .withColumn("segment", concat(r.cast("string"), f.cast("string"),
        m.cast("string")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("monetary_cents")).as("total_monetary_cents"))
      .orderBy(col("segment"))
  }

  val rfmSegmentsSql: String =
    """WITH c AS (SELECT o_custkey, max(o_orderdate) AS last_order,
      |    count(*) AS freq,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS monetary_cents
      |  FROM orders GROUP BY 1),
      |sc AS (SELECT monetary_cents,
      |    ntile(5) OVER (ORDER BY last_order, o_custkey) AS r,
      |    ntile(5) OVER (ORDER BY freq, o_custkey) AS f,
      |    ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS m
      |  FROM c)
      |SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
      |    AS segment,
      |  count(*) AS n_custs,
      |  CAST(sum(monetary_cents) AS BIGINT) AS total_monetary_cents
      |FROM sc GROUP BY 1 ORDER BY segment""".stripMargin

  /** Pareto concentration: per market segment, how many of its
    * customers cover 80% of its revenue — the "how top-heavy is this
    * business" number. One orders shuffle to the customer grain, a
    * per-segment descending cumulative window on the customer-bounded
    * frame, and the 80% line applied as the exact integer inequality
    * `cum_before·5 < total·4` (a customer counts while the revenue
    * BEFORE them is under 80%). */
  def paretoConcentration(s: SparkSession, dir: String): DataFrame = {
    val cr = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("rev_cents").desc, col("c_custkey"))
    cr
      .withColumn("cum_before", coalesce(sum(col("rev_cents")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("rev_cents")).over(
        Window.partitionBy(col("c_mktsegment"))))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        sum(when(col("cum_before") * 5 < col("total") * 4, 1L).otherwise(0L))
          .as("n_top80"))
      .withColumn("top80_share_fx", expr("(n_top80 * 1000000) div n_custs"))
      .orderBy(col("c_mktsegment"))
  }

  val paretoConcentrationSql: String =
    """WITH cr AS (SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_cents
      |  FROM orders GROUP BY 1),
      |j AS (SELECT c_mktsegment, c_custkey, rev_cents
      |  FROM cr JOIN customer ON c_custkey = o_custkey),
      |wnd AS (SELECT c_mktsegment, rev_cents,
      |    coalesce(sum(rev_cents) OVER (PARTITION BY c_mktsegment
      |      ORDER BY rev_cents DESC, c_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
      |    sum(rev_cents) OVER (PARTITION BY c_mktsegment) AS total
      |  FROM j)
      |SELECT c_mktsegment, count(*) AS n_custs,
      |  CAST(sum(CASE WHEN cum_before * 5 < total * 4 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_top80,
      |  CAST((sum(CASE WHEN cum_before * 5 < total * 4 THEN 1 ELSE 0 END)
      |    * 1000000) // count(*) AS BIGINT) AS top80_share_fx
      |FROM wnd GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** Benford first-digit screen on order totals: observed leading-
    * digit shares vs Benford's law log10(1+1/d) — the classic
    * anomaly/fabrication screen over financial facts. The expected
    * shares are PINNED integer constants (1e-6 fixed point) so no
    * engine's log10 ulp can flip a rounding; observed shares are
    * exact integer division. One aggregation pass. */
  def benfordScreen(s: SparkSession, dir: String): DataFrame = {
    // round(log10(1 + 1/d) * 1e6) for d = 1..9, hardcoded identically
    // in the oracle
    val benford = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    // digit 0 only occurs for a 0-cent total (degenerate data) — guard
    // it out identically on both sides: element_at index 0 would throw
    // here while DuckDB's list[0] silently NULLs
    val byDigit = t(s, dir, "orders")
      .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .filter(col("digit").between(1, 9))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    val total = byDigit.agg(sum(col("n_orders")).as("total"))
    byDigit.crossJoin(broadcast(total))
      .withColumn("obs_share_fx", expr("(n_orders * 1000000) div total"))
      .withColumn("benford_fx",
        element_at(array(benford.map(lit): _*), col("digit")))
      .withColumn("abs_dev_fx", abs(col("obs_share_fx") - col("benford_fx")))
      .select(col("digit"), col("n_orders"), col("obs_share_fx"),
        col("benford_fx"), col("abs_dev_fx"))
      .orderBy(col("digit"))
  }

  val benfordScreenSql: String =
    """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
      |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders),
      |g AS (SELECT digit, count(*) AS n_orders FROM d
      |  WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
      |t AS (SELECT sum(n_orders) AS total FROM g),
      |e AS (SELECT digit, n_orders,
      |    CAST((n_orders * 1000000) // total AS BIGINT) AS obs_share_fx,
      |    ([301030, 176091, 124939, 96910, 79181,
      |      66947, 57992, 51153, 45757])[digit] AS benford_fx
      |  FROM g, t)
      |SELECT digit, n_orders, obs_share_fx,
      |  CAST(benford_fx AS BIGINT) AS benford_fx,
      |  CAST(abs(obs_share_fx - benford_fx) AS BIGINT) AS abs_dev_fx
      |FROM e ORDER BY digit""".stripMargin

  /** Lexical novelty (hapax legomena) per source: the share of a
    * source's vocabulary that occurs exactly once — low hapax share
    * flags templated/machine-generated text (pairs with the Zipf
    * slope q149 and repetition q65 screens). ONE (source, token)
    * shuffle; everything after is vocabulary-bounded. */
  def hapaxRatio(s: SparkSession, dir: String): DataFrame =
    hapaxRatioOf(t(s, dir, "documents"))

  /** Generic core over any (source, text) frame. */
  def hapaxRatioOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("hapax_share_fx", expr("(n_hapax * 1000000) div n_distinct"))
      .orderBy(col("source"))

  val hapaxRatioSql: String =
    """WITH tk AS (SELECT source,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |g AS (SELECT source, tok, count(*) AS n FROM tk GROUP BY 1, 2)
      |SELECT source, count(*) AS n_distinct,
      |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST((sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000) // count(*)
      |    AS BIGINT) AS hapax_share_fx
      |FROM g GROUP BY 1 ORDER BY source""".stripMargin

  /** Good-Turing / Chao1 vocabulary-richness estimate per source over
    * word BIGRAMS — the corpus-planning question behind q148's
    * vocab-growth curve: how much of this source's bigram vocabulary
    * has it NOT shown yet? (Bigrams, not unigrams, because that is
    * the event space Katz/Good-Turing smoothing actually operates on
    * — and the unigram vocabulary of a bounded-lexicon source
    * saturates, leaving n1 ≈ 0 and the estimator degenerate.)
    * Good-Turing's unseen-probability mass is n1/N (singleton share
    * of TOKENS, unlike q171's share of vocabulary), and the
    * bias-corrected Chao1 richness estimate is V + n1(n1−1)/(2(n2+1))
    * — a lower bound on true vocabulary, driving "is more crawl of
    * this source worth it". ONE (source, bigram) shuffle (q45's
    * shingling, counts not distinct), then a vocabulary-bounded
    * close; everything 1e-6 fixed point / exact-integer. Overflow
    * headroom (round-11 fix, ADVICE r10 #1): the n1(n1−1)·1e6
    * correction product is computed in 128-bit-wide exact integers —
    * DECIMAL(38,0) engine-side, HUGEINT oracle-side — so it cannot
    * wrap until n1 ≈ 1e16; the remaining bound is the OUTPUT's
    * BIGINT fit (chao1_fx < 9.2e18 ⇔ estimated vocabulary < 9.2e12
    * bigram types), far past a 100 TB corpus's event space and
    * identical on both sides (DuckDB raises on a BIGINT cast
    * overflow; the estimate itself is meaningless before that). */
  def goodTuring(s: SparkSession, dir: String): DataFrame =
    goodTuringOf(t(s, dir, "documents"))

  /** Generic core over any (source, text) frame. */
  def goodTuringOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), split(trim(col("text")), "\\s+").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"))
        .as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("n1"), col("n2"),
        expr("(n1 * 1000000) div n_tokens").as("unseen_mass_fx"),
        (col("vocab") * lit(1000000L) + expr(
          """CAST((CAST(n1 AS DECIMAL(38,0)) * CAST(n1 - 1 AS DECIMAL(38,0))
            |  * 1000000) DIV CAST(2 * (n2 + 1) AS DECIMAL(38,0)) AS BIGINT)"""
            .stripMargin)).as("chao1_fx"))
      .orderBy(col("source"))

  val goodTuringSql: String =
    """WITH toks AS (SELECT source,
      |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
      |pos AS (SELECT source, ts, unnest(generate_series(1, len(ts) - 1)) AS i
      |  FROM toks WHERE len(ts) >= 2),
      |tk AS (SELECT source, ts[i] || ' ' || ts[i+1] AS tok FROM pos),
      |g AS (SELECT source, tok, count(*) AS n FROM tk GROUP BY 1, 2),
      |a AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
      |    count(*) AS vocab,
      |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM g GROUP BY 1)
      |SELECT source, n_tokens, vocab, n1, n2,
      |  CAST((n1 * 1000000) // n_tokens AS BIGINT) AS unseen_mass_fx,
      |  CAST(vocab * 1000000
      |    + (CAST(n1 AS HUGEINT) * (n1 - 1) * 1000000) // (2 * (n2 + 1))
      |    AS BIGINT) AS chao1_fx
      |FROM a ORDER BY source""".stripMargin

  private def revFx: Column = cents(col("l_extendedprice")) *
    (lit(100L) - round(col("l_discount") * 100).cast("long"))

  /** TPC-H Q7-shaped volume shipping: revenue between one nation PAIR
    * (both directions) by supplier nation, customer nation and ship
    * year. The pair predicate `(s=A∧c=B)∨(s=B∧c=A)` lives on the
    * joined row; both nation-key maps broadcast; the only big
    * exchange is orders⋈lineitem. Customer/supplier sides are
    * pre-filtered to the two nations BEFORE joining (the OR can't be
    * pushed whole, but its per-side projection `nation ∈ {A,B}`
    * can — that cut IS pushed). */
  def volumeShipping(s: SparkSession, dir: String): DataFrame = {
    val two = Seq("NATION_3", "NATION_7")
    val nat = t(s, dir, "nation").filter(col("n_name").isin(two: _*))
      .select(col("n_nationkey"), col("n_name"))
    val cust = t(s, dir, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = t(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    val sup = t(s, dir, "supplier")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(revFx).as("revenue_fx"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val volumeShippingSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(date_part('year', l_shipdate) AS INT) AS l_year,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_fx
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation cn ON cn.n_nationkey = c_nationkey
      |JOIN nation sn ON sn.n_nationkey = s_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
      |    OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q19-shaped disjunctive discounted revenue: OR-of-ANDs over
    * (brand, size band, quantity band) — the predicate-pushdown /
    * CNF-conversion stress shape. The common bounds (size ≥ 1,
    * quantity bands' hull 1..30) ARE pushable and reach the scans;
    * the disjunction evaluates post-join on the broadcast part row. */
  def disjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val qty = round(col("l_quantity")).cast("long")
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        qty.between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        qty.between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        qty.between(20, 30))
    t(s, dir, "lineitem")
      // pushable hull of the three quantity bands: any row whose
      // ROUNDED quantity lands in [1, 30] has raw value in [0.5, 30.5)
      .filter(col("l_quantity") >= 0.5 && col("l_quantity") < 30.5)
      .join(broadcast(t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(sum(revFx).as("revenue_fx"), count(lit(1)).as("n_lines"))
  }

  val disjunctiveRevenueSql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_fx,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |    AND CAST(round(l_quantity) AS BIGINT) BETWEEN 1 AND 11)
      |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |    AND CAST(round(l_quantity) AS BIGINT) BETWEEN 10 AND 20)
      |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |    AND CAST(round(l_quantity) AS BIGINT) BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q15-shaped top supplier: the supplier(s) whose one-quarter
    * revenue equals the maximum — the max-of-aggregate (view) shape.
    * One supplier-keyed shuffle, the max a 1-row broadcast compared
    * EXACTLY (integer fx, so "equals max" is unambiguous — the
    * documented Q15 tie semantics). */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revFx).as("total_revenue_fx"))
    val mx = rev.agg(max(col("total_revenue_fx")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue_fx") === col("max_rev"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_fx"))
      .orderBy(col("s_suppkey"))
  }

  val topSupplierSql: String =
    """WITH r AS (SELECT l_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
      |      AS total_revenue_fx
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, total_revenue_fx
      |FROM r JOIN supplier ON s_suppkey = l_suppkey
      |WHERE total_revenue_fx = (SELECT max(total_revenue_fx) FROM r)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q6-shaped banded-filter revenue: one scan, THREE pushed
    * predicates (ship year, discount band, quantity cap), no join —
    * the pure pushdown gate (`PushedFilters` must carry all three).
    * Revenue here is price × discount (the "what did discounting
    * cost" number), exact integer cents × integer percent. */
  def bandedRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(cents(col("l_extendedprice")) *
        round(col("l_discount") * 100).cast("long")).as("discount_cost_fx"),
        count(lit(1)).as("n_lines"))

  val bandedRevenueSql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS discount_cost_fx,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q16-shaped supplier variety: distinct suppliers per
    * (brand, size) observed in lineitem, excluding one brand and the
    * negative-balance suppliers (the NOT-IN → LEFT ANTI shape). The
    * (part, supplier) pair frame is distinct-ed once on its natural
    * key; the exclusion list broadcasts as an anti join; top-40 by
    * variety is a TakeOrderedAndProject. */
  def supplierVariety(s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    ps
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
      .limit(40)
  }

  val supplierVarietySql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |ok AS (SELECT l_partkey, l_suppkey FROM ps
      |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
      |SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM ok JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |GROUP BY 1, 2
      |ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 40""".stripMargin

  /** k-anonymity audit over quasi-identifiers — the privacy screen a
    * training-data release runs before shipping user-derived tables:
    * customers grouped by the QI tuple (nation, market segment,
    * account-balance thousand-band); any group smaller than k = 8 is
    * a re-identification risk (its members are distinguishable by
    * publicly-knowable attributes alone). Per nation: group count,
    * small-group count, at-risk row count, and the at-risk share in
    * 1e-6 fixed point. One (QI)-keyed aggregate (map-side combined)
    * then a nation-bounded rollup — the QI frame is |distinct tuples|
    * -sized, never customer-sized, so the second stage is free at any
    * scale. The balance band is floor(acctbal/1000) on the raw double
    * — both engines do the same IEEE divide+floor, no decimal drift. */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val g = t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("n"))
    g.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_risk_rows"),
        sum(col("n")).as("n_rows"))
      .select(col("c_nationkey"), col("n_groups"), col("n_small_groups"),
        col("n_risk_rows"),
        expr("(n_risk_rows * 1000000) div n_rows").as("risk_fx"))
      .orderBy(col("c_nationkey"))
  }

  /** q188 — the k-anonymity audit, k = 8. */
  def kAnonymityGate(s: SparkSession, dir: String): DataFrame = kAnonymity(s, dir)

  val kAnonymitySql: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, count(*) AS n
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_nationkey, count(*) AS n_groups,
      |  CAST(sum(CASE WHEN n < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
      |  CAST(sum(CASE WHEN n < 8 THEN n ELSE 0 END) AS BIGINT) AS n_risk_rows,
      |  CAST((CAST(sum(CASE WHEN n < 8 THEN n ELSE 0 END) AS BIGINT) * 1000000)
      |    // CAST(sum(n) AS BIGINT) AS BIGINT) AS risk_fx
      |FROM g GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q188_k_anonymity" -> kAnonymityGate,
    "q192_good_turing" -> goodTuring,
    "q172_volume_shipping" -> volumeShipping,
    "q173_disjunctive_revenue" -> disjunctiveRevenue,
    "q174_top_supplier" -> topSupplier,
    "q175_banded_revenue" -> bandedRevenue,
    "q176_supplier_variety" -> supplierVariety,
    "q168_rfm_segments" -> rfmSegments,
    "q169_pareto_concentration" -> paretoConcentration,
    "q170_benford_screen" -> benfordScreen,
    "q171_hapax_ratio" -> hapaxRatio,
    "q163_large_volume" -> largeVolumeOrders,
    "q164_small_qty_revenue" -> smallQuantityRevenue,
    "q166_audience_overlap" -> audienceOverlap,
    "q154_order_priority" -> orderPriorityCheck,
    "q155_value_concentration" -> valueConcentration,
    "q156_cust_order_dist" -> custOrderDistribution,
    "q157_dormant_accounts" -> dormantAccounts,
    "q151_returned_items" -> returnedItems,
    "q152_promo_share" -> promoShare,
    "q153_power_users" -> powerUserCurve,
    "q145_grouping_sets" -> groupingSetsRevenue,
    "q147_market_share" -> marketShare,
    "q148_vocab_growth" -> vocabGrowth,
    "q149_zipf_slope" -> zipfSlope,
    "q150_column_profile" -> columnProfile,
    "q133_shipping_priority" -> shippingPriority,
    "q134_supplier_volume" -> supplierVolume,
    "q208_product_profit" -> productProfit,
    "q209_flag_priority" -> flagPriority,
    "q210_excess_suppliers" -> excessSuppliers,
    "q213_dormant_customers" -> dormantCustomers,
    "q219_small_qty_revenue" -> smallQtyRevenue,
    "q220_large_orders" -> largeOrders,
    "q221_waiting_suppliers" -> waitingSuppliers,
    "q222_top_supplier" -> topSupplierRevenue,
    "q135_basket_lift" -> basketLift,
    "q136_value_quartiles" -> valueQuartiles,
    "q137_unpivot_events" -> unpivotEvents,
    "q138_mode_per_user" -> modePerUser,
    "q139_value_histogram" -> valueHistogram,
    "q140_conversion_latency" -> conversionLatency,
    "q144_session_paths" -> sessionPaths)

  val oracles: Map[String, String] = Map(
    "q188_k_anonymity" -> kAnonymitySql,
    "q192_good_turing" -> goodTuringSql,
    "q172_volume_shipping" -> volumeShippingSql,
    "q173_disjunctive_revenue" -> disjunctiveRevenueSql,
    "q174_top_supplier" -> topSupplierSql,
    "q175_banded_revenue" -> bandedRevenueSql,
    "q176_supplier_variety" -> supplierVarietySql,
    "q168_rfm_segments" -> rfmSegmentsSql,
    "q169_pareto_concentration" -> paretoConcentrationSql,
    "q170_benford_screen" -> benfordScreenSql,
    "q171_hapax_ratio" -> hapaxRatioSql,
    "q163_large_volume" -> largeVolumeOrdersSql,
    "q164_small_qty_revenue" -> smallQuantityRevenueSql,
    "q166_audience_overlap" -> audienceOverlapSql,
    "q154_order_priority" -> orderPriorityCheckSql,
    "q155_value_concentration" -> valueConcentrationSql,
    "q156_cust_order_dist" -> custOrderDistributionSql,
    "q157_dormant_accounts" -> dormantAccountsSql,
    "q151_returned_items" -> returnedItemsSql,
    "q152_promo_share" -> promoShareSql,
    "q153_power_users" -> powerUserCurveSql,
    "q145_grouping_sets" -> groupingSetsRevenueSql,
    "q147_market_share" -> marketShareSql,
    "q148_vocab_growth" -> vocabGrowthSql,
    "q149_zipf_slope" -> zipfSlopeSql,
    "q150_column_profile" -> columnProfileSql,
    "q133_shipping_priority" -> shippingPrioritySql,
    "q134_supplier_volume" -> supplierVolumeSql,
    "q208_product_profit" -> productProfitSql,
    "q209_flag_priority" -> flagPrioritySql,
    "q210_excess_suppliers" -> excessSuppliersSql,
    "q213_dormant_customers" -> dormantCustomersSql,
    "q219_small_qty_revenue" -> smallQtyRevenueSql,
    "q220_large_orders" -> largeOrdersSql,
    "q221_waiting_suppliers" -> waitingSuppliersSql,
    "q222_top_supplier" -> topSupplierRevenueSql,
    "q135_basket_lift" -> basketLiftSql,
    "q136_value_quartiles" -> valueQuartilesSql,
    "q137_unpivot_events" -> unpivotEventsSql,
    "q138_mode_per_user" -> modePerUserSql,
    "q139_value_histogram" -> valueHistogramSql,
    "q140_conversion_latency" -> conversionLatencySql,
    "q144_session_paths" -> sessionPathsSql)
}
