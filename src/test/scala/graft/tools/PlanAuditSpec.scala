package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** What `PlanAudit` sees of a query (every execution its build runs,
  * through [[ExecutionTrace]]) and what its `--check` trips on. */
class PlanAuditSpec extends SparkSpec {
  import PlanAudit.{counts, regressions}

  private lazy val table: String = {
    val p = tempDir("plan-audit") + "/t"
    spark.range(2000).select(col("id").as("k"), (col("id") % 10).as("g"))
      .repartition(4).write.parquet(p)
    p
  }
  private def plan(df: DataFrame): String = PlanAudit.planned(df.queryExecution.executedPlan)
  private def filtered(s: SparkSession): DataFrame = s.read.parquet(table).filter(col("k") > 10)
  private def small(s: SparkSession): DataFrame =
    s.read.parquet(table).filter(col("g") === 3).select(col("k"), col("g").as("g2"))
  private def broadcastOff(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  test("an audit captures every execution its query's build runs, on any session, and nothing else") {
    val src = spark.range(0, 400, 1, 4).select((col("id") % 7).as("k"), col("id").as("v"))
    def build(): DataFrame = {
      val agg = src.groupBy(col("k")).agg(sum(col("v")).as("s")).localCheckpoint()
      val keys = agg.collect().length
      val none = agg.filter(col("s") < 0).isEmpty
      val top = agg.orderBy(col("s").desc).first().getLong(1)
      val clone = spark.newSession()
      val n = clone.range(0, 10, 1, 2).agg(sum(col("id"))).collect().head.getLong(0)
      // every driver-side value decides the result: 11571 - 700 + 450
      agg.filter(col("s") >= lit(top - 100 * keys + 10 * n)).withColumn("none", lit(none))
    }
    val expected = build().collect().toSet
    assert(expected.map(_.getLong(1)) == Set(11343L, 11400L, 11457L, 11514L, 11571L))

    // the query audited before
    Suite.over(spark, Seq("before" -> (() => { src.distinct().collect(); src })))(PlanAudit.planText)
    src.filter(col("v") > 3).count() // unaudited work between the two
    val Vector(Right(a)) = Suite.over(spark, Seq("q" -> (() => build()))) { b =>
      (b.trace, PlanAudit.planText(b), b.df.collect().toSet)
    }
    val (trace, text, rows) = a.value

    val ex = trace.executions
    assert(ex.map(_.action) == Seq("localCheckpoint", "collect", "isEmpty", "head", "collect"))
    val plans = ex.map(e => PlanAudit.planned(e.qe.executedPlan))
    // the pre-checkpoint plan, exchange included
    assert(plans.head.contains("Exchange hashpartitioning") && plans.head.contains("HashAggregate"),
      plans.head)
    // the clone's execution: its Range, and the slice of the audit it fills
    assert(plans.last.contains("Range (0, 10") && text.contains("Range (0, 10"))
    assert(a.build.executions == ex.size && trace.jobs >= ex.size)
    assert(rows == expected)
  }

  test("planned reads a plan that has run as it read before it ran") {
    val df = filtered(spark).join(small(spark), Seq("k")).groupBy(col("g2")).count()
    val before = plan(df)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("== Final Plan =="))
    assert(plan(df) == before)
    assert(counts(before) == PlanAudit.Counts(bhj = 1, smj = 0, bnlj = 0, cart = 0,
      scans = 2, pushed = 2) && PlanAudit.exchanges(before) == 1, before)
  }

  test("--check: a join planned with broadcast off, on a cloned session, trips a new SMJ") {
    val base = counts(plan(filtered(spark).join(small(spark), Seq("k"))))
    val off = broadcastOff()
    val now = counts(plan(filtered(off).join(small(off), Seq("k"))))
    assert(base.bhj == 1 && base.smj == 0 && now.smj == 1 && now.pushed == base.pushed)
    assert(regressions(Map("qj" -> now), Map("qj" -> base)) == Seq("qj: smj 0->1"))
    assert(regressions(Map("qj" -> base), Map("qj" -> base)).isEmpty)
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
  }

  test("--check: lost pushdown trips") {
    val keep = udf((k: Long) => k > 10)
    val base = counts(plan(filtered(spark)))
    val now = counts(plan(spark.read.parquet(table).filter(keep(col("k")))))
    assert(base.pushed == 1 && now.pushed == 0)
    assert(regressions(Map("qp" -> now), Map("qp" -> base)) == Seq("qp: pushdown lost 1->0"))
  }

  test("--check: a query missing from the baseline is held to zero SMJ, BNLJ and cartesian") {
    val off = broadcastOff()
    val now = Map(
      "qs" -> counts(plan(filtered(off).join(small(off), Seq("k")))),
      "qb" -> counts(plan(filtered(spark).crossJoin(small(spark)))),
      "qc" -> counts(plan(filtered(off).crossJoin(small(off)))),
      "qh" -> counts(plan(filtered(spark).join(small(spark), Seq("k")))))
    assert(regressions(now, Map.empty) == Seq(
      "qb (new): bnlj 0->1", "qc (new): cartesian 0->1", "qs (new): smj 0->1"))
  }

  test("planned counts a persisted subtree referenced twice at neither reference") {
    val cached = filtered(spark).groupBy(col("g")).count().persist()
    try {
      val df = cached.join(cached.select(col("g"), col("count").as("c2")), Seq("g"))
      val raw = df.queryExecution.executedPlan.toString
      val walked = plan(df)
      def n(s: String, re: String) = re.r.findAllIn(s).length
      // the plan text prints the cached plan at each reference
      assert(n(raw, "InMemoryRelation") == 2 && counts(raw).scans == 2 &&
        PlanAudit.exchanges(raw) == 2)
      // the references stay (they are what NO-SCAN looks for); the
      // cached plan's scan, filter and exchange are counted at neither
      assert(n(walked, "InMemoryTableScan") == 2 && counts(walked).scans == 0 &&
        counts(walked).pushed == 0 && PlanAudit.exchanges(walked) == 0, walked)
    } finally cached.unpersist()
  }
}
