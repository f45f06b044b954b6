package graft

import org.apache.spark.sql.functions._

/** Audit-mode contract for [[PlanCapture]]: pre-checkpoint sub-plans
  * are recorded under the audited query's key, execution results are
  * unchanged, and a checkpoint-using operator audits with real
  * (non-empty, scan/exchange-bearing) sub-plans — the round-6 verdict
  * blind spot where q95–q98/q84 audited as empty plans. */
class PlanCaptureSpec extends SparkSpec {
  import spark.implicits._

  test("checkpoint outside audit mode records nothing and preserves rows") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val out = PlanCapture.checkpoint(df.filter(col("id") > 0), "t0")
    assert(out.count() == 2)
    // nothing recorded outside audit mode reaches the next audited query
    val (_, plans) = PlanCapture.audited("after-unaudited") {
      PlanCapture.checkpoint(df, "inside").count()
    }
    assert(plans.size == 1 && plans.head.contains("[inside]"))
  }

  test("audited records one sub-plan per checkpoint, keyed by query") {
    val df = Seq((1, "a"), (2, "b"), (2, "b")).toDF("id", "v")
    val ((n1, n2), plans) = PlanCapture.audited("pc_two") {
      val a = PlanCapture.checkpoint(df.distinct(), "stage-a")
      val b = PlanCapture.checkpoint(a.groupBy(col("v")).agg(count(lit(1)).as("n")), "stage-b")
      (a.count(), b.count())
    }
    assert(n1 == 2 && n2 == 2)
    assert(plans.size == 2)
    assert(plans.head.contains("[stage-a]") && plans(1).contains("[stage-b]"))
    // the aggregation's shuffle is visible pre-checkpoint
    assert(plans(1).contains("Exchange") || plans(1).contains("HashAggregate"))
  }

  test("a checkpointing operator audits with non-empty sub-plans") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different text about spark physical plan auditing")
    ).toDF("id", "text")
    val (pairs, plans) = PlanCapture.audited("pc_dedup") {
      ops.Dedup.minhashDedup(docs, "id", "text", numHashes = 16, bandSize = 4, minJaccard = 0.5)
    }
    assert(pairs.count() >= 1) // 1≈2 are exact dups
    assert(plans.nonEmpty, "checkpointed stages must surface sub-plans under audit")
    assert(plans.exists(p => p.contains("Exchange") || p.contains("Scan")),
      "sub-plans must expose the real pre-checkpoint physical operators")
  }

  test("audited re-run replaces, not appends, a query's recorded plans") {
    val df = Seq((1, "x")).toDF("id", "v")
    PlanCapture.audited("pc_rerun") { PlanCapture.checkpoint(df, "only").count() }
    val (_, plans) = PlanCapture.audited("pc_rerun") { PlanCapture.checkpoint(df, "only").count() }
    assert(plans.size == 1)
  }
}
