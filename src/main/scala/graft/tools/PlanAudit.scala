package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.internal.SQLConf

import graft.{GraftSession, SparkEntry}

/** Physical-plan sweep over every gate query: shuffle counts, join
  * strategies, scan pruning. The per-round "would this survive a
  * 100× scale-up" checklist.
  *
  * A query's plan is its final frame's plan plus the plan of every SQL
  * execution its build ran, as [[ExecutionTrace]] saw them on any
  * session: each `localCheckpoint` (a checkpointed frame's own plan is
  * a bare `Scan ExistingRDD`), and each `collect`, `first`, `isEmpty`,
  * write or stream batch a query runs to build itself (index builds,
  * probe lists, per-round argmax). Counts are taken over [[planned]]:
  * a plan that has run counts as it did before it ran, and a persisted
  * subtree counts at none of its references (its cache scan stands for
  * it; q99's recipe would otherwise read as hundreds of scans), so
  * `--check` does not see a join planned inside a persisted frame. A
  * query whose plan has no parquet scan, Range (q39 synthesizes its
  * workload) or cache scan is flagged `NO-SCAN!` and fails the run. The
  * queries run on [[Suite]], which cleans up after each one, so no
  * frame an earlier query cached reaches a later query's plan; a query
  * that throws is a `FAILED` row and fails the run.
  *
  * Columns: exchanges (printed, not gated, see [[Counts]]), the gated
  * counts, then the build-time work: `bexec` SQL executions and
  * `bjobs` Spark jobs run while the query was built (jobs outside an
  * execution, such as schema inference, count in `bjobs` only), and
  * `actions` per action (`command` is a write, `unnamed` a stream
  * micro-batch).
  *
  * Regression tripwire: the committed baseline `tools/plan_baseline.tsv`
  * snapshots each query's join-strategy counters; `--check` fails
  * (exit 2) on any query whose plan grew a NEW SortMergeJoin /
  * BroadcastNestedLoopJoin / cartesian product or LOST filter pushdown
  * relative to that baseline — the drift classes a silent
  * broadcast-threshold or pushdown regression produces (see
  * [[regressions]]). q221's one SMJ (the fact-fact lineitem
  * self-correlation that must not broadcast) is a baseline entry, not
  * an exception in code. Output: one tab-separated row per query, then
  * `#` summary lines (docs/PLAN_AUDIT_sf0.01.tsv).
  *
  * Usage: runMain graft.tools.PlanAudit [--check|--snapshot] [sfDir]
  */
object PlanAudit {
  /** A physical plan as planned, one operator per line, for counting.
    * An AQE node stands for its initial plan, so a plan that has run
    * reads as it did before it ran (its text would print the final
    * plan above the initial one, and nested AQE nodes print those
    * headers at the wrong indent). Subqueries are walked. A cached
    * relation is its `InMemoryTableScan` line alone: the plan that
    * fills the cache is not walked at any reference. */
  def planned(plan: SparkPlan): String = {
    val out = new StringBuilder
    val maxFields = SQLConf.get.maxToStringFields
    def walk(p: SparkPlan, depth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan, depth)
      case _ =>
        out.append("  " * depth).append(p.simpleString(maxFields)).append('\n')
        (p.subqueries ++ p.children).foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    out.toString
  }

  /** The gated per-query plan counts. The exchange count is printed
    * and flagged (MANY-SHUFFLES!) but not kept: AQE and the core
    * count move it by one on unrelated queries, so a baseline of it
    * would drift with the host. */
  final case class Counts(bhj: Int, smj: Int, bnlj: Int,
      cart: Int, scans: Int, pushed: Int)

  private def occurrences(plan: String, re: String): Int = re.r.findAllIn(plan).length

  private[tools] def exchanges(plan: String): Int =
    occurrences(plan, "Exchange ") - occurrences(plan, "BroadcastExchange ")

  def counts(plan: String): Counts = Counts(
    bhj = occurrences(plan, "BroadcastHashJoin"),
    smj = occurrences(plan, "SortMergeJoin"),
    bnlj = occurrences(plan, "BroadcastNestedLoopJoin"),
    cart = occurrences(plan, "CartesianProduct"),
    scans = occurrences(plan, "FileScan parquet|Scan parquet"),
    pushed = occurrences(plan, "PushedFilters: \\[[^\\]]"))

  private final case class Row(counts: Counts, noScan: Boolean, line: String)

  /** The plan text a query's counts are taken from: its final plan,
    * then the plan of each execution its build ran, each as [[planned]]. */
  def planText(b: Suite.Built): String = {
    val subPlans = b.trace.executions.map { e =>
      val plan =
        try planned(e.qe.executedPlan)
        catch { case t: Throwable => s"<plan unavailable: $t>" }
      s"=== build-time ${e.action} ===\n$plan"
    }
    (planned(b.df.queryExecution.executedPlan) +: subPlans).mkString("\n")
  }

  /** The `--check` verdict: each query whose plan grew a SortMergeJoin,
    * BroadcastNestedLoopJoin or cartesian product, or lost a pushed
    * filter, against its baseline row. A query with no row is held to
    * zero SMJ/BNLJ/cartesian until it is snapshotted. */
  def regressions(now: Map[String, Counts], base: Map[String, Counts]): Seq[String] =
    now.toSeq.sortBy(_._1).flatMap { case (n, k) =>
      val b = base.getOrElse(n, Counts(0, 0, 0, 0, 0, k.pushed))
      val q = if (base.contains(n)) n else s"$n (new)"
      Seq((k.smj > b.smj) -> s"$q: smj ${b.smj}->${k.smj}",
        (k.bnlj > b.bnlj) -> s"$q: bnlj ${b.bnlj}->${k.bnlj}",
        (k.cart > b.cart) -> s"$q: cartesian ${b.cart}->${k.cart}",
        (k.pushed < b.pushed) -> s"$q: pushdown lost ${b.pushed}->${k.pushed}")
        .collect { case (true, r) => r }
    }

  val baselinePath = "tools/plan_baseline.tsv"

  private def readBaseline(): Map[String, Counts] = {
    val f = java.nio.file.Paths.get(baselinePath)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f).asScala
        .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
        .map { l =>
          val p = l.trim.split("\t")
          require(p.length >= 7,
            s"malformed $baselinePath line (need 7 tab-separated fields, got ${p.length}): $l")
          p(0) -> Counts(p(1).toInt, p(2).toInt, p(3).toInt, p(4).toInt,
            p(5).toInt, p(6).toInt)
        }.toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.find(_.startsWith("--")).getOrElse("")
    val dir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8, "plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    println(Seq("query", "exch", "bhj", "smj", "bnlj", "cart", "scans", "pushed",
      "bexec", "bjobs", "actions", "flags").mkString("\t"))
    val outcomes = Suite.run(spark, dir, SparkEntry.queries.keys.toSeq.sorted) { b =>
      val plan = planText(b)
      val exch = exchanges(plan)
      val k = counts(plan)
      val noScan = k.scans == 0 && occurrences(plan, "Range \\(") == 0 &&
        occurrences(plan, "InMemoryTableScan") == 0
      val flags = Seq((k.smj > 0) -> "SMJ!", (k.cart > 0) -> "CARTESIAN!",
        (exch > 6) -> "MANY-SHUFFLES!", noScan -> "NO-SCAN!").collect { case (true, f) => f }
      val actions = b.trace.executions.groupBy(_.action).toSeq.sortBy(_._1)
        .map { case (act, es) => s"$act:${es.size}" }.mkString(",")
      val row = Seq(b.name, exch, k.bhj, k.smj, k.bnlj, k.cart, k.scans, k.pushed,
        b.trace.executions.size, b.trace.jobs, if (actions.isEmpty) "-" else actions,
        flags.mkString(" ")).mkString("\t")
      Row(k, noScan, row)
    }
    outcomes.foreach {
      case Right(p) => println(p.value.line)
      case Left(f) => println(s"${f.name}\tFAILED: ${f.error.takeWhile(_ != '\n').take(60)}")
    }
    val byQuery = outcomes.collect { case Right(p) => p.name -> p.value.counts }.toMap
    val noScan = outcomes.collect { case Right(p) if p.value.noScan => p.name }
    val failed = outcomes.collect { case Left(f) => f.name }
    println(s"# audited=${outcomes.size} zero-scan=${noScan.size}" +
      (if (noScan.nonEmpty) noScan.mkString(" [", ",", "]") else "") +
      s" failed=${failed.size}" +
      (if (failed.nonEmpty) failed.mkString(" [", ",", "]") else ""))

    if (mode == "--snapshot") {
      val lines = "# query\tbhj\tsmj\tbnlj\tcart\tscans\tpushed" +:
        byQuery.toSeq.sortBy(_._1).map { case (n, k) =>
          s"$n\t${k.bhj}\t${k.smj}\t${k.bnlj}\t${k.cart}\t${k.scans}\t${k.pushed}"
        }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(baselinePath), lines.mkString("", "\n", "\n"))
      println(s"# baseline snapshot -> $baselinePath (${byQuery.size} queries)")
    }

    var found = Seq.empty[String]
    if (mode == "--check") {
      val base = readBaseline()
      require(base.nonEmpty, s"--check needs a committed $baselinePath (run --snapshot first)")
      found = regressions(byQuery, base)
      if (found.nonEmpty) {
        println(s"# CHECK FAILED - ${found.size} plan regression(s) vs $baselinePath:")
        found.sorted.foreach(r => println(s"#   $r"))
      } else println(s"# check ok - no join-strategy/pushdown regressions vs ${base.size}-query baseline")
    }

    spark.stop()
    if (noScan.nonEmpty || failed.nonEmpty) sys.exit(1)
    if (found.nonEmpty) sys.exit(2)
  }
}
