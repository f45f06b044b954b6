package graft.tools

import graft.{GraftSession, PlanCapture, SparkEntry}

/** Physical-plan sweep over every gate query: shuffle counts, join
  * strategies, scan pruning. The per-round "would this survive a
  * 100× scale-up" checklist.
  *
  * Queries that eagerly `localCheckpoint` intermediates (connected
  * components, the PQ family, q84) truncate lineage, so their FINAL
  * plan is a bare `Scan ExistingRDD`. Each query is therefore built
  * under [[PlanCapture.audited]], which records every pre-checkpoint
  * sub-plan; counts here are over final plan + all sub-plans, so the
  * expensive pre-checkpoint stages are audited too (round-6 verdict
  * residual #1). `ck` = number of checkpointed sub-plans merged in.
  * A query whose merged plan has neither a parquet scan nor a Range
  * source (q39 synthesizes its workload from spark.range by design)
  * is flagged `NO-SCAN!` and counted in the failing exit summary.
  *
  * `InMemoryRelation` nodes print their entire CACHED child plan
  * inline, so counting the raw string would re-count every persisted
  * subtree's scans/joins once per reference — q99's heavily-persisted
  * recipe read as 253 scans when its executed shape has a handful
  * (the cache computes once). `stripCached` drops each cached
  * subtree's text (every line indented deeper than its
  * InMemoryRelation header) before counting, so counts reflect what
  * actually executes.
  *
  * Regression tripwire (round-15, VERDICT r14 item 6): the committed
  * baseline `tools/plan_baseline.tsv` snapshots each query's join-
  * strategy counters; `--check` fails (exit 2) on any query whose plan
  * grew a NEW SortMergeJoin / BroadcastNestedLoopJoin / cartesian
  * product or LOST filter pushdown relative to that baseline — the
  * drift classes a silent broadcast-threshold or pushdown regression
  * produces. q221's one SMJ (the fact-fact lineitem self-correlation
  * that must not broadcast) is a baseline entry, not an exception in
  * code. New queries absent from the baseline are held to zero
  * SMJ/BNLJ/cartesian until snapshotted. Injection knob for the
  * tripwire's own test: SPARK_GRAFT_INJECT_BROADCAST_OFF=1 disables
  * broadcast joins session-wide, which must trip `--check`.
  *
  * Usage: runMain graft.tools.PlanAudit [--check|--snapshot] [sfDir]
  */
object PlanAudit {
  private[tools] def stripCached(plan: String): String = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var skipDepth = -1
    plan.split("\n").foreach { l =>
      val depth = l.indexWhere(c => !" :+-".contains(c)) match {
        case -1 => 0; case i => i
      }
      if (skipDepth >= 0 && depth > skipDepth) ()
      else {
        skipDepth = if (l.contains("InMemoryRelation")) depth else -1
        out += l
      }
    }
    out.mkString("\n")
  }

  /** The gated per-query plan counts. The exchange count is printed
    * and flagged (MANY-SHUFFLES!) but not kept: AQE and the core
    * count move it by one on unrelated queries, so a baseline of it
    * would drift with the host. */
  final case class Counts(bhj: Int, smj: Int, bnlj: Int,
      cart: Int, scans: Int, pushed: Int)

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
    if (sys.env.get("SPARK_GRAFT_INJECT_BROADCAST_OFF").contains("1"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")
    var noScan = List.empty[String]
    var failed = List.empty[String]
    val counts = scala.collection.mutable.Map.empty[String, Counts]
    println(f"${"query"}%-24s ${"exch"}%4s ${"bhj"}%4s ${"smj"}%4s ${"bnlj"}%5s ${"scans"}%5s ${"pushed"}%7s ${"ck"}%3s  flags")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val (df, subPlans) = PlanCapture.audited(name)(fn(spark, dir))
        val plan = stripCached(
          (df.queryExecution.executedPlan.toString +: subPlans).mkString("\n"))
        def c(s: String) = s.r.findAllIn(plan).length
        val exch = c("Exchange ") - c("BroadcastExchange ")
        val bhj = c("BroadcastHashJoin")
        val smj = c("SortMergeJoin")
        val bnlj = c("BroadcastNestedLoopJoin")
        val cart = c("CartesianProduct")
        val scans = c("FileScan parquet|Scan parquet")
        val pushed = c("PushedFilters: \\[[^\\]]")
        counts(name) = Counts(bhj, smj, bnlj, cart, scans, pushed)
        val flags = new StringBuilder
        if (smj > 0) flags.append(" SMJ!")
        if (cart > 0) flags.append(" CARTESIAN!")
        if (exch > 6) flags.append(" MANY-SHUFFLES!")
        // A query is "sourced" if it reads parquet, a Range (q39's
        // synthesized workload), or a cached relation (whose one-time
        // compute scan lives in the stripped cached plan, e.g. q31's
        // persisted shingle table).
        if (scans == 0 && c("Range \\(") == 0 && c("InMemoryTableScan") == 0) {
          flags.append(" NO-SCAN!"); noScan ::= name
        }
        println(f"$name%-24s $exch%4d $bhj%4d $smj%4d $bnlj%5d $scans%5d $pushed%7d ${subPlans.size}%3d  ${flags.toString}")
      } catch {
        case e: Throwable =>
          failed ::= name
          println(f"$name%-24s FAILED: ${e.getMessage.take(60)}")
      }
    }
    println(s"# audited=${SparkEntry.queries.size} zero-scan=${noScan.size}" +
      (if (noScan.nonEmpty) noScan.sorted.mkString(" [", ",", "]") else "") +
      s" failed=${failed.size}" +
      (if (failed.nonEmpty) failed.sorted.mkString(" [", ",", "]") else ""))

    if (mode == "--snapshot") {
      val lines = "# query\tbhj\tsmj\tbnlj\tcart\tscans\tpushed" +:
        counts.toSeq.sortBy(_._1).map { case (n, k) =>
          s"$n\t${k.bhj}\t${k.smj}\t${k.bnlj}\t${k.cart}\t${k.scans}\t${k.pushed}"
        }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(baselinePath), lines.mkString("", "\n", "\n"))
      println(s"# baseline snapshot → $baselinePath (${counts.size} queries)")
    }

    var regressions = List.empty[String]
    if (mode == "--check") {
      val base = readBaseline()
      require(base.nonEmpty, s"--check needs a committed $baselinePath (run --snapshot first)")
      counts.toSeq.sortBy(_._1).foreach { case (n, k) =>
        base.get(n) match {
          case Some(b) =>
            if (k.smj > b.smj) regressions ::= s"$n: smj ${b.smj}→${k.smj}"
            if (k.bnlj > b.bnlj) regressions ::= s"$n: bnlj ${b.bnlj}→${k.bnlj}"
            if (k.cart > b.cart) regressions ::= s"$n: cartesian ${b.cart}→${k.cart}"
            if (k.pushed < b.pushed) regressions ::= s"$n: pushdown lost ${b.pushed}→${k.pushed}"
          case None => // new query, not yet snapshotted: zero-tolerance
            if (k.smj > 0) regressions ::= s"$n (new): smj ${k.smj} (snapshot to allowlist)"
            if (k.bnlj > 0) regressions ::= s"$n (new): bnlj ${k.bnlj}"
            if (k.cart > 0) regressions ::= s"$n (new): cartesian ${k.cart}"
        }
      }
      if (regressions.nonEmpty) {
        println(s"# CHECK FAILED — ${regressions.size} plan regression(s) vs $baselinePath:")
        regressions.sorted.foreach(r => println(s"#   $r"))
      } else println(s"# check ok — no join-strategy/pushdown regressions vs ${base.size}-query baseline")
    }

    spark.stop()
    if (noScan.nonEmpty || failed.nonEmpty) sys.exit(1)
    if (regressions.nonEmpty) sys.exit(2)
  }
}
