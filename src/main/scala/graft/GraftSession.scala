package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session builder and its one conf list.
  *
  * Designed for cluster scale even though tests run `local[N]`:
  *   - AQE on (runtime shuffle coalescing + skew-join splitting, both
  *     on by default in Spark 4 — the scale answer to the reference's
  *     fixed worker-pool sizing, reference cmd/worker/worker.go:29-42).
  *   - shuffle.partitions equals the core count; on a real cluster this
  *     is overridden per-deploy (AQE coalesces the excess anyway).
  *   - Session TZ pinned UTC (reference stores UTC wall-clock,
  *     cmd/server/httphandlers.go:144).
  */
object GraftSession {
  /** Storage level for persisted TEXT-SIZED frames (corpus survivors,
    * shingle/token arrays, feature frames): DISK_ONLY. The round-15 GC
    * audit moved these off the heap because their deserialized copies
    * dominated old-gen in a long many-query JVM. The round-16 A/B
    * (docs/PERSIST_AB_r16.md) kept DISK_ONLY over MEMORY_AND_DISK_SER:
    * ~4% faster on a quiesced box (recipe family 28.8 s vs 30.1 s at
    * sf0.1), though SER writes ~30% fewer bytes — the level to revisit
    * if local disk becomes the contended resource. */
  val textFrameLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** Local core count: `SPARK_GRAFT_CPUS`, else `min(32, nproc)`. */
  private lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  def local(cores: Int = cpus, appName: String = "graft"): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // testdata events.ts is parquet TIMESTAMP(NANOS); Spark's
      // TimestampType is microseconds. Reading nanos as LongType keeps
      // full precision and lets queries compare exactly against
      // DuckDB's epoch_ns().
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // 69 queries × several codegen'd stages each blow far past the
      // default 100-entry generated-class cache — every "warm" run was
      // re-compiling its whole-stage code, a flat recompilation tax on
      // each query in the full suite that an isolated run never pays.
      // Measured at 206 queries (round 12): 1000 entries regressed the
      // warm suite 317.8s vs 223.4s at 5000 (recompilation tax
      // dominates any GC-scan cost of the pinned classes).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .withExtensions(new GraftExtensions) // dot_product/hamming as SQL functions
    // after getOrCreate: the first SparkContext re-initializes log4j
    // and drops a filter installed before it
    val spark = b.getOrCreate()
    quietBoundedWindowWarnings()
    spark
  }

  /** One root per JVM for scratch dirs, deleted at exit. Hadoop's hook
    * manager runs hooks by priority, so 25 runs after Spark's (40),
    * which stop the SparkContext and its streams. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(root.toFile), 25)
    root
  }

  /** A new empty dir under the per-JVM scratch root; the one place
    * `src/main` makes temp dirs (`ToolCommandsSpec` guards this). Gate
    * frames read their staged files lazily (q182–q185, q232–q234), so
    * the dirs live until exit. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** The audit/report operators intentionally use GLOBAL
    * (unpartitioned) window frames on post-aggregation results that
    * are bounded by construction — histograms, per-source summaries,
    * top-k shortlists of at most a few thousand rows. Spark's window
    * exec can't see that bound and warns "No Partition Defined for
    * Window operation!" on every such frame (~147 times per full gate
    * run — VERDICT r10 item 7: correct plans, drowned logs). Those
    * single-partition moves are exactly what a bounded frame wants,
    * so silence precisely THAT MESSAGE and nothing else — a
    * StringMatchFilter on the window-exec logger config (round-12
    * ADVICE: the earlier whole-logger ERROR level also swallowed
    * genuine window warnings like spill-to-disk, process-wide). Any
    * UNBOUNDED global window would still be caught by the plan
    * audit (PlanAudit flags corpus-sized exchanges), which is the
    * right tool for that failure, not a per-query log line. */
  def quietBoundedWindowWarnings(): Unit =
    try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.StringMatchFilter
      val name = "org.apache.spark.sql.execution.window"
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val existing = cfg.getLoggerConfig(name)
      val target =
        if (existing.getName == name) existing
        else {
          val lc = new LoggerConfig(name, existing.getLevel, true)
          cfg.addLogger(name, lc)
          lc
        }
      // idempotent across repeated session builds, and composable with
      // a pre-existing filter (round-13 ADVICE: requiring the single
      // filter slot to be EMPTY silently skipped the deny when a user
      // log4j2 config already installed one): addFilter composes into
      // a CompositeFilter, so only skip when OUR match string is
      // already present somewhere in the chain
      val matchStr = "No Partition Defined for Window operation"
      def hasOurs(f: Filter): Boolean = f match {
        case null => false
        case s: StringMatchFilter => s.toString == matchStr // toString IS the match text
        case c: org.apache.logging.log4j.core.filter.CompositeFilter =>
          c.getFiltersArray.exists(hasOurs)
        case _ => false
      }
      if (!hasOurs(target.getFilter)) {
        target.addFilter(StringMatchFilter.newBuilder()
          .setMatchString(matchStr)
          .setOnMatch(Filter.Result.DENY)
          .setOnMismatch(Filter.Result.NEUTRAL)
          .build())
        ctx.updateLoggers()
      }
    } catch { case _: Throwable => () } // cosmetic only — never fail a session on it
}
