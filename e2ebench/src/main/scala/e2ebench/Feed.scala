package e2ebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Warehouse
import graft.feed.{Fanout, FeedStream}

/** feed: the write path, then the read path, on one seeded graph.
  *
  *   - setup: the graph, one cold 5000-post batch through
  *     `FeedStream.start(..., Fast)` (`cold_pass_s`), then 200-post
  *     batches back to back until batch time settles (at most
  *     `WarmMax`);
  *   - phase A (1/2 of the time): open loop at 200 posts/s; a post's
  *     delivery runs from its due time to the commit of its micro-batch,
  *     and a post not delivered within 10 s fails;
  *   - phase B (1/4): closed loop of fixed 5000-post batches;
  *   - `Warehouse.compact` of the ingested feed and `openFeed`, untimed
  *     in e2e (per-layer `warehouse.compact_ms_p50`/`open_ms_p50`);
  *   - phase C (1/4): two closed-loop clients read
  *     `Warehouse.feedTopK(table, user, 50)` for users drawn with the
  *     graph's skew; every read is compared with the generator's model.
  *
  * The final feed must satisfy `Fanout.deliveryInvariantHolds` and hold
  * exactly the generator's expected row count. */
object Feed {
  val Rate = 200.0
  val BatchB = 5000
  val WarmBatch = 200
  val WarmMin = 4
  val WarmMax = 6
  val LateMs = 10000.0
  val K = 50
  val Clients = 2

  def run(spark: SparkSession, o: Opts): Result = {
    val gen = new FeedGen(o.seed)
    val follows = gen.follows(spark).cache()
    follows.count()
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    Proc.mark("graph ready")
    val pub = new Publisher(spark, gen)
    val feedPath = o.dir("feed")
    val q = FeedStream.start(spark, pub.input.toDF(), follows, feedPath,
      o.dir("checkpoint"), dedupMode = FeedStream.Fast)
    val notes = mutable.ArrayBuffer.empty[String]
    def timed(f: => Unit): Double = { val t0 = Proc.nowMs(); f; Proc.nowMs() - t0 }
    def batch(n: Int): Double = timed { pub.publish(n); q.processAllAvailable() }

    val coldS = batch(BatchB) / 1e3
    val warm = mutable.ArrayBuffer.empty[Double]
    // Settled: the last two batches within 5% of the two before them.
    def settled = warm.size >= WarmMin && {
      val last = warm.takeRight(2).toSeq
      val prev = warm.slice(warm.size - 4, warm.size - 2).toSeq
      math.abs(Stats.median(last) / Stats.median(prev) - 1) < 0.05
    }
    while (!settled && warm.size < WarmMax) warm += batch(WarmBatch)
    System.err.println(f"[e2ebench] cold $coldS%.2f s, warm-up ms ${warm.map(_.round).mkString(",")}")
    if (!settled) notes += s"batch time still falling after ${warm.size} warm-up batches"
    val setupS = (System.currentTimeMillis() - Proc.jvmStartMs) / 1e3

    // Phase A: open loop.
    tracer.foreach(_.attach())
    pub.forget()
    val firstBatchA = q.lastProgress.batchId + 1
    val filesBefore = dataFiles(feedPath)
    val cpu0 = Proc.cpuNs()
    val t0 = System.currentTimeMillis()
    val n0 = pub.next
    val total = (o.seconds / 2 * Rate).toInt
    var sent = 0
    while (sent < total) {
      val n = math.min(((System.currentTimeMillis() - t0) * Rate / 1000).toInt + 1, total) - sent
      if (n > 0) {
        pub.publish(n, i => t0 + ((i - n0) * 1000 / Rate).toLong)
        sent += n
      }
      Thread.sleep(2)
    }
    q.processAllAvailable()
    Proc.mark("phase A done")
    val cpuMsA = (Proc.cpuNs() - cpu0) / 1e6
    val batchesA = pub.batches(q, firstBatchA)
    val (del, late, backlog) = pub.deliveries(batchesA)
    val delivered = del.flatten
    val lateCount = del.count(_.forall(_ > LateMs))
    val filesA = dataFiles(feedPath) - filesBefore
    // A backlog that keeps growing means the stream fell behind the rate.
    val half = backlog.size / 2
    val growing = backlog.size >= 4 && backlog.drop(half).max > 2 * backlog.take(half).max + Rate
    if (growing) notes += s"backlog grew: ${backlog.mkString(",")}"

    // Phase B: closed loop of fixed batches; a traced run alternates
    // listener-on and listener-off batches for the tracing overhead.
    val bMs = mutable.Map.empty[Boolean, mutable.ArrayBuffer[Double]]
    val tB = Proc.nowMs()
    var nB = 0
    while (nB < 2 || Proc.nowMs() - tB < o.seconds * 1000 / 4) {
      val on = nB % 2 == 0
      tracer.foreach(t => if (on) t.attach() else t.detach())
      bMs.getOrElseUpdate(on, mutable.ArrayBuffer.empty) += batch(BatchB)
      nB += 1
    }
    q.stop()
    Proc.mark("phase B done")
    val bAll = bMs.values.flatten.toSeq

    // The ingested feed, compacted into the warehouse and opened.
    tracer.foreach(_.attach())
    val c0 = Proc.nowMs()
    Tracer.span(spark, "compact")(Warehouse.compact(spark, feedPath, o.dir("warehouse")))
    val c1 = Proc.nowMs()
    val table = Tracer.span(spark, "open")(Warehouse.openFeed(spark, o.dir("warehouse")))
    val c2 = Proc.nowMs()

    // Model: each user's newest K posts, newest first (post index order
    // is created_at order).
    val newest = Array.fill(gen.users)(mutable.ArrayBuffer.empty[Int])
    for (i <- pub.next - 1 to 0 by -1; f <- gen.followers(gen.author(i)) if newest(f).size < K)
      newest(f) += i
    val celebs = gen.users / 100
    final case class Read(ms: Double, planMs: Double, execMs: Double, rows: Int, ok: Boolean)
    def read(r: scala.util.Random): Read = {
      val u = if (r.nextDouble() < 0.1) r.nextInt(celebs) else r.nextInt(gen.users)
      val t0 = Proc.nowMs()
      val df = Tracer.span(spark, "read") {
        val df = Warehouse.feedTopK(table, FeedGen.user(u), K)
        df.queryExecution.executedPlan
        df
      }
      val t1 = Proc.nowMs()
      val rows = try Tracer.span(spark, "read")(df.collect()) catch { case e: Throwable =>
        System.err.println(s"[e2ebench] read failed: $e"); null }
      val t2 = Proc.nowMs()
      val ok = rows != null &&
        rows.map(_.getAs[String]("post_id")).toSeq == newest(u).map(FeedGen.postId).toSeq
      Read(t2 - t0, t1 - t0, t2 - t1, if (rows == null) 0 else rows.length, ok)
    }
    def clients(seconds: Double, seedBase: Int): Seq[Read] = {
      val until = Proc.nowMs() + seconds * 1000
      val out = (0 until Clients).map(_ => mutable.ArrayBuffer.empty[Read])
      val ts = (0 until Clients).map { c =>
        val r = new scala.util.Random(o.seed * 31 + seedBase + c)
        new Thread(() => while (Proc.nowMs() < until) out(c) += read(r))
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      out.flatMap(_.toSeq)
    }
    // Phase C: untimed warm-up of the read path, then the timed clients.
    tracer.foreach(_.detach())
    val warmReads = clients(1, 100)
    tracer.foreach(_.attach())
    val tC = Proc.nowMs()
    val reads = clients(o.seconds / 4, 200)
    val readS = (Proc.nowMs() - tC) / 1e3
    tracer.foreach(_.drain())
    Proc.mark("phase C done")

    // Correctness of everything published, cold and warm-up included.
    val feed = spark.read.parquet(feedPath)
    val posts = gen.posts(spark, pub.next)
    val rows = feed.count()
    val expected = gen.expectedRows(pub.next)
    val invariant = Fanout.deliveryInvariantHolds(posts, follows, feed)
    if (!invariant) notes += "delivery invariant violated"
    if (rows != expected) notes += s"feed rows $rows, expected $expected"
    val wrongPosts =
      if (invariant && rows == expected) 0L
      else Fanout.undelivered(Fanout.fanout(posts, follows), feed).select("post_id").distinct().count()
    val badReads = (warmReads ++ reads).count(!_.ok)
    if (badReads > 0) notes += s"$badReads reads returned wrong rows"
    Proc.mark("feed checked")

    val readMs = reads.map(_.ms)
    val e2e = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Proc.peakRssMb(),
      "cpu_ms_per_op" -> cpuMsA / total,
      "op_p50_ms" -> Stats.median(delivered),
      "op_p99_ms" -> Stats.pct(delivered, 99),
      "ops_per_s" -> BatchB * bAll.size / (bAll.sum / 1e3),
      "side_p50_ms" -> Stats.median(readMs),
      "side_p90_ms" -> Stats.pct(readMs, 90),
      "cold_pass_s" -> coldS,
      "warm_pass_s" -> Stats.median(bAll) / 1e3,
      "warm_geomean_ms" -> Stats.geomean(delivered))

    val layers = tracer.map { t =>
      val inA = (id: Long) => id >= firstBatchA && id < firstBatchA + batchesA.size
      val progress = t.streamProgress().filter(p => inA(p.batchId))
      def phase(k: String) = Stats.medianOr0(progress.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val spans = t.batchSpans().filter(kv => inA(kv._1)).values.toSeq
      def perBatch(f: SpanAgg => Double) = Stats.medianOr0(spans.map(f))
      val on = Stats.median(bMs(true).toSeq)
      val off = bMs.get(false).map(v => Stats.median(v.toSeq)).getOrElse(on)
      val readSpan = t.total(_ == "read")
      val n = reads.size.toDouble
      Map(
        "stream.trigger_ms_p50" -> phase("triggerExecution"),
        "stream.add_batch_ms_p50" -> phase("addBatch"),
        "stream.wal_commit_ms_p50" -> phase("walCommit"),
        "stream.commit_offsets_ms_p50" -> phase("commitOffsets"),
        "stream.query_planning_ms_p50" -> phase("queryPlanning"),
        "stream.rows_per_batch_p50" -> Stats.median(batchesA.map(_.rows.toDouble)),
        "stream.backlog_max_posts" -> backlog.max.toDouble,
        "stream.generator_late_ms_max" -> late.max,
        "sink.jobs_per_batch" -> perBatch(_.jobs.toDouble),
        "sink.tasks_per_batch" -> perBatch(_.tasks.toDouble),
        "sink.task_cpu_ms_per_batch" -> perBatch(_.cpuNs / 1e6),
        "sink.shuffle_write_bytes_per_batch" -> perBatch(_.shuffleWrite.toDouble),
        "sink.files_written_per_batch" -> filesA.toDouble / batchesA.size,
        "sink.probe_rows_per_batch" -> perBatch(_.scanRows.toDouble),
        "fanout.rows_per_post" -> rows.toDouble / pub.next,
        "warehouse.read_plan_ms_p50" -> Stats.median(reads.map(_.planMs)),
        "warehouse.read_exec_ms_p50" -> Stats.median(reads.map(_.execMs)),
        "warehouse.read_jobs_per_read" -> readSpan.jobs / n,
        "warehouse.read_tasks_per_read" -> readSpan.tasks / n,
        "warehouse.files_scanned_per_read" -> readSpan.scanFiles / n,
        "warehouse.rows_scanned_per_row_returned" ->
          readSpan.scanRows.toDouble / math.max(1, reads.map(_.rows).sum),
        "warehouse.compact_ms_p50" -> (c1 - c0),
        "warehouse.open_ms_p50" -> (c2 - c1),
        "trace.overhead_pct" -> (on / off - 1) * 100) ++ Tracer.jvmLayers()
    }.getOrElse(Map.empty)

    val failed = lateCount + wrongPosts + badReads + (if (growing) 1 else 0)
    val attempted = pub.next.toLong + warmReads.size + reads.size
    notes += f"reads=${reads.size} in $readS%.1f s"
    Result(attempted, failed, failed == 0, e2e, layers, notes.toSeq)
  }

  /** Parquet data files under a feed directory. */
  def dataFiles(path: String): Long = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try w.filter(_.toString.endsWith(".parquet")).count() finally w.close()
  }
}
