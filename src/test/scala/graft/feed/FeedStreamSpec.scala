package graft.feed

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end streaming pipeline test (FIXTURES.md §3 scenario through
  * the real StreamingQuery — the no-polling mirror of the reference's
  * server_test.go:110-144 e2e, per SURVEY §5.2 item 4). */
class FeedStreamSpec extends SparkSpec {
  import spark.implicits._

  private val goodJson =
    """{"id":"p-100","author_id":"u-nur","body":"Hello from Nur!","created":"2026-01-01T00:00:00Z"}"""

  private def runPipeline(messages: Seq[Seq[String]], follows: Seq[Follow],
      deadLetter: Boolean = false): (String, Option[String]) = {
    val feedPath = tempDir("feed")
    val dlPath = if (deadLetter) Some(tempDir("dl")) else None
    val input = memStream[String]
    val q = FeedStream.start(spark, input.toDF(), follows.toDS.toDF,
      feedPath, tempDir("ckpt"), dlPath)
    try {
      messages.foreach { batch => input.addData(batch); q.processAllAvailable() }
    } finally q.stop()
    (feedPath, dlPath)
  }

  private def readFeed(path: String) =
    try spark.read.schema(Schemas.feedEntry).parquet(path).as[FeedEntry].collect().toSeq
    catch { case _: Throwable => Seq.empty[FeedEntry] }

  test("canonical scenario end-to-end: post lands in follower's feed only") {
    val (feedPath, _) = runPipeline(Seq(Seq(goodJson)), Seq(Follow("u-almaz", "u-nur")))
    val rows = readFeed(feedPath)
    assert(rows == Seq(FeedEntry("u-almaz", "p-100", "u-nur", "Hello from Nur!",
      Timestamp.valueOf("2026-01-01 00:00:00"))))
  }

  test("duplicate delivery within and across batches → exactly one feed row (ST1/ST2)") {
    val (feedPath, _) = runPipeline(
      Seq(Seq(goodJson, goodJson), Seq(goodJson)),
      Seq(Follow("u-almaz", "u-nur")))
    assert(readFeed(feedPath).size == 1)
  }

  test("invalid JSON → dead-letter, stream continues (ST4); empty value filtered (ST5)") {
    val (feedPath, dl) = runPipeline(
      Seq(Seq("{invalid-json}", "", goodJson)),
      Seq(Follow("u-almaz", "u-nur")), deadLetter = true)
    assert(readFeed(feedPath).size == 1) // good message still processed
    val dead = spark.read.parquet(dl.get).select("raw_value").as[String].collect()
    assert(dead.toSeq == Seq("{invalid-json}")) // empty value NOT dead-lettered
  }

  test("missing fields in otherwise-valid JSON → dead-letter (schema-on-read, §1.3)") {
    val noAuthor = """{"id":"p-1","body":"x","created":"2026-01-01T00:00:00Z"}"""
    val (feedPath, dl) = runPipeline(Seq(Seq(noAuthor)),
      Seq(Follow("u-almaz", "u-nur")), deadLetter = true)
    assert(readFeed(feedPath).isEmpty)
    assert(spark.read.parquet(dl.get).count() == 1)
  }

  test("restart from checkpoint does not duplicate feed rows (ST7)") {
    val feedPath = tempDir("feed")
    val ckpt = tempDir("ckpt")
    val follows = Seq(Follow("u-almaz", "u-nur")).toDS.toDF
    val input = memStream[String]
    val q1 = FeedStream.start(spark, input.toDF(), follows, feedPath, ckpt)
    input.addData(Seq(goodJson))
    q1.processAllAvailable()
    q1.stop()
    // second query, same checkpoint + same source content replayed
    val input2 = memStream[String]
    val q2 = FeedStream.start(spark, input2.toDF(), follows, feedPath, ckpt)
    input2.addData(Seq(goodJson)) // re-delivery after restart
    q2.processAllAvailable()
    q2.stop()
    assert(readFeed(feedPath).size == 1)
  }

  test("Fast mode: in-batch dedup + batch replay markers give exactly-once (ST1/ST2)") {
    val feedPath = tempDir("feedfast")
    val in = memStream[String]
    val q = FeedStream.start(spark, in.toDF(), Seq(Follow("u-almaz", "u-nur")).toDS.toDF,
      feedPath, tempDir("ckf"), dedupMode = FeedStream.Fast)
    try {
      in.addData(Seq(goodJson, goodJson)) // duplicate inside one batch
      q.processAllAvailable()
    } finally q.stop()
    assert(readFeed(feedPath).size == 1)
    // crash-replay of an already-committed batch: marker short-circuits
    val replayRows = Seq(FeedEntry("u-almaz", "p-100", "u-nur", "x", null)).toDS.toDF
    val appended = IdempotentSink.appendOnce(spark, replayRows, 0L, feedPath, Schemas.feedKey)
    assert(appended == 0L)
  }

  test("sink failure leaves no commit marker; retry of the same batch succeeds (store-failure negative)") {
    // mirror of the reference's failing-store doubles (worker_test.go):
    // a write that throws must not mark the batch committed.
    val base = tempDir("failsink")
    val blocker = java.nio.file.Paths.get(base, "feed")
    java.nio.file.Files.writeString(blocker, "not-a-directory") // poison target
    val rows = Seq(FeedEntry("u-1", "p-1", "a", "b",
      Timestamp.valueOf("2026-01-01 00:00:00"))).toDS.toDF
    intercept[Throwable] {
      IdempotentSink.appendOnce(spark, rows, 7L, blocker.toString, Schemas.feedKey)
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(blocker.toString, "_graft_commits", "7")))
    // operator recovers: same batchId against a healthy path commits once
    java.nio.file.Files.delete(blocker)
    assert(IdempotentSink.appendOnce(spark, rows, 7L, blocker.toString, Schemas.feedKey) == 1L)
    assert(IdempotentSink.appendOnce(spark, rows, 7L, blocker.toString, Schemas.feedKey) == 0L)
  }

  test("Fast mode crash window: inflight marker triggers anti-join reconcile, no double append") {
    val path = tempDir("inflight")
    val rows = Seq(FeedEntry("u-1", "p-1", "a", "b",
      Timestamp.valueOf("2026-01-01 00:00:00"))).toDS.toDF
    // simulate a crash AFTER a fully successful append but BEFORE the
    // commit marker: data present, inflight marker present, no commit.
    rows.write.mode("append").parquet(path)
    val commits = java.nio.file.Paths.get(path, "_graft_commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.createFile(commits.resolve("3.inflight"))
    // replay of batch 3 must reconcile instead of re-appending the batch
    assert(IdempotentSink.appendOnce(spark, rows, 3L, path, Schemas.feedKey) == 0L)
    assert(spark.read.parquet(path).count() == 1)
    assert(java.nio.file.Files.exists(commits.resolve("3")))
    assert(!java.nio.file.Files.exists(commits.resolve("3.inflight")))
    // and the NEXT batch takes the fast path again (no reconcile marker left behind)
    val rows2 = Seq(FeedEntry("u-2", "p-2", "a", "b",
      Timestamp.valueOf("2026-01-01 00:00:01"))).toDS.toDF
    assert(IdempotentSink.appendOnce(spark, rows2, 4L, path, Schemas.feedKey) == 1L)
  }

  test("multi-batch multi-author fan-out preserves the delivery invariant (F5)") {
    val follows = (1 to 4).map(i => Follow(s"u-$i", "a-1")) ++
      (3 to 6).map(i => Follow(s"u-$i", "a-2"))
    def msg(id: String, author: String) =
      s"""{"id":"$id","author_id":"$author","body":"b","created":"2026-01-01T00:00:00Z"}"""
    val (feedPath, _) = runPipeline(
      Seq(Seq(msg("p-1", "a-1"), msg("p-2", "a-2")), Seq(msg("p-3", "a-1"))),
      follows)
    val feed = spark.read.parquet(feedPath)
    assert(feed.count() == 4 + 4 + 4) // p-1:4 followers, p-2:4, p-3:4
    val posts = Seq(
      Post("p-1", "a-1", "b", Timestamp.valueOf("2026-01-01 00:00:00")),
      Post("p-2", "a-2", "b", Timestamp.valueOf("2026-01-01 00:00:00")),
      Post("p-3", "a-1", "b", Timestamp.valueOf("2026-01-01 00:00:00"))).toDS.toDF
    assert(Fanout.deliveryInvariantHolds(posts, follows.toDS.toDF, feed))
  }

  private def msg(id: String, author: String) =
    s"""{"id":"$id","author_id":"$author","body":"b-$id","created":"2026-01-01T00:00:00Z"}"""

  /** Stop `q` and return once its termination event has reached every
    * listener added before this call: a listener's events arrive in
    * registration order, so this one fires after FeedStream's own. */
  private def stopAndDrain(q: StreamingQuery): Unit = {
    val streams = q.sparkSession.streams
    val done = new CountDownLatch(1)
    val watch = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == q.runId) done.countDown()
    }
    streams.addListener(watch)
    try {
      q.stop()
      assert(done.await(60, TimeUnit.SECONDS), "no termination event")
    } finally streams.removeListener(watch)
  }

  private def indexCached(s: SparkSession, follows: DataFrame): Boolean =
    s.sharedState.cacheManager.lookupCachedData(
      Fanout.followerIndex(follows).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  test("Fast mode job budget: a warm micro-batch runs at most 2 jobs, and its write shuffles nothing") {
    // a few thousand edges over 50 authors, so every post fans out
    val follows = (0 until 4000).map(i => Follow(s"u-${i % 997}", s"a-${i % 50}"))
      .distinct.toDS.toDF
    val jobs = new ConcurrentHashMap[Long, AtomicInteger]
    val drained = new CountDownLatch(1)
    val sc = spark.sparkContext
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        p.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
          jobs.computeIfAbsent(b.toLong, _ => new AtomicInteger).incrementAndGet()
        }
        if (p.exists(_.getProperty("spark.jobGroup.id") == "feed-budget-drained")) drained.countDown()
      }
    }
    // the stream clones the session's QueryExecutionListeners at start
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand")) writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planListener)
    sc.addSparkListener(jobListener)
    val in = memStream[String]
    val q = FeedStream.start(spark, in.toDF(), follows, tempDir("feedjobs"), tempDir("ckjobs"),
      dedupMode = FeedStream.Fast)
    try {
      (0 until 4).foreach { b =>
        in.addData((0 until 30).map(i => msg(s"p-$b-$i", s"a-${(b * 7 + i) % 50}")))
        q.processAllAvailable()
      }
      q.stop()
      sc.setJobGroup("feed-budget-drained", "listener drain marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally {
      if (q.isActive) q.stop()
      sc.clearJobGroup(); sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    // batch 0 also builds the resident index; batches 1-3 are warm
    val perBatch = (0L to 3L).map(b => Option(jobs.get(b)).map(_.get).getOrElse(0))
    info(s"jobs per batch: $perBatch")
    assert(perBatch.tail.forall(n => n >= 1 && n <= 2), s"jobs per warm batch ${perBatch.tail}, budget 2")
    assert(writes.size == 4, s"${writes.size} feed writes seen")
    val helper = new AdaptiveSparkPlanHelper {}
    writes.forEach { plan =>
      assert(helper.collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"the feed write shuffles:\n$plan")
      assert(helper.collectWithSubqueries(plan) { case e: BroadcastExchangeExec => e }.size == 1,
        s"the feed write broadcasts no batch:\n$plan")
    }
  }

  test("the stream's dedup is exact at 1, 3 and 7 shuffle partitions, over duplicate edges and posts") {
    // duplicate follow edges, spread over several input partitions
    val edges = (1 to 6).map(i => Follow(s"u-$i", "a-1")) ++ (4 to 9).map(i => Follow(s"u-$i", "a-2")) ++
      Seq(Follow("u-1", "a-1"), Follow("u-5", "a-2"), Follow("u-5", "a-2"), Follow("u-9", "a-1"))
    val posts = Seq(
      Post("p-1", "a-1", "b-p-1", Timestamp.valueOf("2026-01-01 00:00:00")),
      Post("p-2", "a-2", "b-p-2", Timestamp.valueOf("2026-01-01 00:00:00")),
      Post("p-3", "a-1", "b-p-3", Timestamp.valueOf("2026-01-01 00:00:00")))
    val twice = Seq(msg("p-1", "a-1"), msg("p-1", "a-1"), msg("p-2", "a-2"))
    for (parts <- Seq(1, 3, 7); mode <- Seq(FeedStream.Exact, FeedStream.Fast)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      import s.implicits._
      val follows = s.createDataset(edges).toDF.repartition(4)
      // p-1 twice in batch 0; Exact also masks its repeat in batch 1,
      // which Fast leaves to the producer (FeedStream.DedupMode)
      val second = if (mode == FeedStream.Exact) Seq(msg("p-1", "a-1"), msg("p-3", "a-1"))
        else Seq(msg("p-3", "a-1"), msg("p-3", "a-1"))
      val feedPath = tempDir("feedparts")
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](
        implicitly[org.apache.spark.sql.Encoder[String]], s)
      val q = FeedStream.start(s, in.toDF(), follows, feedPath, tempDir("ckparts"), dedupMode = mode)
      try Seq(twice, second).foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      val expected = Fanout.fanout(s.createDataset(posts).toDF, follows)
        .dropDuplicates(Schemas.feedKey).as[FeedEntry].collect().toSeq
      val got = s.read.schema(Schemas.feedEntry).parquet(feedPath).as[FeedEntry].collect().toSeq
      // a-1 has 7 distinct followers, a-2 has 6: p-1 and p-3 reach 7, p-2 reaches 6
      assert(expected.size == 7 + 6 + 7 && expected.distinct.size == expected.size)
      assert(got.sortBy(e => (e.user_id, e.post_id)) == expected.sortBy(e => (e.user_id, e.post_id)),
        s"$mode at $parts shuffle partitions")
    }
  }

  test("a batch that fans out to no rows commits, appends 0 and leaves at most one schema-only file") {
    def dataFiles(p: String) = Option(new java.io.File(p).listFiles).toSeq.flatten
      .count(f => f.getName.startsWith("part-"))
    val follows = Seq(Follow("u-almaz", "u-nur")).toDS.toDF
    val nobody = Seq(Post("p-9", "u-nobody", "b", Timestamp.valueOf("2026-01-01 00:00:00"))).toDS.toDF
    val rows = Fanout.fanout(nobody, follows)
    val fresh = tempDir("emptybatch") + "/feed"
    assert(IdempotentSink.appendOnce(spark, rows, 0L, fresh, Schemas.feedKey) == 0L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(fresh, "_graft_commits", "0")))
    assert(spark.read.parquet(fresh).count() == 0)
    assert(dataFiles(fresh) <= 1)
    // on a table that already holds rows: still one file at most, rows unchanged
    val one = Seq(FeedEntry("u-1", "p-1", "a", "b", Timestamp.valueOf("2026-01-01 00:00:00"))).toDS.toDF
    assert(IdempotentSink.appendOnce(spark, one, 1L, fresh, Schemas.feedKey) == 1L)
    val before = dataFiles(fresh)
    assert(IdempotentSink.appendOnce(spark, rows, 2L, fresh, Schemas.feedKey) == 0L)
    assert(dataFiles(fresh) - before <= 1)
    assert(spark.read.parquet(fresh).as[FeedEntry].collect().toSeq == Seq(
      FeedEntry("u-1", "p-1", "a", "b", Timestamp.valueOf("2026-01-01 00:00:00"))))
    // Exact mode's append of nothing reads back the same
    assert(IdempotentSink.appendDedup(spark, one, fresh, Schemas.feedKey) == 0L)
    assert(spark.read.parquet(fresh).count() == 1)
  }

  test("the follower index is cached while the stream runs and released when it stops; no listener stays") {
    val follows = Seq(Follow("u-almaz", "u-nur"), Follow("u-b", "u-nur")).toDS.toDF
    val listeners = spark.streams.listListeners().length
    (0 until 3).foreach { i =>
      val in = memStream[String]
      val q = FeedStream.start(spark, in.toDF(), follows, tempDir("feedlife"), tempDir("cklife"),
        dedupMode = if (i % 2 == 0) FeedStream.Fast else FeedStream.Exact)
      try {
        in.addData(Seq(goodJson))
        q.processAllAvailable()
        assert(indexCached(spark, follows), s"stream $i: follower index not cached")
      } finally stopAndDrain(q)
      assert(!indexCached(spark, follows), s"stream $i: follower index still cached after stop")
    }
    assert(spark.streams.listListeners().length == listeners)
  }
}
