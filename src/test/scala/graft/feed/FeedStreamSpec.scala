package graft.feed

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import java.util.concurrent.{CountDownLatch, TimeUnit}
import graft.SparkSpec
import graft.tools.ExecutionTrace
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

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

  /** Ids of the follower lookups the driver holds whose followees
    * include `followee`. */
  private def lookupsOf(followee: String): Set[Long] =
    org.apache.spark.graftbridge.BroadcastBridge.values().collect {
      case (id, m: Map[_, _]) if m.asInstanceOf[Map[Any, Any]].contains(followee) => id
    }.toSet

  test("Fast mode job budget: a warm micro-batch runs 1 job and 1 task, writes at most 1 file, and neither shuffles nor broadcasts") {
    // a few thousand edges over 50 authors, so every post fans out
    val follows = (0 until 4000).map(i => Follow(s"u-${i % 997}", s"a-${i % 50}"))
      .distinct.toDS.toDF
    val feedPath = tempDir("feedjobs")
    def partFiles = Option(new java.io.File(feedPath).listFiles).toSeq.flatten
      .count(_.getName.startsWith("part-"))
    val in = memStream[String]
    val q = FeedStream.start(spark, in.toDF(), follows, feedPath, tempDir("ckjobs"),
      dedupMode = FeedStream.Fast)
    val batches =
      try (0 until 4).map { b =>
        val before = partFiles
        val (_, w) = ExecutionTrace.window(spark) {
          in.addData((0 until 30).map(i => msg(s"p-$b-$i", s"a-${(b * 7 + i) % 50}")))
          q.processAllAvailable()
        }
        (w, partFiles - before)
      } finally q.stop()
    info(s"jobs, tasks and new files per batch: ${batches.map { case (w, f) => (w.jobs, w.tasks, f) }}")
    // batch 0 is the cold one; the lookup was built by start
    for ((w, files) <- batches.tail) {
      assert(w.jobs == 1 && w.tasks == 1, s"${w.jobs} jobs and ${w.tasks} tasks in a warm batch")
      assert(files <= 1, s"$files part files from one batch")
      val writes = w.executions.map(_.qe.executedPlan)
        .filter(_.toString.contains("InsertIntoHadoopFsRelationCommand"))
      assert(writes.size == 1, s"${writes.size} feed writes in one batch")
      val helper = new AdaptiveSparkPlanHelper {}
      writes.foreach { plan =>
        assert(helper.collectWithSubqueries(plan) {
          case e: ShuffleExchangeExec => e
          case e: BroadcastExchangeExec => e
        }.isEmpty, s"the feed write exchanges:\n$plan")
      }
    }
    assert(spark.read.parquet(feedPath).count() == Fanout.fanout(
      (0 until 4).flatMap(b => (0 until 30).map(i => Post(s"p-$b-$i", s"a-${(b * 7 + i) % 50}", "b",
        Timestamp.valueOf("2026-01-01 00:00:00")))).toDS.toDF, follows).count())
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

  test("post dedup: repeats, a replay after a crash and conflicting copies give the fan-out of the winning copy, at 1, 3 and 7 shuffle partitions") {
    val edges = (1 to 6).map(i => Follow(s"u-$i", "a-1")) ++ (4 to 9).map(i => Follow(s"u-$i", "a-2")) ++
      Seq(Follow("u-1", "a-1"), Follow("u-5", "a-2"))
    def json(id: String, author: String, body: String, sec: Int) =
      s"""{"id":"$id","author_id":"$author","body":"$body","created":"2026-01-01T00:00:0${sec}Z"}"""
    def post(id: String, author: String, body: String, sec: Int) =
      Post(id, author, body, Timestamp.valueOf(s"2026-01-01 00:00:0$sec"))
    // Batch 0 repeats p-1 and holds two copies of p-2: the one created
    // first wins, whatever its author or body. Batch 1 holds two copies
    // of p-4 created at the same time: the least author_id wins, then
    // the least body. Batch 1 is replayed after a crash.
    val batch0 = Seq(json("p-1", "a-1", "one", 0), json("p-2", "a-1", "late", 5),
      json("p-1", "a-1", "one", 0), json("p-2", "a-2", "early", 1))
    val batch1 = Seq(json("p-3", "a-2", "three", 2), json("p-4", "a-2", "x", 3),
      json("p-4", "a-1", "y", 3), json("p-4", "a-1", "w", 3))
    val winners = Seq(post("p-1", "a-1", "one", 0), post("p-2", "a-2", "early", 1),
      post("p-3", "a-2", "three", 2), post("p-4", "a-1", "w", 3))
    for (parts <- Seq(1, 3, 7); mode <- Seq(FeedStream.Exact, FeedStream.Fast)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      import s.implicits._
      val follows = s.createDataset(edges).toDF.repartition(4)
      // the copies arrive in the opposite order at 3 partitions
      val src = tempDir("postsrc")
      for ((lines, i) <- Seq(batch0, batch1).zipWithIndex) {
        val f = java.nio.file.Paths.get(src, s"b$i.json")
        java.nio.file.Files.write(f, (if (parts == 3) lines.reverse else lines).asJava)
        f.toFile.setLastModified(1767225600000L + i * 1000L)
      }
      val feedPath = tempDir("feeddedup")
      val ckpt = tempDir("ckdedup")
      def run() = {
        val q = FeedStream.start(s, s.readStream.option("maxFilesPerTrigger", "1").text(src),
          follows, feedPath, ckpt, dedupMode = mode)
        try q.processAllAvailable() finally q.stop()
        q
      }
      run()
      // crash after batch 1's rows landed, before its commits: Spark's
      // commit log and, in Fast mode, the sink's marker
      java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
      if (mode == FeedStream.Fast) {
        val commits = java.nio.file.Paths.get(feedPath, "_graft_commits")
        java.nio.file.Files.move(commits.resolve("1"), commits.resolve("1.inflight"))
      }
      val replay = run()
      assert(replay.recentProgress.exists(p => p.batchId == 1 && p.numInputRows == 4),
        s"$mode at $parts: batch 1 was not replayed")
      val expected = Fanout.fanout(s.createDataset(winners).toDF, follows)
        .dropDuplicates(Schemas.feedKey).as[FeedEntry].collect().toSeq
      val got = s.read.schema(Schemas.feedEntry).parquet(feedPath).as[FeedEntry].collect().toSeq
      // a-1 has 6 distinct followers, a-2 has 6
      assert(expected.size == 4 * 6 && expected.distinct.size == expected.size)
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

  test("the follower lookup is released when the stream stops; no listener stays") {
    val follows = Seq(Follow("u-almaz", "u-life"), Follow("u-b", "u-life")).toDS.toDF
    val listeners = spark.streams.listListeners().length
    (0 until 3).foreach { i =>
      val in = memStream[String]
      val q = FeedStream.start(spark, in.toDF(), follows, tempDir("feedlife"), tempDir("cklife"),
        dedupMode = if (i % 2 == 0) FeedStream.Fast else FeedStream.Exact)
      try {
        in.addData(Seq(msg("p-life", "u-life")))
        q.processAllAvailable()
        assert(lookupsOf("u-life").size == 1, s"stream $i: no follower lookup held")
      } finally stopAndDrain(q)
      // destroy() removes the blocks asynchronously
      val until = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (lookupsOf("u-life").nonEmpty && System.nanoTime() < until) Thread.sleep(20)
      assert(lookupsOf("u-life").isEmpty, s"stream $i: follower lookup still held after stop")
    }
    assert(spark.streams.listListeners().length == listeners)
  }
}
