package graft.feed

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Write-path lifecycle (§3.1): dual-sink publication, envelope
  * round-trip through the worker's parser. */
class PostIngestSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2026-01-01 00:00:00")

  test("one post stream lands in both sinks exactly once, envelope decodes back") {
    val topicDir = tempDir("topic"); val postsTable = tempDir("posts")
    val in = memStream[Post]
    val q = PostIngest.start(spark, in.toDF(), topicDir, postsTable, tempDir("ck"))
    try {
      in.addData(Post("p-1", "u-nur", "Hello!", t0))
      q.processAllAvailable()
      in.addData(Post("p-1", "u-nur", "Hello!", t0)) // duplicate publish
      q.processAllAvailable()
    } finally q.stop()

    val posts = spark.read.parquet(postsTable)
    assert(posts.count() == 1) // table sink deduped

    val env = spark.read.parquet(topicDir)
    assert(env.count() == 1) // topic sink deduped
    val (key, value) = env.select(col("key"), col("value")).as[(String, String)].head()
    assert(key == "post_created")
    // the envelope is exactly what FeedStream.parse consumes
    val parsed = FeedStream.parse(Seq(value).toDF("value"))
    val row = parsed.filter(col("_valid"))
      .select("post_id", "author_id", "body", "created_at")
      .as[(String, String, String, Timestamp)].head()
    assert(row == (("p-1", "u-nur", "Hello!", t0)))
  }

  test("withGeneratedIds: unique v4-shaped UUIDs + timestamps (SC3/SC5)") {
    val subs = (1 to 500).map(i => (s"u-${i % 7}", s"body $i")).toDF("author_id", "body")
    val posts = PostIngest.withGeneratedIds(subs).cache()
    val ids = posts.select("post_id").as[String].collect()
    assert(ids.length == 500 && ids.distinct.length == 500)
    val v4 = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    ids.take(20).foreach(id => assert(v4.matches(id), s"not v4: $id"))
    assert(posts.filter(col("created_at").isNull).count() == 0)
    posts.unpersist()
  }

  test("withGeneratedIds is deterministic: replay-equivalent recompute yields identical ids") {
    val subs = ((1 to 50).map(i => (s"u-${i % 7}", s"body $i"))
      ++ Seq(("u-dup", "same"), ("u-dup", "same"))).toDF("author_id", "body")
    def ids(salt: String) =
      PostIngest.withGeneratedIds(subs, salt).select("post_id").as[String].collect().sorted.toSeq
    assert(ids("7") == ids("7"))           // same batch replayed → same ids
    assert(ids("7") != ids("8"))           // later batch → new ids
    assert(ids("7").distinct.size == 52)   // identical duplicate rows still get distinct ids
  }

  test("startFromSubmissions: ids assigned in-batch; duplicate submission in a later batch is a new post") {
    val topicDir = tempDir("topic3"); val postsTable = tempDir("posts3")
    val in = memStream[(String, String)]
    val q = PostIngest.startFromSubmissions(
      spark, in.toDF().toDF("author_id", "body"), topicDir, postsTable, tempDir("ck3"))
    try {
      in.addData(("u-nur", "Hello!"))
      q.processAllAvailable()
      in.addData(("u-nur", "Hello!")) // same content, later batch → distinct post
      q.processAllAvailable()
    } finally q.stop()
    val posts = spark.read.parquet(postsTable)
    assert(posts.count() == 2)
    assert(posts.select("post_id").distinct().count() == 2)
    assert(spark.read.parquet(topicDir).count() == 2)
  }

  test("file-source rate limiting: maxFilesPerTrigger bounds each micro-batch (F3/ST6 analog)") {
    val in = tempDir("ratelim")
    (1 to 4).foreach { i =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f$i.txt"),
        s"""{"id":"p-$i","author_id":"u-nur","body":"b","created":"2026-01-01T00:00:0$i.000Z"}""")
    }
    val feedPath = tempDir("ratefeed")
    val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(in)
    val q = FeedStream.start(spark, raw, Seq(Follow("u-almaz", "u-nur")).toDS.toDF,
      feedPath, tempDir("rateck"))
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(feedPath).count() == 4)
    // 4 files × 1 file per trigger → at least 4 micro-batches ran
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
  }

  test("full loop: ingest -> topic -> feed pipeline -> follower feed") {
    val topicDir = tempDir("topic2"); val postsTable = tempDir("posts2")
    val feedPath = tempDir("feed2")
    val in = memStream[Post]
    val q1 = PostIngest.start(spark, in.toDF(), topicDir, postsTable, tempDir("ck1"))
    try {
      in.addData(Post("p-9", "u-nur", "loop", t0))
      q1.processAllAvailable()
    } finally q1.stop()

    // worker side: consume the topic (file analog), fan out
    val raw = spark.read.parquet(topicDir).select("value")
    val follows = Seq(Follow("u-almaz", "u-nur")).toDS.toDF
    val valid = FeedStream.parse(raw).filter(col("_valid"))
      .select("post_id", "author_id", "body", "created_at")
    IdempotentSink.appendDedup(spark,
      Fanout.fanout(valid, follows), feedPath, Schemas.feedKey)
    val feed = spark.read.parquet(feedPath)
    assert(FeedQueries.feedTopK(feed, "u-almaz").count() == 1)
    assert(FeedQueries.feedTopK(feed, "u-nur").isEmpty)
  }
}
