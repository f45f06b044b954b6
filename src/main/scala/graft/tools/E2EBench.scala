package graft.tools

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.feed._
import graft.functions.TrimmedAggs
import graft.sources.Connectors

/** BASELINE.md port-measurement plan, end to end:
  *
  *   1. fan-out pipeline throughput — posts/s and feed-rows/s through
  *      the REAL checkpointed StreamingQuery (micro-batched MemoryStream,
  *      the offline stand-in for the Kafka source);
  *   2. feed top-K read latency over many users — stats computed with
  *      the engine's own A2/A3 operators (percentile + trimmed mean),
  *      so the measurement code is itself a correctness artifact;
  *   3. latency-vector CSV export (mirror of e2e_bench.go:246-255).
  *
  * Workload mirrors the reference defaults scaled up: U users, F
  * follows/user, P posts (e2e_bench.go:44-49 defaults 50/10/100).
  * Seeded generation → deterministic.
  *
  * Every scratch dir (feed tables, stream checkpoints, warehouse copy)
  * lives under the JVM's scratch root and is deleted at exit; the
  * latency CSV, whose path the result line prints, goes to
  * `target/e2e-latency` and is overwritten by the next run.
  *
  * Usage: runMain graft.tools.E2EBench [U F P]
  */
object E2EBench {
  def main(args: Array[String]): Unit = {
    val u = args.lift(0).map(_.toInt).getOrElse(500)
    val f = args.lift(1).map(_.toInt).getOrElse(10)
    val p = args.lift(2).map(_.toInt).getOrElse(5000)
    val spark = GraftSession.local(appName = "e2e-bench")
    spark.sparkContext.setLogLevel("ERROR")
    val csvDir = new java.io.File("target/e2e-latency").getAbsolutePath
    try run(spark, u, f, p, GraftSession.tempDir, csvDir)
    finally spark.stop()
  }

  private def run(spark: SparkSession, u: Int, f: Int, p: Int,
      scratch: String => String, csvDir: String): Unit = {
    import spark.implicits._

    val rnd = new scala.util.Random(42)
    val follows = (0 until u).flatMap { i =>
      (0 until f).map(_ => Follow(s"user-$i", s"user-${rnd.nextInt(u)}"))
        .filter(e => e.user_id != e.followee_id)
    }.distinct
    val t0 = 1767225600000L
    val posts = (0 until p).map(i => Post(s"post-$i", s"user-${rnd.nextInt(u)}",
      s"body-$i", new Timestamp(t0 + i * 1000L)))
    val followsDf = follows.toDS.toDF.cache(); followsDf.count()

    val json = posts.map(post =>
      s"""{"id":"${post.post_id}","author_id":"${post.author_id}","body":"${post.body}",""" +
        s""""created":"${post.created_at.toInstant}"}""")
    val batches = json.grouped(500).toSeq

    def runPipeline(mode: FeedStream.DedupMode): (String, Double) = {
      val feedPath = scratch(s"feed-$mode")
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](
        implicitly[org.apache.spark.sql.Encoder[String]], spark)
      val q = FeedStream.start(spark, input.toDF(), followsDf, feedPath,
        scratch(s"ck-$mode"), dedupMode = mode)
      val t = System.nanoTime()
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      (feedPath, (System.nanoTime() - t) / 1e9)
    }

    val (_, ingestExactSec) = runPipeline(FeedStream.Exact)
    val (feedPath, ingestSec) = runPipeline(FeedStream.Fast)

    val feed = spark.read.schema(Schemas.feedEntry).parquet(feedPath).cache()
    val feedRows = feed.count()

    // delivery invariant (reference e2e verification, as a batch assertion);
    // the reported failure count is the measured undelivered row count
    val postsDf = posts.toDS.toDF
    val deliveryFailures =
      Fanout.undelivered(Fanout.fanout(postsDf, followsDf), feed).count()
    val ok = Fanout.deliveryInvariantHolds(postsDf, followsDf, feed)
    require(ok, s"delivery invariant violated ($deliveryFailures undelivered rows)")

    // per-user top-K read latency against the production read path —
    // the bucket-partitioned Warehouse layout (pruned scans). Stats
    // via the engine's own A2/A3. 5 untimed warm-ups absorb codegen.
    val whPath = scratch("wh")
    graft.Warehouse.writeFeed(feed, whPath)
    val table = graft.Warehouse.openFeed(spark, whPath)
    (0 until 5).foreach(i => graft.Warehouse.feedTopK(table, s"user-$i", 50).collect())
    val users = (0 until 200).map(i => s"user-${i % u}")
    val lat = users.map { uid =>
      val s = System.nanoTime()
      graft.Warehouse.feedTopK(table, uid, 50).collect()
      (uid, (System.nanoTime() - s) / 1e6)
    }.toDF("user_id", "latency_ms")
    val stats = lat.agg(
      round(TrimmedAggs.trimmed_mean(col("latency_ms"), 1.0), 3).as("trimmed_mean_ms"),
      round(expr("percentile(latency_ms, 0.5)"), 3).as("p50_ms"),
      round(expr("percentile(latency_ms, 0.9)"), 3).as("p90_ms"),
      round(expr("percentile(latency_ms, 0.99)"), 3).as("p99_ms")).head()

    Connectors.csvExport(lat, csvDir)

    println(s"""{"metric":"e2e_feed_pipeline","posts":$p,"users":$u,"follows_per_user":$f,""" +
      s""""feed_rows":$feedRows,"ingest_sec":${"%.2f".format(ingestSec)},""" +
      s""""posts_per_sec":${"%.1f".format(p / ingestSec)},""" +
      s""""exact_ingest_sec":${"%.2f".format(ingestExactSec)},""" +
      s""""exact_posts_per_sec":${"%.1f".format(p / ingestExactSec)},""" +
      s""""feed_rows_per_sec":${"%.1f".format(feedRows / ingestSec)},""" +
      s""""read_trimmed_mean_ms":${stats.get(0)},"read_p50_ms":${stats.get(1)},""" +
      s""""read_p90_ms":${stats.get(2)},"read_p99_ms":${stats.get(3)},""" +
      s""""delivery_failures":$deliveryFailures,"latency_csv":"$csvDir"}""")
  }
}
