package graft.feed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** F1 — the heart of the system: posts ⋈ followers → one feed row per
  * (follower, post). Batch form of the reference worker's
  * processLoop (cmd/worker/worker.go:112-160).
  *
  * Production semantics: followers only, no self-feed (the real
  * worker, worker.go:138-154 — NOT the mock's self-feed divergence,
  * internal/broker/mock_kafka.go:33-40; F4).
  *
  * Scale (batch callers): the edge table is the build side. When it
  * fits memory it broadcasts (no shuffle of the posts); otherwise Spark
  * picks a shuffled hash/sort-merge join and AQE splits skewed followee
  * partitions (celebrity fan-out — SURVEY §7 hard-part #2, replacing
  * the reference's fixed 20-goroutine cap worker.go:134). For
  * mega-authors beyond AQE's reach, `saltedFanout` spreads one hot key
  * over `salt` sub-partitions.
  *
  * Scale (the stream): no join. `FeedStream` collects the edges once
  * per query into a broadcast lookup, followee → distinct followers,
  * and explodes each post of a micro-batch over its author's entry: the
  * reference worker's lookup of `followers_by_followee` per post. A
  * batch is one task whatever the edge count. Limit: the follower
  * lists must fit a broadcast.
  */
object Fanout {

  /** posts(post_id, author_id, body, created_at) ⋈
    * follows(user_id, followee_id) on author_id = followee_id. */
  def fanout(posts: DataFrame, follows: DataFrame, includeSelf: Boolean = false): DataFrame = {
    val joined = posts.join(follows, posts("author_id") === follows("followee_id"))
      .select(follows("user_id"), posts("post_id"), posts("author_id"),
        posts("body"), posts("created_at"))
    if (!includeSelf) joined
    else joined.unionByName(
      posts.select(posts("author_id").as("user_id"), posts("post_id"),
        posts("author_id"), posts("body"), posts("created_at")))
  }

  /** Skew-resistant variant: replicate each post row `salt` ways and
    * scatter edges by a deterministic hash so one celebrity followee's
    * edges spread across `salt` reducers. Same output as `fanout`. */
  def saltedFanout(posts: DataFrame, follows: DataFrame, salt: Int): DataFrame = {
    val saltedPosts = posts.withColumn("_s", explode(array((0 until salt).map(lit): _*)))
    val saltedEdges = follows.withColumn("_s", pmod(xxhash64(col("user_id")), lit(salt)).cast("int"))
    saltedPosts.join(saltedEdges,
        saltedPosts("author_id") === saltedEdges("followee_id") &&
          saltedPosts("_s") === saltedEdges("_s"))
      .select(saltedEdges("user_id"), saltedPosts("post_id"),
        saltedPosts("author_id"), saltedPosts("body"), saltedPosts("created_at"))
  }

  /** F5 — delivery verification as a batch anti-join (reference polls
    * per (post, follower), bench/e2e_bench/e2e_bench.go:175-232): rows
    * of expected := posts ⋈ follows that never reached the feed. */
  def undelivered(expected: DataFrame, feed: DataFrame): DataFrame =
    expected.join(feed.select(Schemas.feedKey.map(col): _*),
      Schemas.feedKey, "left_anti")

  /** The e2e invariant (FIXTURES.md §4): feed == expected exactly —
    * both anti-join directions empty. */
  def deliveryInvariantHolds(posts: DataFrame, follows: DataFrame, feed: DataFrame): Boolean = {
    val expected = fanout(posts, follows)
    undelivered(expected, feed).isEmpty &&
      feed.join(expected.select(Schemas.feedKey.map(col): _*), Schemas.feedKey, "left_anti").isEmpty
  }
}
