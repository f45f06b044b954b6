package graft.feed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** The streaming feed-materialization pipeline (SURVEY.md §3.2):
  *
  *   kafka-envelope stream → from_json → valid/dead-letter split →
  *   post dedup + fan-out over the resident follower lookup →
  *   idempotent append into the feed table
  *
  * Reference semantics carried over (§2.4):
  *   - ST1 at-least-once source + ST2 keyed dedup sink ⇒ effectively
  *     exactly-once (strictly better than the reference's 1 s
  *     offset-commit window, internal/broker/kafka.go:86-93).
  *   - ST4 invalid JSON → dead-letter sink, stream continues
  *     (worker.go:122-126 logs and skips).
  *   - ST5 empty values filtered (worker.go:93-98).
  *   - ST3 out-of-order processing is fine: the feed is
  *     order-insensitive, sorted at read time (FeedQueries.feedTopK).
  *   - ST7 graceful shutdown = query.stop() + checkpoint resume.
  *
  * In production the source is
  * `spark.readStream.format("kafka").option("subscribe", topic)`;
  * tests drive the identical pipeline from a MemoryStream — both
  * present a `value` column.
  */
object FeedStream {

  /** Decode the Kafka JSON envelope (Schemas.kafkaPost — explicit
    * schema, never inference; SURVEY §1.3). Emits post columns plus
    * `_valid`; empty values are dropped entirely (ST5), undecodable
    * ones keep `raw_value` for the dead-letter sink (ST4). */
  def parse(raw: DataFrame): DataFrame = {
    val s = col("value").cast("string")
    raw
      .filter(s.isNotNull && length(s) > 0)
      .withColumn("_p", from_json(s, Schemas.kafkaPost))
      .select(
        s.as("raw_value"),
        col("_p.id").as("post_id"),
        col("_p.author_id").as("author_id"),
        col("_p.body").as("body"),
        col("_p.created").as("created_at"))
      .withColumn("_valid",
        col("post_id").isNotNull && col("author_id").isNotNull &&
          col("body").isNotNull && col("created_at").isNotNull)
  }

  /** Cross-batch duplicate-masking strategy (ST2):
    *   - Exact: anti-join vs the existing table's keys — the
    *     reference's PK-upsert semantics verbatim (masks even a
    *     producer publishing the same post twice at different
    *     offsets). Probe cost grows with the table.
    *   - Fast: the batch's own post dedup + per-batch commit markers —
    *     exactly-once under checkpointed replay with O(batch) cost;
    *     the 100 TB default. Producer-level content duplicates are
    *     handled upstream (StreamOps.dedupWithinWatermark).
    */
  sealed trait DedupMode
  case object Exact extends DedupMode
  case object Fast extends DedupMode

  /** Start the full pipeline. `follows` is the static edge table
    * (stream-static fan-out — F1). Each micro-batch: route dead
    * letters, fan out valid posts, idempotent-append to the feed.
    *
    * The edges are read once per query: `start` collects `follows` into
    * a follower lookup, `followee_id` → its distinct followers, and
    * broadcasts it; the broadcast is destroyed when the query
    * terminates, by a listener that then removes itself. The lookup is
    * therefore a snapshot of `follows`; edges added later reach the
    * stream at its next start. This is the reference worker's lookup of
    * `followers_by_followee` per post (cmd/worker/worker.go:128-156).
    *
    * A Fast-mode batch is one narrow job with one task, so it writes
    * one file: the valid posts are coalesced to one partition,
    * deduplicated on `post_id` (`fanOut`), and each surviving post
    * becomes one row per follower of its author. No exchange, join or
    * aggregate runs, and the rows are unique on the feed key, so the
    * sink appends them as they are. Exact mode adds its anti-join probe
    * of the feed table (`IdempotentSink.appendDedup`). The source's
    * per-trigger limit (Kafka `maxOffsetsPerTrigger`) bounds the task's
    * input.
    *
    * Limit: the follower lists must fit a broadcast. */
  def start(
      spark: SparkSession,
      raw: DataFrame,
      follows: DataFrame,
      feedPath: String,
      checkpointPath: String,
      deadLetterPath: Option[String] = None,
      dedupMode: DedupMode = Exact): StreamingQuery = {
    import spark.implicits._
    val parsed = parse(raw)
    val lookup = spark.sparkContext.broadcast(
      follows.groupBy("followee_id").agg(collect_set("user_id")).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toArray).toMap)
    val q =
      try parsed.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpointPath)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          deadLetterPath.foreach { p =>
            val dead = batch.filter(!col("_valid"))
              .select(col("raw_value"), current_timestamp().as("rejected_at"))
            if (!dead.isEmpty) dead.write.mode("append").parquet(p)
          }
          val valid = batch.filter(col("_valid"))
            .select("post_id", "author_id", "body", "created_at").as[Post]
          val feedRows = valid.coalesce(1)
            .mapPartitions(posts => fanOut(posts, lookup.value)).toDF()
          dedupMode match {
            case Exact => IdempotentSink.appendDedup(spark, feedRows, feedPath, Schemas.feedKey)
            case Fast => IdempotentSink.appendOnce(spark, feedRows, batchId, feedPath, Schemas.feedKey)
          }
          ()
        }
        .start()
      catch { case e: Throwable => lookup.destroy(); throw e }
    onTermination(q)(lookup.destroy())
    q
  }

  /** Which of two copies of one `post_id` a batch keeps: the earliest
    * `created_at`, then the least `author_id`, then the least `body`.
    * The rule reads only the copies, so the winner is the same whatever
    * order or partitions they arrive in, on a replay too. */
  private val postCopyOrder: Ordering[Post] =
    Ordering.by((p: Post) => (p.created_at.toInstant, p.author_id, p.body))

  /** One feed row per (follower of the author, post), for one copy of
    * each `post_id` in `posts` (`postCopyOrder`). `followers` holds
    * distinct followers per author, so the rows are unique on the feed
    * key. */
  private def fanOut(posts: Iterator[Post], followers: Map[String, Array[String]]): Iterator[FeedEntry] = {
    val kept = scala.collection.mutable.HashMap.empty[String, Post]
    posts.foreach(p => kept.updateWith(p.post_id) {
      case Some(w) if postCopyOrder.lteq(w, p) => Some(w)
      case _ => Some(p)
    })
    kept.valuesIterator.flatMap(p => followers.getOrElse(p.author_id, Array.empty[String]).iterator
      .map(u => FeedEntry(u, p.post_id, p.author_id, p.body, p.created_at)))
  }

  /** Run `release` once, when `q` terminates, then stop listening. A
    * query that ended before the listener was added is handled here. */
  private def onTermination(q: StreamingQuery)(release: => Unit): Unit = {
    val streams = q.sparkSession.streams
    val pending = new java.util.concurrent.atomic.AtomicBoolean(true)
    def done(l: StreamingQueryListener): Unit =
      if (pending.getAndSet(false)) { release; streams.removeListener(l) }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == q.runId) done(this)
    }
    streams.addListener(listener)
    if (!q.isActive) done(listener)
  }
}
