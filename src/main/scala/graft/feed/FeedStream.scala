package graft.feed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** The streaming feed-materialization pipeline (SURVEY.md §3.2):
  *
  *   kafka-envelope stream → from_json → valid/dead-letter split →
  *   broadcast fanout join vs the resident follower index →
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
    *   - Fast: in-batch key dedup + per-batch commit markers —
    *     exactly-once under checkpointed replay with O(batch) cost;
    *     the 100 TB default. Producer-level content duplicates are
    *     handled upstream (StreamOps.dedupWithinWatermark).
    */
  sealed trait DedupMode
  case object Exact extends DedupMode
  case object Fast extends DedupMode

  /** Start the full pipeline. `follows` is the static edge table
    * (stream-static join — F1). Each micro-batch: route dead letters,
    * fan out valid posts, idempotent-append to the feed.
    *
    * The edges are read once per query: `Fanout.followerIndex(follows)`
    * is persisted here, built by the first batch, and unpersisted when
    * the query terminates, by a listener that then removes itself. The
    * index is therefore a snapshot of `follows`; edges added later
    * reach the stream at its next start (a file-backed `follows` is
    * already a snapshot of its file listing). Two live queries over the
    * same `follows` share one cache entry, and the first to stop drops
    * it for both; the other then re-reads the edges every batch.
    *
    * Each batch is broadcast against the index. The broadcast side is
    * one micro-batch, so the source's per-trigger limit (Kafka
    * `maxOffsetsPerTrigger`) bounds it. The fanned-out rows stay
    * partitioned by follower, so the sink's key dedup runs without a
    * shuffle: a Fast-mode batch is one broadcast job and one write job. */
  def start(
      spark: SparkSession,
      raw: DataFrame,
      follows: DataFrame,
      feedPath: String,
      checkpointPath: String,
      deadLetterPath: Option[String] = None,
      dedupMode: DedupMode = Exact): StreamingQuery = {
    val parsed = parse(raw)
    val index = Fanout.followerIndex(follows).persist()
    val q = parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val valid = batch.filter(col("_valid"))
          .select("post_id", "author_id", "body", "created_at")
        deadLetterPath.foreach { p =>
          val dead = batch.filter(!col("_valid"))
            .select(col("raw_value"), current_timestamp().as("rejected_at"))
          if (!dead.isEmpty) dead.write.mode("append").parquet(p)
        }
        val feedRows = Fanout.fanout(broadcast(valid), index)
        dedupMode match {
          case Exact => IdempotentSink.appendDedup(spark, feedRows, feedPath, Schemas.feedKey)
          case Fast => IdempotentSink.appendOnce(spark, feedRows, batchId, feedPath, Schemas.feedKey)
        }
        ()
      }
      .start()
    unpersistOnTermination(q, index)
    q
  }

  /** Unpersist `cached` once `q` terminates, then stop listening. A
    * query that ended before the listener was added is handled here. */
  private def unpersistOnTermination(q: StreamingQuery, cached: DataFrame): Unit = {
    val streams = q.sparkSession.streams
    def release(l: StreamingQueryListener): Unit = { cached.unpersist(); streams.removeListener(l) }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == q.runId) release(this)
    }
    streams.addListener(listener)
    if (!q.isActive) release(listener)
  }
}
