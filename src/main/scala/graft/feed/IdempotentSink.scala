package graft.feed

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** ST2 — upsert-by-PK over an append-only parquet warehouse.
  *
  * The reference gets duplicate masking for free from Cassandra's
  * primary key (cql:36): redelivered inserts are upserts. Parquet has
  * no upsert, so this writer carries that correctness weight
  * (SURVEY §7 hard-part #1):
  *
  *   1. dedup within the incoming batch on the logical key
  *      (at-least-once sources can repeat a row inside one batch);
  *   2. left-anti join against the existing table's keys
  *      (cross-batch redelivery);
  *   3. append the survivors.
  *
  * That is `appendDedup` (Exact mode, and any replay after a crash).
  * `appendOnce` (Fast mode) appends a batch that its producer already
  * made key-unique, and guards replay with per-batch markers.
  *
  * Every append is one write job that also counts its rows
  * (`Dataset.observe`); nothing is cached or counted first. An append
  * of zero rows still runs the write and leaves at most one
  * schema-only parquet file, which reads as 0 rows.
  *
  * Safe under a single serialized writer per table — exactly the
  * reference's one-consumer-group deployment, and Structured
  * Streaming's foreachBatch guarantee (batches execute serially).
  * Restart after a partial append re-sends the batch; step 2 then
  * filters the rows that already landed, so the net effect is
  * exactly-once.
  *
  * Scale: the anti-join probe reads ONLY the key columns of the
  * existing table (column pruning at the parquet scan). For a 100 TB
  * feed the key scan is still large — production would partition the
  * table by a key prefix/date so the probe prunes partitions, or use a
  * transactional format's MERGE; interface unchanged.
  */
object IdempotentSink {

  /** Replay-safe append keyed on the micro-batch id, with a two-phase
    * marker:
    *
    *   - `_graft_commits/<id>` present → the batch fully committed;
    *     replay is skipped outright.
    *   - `_graft_commits/<id>.inflight` present but no commit marker →
    *     a previous attempt crashed somewhere between starting the
    *     append and committing (the batch may be absent, partial, or
    *     even fully present). THIS replay reconciles via the anti-join
    *     path (`appendDedup`), which drops whatever already landed.
    *   - neither marker → first attempt: fast path, a plain observed
    *     append of `batch`, O(batch) only, no scan of the existing
    *     table — throughput stays flat as the feed grows (the 100 TB
    *     default). The inflight marker is two tiny file ops, so the
    *     crash-free cost is unchanged.
    *
    * The fast path does not dedup: `batch` must hold each `keys` value
    * at most once, as `FeedStream`'s fan-out does (one copy per post,
    * distinct followers per author). Net effect: exactly-once for every
    * crash position, paying the existing-table key scan only on the
    * replay attempt that actually follows a crash. Returns rows
    * appended (0 for a replayed, already-committed batch). */
  def appendOnce(spark: SparkSession, batch: DataFrame, batchId: Long,
      path: String, keys: Seq[String]): Long = {
    val dir = java.nio.file.Paths.get(path, "_graft_commits")
    val marker = dir.resolve(batchId.toString)
    val inflight = dir.resolve(batchId.toString + ".inflight")
    if (java.nio.file.Files.exists(marker)) return 0L
    java.nio.file.Files.createDirectories(dir)
    val crashed = java.nio.file.Files.exists(inflight)
    if (!crashed) java.nio.file.Files.createFile(inflight)
    val n =
      if (crashed) appendDedup(spark, batch, path, keys)
      else writeCounted(batch, path)
    java.nio.file.Files.createFile(marker)
    java.nio.file.Files.deleteIfExists(inflight)
    n
  }

  /** Append `batch` into parquet dir `path`, dropping rows whose
    * `keys` already exist. Returns rows actually appended. */
  def appendDedup(spark: SparkSession, batch: DataFrame, path: String,
      keys: Seq[String]): Long = {
    val deduped = batch.dropDuplicates(keys)
    // A missing dir is the first write. An existing one is read with
    // the batch's schema, so a dir without data files reads as empty
    // rather than failing schema inference.
    val dir = new org.apache.hadoop.fs.Path(path)
    val fresh =
      if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)) deduped
      else deduped.join(spark.read.schema(deduped.schema).parquet(path)
        .select(keys.map(col): _*), keys, "left_anti")
    writeCounted(fresh, path)
  }

  /** Append `df` to parquet dir `path` and return its row count,
    * observed by the write job itself: one action, no cache. An empty
    * `df` still writes, so the dir then holds at most one schema-only
    * file (Spark's file for partition 0) and reads as 0 rows. */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n")).write.mode("append").parquet(path)
    rows.get("n").asInstanceOf[Long]
  }

  /** S6 — CAS `INSERT IF NOT EXISTS` emulation for username claims
    * (reference internal/store/feed.go:44-59): within one serialized
    * batch, first-writer-wins per username (deterministic: lowest
    * user_id), then anti-join vs already-claimed names. Returns the
    * rows that won their claim. Linearizable only under the
    * single-writer assumption (SURVEY §7 hard-part #3). */
  def claimUsernames(newUsers: DataFrame, existing: DataFrame): DataFrame = {
    val firstPerName = newUsers
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("username")).orderBy(col("user_id"))))
      .filter(col("_rn") === 1).drop("_rn")
    firstPerName.join(existing.select("username"), Seq("username"), "left_anti")
  }
}
