package e2ebench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.feed.Schemas

/** Seeded follow graph: every user follows `perUser` distinct others,
  * and about 10% of the follows go to the top 1% of users, so a few
  * authors fan out to hundreds of feeds. Posts get seeded authors. */
final class FeedGen(seed: Long, val users: Int = 10000, perUser: Int = 20) {
  private val rnd = new scala.util.Random(seed)
  private val celebs = math.max(1, users / 100)

  /** followers(a) = users following `a`. */
  val followers: Array[Array[Int]] = {
    val acc = Array.fill(users)(mutable.ArrayBuffer.empty[Int])
    for (u <- 0 until users) {
      val mine = mutable.LinkedHashSet.empty[Int]
      while (mine.size < perUser) {
        val f = if (rnd.nextDouble() < 0.1) rnd.nextInt(celebs) else rnd.nextInt(users)
        if (f != u) mine += f
      }
      mine.foreach(acc(_) += u)
    }
    acc.map(_.toArray)
  }

  /** The follow edges as a DataFrame (user_id, followee_id). */
  def follows(spark: SparkSession): DataFrame = {
    val edges = followers.indices.flatMap(a => followers(a).map(u => (u, a)))
    val rows = spark.sparkContext.parallelize(edges, Runtime.getRuntime.availableProcessors)
      .map { case (u, a) => Row(FeedGen.user(u), FeedGen.user(a)) }
    spark.createDataFrame(rows, Schemas.follow)
  }

  private val authors = mutable.ArrayBuffer.empty[Int]

  /** Author of post `i`; posts are numbered from 0 in publish order. */
  def author(i: Int): Int = {
    while (authors.size <= i) authors += rnd.nextInt(users)
    authors(i)
  }

  def json(i: Int): String =
    s"""{"id":"${FeedGen.postId(i)}","author_id":"${FeedGen.user(author(i))}",""" +
      s""""body":"${FeedGen.body(i, seed)}",""" +
      s""""created":"${java.time.Instant.ofEpochMilli(FeedGen.createdMs(i))}"}"""

  /** Feed rows the first `n` posts must produce. */
  def expectedRows(n: Int): Long = (0 until n).map(i => followers(author(i)).length.toLong).sum

  /** The first `n` posts as a DataFrame with the `Schemas.post` columns. */
  def posts(spark: SparkSession, n: Int): DataFrame = {
    val ps = (0 until n).map(i => (i, author(i)))
    val seed = this.seed // keep the closure free of this generator
    val rows = spark.sparkContext.parallelize(ps, Runtime.getRuntime.availableProcessors)
      .map { case (i, a) => Row(FeedGen.postId(i), FeedGen.user(a), FeedGen.body(i, seed),
        new Timestamp(FeedGen.createdMs(i))) }
    spark.createDataFrame(rows, Schemas.post)
  }
}

object FeedGen {
  val Epoch = 1767225600000L
  def user(u: Int): String = f"u$u%05d"
  def postId(i: Int): String = f"p$i%07d"
  /** Post index order is created_at order. */
  def createdMs(i: Int): Long = Epoch + i * 1000L
  def body(i: Int, seed: Long): String = s"post $i from seed $seed"
}

/** Publishes posts into a MemoryStream feeding `FeedStream` and turns
  * the stream's progress into per-post delivery times: a post is
  * delivered when the micro-batch whose end offset covers it commits
  * (batch start + triggerExecution). */
final class Publisher(spark: SparkSession, gen: FeedGen) {
  /** Read as one partition per core, like a topic with that many
    * partitions, however the posts were grouped when published. */
  val input: MemoryStream[String] = MemoryStream[String](
    spark, Runtime.getRuntime.availableProcessors)(org.apache.spark.sql.Encoders.STRING)
  var next = 0
  /** (offset, wall ms added, due ms of each post in the call) */
  private val adds = mutable.ArrayBuffer.empty[(Long, Long, Seq[Long])]

  def publish(n: Int, dueMs: Int => Long = _ => System.currentTimeMillis()): Unit = {
    val ids = next until next + n
    val off = input.addData(ids.map(gen.json)).toString.toLong
    adds += ((off, System.currentTimeMillis(), ids.map(dueMs)))
    next += n
  }

  def forget(): Unit = adds.clear()

  final case class Batch(endOffset: Long, commitMs: Long, triggerMs: Long, rows: Long)

  def batches(q: StreamingQuery, since: Long): Seq[Batch] =
    q.recentProgress.toSeq.filter(p => p.numInputRows > 0 && p.batchId >= since).map { p =>
      val trigger = p.durationMs.get("triggerExecution").longValue
      Batch(p.sources.head.endOffset.toLong,
        java.time.Instant.parse(p.timestamp).toEpochMilli + trigger, trigger, p.numInputRows)
    }.sortBy(_.endOffset)

  /** Delivery ms of every post published since `forget`, None if its
    * batch has not committed; generator lateness of each call; backlog
    * (published, not yet committed posts) at each commit. */
  def deliveries(bs: Seq[Batch]): (Seq[Option[Double]], Seq[Double], Seq[Long]) = {
    val del = adds.toSeq.flatMap { case (off, _, dues) =>
      val commit = bs.find(_.endOffset >= off).map(_.commitMs)
      dues.map(d => commit.map(c => (c - d).toDouble))
    }
    val late = adds.toSeq.map { case (_, at, dues) => (at - dues.min).toDouble }
    val backlog = bs.map { b =>
      adds.filter(_._2 <= b.commitMs).map(_._3.size.toLong).sum -
        adds.filter(_._1 <= b.endOffset).map(_._3.size.toLong).sum
    }
    (del, late, backlog)
  }
}
