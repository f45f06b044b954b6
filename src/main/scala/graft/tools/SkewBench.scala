package graft.tools

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.feed.{Fanout, Follow, Post}

/** Celebrity-skew fan-out benchmark (SURVEY §7 hard-part #2): one
  * author with `hot` followers among `cold` normal users, `posts`
  * posts each. Compares the plain broadcast/AQE join against
  * saltedFanout and checks result equality.
  *
  * Usage: runMain graft.tools.SkewBench [hotFollowers posts salt]
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val hot = args.lift(0).map(_.toInt).getOrElse(200000)
    val posts = args.lift(1).map(_.toInt).getOrElse(200)
    val salt = args.lift(2).map(_.toInt).getOrElse(16)
    val spark = GraftSession.local(appName = "skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // celebrity u-0 with `hot` followers; 1000 normal authors with 10 each
    val edges = spark.range(hot).select(
        concat(lit("f-"), col("id")).as("user_id"), lit("celebrity").as("followee_id"))
      .unionByName(spark.range(10000).select(
        concat(lit("f-"), col("id")).as("user_id"),
        concat(lit("a-"), pmod(col("id"), lit(1000))).as("followee_id")))
      .cache()
    edges.count()
    val postDf = (
      (0 until posts).map(i => Post(s"p-c-$i", "celebrity", "b",
        new Timestamp(1767225600000L + i))) ++
      (0 until posts).map(i => Post(s"p-n-$i", s"a-${i % 1000}", "b",
        new Timestamp(1767225600000L + i)))
    ).toDS.toDF.cache()
    postDf.count()

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
    }
    // warm-up
    Fanout.fanout(postDf, edges).count()

    // 1. broadcast available (post side small) — Spark's first answer
    //    to skew: no shuffle at all.
    val (tBroadcast, nPlain) = time(Fanout.fanout(postDf, edges).count())

    // 2. neither side broadcastable (the 100 TB shape): shuffle join,
    //    celebrity key lands on one reducer — AQE skew-split vs salting.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (tShuffleAqe, _) = time(Fanout.fanout(postDf, edges).count())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val (tShuffleNoAqe, _) = time(Fanout.fanout(postDf, edges).count())
    val (tSalted, nSalted) = time(Fanout.saltedFanout(postDf, edges, salt).count())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    require(nPlain == nSalted, s"row mismatch: $nPlain vs $nSalted")
    println(s"""{"metric":"skew_fanout","hot_followers":$hot,"posts":${posts * 2},""" +
      s""""feed_rows":$nPlain,"broadcast_sec":${"%.2f".format(tBroadcast)},""" +
      s""""shuffle_aqe_sec":${"%.2f".format(tShuffleAqe)},""" +
      s""""shuffle_noaqe_sec":${"%.2f".format(tShuffleNoAqe)},""" +
      s""""salted_sec":${"%.2f".format(tSalted)},"salt":$salt}""")
    spark.stop()
  }
}
