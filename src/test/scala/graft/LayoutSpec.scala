package graft

import org.apache.spark.sql.functions._

/** Z-order layout: correctness of the curve arithmetic and the actual
  * pruning payoff — a point filter on EITHER dimension admits a small
  * fraction of z-ordered files while the naive layout admits ~all. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (hand-checked values)") {
    val out = Seq((0, 0), (1, 0), (0, 1), (1, 1), (65535, 0), (0, 65535))
      .toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(out == Seq(0L, 1L, 2L, 3L, 0x55555555L, 0xAAAAAAAAL))
  }

  test("rank16 is monotone and clamps to bounds") {
    val r = Seq(-5L, 0L, 500L, 1000L, 2000L).toDF("x")
      .select(Layout.rank16(col("x"), 0L, 1000L).as("r")).as[Int].collect().toSeq
    assert(r.head == 0 && r.last == 65535)
    assert(r == r.sorted)
  }

  test("z-ordered events: point filters on both dimensions prune; naive layout does not") {
    val dir = "/root/testdata/sf0.01"
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val bounds = events.agg(
      min("user_id"), max("user_id"), min("ts"), max("ts")).collect()(0)
    val (u0, u1, t0, t1) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))

    val zDir = tempDir("zord")
    val flatDir = tempDir("flat")
    Layout.writeZOrdered(events, "user_id", u0, u1, "ts", t0, t1, zDir, 16)
    events.repartition(16).write.mode("overwrite").parquet(flatDir)

    // layout must not lose or duplicate rows
    assert(spark.read.parquet(zDir).count() == events.count())

    val probeUser = (u0 + u1) / 2
    val probeTs = (t0 + t1) / 2
    val zUser = Layout.admittingFraction(spark, zDir, "user_id", probeUser)
    val zTs = Layout.admittingFraction(spark, zDir, "ts", probeTs)
    val fUser = Layout.admittingFraction(spark, flatDir, "user_id", probeUser)
    assert(zUser <= 0.5, s"z-order user fraction $zUser")
    assert(zTs <= 0.5, s"z-order ts fraction $zTs")
    assert(fUser >= 0.9, s"naive layout should not prune (got $fUser)")
    assert(zUser < fUser && zTs < fUser)
  }
}
