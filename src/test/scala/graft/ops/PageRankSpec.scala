package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixed-point PageRank (q103 operator) against hand-computed
  * trajectories. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    FeedShapes.pageRank(edges.toDF("u", "v"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a uniform cycle is a fixed point at r = 1e6") {
    val out = ranks(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L), 3)
    assert(out == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("star source decays to the teleport floor; leaves follow the hand trajectory") {
    // 1→2, 1→3: r1 has no in-edges → 150000 after iter 1.
    // iter1: r2 = r3 = 150000 + floor(.85 * floor(1e6/2)) = 575000
    // iter2+: contrib = floor(150000/2) = 75000 → 150000 + 63750 = 213750
    val out = ranks(Seq(1L -> 2L, 1L -> 3L), 3)
    assert(out(1L) == 150000L)
    assert(out(2L) == 213750L && out(3L) == 213750L)
  }

  test("in-degree concentration ranks the hub first") {
    val edges = (1L to 20L).map(u => u -> 100L) ++ Seq(100L -> 1L)
    val out = ranks(edges, 3)
    assert(out(100L) == out.values.max)
    assert(out(100L) > out(1L))
  }
}
