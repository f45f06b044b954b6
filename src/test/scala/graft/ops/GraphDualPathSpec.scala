package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The iterative graph ops (q103/q146/q158/q193) against physical
  * config and hand-computed cases: each operator's rows must not move
  * with `spark.sql.shuffle.partitions` — the broadcast node frames and
  * u-partitioned adjacencies trade plan shape, never semantics. */
class GraphDualPathSpec extends SparkSpec {
  import spark.implicits._

  private val edges = ((1L to 40L).map(u => u -> (u % 11)) ++
    (1L to 40L).map(u => u -> ((u * 3 + 1) % 11)) ++
    (1L to 40L).filter(_ % 3 == 0).map(u => u -> ((u * 13 + 5) % 17)))
    .filter(p => p._1 != p._2)

  /** `op`'s rows over the edge set on a fresh session at `parts`
    * shuffle partitions (the caller's conf is never touched). */
  private def rowsAt(parts: Int)(op: DataFrame => DataFrame): Set[Row] = {
    val s: SparkSession = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", parts.toLong)
    op(s.createDataFrame(edges).toDF("u", "v")).collect().toSet
  }

  private def assertConfigInvariant(op: DataFrame => DataFrame): Unit = {
    val one = rowsAt(1)(op)
    val seven = rowsAt(7)(op)
    assert(one.nonEmpty && one == seven,
      s"only at 1: ${one -- seven}; only at 7: ${seven -- one}")
  }

  test("pageRank rows identical at shuffle partitions 1 and 7") {
    assertConfigInvariant(FeedShapes.pageRank(_, 3))
  }

  test("hits rows identical at shuffle partitions 1 and 7") {
    assertConfigInvariant(FeedShapes.hits(_, iterations = 2))
  }

  test("labelPropagation rows identical at shuffle partitions 1 and 7") {
    assertConfigInvariant(FeedShapes.labelPropagation(_, 3))
  }

  test("kCore rows identical at shuffle partitions 1 and 7") {
    assertConfigInvariant(FeedShapes.kCore(_, k = 3, rounds = 4))
  }

  test("labelPropagation converges on two disjoint cliques to per-clique labels") {
    // two 4-cliques; LPA should settle each clique on its min label
    val clique = (base: Long) => for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (base + a, base + b)
    val df = (clique(1L) ++ clique(10L)).toDF("u", "v")
    val out = FeedShapes.labelPropagation(df, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).map(out).toSet.size == 1)
    assert((10L to 13L).map(out).toSet.size == 1)
  }

  test("hits: hand-computed trajectory on a 4-node fan (3 is the authority, 1/2 the hubs)") {
    // 1→3, 2→3, 3→4: iter1 a = {3: 1e6, 4: 5e5}, h = {1: 1e6, 2: 1e6,
    // 3: 5e5, 4: 0}; iter2 a = {3: 1e6, 4: 25e4}, h = {1: 1e6, 2: 1e6,
    // 3: 25e4, 4: 0} — every value an exact integer of the max-norm
    // half-steps
    val df = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = FeedShapes.hits(df, iterations = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((1000000L, 0L)), 2L -> ((1000000L, 0L)),
      3L -> ((250000L, 1000000L)), 4L -> ((0L, 250000L))))
  }
}
