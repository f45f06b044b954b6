package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Bloom join-pruning contracts: no false negatives ever, exactness
  * after the verify join even under heavy false positives, set-pure
  * determinism, map-only prefilter plan, and the persisted-index
  * round trip. */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private def orders = graft.Tables.load(spark, dir, "orders")
  private def lineitem = graft.Tables.load(spark, dir, "lineitem")
  private def bigOrders = orders.filter(col("o_totalprice") > 480000)
    .select(col("o_orderkey"))

  test("prefilter has no false negatives; bloomSemiJoin is exactly the semi join") {
    val trueSet = lineitem
      .join(bigOrders.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    val bloom = BloomIndex.buildBloom(bigOrders, "o_orderkey", 1 << 17, 5)
    val pre = BloomIndex.prefilter(lineitem, "l_orderkey", bloom)
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    assert(trueSet.subsetOf(pre), "bloom must never drop a true match")
    val exact = BloomIndex.bloomSemiJoin(lineitem, "l_orderkey",
        bigOrders, "o_orderkey", 1 << 17, 5)
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    assert(exact == trueSet)
  }

  test("under a deliberately tiny filter (heavy FPs) the verify join still restores exactness") {
    val trueSet = lineitem
      .join(bigOrders.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    // 256 bits for ~300 keys → nearly saturated, FP-heavy on purpose
    val bloom = BloomIndex.buildBloom(bigOrders, "o_orderkey", 256, 3)
    val pre = BloomIndex.prefilter(lineitem, "l_orderkey", bloom).count()
    assert(pre > trueSet.size, "tiny bloom should admit false positives")
    val exact = BloomIndex.bloomSemiJoin(lineitem, "l_orderkey",
        bigOrders, "o_orderkey", 256, 3)
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    assert(exact == trueSet)
  }

  test("bits are a pure function of the key set (repartition-invariant)") {
    val a = BloomIndex.buildBloom(bigOrders, "o_orderkey", 1 << 12, 4)
      .select("bits").as[Array[Long]].head().toSeq
    val b = BloomIndex.buildBloom(bigOrders.repartition(13), "o_orderkey", 1 << 12, 4)
      .select("bits").as[Array[Long]].head().toSeq
    assert(a == b)
  }

  test("prefilter plan is map-only on the probe: no shuffle exchange") {
    val bloom = BloomIndex.buildBloom(bigOrders, "o_orderkey", 1 << 12, 4)
    val plan = BloomIndex.prefilter(lineitem, "l_orderkey", bloom)
      .queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.isEmpty, s"prefilter must not shuffle the probe:\n$plan")
  }

  test("persisted bloom round-trips and prunes identically") {
    val path = tempDir("bloom")
    BloomIndex.writeBloom(bigOrders, "o_orderkey", 1 << 14, 5, path)
    val served = BloomIndex.readBloom(spark, path)
    val fromMem = BloomIndex.prefilter(lineitem, "l_orderkey",
        BloomIndex.buildBloom(bigOrders, "o_orderkey", 1 << 14, 5))
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    val fromDisk = BloomIndex.prefilter(lineitem, "l_orderkey", served)
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    assert(fromMem == fromDisk)
  }
}
