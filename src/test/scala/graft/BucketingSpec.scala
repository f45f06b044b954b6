package graft

import org.apache.spark.sql.functions._

/** Co-located bucketed joins: same key + same bucket count ⇒ the join
  * plans with zero shuffle exchanges. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed-bucketed join is shuffle-free; results match the flat join") {
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    Bucketing.writeBucketed(orders, "orders_b",
      tempDir("ob"), "o_custkey", 8)
    Bucketing.writeBucketed(customer.withColumnRenamed("c_custkey", "o_custkey"),
      "customer_b", tempDir("cb"), "o_custkey", 8)

    // force the non-broadcast path so the exchange question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.table(spark, "orders_b")
        .join(Bucketing.table(spark, "customer_b"), "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))
      val bucketJoin = Bucketing.table(spark, "orders_b")
        .join(Bucketing.table(spark, "customer_b"), "o_custkey")
      assert(Bucketing.isShuffleFree(bucketJoin),
        "bucketed join must not shuffle:\n" + bucketJoin.queryExecution.executedPlan)

      val flat = orders
        .join(customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))
      assert(joined.orderBy("c_mktsegment").collect().toSeq ==
        flat.orderBy("c_mktsegment").collect().toSeq)

      // counter-check: the flat join DOES shuffle under the same conf
      val flatJoin = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
      assert(!Bucketing.isShuffleFree(flatJoin))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
