package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.feed.FeedEntry

/** Partitioned-warehouse layout: pruning + correctness vs the flat
  * layout (SURVEY §4 physical-design parity). */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def mkFeed = (for (u <- 1 to 40; i <- 1 to 25) yield
    FeedEntry(s"user-$u", f"post-$u-$i%03d", "a", "b",
      new Timestamp(1767225600000L + i * 1000L))).toDS.toDF

  test("partitioned write + single-user read: pruned scan, same result as flat filter") {
    val path = tempDir("wh")
    val feed = mkFeed
    Warehouse.writeFeed(feed, path, buckets = 16)

    val topK = Warehouse.feedTopK(spark, path, "user-7", 10)
    val expected = feed.filter(col("user_id") === "user-7")
      .orderBy(col("created_at").desc, col("post_id")).limit(10)
    assert(topK.as[FeedEntry].collect().toSeq == expected.as[FeedEntry].collect().toSeq)

    // partition pruning is visible in the physical plan
    val plan = topK.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("user_bucket"))
    // and the scan reads fewer files than the total partition count
    val scanned = topK.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("user_bucket"), "bucket predicate must reach the scan")
  }

  test("compact: streaming flat output -> partitioned layout, same content") {
    val flat = tempDir("flat")
    val wh = tempDir("whc")
    val feed = mkFeed
    // simulate two streaming micro-batch appends
    feed.filter(col("user_id") <= "user-2").write.mode("append").parquet(flat)
    feed.filter(col("user_id") > "user-2").write.mode("append").parquet(flat)
    Warehouse.compact(spark, flat, wh, buckets = 8)
    val table = Warehouse.openFeed(spark, wh)
    assert(table.df.count() == feed.count())
    val top = Warehouse.feedTopK(table, "user-9", 3)
    assert(top.as[FeedEntry].collect().toSeq ==
      feed.filter(col("user_id") === "user-9")
        .orderBy(col("created_at").desc, col("post_id")).limit(3)
        .as[FeedEntry].collect().toSeq)
  }

  test("bucket count bounds directories; every user readable") {
    val path = tempDir("wh2")
    Warehouse.writeFeed(mkFeed, path, buckets = 8)
    val dirs = new java.io.File(Warehouse.currentDataDir(path)).listFiles()
      .count(_.getName.startsWith("user_bucket="))
    assert(dirs <= 8 && dirs > 0)
    (1 to 40 by 13).foreach { u =>
      assert(Warehouse.feedTopK(spark, path, s"user-$u", 5).count() == 5)
    }
  }

  test("versioned publish: open handle survives a concurrent compact; vacuum drops old versions") {
    val path = tempDir("wh3")
    val feed = mkFeed
    Warehouse.writeFeed(feed, path, buckets = 8)
    val before = Warehouse.openFeed(spark, path)

    // second publish (a compact cycle) while the first handle is open
    Warehouse.writeFeed(feed.filter(col("user_id") === "user-1"), path, buckets = 8)
    // the old handle still reads the version it opened — no mid-compact breakage
    assert(before.df.count() == feed.count())
    // a fresh open sees the new version
    assert(Warehouse.openFeed(spark, path).df.count() == 25)

    Warehouse.vacuum(path)
    val versions = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.matches("v\\d+"))
    assert(versions == 1)
    assert(Warehouse.openFeed(spark, path).df.count() == 25)
  }
}
