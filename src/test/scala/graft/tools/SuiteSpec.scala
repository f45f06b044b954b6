package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The suite loop that `Bench`, `Verify` and `PlanAudit` run on: where
  * a query's jobs land, what it leaves behind, and what a throwing
  * query does to the rest of the suite. */
class SuiteSpec extends SparkSpec {
  private def noop(b: Suite.Built): Unit = b.df.write.format("noop").mode("overwrite").save()
  private def src: DataFrame =
    spark.range(0, 400, 1, 4).select((col("id") % 7).as("k"), col("id").as("v"))
  private def persistent: Int = spark.sparkContext.getPersistentRDDs.size

  test("a query's build jobs land in its build window, its noop write's jobs in its step window") {
    val Vector(Right(lazyQ), Right(eager)) = Suite.over(spark, Seq(
      "lazy" -> (() => src.groupBy(col("k")).agg(sum(col("v")).as("s"))),
      "eager" -> { () =>
        val keys = src.select(col("k")).distinct().collect().length
        src.filter(col("k") < keys)
      }))(noop)
    assert(lazyQ.name == "lazy" && lazyQ.build.jobs == 0 && lazyQ.build.executions == 0)
    assert(lazyQ.step.jobs >= 1 && lazyQ.step.tasks >= lazyQ.step.stages &&
      lazyQ.step.stages >= 1)
    assert(eager.build.executions == 1 && eager.build.jobs >= 1 && eager.step.jobs >= 1)
    assert(lazyQ.build.sec >= 0 && lazyQ.step.sec > 0)
  }

  test("no persistent RDD outlives its query, checkpointed or cached") {
    Suite.cleanup(spark) // whatever an earlier suite left
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    def query(f: => DataFrame): () => DataFrame = () => { seen += persistent; f }
    val outcomes = Suite.over(spark, Seq(
      "checkpoint" -> query(src.groupBy(col("k")).count().localCheckpoint()),
      "cached" -> query { val c = src.filter(col("v") > 3).cache(); c.count(); c },
      "plain" -> query(src)))(noop)
    assert(outcomes.forall(_.isRight), outcomes)
    // each query starts with nothing persisted, and so does what runs next
    assert(seen == Seq(0, 0, 0) && persistent == 0)
  }

  test("a query that throws is recorded by name and the next query still runs") {
    var ran = false
    val outcomes = Suite.over(spark, Seq(
      "throws" -> (() => throw new RuntimeException()),
      "throws in step" -> (() => src.select(col("k"), col("v"))),
      "next" -> (() => { ran = true; src })))(b => if (b.name == "throws in step") {
        b.df.localCheckpoint(); throw new IllegalStateException("step")
      })
    assert(outcomes.map(_.left.toOption) == Seq(
      Some(Suite.Failed("throws", "java.lang.RuntimeException")),
      Some(Suite.Failed("throws in step", "java.lang.IllegalStateException: step")),
      None))
    assert(ran && outcomes.last.map(_.name) == Right("next") && persistent == 0)
  }
}
