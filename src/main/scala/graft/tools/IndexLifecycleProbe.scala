package graft.tools

import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.ops.{Similarity, TextAnalysis}

/** Standing-index LIFECYCLE probe: serve latency and parquet file
  * count as a function of the number of appends, then after one
  * compaction — the measurement behind the compaction-cadence
  * guidance (the compaction docstrings state per-query file opens
  * grow O(probed partitions × appends); this probe puts numbers on
  * when that actually bites and what compaction buys back).
  *
  * Method: build each index on half the corpus (`id % 32 < 16`),
  * append sixteen 1/32-slices as distinct batches (the disjoint-id
  * slices keep the round-11 re-crawl guard green by construction),
  * measure the serve path (median of 3 warm reps) at 0/1/4/8/16
  * appends, then compact and measure once more. One JSONL line per
  * measurement: {"metric":"index_lifecycle","index":...,
  * "appends":N,"files":F,"serve_sec":S}; "appends":-1 = compacted.
  */
object IndexLifecycleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "index-lifecycle-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val measureAt = Set(1, 4, 8, 16)

    def med3(f: => Long): Double = {
      def one(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      f // warm-up
      Seq(one(), one(), one()).sorted.apply(1)
    }
    def countFiles(dirs: String*): Int = dirs.map { d =>
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      val fd = new java.io.File(d)
      if (fd.exists) walk(fd) else 0
    }.sum
    def emit(index: String, appends: Int, files: Int, sec: Double): Unit =
      println(s"""{"metric":"index_lifecycle","index":"$index",""" +
        s""""appends":$appends,"files":$files,"serve_sec":$sec}""")

    val base = GraftSession.tempDir("lifecycle_")

    // ---- BM25 inverted index ----
    val inv = s"$base/inv"
    TextAnalysis.writeInvertedIndex(
      docs.filter(pmod(col("doc_id"), lit(32)) < 16), "doc_id", "text", inv)
    def serveInv(dir: String): Double =
      med3(TextAnalysis.serveBm25(
        spark, dir, Seq("table", "scan", "merge"), k = 20).count())
    emit("bm25", 0, countFiles(s"$inv/postings"), serveInv(inv))
    for (t <- 1 to 16) {
      TextAnalysis.appendToInvertedIndex(spark, inv,
        docs.filter(pmod(col("doc_id"), lit(32)) === 15 + t),
        "doc_id", "text", s"b$t")
      if (measureAt(t)) emit("bm25", t, countFiles(s"$inv/postings"), serveInv(inv))
    }
    val invC = s"$base/inv_c"
    TextAnalysis.compactInvertedIndex(spark, inv, invC)
    emit("bm25", -1, countFiles(s"$invC/postings"), serveInv(invC))

    // ---- IVF-PQ ----
    val pq = s"$base/pq"
    Similarity.writeIvfPqIndex(
      emb.filter(pmod(col("vec_id"), lit(32)) < 16), "vec_id", "embedding", pq)
    val queriesDf = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    def servePq(dir: String): Double =
      med3(Similarity.servePqIndex(
        spark, dir, queriesDf, k = 5, nProbe = 8, shortlist = 100).count())
    emit("ivfpq", 0, countFiles(s"$pq/codes", s"$pq/vectors"), servePq(pq))
    for (t <- 1 to 16) {
      Similarity.appendToIvfPqIndex(spark, pq,
        emb.filter(pmod(col("vec_id"), lit(32)) === 15 + t), "vec_id", "embedding")
      if (measureAt(t))
        emit("ivfpq", t, countFiles(s"$pq/codes", s"$pq/vectors"), servePq(pq))
    }
    val pqC = s"$base/pq_c"
    Similarity.compactIvfPqIndex(spark, pq, pqC)
    emit("ivfpq", -1, countFiles(s"$pqC/codes", s"$pqC/vectors"), servePq(pqC))

    spark.stop()
  }
}
