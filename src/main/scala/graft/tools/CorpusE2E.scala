package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.{CorpusPipeline, TextAnalysis}

/** End-to-end training-data pipeline driver: documents parquet in →
  * full training recipe (quality gate → repetition filter →
  * decontamination → exact dedup → near-dup collapse → split) →
  * range-sharded parquet out with manifest (under the JVM's scratch
  * root, deleted at exit) — the operational twin of
  * the oracle-gated q69, measured stage by stage. The benchmark set
  * for decontamination is carved from the corpus itself (every 20th
  * doc), mirroring the q69 gate construction.
  *
  * Usage: runMain graft.tools.CorpusE2E [sfDir] [numShards] [maxRecsPerFile]
  */
object CorpusE2E {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val numShards = args.lift(1).map(_.toInt).getOrElse(8)
    val maxRecs = args.lift(2).map(_.toLong).getOrElse(100000L)
    val spark = GraftSession.local(appName = "corpus-e2e")
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](f: => T): (T, Double) = {
      val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
    }

    val docs = graft.Tables.load(spark, dir, "documents")
    val nDocs = docs.count()
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)

    val (recipe, recipeSec) = timed {
      CorpusPipeline.trainingRecipe(corpus, bench, "doc_id", "text")
        .localCheckpoint(true)
    }
    val nKept = recipe.count()

    // The EXTENDED pipeline (q99's composition): + PII gate, fuzzy
    // decontamination, boilerplate-heavy drop, per-source token budget.
    // Run on the same corpus so the two rows are directly comparable;
    // budget sized ~20% under the base recipe's survivor tokens so the
    // stage binds at any sf.
    val (curated, curatedSec) = timed {
      val perSource = recipe.select(
          graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
        .agg(sum(col("n"))).first().getLong(0) / 25 // ≈0.8×/source at 20 sources
      CorpusPipeline.curationRecipe(corpus, bench, "doc_id", "text", "source",
          CorpusPipeline.CurationConfig(fuzzyMinFrac = 0.03, bpMaxFrac = 0.06,
            budgetTokens = Some(perSource)))
        .localCheckpoint(true)
    }
    val nCurated = curated.count()

    val outDir = GraftSession.tempDir("corpus-e2e-shards")
    val (manifest, writeSec) = timed {
      CorpusPipeline.writeShards(recipe, "doc_id", outDir,
        numShards, maxRecs, partitionCols = Seq("split")).collect()
    }
    val nFiles = manifest.length
    val manifestRows = manifest.map(_.getLong(1)).sum
    require(manifestRows == nKept, s"manifest covers $manifestRows of $nKept rows")

    val (plan, planSec) = timed {
      TextAnalysis.mixturePlan(spark.read.parquet(outDir)
          .filter(col("split") === "train"), "source", "text", 0.5, 1000000L)
        .collect()
    }

    println(s"""{"metric":"corpus_e2e","sf":"$dir","docs_in":$nDocs,""" +
      s""""survivors":$nKept,"recipe_sec":${"%.2f".format(recipeSec)},""" +
      s""""docs_per_sec":${"%.1f".format(nDocs / recipeSec)},""" +
      s""""curated":$nCurated,"curated_sec":${"%.2f".format(curatedSec)},""" +
      s""""shards":$nFiles,"write_sec":${"%.2f".format(writeSec)},""" +
      s""""mixture_sources":${plan.length},"mixture_sec":${"%.2f".format(planSec)}}""")
    spark.stop()
  }
}
