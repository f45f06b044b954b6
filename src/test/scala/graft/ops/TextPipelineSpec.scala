package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contracts for the training-pipeline text operators added in round 4:
  * benchmark decontamination, Gopher-style repetition stats, and the
  * deterministic hash split. */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = graft.Tables.load(spark, dir, "documents")

  test("contaminationReport counts distinct shared 3-grams; decontaminate drops exactly the flagged docs") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares "alpha beta gamma", "beta gamma delta" → 2
      (2L, "alpha beta gamma beta gamma delta zeta eta theta"), // same 2 distinct shared grams
      (3L, "unrelated words entirely here today")).toDF("doc_id", "text")
    val rep = TextAnalysis.contaminationReport(corpus, bench, "doc_id", "text", n = 3, minShared = 2)
      .as[(Long, Long)].collect().toMap
    assert(rep == Map(1L -> 2L, 2L -> 2L))
    val clean = TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", n = 3, minShared = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(3L))
  }

  test("decontaminate keeps everything when the benchmark is disjoint") {
    val bench = Seq((9L, "zz yy xx ww")).toDF("doc_id", "text")
    val n = TextAnalysis.decontaminate(docs, bench, "doc_id", "text").count()
    assert(n == docs.count())
  }

  test("repetitionStats: exact fractions on hand-built docs, short-doc guard") {
    val d = Seq(
      (1L, "a a a a a a a a a a"),  // 10 tokens, 8 identical 3-grams → dup3 7/8, top 1.0
      (2L, "a b"),                  // <3 tokens → dup3_frac 0 by the guard
      (3L, "w x y z")               // all distinct → dup3 0, top 1/4
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(d, "doc_id", "text")
      .select("doc_id", "n_tokens", "dup3_frac", "top_tok_frac", "repetitive")
      .as[(Long, Long, Double, Double, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 10L, 0.875, 1.0, true)))
    assert(r(2L) == ((2L, 2L, 0.0, 0.5, true)))
    assert(r(3L) == ((3L, 4L, 0.0, 0.25, true)))
  }

  test("repetitionStats flags nothing on the organic corpus below thresholds") {
    // sanity: the flag is the OR of the two documented thresholds
    val r = TextAnalysis.repetitionStats(docs, "doc_id", "text")
    assert(r.filter(col("repetitive") =!=
      (col("dup3_frac") > 0.5 || col("top_tok_frac") > 0.2)).isEmpty)
  }

  test("balancedSample caps every stratum, is repartition-stable, and keeps a strict subset on K decrease") {
    val s40 = TextAnalysis.balancedSample(docs, "doc_id", "lang", 40, "s1")
    val counts = s40.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ <= 40))
    val ids40 = s40.select("doc_id").as[Long].collect().toSet
    val ids40b = TextAnalysis.balancedSample(docs.repartition(5), "doc_id", "lang", 40, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(ids40 == ids40b, "sample must be a pure function of (seed, id, stratum)")
    // hash-rank selection is nested: the 10-per-stratum sample is a
    // subset of the 40-per-stratum one
    val ids10 = TextAnalysis.balancedSample(docs, "doc_id", "lang", 10, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(ids10.subsetOf(ids40))
  }

  test("packSequences: bins respect capacity starts, cover all docs, deterministic") {
    val p = TextAnalysis.packSequences(docs, "doc_id", "text", capacity = 100, buckets = 4)
      .as[(Long, Int, Long, Long)].collect()
    assert(p.length == docs.count())
    // per (bucket, bin): total tokens of a bin exceed capacity only via
    // its LAST doc straddling the boundary (contiguous fill): every
    // doc's start offset lies inside its bin
    val byStream = p.groupBy(_._2)
    byStream.foreach { case (_, ds) =>
      // reconstruct offsets: order within the stream is by md5 hash,
      // which we can't see here, but bin ids must be non-decreasing
      // with cumulative fill: total tokens in bins 0..b must be >= b*100
      val binTotals = ds.groupBy(_._3).view.mapValues(_.map(_._4).sum).toMap
      val maxBin = binTotals.keys.max
      (0L to maxBin).foreach { b =>
        val below = binTotals.filter(_._1 < b).values.sum
        assert(below >= b * 100 - 100, s"bin $b starts too early")
      }
    }
    val p2 = TextAnalysis.packSequences(docs.repartition(3), "doc_id", "text",
      capacity = 100, buckets = 4).as[(Long, Int, Long, Long)].collect()
    assert(p.sortBy(_._1).toSeq == p2.sortBy(_._1).toSeq)
  }

  test("trainingRecipe survivors pass every stage's own predicate and are benchmark-clean") {
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val out = CorpusPipeline.trainingRecipe(corpus, bench, "doc_id", "text").persist()
    assert(out.count() > 0)
    // stage predicates hold on every survivor
    val cfg = CorpusPipeline.Config()
    assert(out.filter(!CorpusPipeline.qualityGate(col("text"), cfg)).isEmpty)
    assert(out.filter(TextAnalysis.repetitiveFlag(col("text"))).isEmpty)
    // no survivor shares a 6-gram with the benchmark
    assert(TextAnalysis.contaminationReport(out, bench, "doc_id", "text",
      n = 6, minShared = 1).isEmpty)
    // no exact dups among survivors; split column present and binary
    val n = out.count()
    assert(out.select("text").distinct().count() == n)
    assert(out.select("split").distinct().as[String].collect().toSet.subsetOf(Set("train", "val")))
    // idempotent: running the recipe on its own output changes nothing
    val again = CorpusPipeline.trainingRecipe(out.drop("split"), bench, "doc_id", "text")
    assert(again.count() == n)
    out.unpersist()
  }

  test("trainingRecipe/clean leave no cached plans or persistent RDD blocks behind") {
    // the round-4 bench defect: pipeline operators leaked persisted
    // intermediates into the session. Contract: after evaluating the
    // result, the only persistent RDDs are the (tiny) checkpointed
    // pair lists — no corpus-sized cache survives, and clearing the
    // catalog cache leaves nothing the ContextCleaner must race for
    // except those pair checkpoints.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val bench = docs.limit(2)
    CorpusPipeline.trainingRecipe(docs, bench, "doc_id", "text").count()
    CorpusPipeline.clean(docs, "doc_id", "text").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "pipeline operators must unpersist every plan they persist")
    // residue = eager pair-list checkpoints only; each is a handful of
    // rows, so their total cached size must be far below corpus scale
    val residue = spark.sparkContext.getPersistentRDDs.values.toSeq
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(residue.size <= 6, s"unexpected persistent RDD residue: $residue")
  }

  test("tfidfTopTerms: hand-computed scores, rounded-score+term rank determinism") {
    val d = Seq((1L, "a a b"), (2L, "a c"), (3L, "b c c d")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(d, "doc_id", "text")
      .select("id", "rnk", "term", "tfidf")
      .as[(Long, Int, String, Double)].collect().toSet
    // N=3; df: a=2 b=2 c=2 d=1; idf = ln((N+1)/(df+1))+1:
    // ln(4/3)+1 = 1.287682, ln(4/2)+1 = 1.693147
    assert(got == Set(
      (1L, 1, "a", 2.575364), (1L, 2, "b", 1.287682),
      (2L, 1, "a", 1.287682), (2L, 2, "c", 1.287682), // tie → term asc
      (3L, 1, "c", 2.575364), (3L, 2, "d", 1.693147), (3L, 3, "b", 1.287682)))
  }

  test("bm25Search: higher tf wins at equal length, absent docs excluded, scores descend") {
    val d = Seq(
      (1L, "x x y z"), (2L, "x q r s"), (3L, "q r s t")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(d, "doc_id", "text", Seq("x"))
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L), "tf=2 doc must outrank tf=1; no-match doc absent")
    assert(got(0)._2 > got(1)._2 && got.forall(_._2 > 0))
  }

  test("hashSplit is deterministic, id-stable under repartition, and near the target fraction") {
    val s1 = TextAnalysis.hashSplit(docs, "doc_id", "v1")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s2 = TextAnalysis.hashSplit(docs.repartition(7), "doc_id", "v1")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 == s2, "split must be a pure function of (seed, id)")
    val frac = s1.values.count(_ == "train").toDouble / s1.size
    assert(math.abs(frac - 0.8) < 0.1, s"train fraction $frac far from 0.8")
    // different seed → different assignment (with overwhelming probability)
    val s3 = TextAnalysis.hashSplit(docs, "doc_id", "v2")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 != s3)
  }

  test("observability ops: deciles partition the corpus, rollup reconciles, leakage crosses the split") {
    val dir01 = "/root/testdata/sf0.01"
    val n = graft.Tables.load(spark, dir01, "documents").count()
    val dec = TextAnalysis.qualityDeciles(spark, dir01)
      .as[(Int, Long, Long, Double, Long)].collect()
    assert(dec.map(_._2).sum == n, "every doc lands in exactly one band")
    assert(dec.map(_._1).toSeq == dec.map(_._1).sorted.toSeq && dec.length == 10)
    assert(dec.map(_._5).toSeq == dec.scanLeft(0L)(_ + _._3).tail.toSeq,
      "cum_tokens must be the running total of the bands")
    assert(dec.map(_._4).toSeq == dec.map(_._4).sorted.toSeq,
      "mean quality must not decrease across bands")
    val cs = TextAnalysis.corpusStats(spark, dir01).collect()
    val grand = cs.filter(_.isNullAt(0)).head
    assert(grand.getLong(2) == n)
    assert(cs.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map(_.getLong(2)).sum == n)
    val split = TextAnalysis.hashSplit(
        graft.Tables.load(spark, dir01, "documents"), "doc_id", "v1")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val leaks = DedupShapes.splitLeakage(spark, dir01)
      .as[(Long, Long, Double)].collect()
    assert(leaks.nonEmpty)
    leaks.foreach { case (v, t, _) =>
      assert(split(v) == "val" && split(t) == "train",
        s"leak row ($v,$t) must pair a val doc with a train doc") }
  }

  test("chunkDocs: full token coverage, window overlap, stable chunk ids") {
    val d = Seq((1L, (1 to 47).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val c = TextAnalysis.chunkDocs(d, "doc_id", "text", chunkTokens = 20, overlap = 5)
      .orderBy("chunk_no").as[(Long, Int, String, Int)].collect()
    assert(c.map(_._2).toSeq == Seq(0, 1, 2, 3)) // starts 0, 15, 30, 45
    assert(c.map(_._4).toSeq == Seq(20, 20, 17, 2))
    assert(c(0)._3.startsWith("t1 ") && c(1)._3.startsWith("t16 "))
    // the last `overlap` tokens of a full chunk are the next chunk's head
    assert(c(0)._3.split(" ").takeRight(5).toSeq == c(1)._3.split(" ").take(5).toSeq)
    // every token is covered
    assert(c.flatMap(_._3.split(" ")).toSet == (1 to 47).map(i => s"t$i").toSet)
    // zero-overlap degenerates to a partition of the doc
    val p = TextAnalysis.chunkDocs(d, "doc_id", "text", chunkTokens = 20, overlap = 0)
      .as[(Long, Int, String, Int)].collect()
    assert(p.map(_._4).sum == 47)
  }

  test("lineDedup: corpus-wide first occurrence wins, order preserved, emptied docs dropped") {
    val d = Seq(
      (1L, "shared header\nunique alpha\nshared footer"),
      (2L, "shared header\nunique beta\nshared footer"),
      (3L, "unique gamma\nunique gamma\nfresh line"), // within-doc repeat
      (4L, "shared header\nshared footer")            // loses everything
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lineDedup(d, "doc_id", "text")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "shared header\nunique alpha\nshared footer",
      2L -> "unique beta",
      3L -> "unique gamma\nfresh line"))
    // blank / sub-threshold lines are kept everywhere, not deduped
    val b = Seq((1L, "a\n\nb"), (2L, "c\n\nd")).toDF("doc_id", "text")
    val gotB = TextAnalysis.lineDedup(b, "doc_id", "text")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(gotB == Map(1L -> "a\n\nb", 2L -> "c\n\nd"))
    // single-line corpus degenerates to document-level exact dedup
    val s = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val gotS = TextAnalysis.lineDedup(s, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(gotS == Set(1L, 3L))
  }

  test("bigramLogProb fused LM-build equals a naive per-table recomputation") {
    // The operator derives c(w1·) by re-aggregating c12 and builds all
    // LM tables off one cached tokenize pass; this recomputes each
    // table naively (separate corpus scans, direct c1 count) and the
    // scores must agree exactly.
    val d = docs.filter(col("doc_id") < 100)
    val got = TextAnalysis.bigramLogProb(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map { case (i, n, p) => i -> ((n, p)) }.toMap
    val arr = split(trim(col("text")), "\\s+")
    val bg = d.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), arr.as("_a")).filter(size(col("_a")) >= 2)
      .select(col("doc_id"), expr(
        "explode(transform(sequence(2, size(_a)), i -> struct(element_at(_a, i - 1) AS w1, element_at(_a, i) AS w2)))").as("_b"))
      .select(col("doc_id"), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = d.filter(length(trim(col("text"))) > 0)
      .select(explode(arr).as("tok")).agg(countDistinct(col("tok")).as("v"))
    val naive = bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(v)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        round(avg(log((col("c12") + lit(0.5)) / (col("c1") + lit(0.5) * col("v")))), 4).as("p"))
      .as[(Long, Long, Double)].collect().map { case (i, n, p) => i -> ((n, p)) }.toMap
    assert(got == naive && got.nonEmpty)
  }

  test("writeShards: file cap respected, disjoint id ranges, manifest covers every row") {
    val out = tempDir("graft-shards-spec")
    val m = CorpusPipeline.writeShards(docs, "doc_id", out,
        numShards = 4, maxRecordsPerFile = 10L)
      .as[(String, Long, Long, Long)].collect()
    assert(m.map(_._2).sum == docs.count())
    assert(m.forall(_._2 <= 10), "maxRecordsPerFile must bound every shard")
    assert(m.length >= 4, "range partitioning + cap must produce multiple shards")
    // global range partitioning + within-file sort ⇒ file id ranges
    // are pairwise disjoint, so a reader prunes to one shard per id
    val ranges = m.map(r => (r._3, r._4)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, amax), (bmin, _)) => assert(amax < bmin)
      case _ =>
    }
    val back = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(back == docs.select("doc_id").as[Long].collect().toSet)
    // hive partitioning on the split column composes with sharding
    val recipe = TextAnalysis.hashSplit(docs, "doc_id", "s1")
    val m2 = CorpusPipeline.writeShards(recipe, "doc_id", out + "2",
        numShards = 2, maxRecordsPerFile = 20L, partitionCols = Seq("split"))
      .as[(String, Long, Long, Long)].collect()
    val back2 = spark.read.parquet(out + "2")
    assert(back2.count() == docs.count())
    assert(back2.select("split").distinct().as[String].collect().toSet == Set("train", "val"))
    // the one-shard-per-id claim holds WITHIN each hive partition:
    // range partitioning over (partitionCols, id) means files in the
    // same partition directory never overlap in id range
    m2.groupBy(r => r._1.substring(0, r._1.lastIndexOf('/'))).foreach {
      case (partDir, files) =>
        val rs = files.map(r => (r._3, r._4)).sortBy(_._1)
        rs.sliding(2).foreach {
          case Array((_, amax), (bmin, _)) =>
            assert(amax < bmin, s"overlapping shard ranges in $partDir")
          case _ =>
        }
    }
  }

  test("writeShards: manifest is independent of earlier jobs") {
    // 2 input partitions of 10k ids: Spark's range sampler would draw
    // ~600 of each partition's rows (4 shards × 100 points × 3 / 2),
    // so split points taken from it would depend on its RDD-id seed,
    // i.e. on how many RDDs the session built before the write
    val ds = spark.range(0L, 20000L, 1L, 2).withColumnRenamed("id", "doc_id")
    def manifest(out: String): Seq[(Long, Long, Long)] =
      CorpusPipeline.writeShards(ds, "doc_id", out, numShards = 4,
          maxRecordsPerFile = 100000L)
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._3, r._4, r._2)).sorted.toSeq
    val first = manifest(tempDir("graft-shards-history-a"))
    (1 to 5).foreach(i => spark.range(1000L * i).selectExpr("sum(id)").collect())
    val second = manifest(tempDir("graft-shards-history-b"))
    assert(first.length == 4 && first.map(_._3).sum == 20000L)
    assert(first == second, s"manifest moved: $first vs $second")
  }

  test("unigramLogProb: hand-computed LM scores; rare-token docs score lower") {
    // corpus LM: a→3, b→2, z→1, total 6
    val d = Seq((1L, "a a b"), (2L, "a b z")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    assert(got(1L) == ((3L, r4((2 * math.log(3 / 6.0) + math.log(2 / 6.0)) / 3))))
    assert(got(2L) == ((3L, r4((math.log(3 / 6.0) + math.log(2 / 6.0) + math.log(1 / 6.0)) / 3))))
    assert(got(2L)._2 < got(1L)._2, "the rare-token doc must score lower")
    // empty-text docs are excluded, not scored as zero
    val e = Seq((1L, "a a"), (2L, "   ")).toDF("doc_id", "text")
    assert(TextAnalysis.unigramLogProb(e, "doc_id", "text").count() == 1)
  }

  test("bigramLogProb: hand-computed add-k scores; sub-2-token docs excluded") {
    // c12: (a,b)=3 (b,a)=1 (b,c)=1; c1: a=3 b=2; V=4 — the vocab is
    // corpus-wide, so the bigram-less doc 3 still contributes "solo"
    val d = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    val pab = math.log(3.5 / 5.0); val pba = math.log(1.5 / 4.0); val pbc = math.log(1.5 / 4.0)
    assert(got == Map(
      1L -> ((3L, r4((2 * pab + pba) / 3))),
      2L -> ((2L, r4((pab + pbc) / 2)))), "doc 3 has no bigrams and must be absent")
  }

  test("mixturePlan: weights normalize, alpha=1 is proportional, alpha<1 upsamples small sources") {
    val plan = TextAnalysis.mixturePlan(docs, "source", "text", 0.5, 1000000L)
      .as[(String, Long, Long, Double, Long, Double)].collect()
    assert(math.abs(plan.map(_._4).sum - 1.0) < 1e-4, "weights must sum to 1")
    assert(math.abs(plan.map(_._5).sum - 1000000L) < plan.length,
      "sampled tokens must sum to the budget (rounding slack only)")
    plan.foreach { case (_, _, tok, w, sampled, epochs) =>
      assert(math.abs(epochs - sampled.toDouble / tok) < 1e-3)
      assert(w > 0 && epochs > 0)
    }
    // alpha=1 → weight exactly proportional to token share
    val p1 = TextAnalysis.mixturePlan(docs, "source", "text", 1.0, 1000000L)
      .as[(String, Long, Long, Double, Long, Double)].collect()
    val totTok = p1.map(_._3).sum.toDouble
    p1.foreach { case (_, _, tok, w, _, _) =>
      assert(math.abs(w - tok / totTok) < 1e-5) }
    // alpha=0.5 flattens: the largest source loses share vs alpha=1,
    // the smallest gains
    val w05 = plan.map(r => r._1 -> r._4).toMap
    val w1 = p1.map(r => r._1 -> r._4).toMap
    val bySize = p1.sortBy(_._3)
    assert(w05(bySize.last._1) < w1(bySize.last._1))
    assert(w05(bySize.head._1) > w1(bySize.head._1))
    // deterministic under physical layout
    val again = TextAnalysis.mixturePlan(docs.repartition(7), "source", "text", 0.5, 1000000L)
      .as[(String, Long, Long, Double, Long, Double)].collect()
    assert(again.sortBy(_._1).toSeq == plan.sortBy(_._1).toSeq)
  }

  test("sourceSimilarity: exact set Jaccard per source pair; disjoint pairs absent") {
    import spark.implicits._
    // srcA bigrams {a b, b c}; srcB {a b, b d}; srcC {x y} (disjoint)
    val df = Seq(("A", "a b c"), ("B", "a b d"), ("C", "x y"))
      .toDF("source", "text")
    val got = TextAnalysis.sourceSimilarity(df, "source", "text")
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    // shared {a b}: J = 1/(2+2-1) = 1/3 -> 333333
    assert(got == List(("A", "B", 1L, 2L, 2L, 333333L)))
  }

  test("sourceSimilarity: within-source duplication does not inflate the sets") {
    import spark.implicits._
    val df = Seq(("A", "a b"), ("A", "a b"), ("B", "a b"))
      .toDF("source", "text")
    val got = TextAnalysis.sourceSimilarity(df, "source", "text")
      .as[(String, String, Long, Long, Long, Long)].collect().toList
    assert(got == List(("A", "B", 1L, 1L, 1L, 1000000L)))
  }

  test("serveBm25 off the persisted inverted index pins to bm25Search; term buckets prune files") {
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val idx = tempDir("inv_idx_")
    TextAnalysis.writeInvertedIndex(d, "doc_id", "text", idx)
    for (q <- Seq(Seq("table"), Seq("table", "scan", "merge"))) {
      val self = TextAnalysis.bm25Search(d, "doc_id", "text", q, k = 20)
      val served = TextAnalysis.serveBm25(spark, idx, q, k = 20)
      assert(served.collect().map(_.toSeq).toSet ==
        self.collect().map(_.toSeq).toSet, s"query=$q")
      val plan = served.queryExecution.executedPlan.toString
      // the bucket isin reaches the postings scan as a NON-EMPTY
      // partition filter ('PartitionFilters: [' alone prints when empty)
      assert("PartitionFilters: \\[[^\\]]".r.findAllIn(plan).nonEmpty,
        "postings read must be partition-pruned")
    }
  }

  test("appendToInvertedIndex: base-build + delta-append serves identically to a full build") {
    // the incremental-maintenance contract for the text index: df,
    // n_docs and avgdl all re-derive exactly after the append, so
    // serving the merged index must equal serving a one-shot full
    // build row for row
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val full = tempDir("inv_full_")
    TextAnalysis.writeInvertedIndex(d, "doc_id", "text", full)
    val inc = tempDir("inv_inc_")
    TextAnalysis.writeInvertedIndex(
      d.filter(pmod(col("doc_id"), lit(4)) =!= 1), "doc_id", "text", inc)
    TextAnalysis.appendToInvertedIndex(spark, inc,
      d.filter(pmod(col("doc_id"), lit(4)) === 1), "doc_id", "text")
    for (q <- Seq(Seq("table"), Seq("table", "scan", "merge"))) {
      val a = TextAnalysis.serveBm25(spark, full, q, k = 20)
        .collect().map(_.toSeq).toSeq
      val b = TextAnalysis.serveBm25(spark, inc, q, k = 20)
        .collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"query=$q")
    }
    // and the stats row really merged (not just the base's)
    val st = spark.read.parquet(s"$inc/stats").head()
    val stFull = spark.read.parquet(s"$full/stats").head()
    assert(st.getLong(0) == stFull.getLong(0) && st.getLong(1) == stFull.getLong(1))
  }

  test("compactInvertedIndex: serve-identical after append + compact") {
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val src = tempDir("inv_cmp_src")
    TextAnalysis.writeInvertedIndex(
      d.filter(pmod(col("doc_id"), lit(4)) =!= 1), "doc_id", "text", src)
    TextAnalysis.appendToInvertedIndex(spark, src,
      d.filter(pmod(col("doc_id"), lit(4)) === 1), "doc_id", "text")
    val dst = tempDir("inv_cmp_dst")
    TextAnalysis.compactInvertedIndex(spark, src, dst)
    for (q <- Seq(Seq("table"), Seq("table", "scan", "merge"))) {
      val a = TextAnalysis.serveBm25(spark, src, q, k = 20).collect().map(_.toSeq).toSeq
      val b = TextAnalysis.serveBm25(spark, dst, q, k = 20).collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"query=$q")
    }
    // total parquet files per term bucket ACROSS batch dirs: the
    // appended src spreads a bucket over batch=base + batch=delta;
    // the compacted dst folds everything back to one file per bucket
    def filesPerBucket(dir: String): Map[String, Int] =
      new java.io.File(s"$dir/postings").listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .flatMap(_.listFiles.toSeq
          .filter(f => f.isDirectory && f.getName.startsWith("bkt=")))
        .groupBy(_.getName)
        .map { case (b, ds) =>
          b -> ds.map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum }
    assert(filesPerBucket(src).values.exists(_ >= 2))
    assert(filesPerBucket(dst).values.forall(_ == 1))
  }

  test("appendToInvertedIndex: replayed append is idempotent (at-least-once tolerant)") {
    // the retried-job contract: replaying the SAME batchId dynamic-
    // overwrites that batch's partitions instead of duplicating
    // posting rows, so tf/df/n_docs stay exact — serve and stats both
    // equal the one-shot full build after the replay
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val full = tempDir("inv_rp_full")
    TextAnalysis.writeInvertedIndex(d, "doc_id", "text", full)
    val inc = tempDir("inv_rp_inc")
    TextAnalysis.writeInvertedIndex(
      d.filter(pmod(col("doc_id"), lit(4)) =!= 1), "doc_id", "text", inc)
    val delta = d.filter(pmod(col("doc_id"), lit(4)) === 1)
    TextAnalysis.appendToInvertedIndex(spark, inc, delta, "doc_id", "text", "crawl7")
    TextAnalysis.appendToInvertedIndex(spark, inc, delta, "doc_id", "text", "crawl7")
    for (q <- Seq(Seq("table"), Seq("table", "scan", "merge"))) {
      val a = TextAnalysis.serveBm25(spark, full, q, k = 20).collect().map(_.toSeq).toSeq
      val b = TextAnalysis.serveBm25(spark, inc, q, k = 20).collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"query=$q")
    }
    val st = spark.read.parquet(s"$inc/stats").head()
    val stFull = spark.read.parquet(s"$full/stats").head()
    assert(st.getLong(0) == stFull.getLong(0) && st.getLong(1) == stFull.getLong(1))
    // 'base' stays reserved for the full build
    intercept[IllegalArgumentException] {
      TextAnalysis.appendToInvertedIndex(spark, inc, delta, "doc_id", "text", "base")
    }
  }

  test("termBucketOf (driver) ≡ termBucket (expression)") {
    import spark.implicits._
    val words = Seq("table", "scan", "a", "zzz", "merge")
    val got = words.toDF("t")
      .select(col("t"), TextAnalysis.termBucket(col("t")).as("b"))
      .as[(String, Int)].collect().toMap
    words.foreach(w => assert(got(w) == TextAnalysis.termBucketOf(w), w))
  }

  test("sourceEntropy: uniform = ln(k), single-token = 0") {
    import spark.implicits._
    val df = Seq(
      ("u", "a b c d"),       // uniform over 4 -> ln 4
      ("z", "x x x x x"))     // degenerate -> 0
      .toDF("source", "text")
    val got = TextAnalysis.sourceEntropy(df, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(got("u") - math.log(4.0)) < 1e-5)
    assert(got("z") == 0.0)
  }

  test("appendToInvertedIndex rejects re-crawled ids; onExistingIds=drop keeps only new docs") {
    // df is derived from pruned postings across ALL batches, so an id
    // present in two batches double-counts — the round-11 guard turns
    // the docstring warning into an enforced contract
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val base = d.filter(pmod(col("doc_id"), lit(4)) =!= 1)
    val overlap = d.filter( // one genuinely-new slice + one re-crawl slice
      pmod(col("doc_id"), lit(4)) === 1 || pmod(col("doc_id"), lit(4)) === 2)
    val inc = tempDir("inv_gd_inc")
    TextAnalysis.writeInvertedIndex(base, "doc_id", "text", inc)
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.appendToInvertedIndex(spark, inc, overlap, "doc_id", "text")
    }
    assert(ex.getMessage.contains("already indexed"))
    // default-fail must not have half-written the batch
    assert(!new java.io.File(s"$inc/postings/batch=delta").exists)
    // drop mode: the %4==2 re-crawls are anti-joined out, the %4==1
    // docs land, and the merged index serves exactly like a full build
    TextAnalysis.appendToInvertedIndex(spark, inc, overlap, "doc_id", "text",
      onExistingIds = "drop")
    val full = tempDir("inv_gd_full")
    TextAnalysis.writeInvertedIndex(d, "doc_id", "text", full)
    for (q <- Seq(Seq("table"), Seq("table", "scan", "merge"))) {
      val a = TextAnalysis.serveBm25(spark, full, q, k = 20).collect().map(_.toSeq).toSeq
      val b = TextAnalysis.serveBm25(spark, inc, q, k = 20).collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"query=$q")
    }
  }

  test("appendToInvertedIndex refuses batchId reuse with different content; force re-targets cleanly") {
    // dynamic overwrite only replaces the term buckets present in the
    // NEW write — re-targeting a batch with a different delta would
    // leave the earlier crawl's stale postings mixed in. Equal-content
    // replay stays allowed (fingerprint match); different content
    // throws; force=true deletes the old subtree first so the rewrite
    // serves exactly like a fresh build
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val base = d.filter(pmod(col("doc_id"), lit(4)) === 0 ||
      pmod(col("doc_id"), lit(4)) === 3)
    val deltaA = d.filter(pmod(col("doc_id"), lit(4)) === 1)
    val deltaB = d.filter(pmod(col("doc_id"), lit(4)) === 2)
    val inc = tempDir("inv_ru_inc")
    TextAnalysis.writeInvertedIndex(base, "doc_id", "text", inc)
    TextAnalysis.appendToInvertedIndex(spark, inc, deltaA, "doc_id", "text", "crawl1")
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.appendToInvertedIndex(spark, inc, deltaB, "doc_id", "text", "crawl1")
    }
    assert(ex.getMessage.contains("DIFFERENT content"))
    TextAnalysis.appendToInvertedIndex(spark, inc, deltaB, "doc_id", "text",
      "crawl1", force = true)
    val full = tempDir("inv_ru_full")
    TextAnalysis.writeInvertedIndex(
      base.unionByName(deltaB), "doc_id", "text", full)
    for (q <- Seq(Seq("table"), Seq("table", "scan", "merge"))) {
      val a = TextAnalysis.serveBm25(spark, full, q, k = 20).collect().map(_.toSeq).toSeq
      val b = TextAnalysis.serveBm25(spark, inc, q, k = 20).collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"query=$q")
    }
    // no deltaA doc may survive the forced re-target
    val ids = spark.read.parquet(s"$inc/doclens").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(deltaA.select("doc_id").collect().map(_.getLong(0)).forall(!ids.contains(_)))
  }
}
