package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup + similarity operator contracts on sf0.001 testdata and
  * hand-built fixtures. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val dir01 = "/root/testdata/sf0.01"
  private def docs = graft.Tables.load(spark, dir, "documents")
  private def emb = graft.Tables.load(spark, dir, "embeddings")

  test("wordBigrams: 1-indexed adjacent pairs, distinct, short docs dropped") {
    val d = Seq((1L, "a b c a b"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val sh = Dedup.wordBigrams(d, "doc_id", "text")
      .groupBy("id").agg(sort_array(collect_list("sh")).as("shs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) == Seq("a b", "b c", "c a")) // "a b" deduped
    assert(!sh.contains(2L) && !sh.contains(3L))
  }

  test("jaccardPairs: identical docs → 1.0, disjoint docs absent") {
    val d = Seq((1L, "x y z w"), (2L, "x y z w"), (3L, "p q r s")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(Dedup.wordBigrams(d, "doc_id", "text"), 0.01)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("minhash LSH finds the same near-dup pairs as exact jaccard at 0.5 (corpus)") {
    val exact = DedupShapes.jaccardPairs(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = DedupShapes.minhashLsh(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH-verified pairs must be a subset of exact pairs")
    // At J≥0.9 (the planted dups), band-collision probability ≈ 1.
    assert(lsh == exact, s"missed: ${exact -- lsh}")
    assert(exact.nonEmpty)
  }

  test("lshCandidatesCapped: clique under the cap, chain above it") {
    // bucket X: 5 members (oversized at cap 3) → consecutive pairs in
    // _skey order, not id order (4 pairs, not the 10-pair clique);
    // bucket Y: 2 members → exact pair; singleton bucket → nothing.
    val bands = (
      Seq((1L, 0, "X", "c"), (2L, 0, "X", "a"), (3L, 0, "X", "e"),
        (4L, 0, "X", "b"), (5L, 0, "X", "d")) ++
        Seq((10L, 0, "Y", "y"), (11L, 0, "Y", "y"), (20L, 1, "Z", "z"))
      ).toDF("id", "b", "key", "_skey")
    val capped = Dedup.lshCandidatesCapped(bands, maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    // skey order 2,4,1,5,3 — the chain keeps the bucket connected
    assert(capped == Set((2L, 4L), (1L, 4L), (1L, 5L), (3L, 5L), (10L, 11L)))
    val small = Seq((1L, 0, "W", "b"), (2L, 0, "W", "a"), (3L, 0, "W", "c"))
      .toDF("id", "b", "key", "_skey")
    assert(Dedup.lshCandidatesCapped(small, 3).as[(Long, Long)].collect().toSet ==
      Dedup.lshCandidates(small).as[(Long, Long)].collect().toSet)
  }

  test("simhash: identical docs same hash; hash is 16 bits") {
    val d = Seq((1L, "one two three"), (2L, "one two three"), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val h = Dedup.simhash16(d, "doc_id", "text").as[(Long, String)].collect().toMap
    assert(h(1L) == h(2L))
    assert(h(1L).length == 16 && h(1L).forall(c => c == '0' || c == '1'))
  }

  test("brute-force cosine: self-similarity excluded, ranks descending, k respected") {
    val r = SimilarityShapes.cosineTopK(spark, dir)
      .as[(Long, Int, Long, Double)].collect()
    assert(r.length == 25)
    r.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 5))
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq) // descending
      assert(!rows.exists(x => x._3 == x._1)) // no self
    }
  }

  test("IVF-bucketed near-dup pairs find the exact pairs (sf0.01 planted dup)") {
    val dir01 = "/root/testdata/sf0.01"
    val e = graft.Tables.load(spark, dir01, "embeddings")
    val exact = Similarity.cosineDupPairs(e, "vec_id", "embedding", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.cosineDupPairsIVF(e, "vec_id", "embedding", 0.5, seedStep = 37)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact))
    assert(exact.nonEmpty && bucketed == exact,
      s"IVF bucketing missed pairs: ${exact -- bucketed}")
  }

  test("semanticCanonical: min-id canonicals, idempotent map, survivors = dedupCorpus over the same pairs") {
    val dir01 = "/root/testdata/sf0.01"
    val e = graft.Tables.load(spark, dir01, "embeddings")
    val cm = Similarity.semanticCanonical(e, "vec_id", "embedding",
        minSim = 0.4, seedStep = 37)
      .as[(Long, Long)].collect().toMap
    assert(cm.size == e.count())
    assert(cm.forall { case (id, c) => c <= id }, "canonical must be the component min")
    assert(cm.values.forall(c => cm(c) == c), "canonical of a canonical is itself")
    assert(cm.exists { case (id, c) => c < id }, "the sf0.01 corpus has semantic dups")
    val survivors = cm.collect { case (id, c) if id == c => id }.toSet
    val pairs = Similarity.cosineDupPairsIVF(e, "vec_id", "embedding", 0.4, seedStep = 37)
    val viaDedup = Dedup.dedupCorpus(e, "vec_id", pairs)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == viaDedup)
  }

  test("hybrid retrieval: dense rerank permutes only embedded BM25 candidates, cos descending") {
    val dir01 = "/root/testdata/sf0.01"
    val out = SimilarityShapes.hybridSearch(spark, dir01)
      .as[(Int, Long, Double, Double)].collect()
    assert(out.length == 10 && out.map(_._1).toSeq == (1 to 10))
    assert(out.map(_._4).toSeq == out.map(_._4).sortBy(-_).toSeq, "cos must descend")
    val cand = TextAnalysis.bm25Search(
        graft.Tables.load(spark, dir01, "documents"), "doc_id", "text",
        Seq("spark", "join", "query"), k = 50)
      .select(col("id")).as[Long].collect().toSet
    assert(out.map(_._2).toSet.subsetOf(cand),
      "every reranked doc must come from the lexical candidate stage")
  }

  test("IVF recall@5 vs brute force ≥ 0.9 at the tuned operating point (sf0.001 and sf0.01)") {
    Seq(dir, "/root/testdata/sf0.01").foreach { d =>
      val exact = SimilarityShapes.cosineTopK(spark, d)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      val approx = SimilarityShapes.ivfTopK(spark, d)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      val recall = (exact & approx).size.toDouble / exact.size
      assert(recall >= 0.9, s"$d recall=$recall")
    }
  }

  test("rpSimhash: identical vectors collide; planted near-dup found by rpNearDups") {
    // base vector + a tiny-noise copy (cos ≈ 0.999) + its negation
    // (cos = −1) + an orthogonal-ish distinct vector.
    val base = Array.tabulate(64)(j => math.sin(j * 1.7).toFloat)
    val near = base.zipWithIndex.map { case (v, j) => v + (if (j % 7 == 0) 0.01f else -0.005f) }
    val anti = base.map(v => -v)
    val other = Array.tabulate(64)(j => math.cos(j * 3.1 + 1).toFloat)
    val e = Seq((1L, base), (2L, near), (3L, anti), (4L, other))
      .toDF("vec_id", "embedding")
    val h = Similarity.rpSimhash(e, "vec_id", "embedding")
      .as[(Long, String)].collect().toMap
    assert(h(1L).length == 16)
    // antipodal vector flips every hyperplane side
    assert(h(3L) == h(1L).map(c => if (c == '1') '0' else '1'))
    val pairs = Similarity.rpNearDups(e, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // the planted near-dup, nothing else
  }

  test("semanticContamination flags paraphrase-distance vectors, scale-invariantly") {
    val base = Array.tabulate(64)(j => math.sin(j * 1.7).toFloat)
    val near = base.zipWithIndex.map { case (v, j) => v + (if (j % 7 == 0) 0.01f else -0.005f) }
    val scaled = base.map(_ * 2.5f) // same direction, different norm → cos 1.0
    val other = Array.tabulate(64)(j => math.cos(j * 3.1 + 1).toFloat)
    val bench = Seq((100L, base)).toDF("vec_id", "embedding")
    val corpus = Seq((1L, near), (2L, scaled), (3L, other))
      .toDF("vec_id", "embedding")
    val flagged = Similarity.semanticContamination(corpus, bench,
      "vec_id", "embedding", 0.9)
      .select("vec_id", "bench_id").as[(Long, Long)].collect().toSet
    // cosine, not distance: the 2.5x-scaled copy is flagged too
    assert(flagged == Set((1L, 100L), (2L, 100L)))
    val kept = Similarity.dropSemanticContaminated(corpus, bench,
      "vec_id", "embedding", 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("TopKPairs aggregator form equals the window form (R3 two plans, one answer)") {
    val dir01 = "/root/testdata/sf0.01"
    val agg = Relational.topKPerUserAgg(spark, dir01)
      .select("user_id", "rn", "event_id").as[(Long, Int, Long)].collect().toSet
    val win = Relational.topKPerUser(spark, dir01)
      .select("user_id", "rn", "event_id").as[(Long, Int, Long)].collect().toSet
    assert(agg == win && agg.nonEmpty)
  }

  test("langId picks the language with most marker hits; und when none") {
    val d = Seq(
      (1L, "the cat and the dog is in to"),
      (2L, "el perro de la casa que los una"),
      (3L, "zzz qqq xxx")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), graft.functions.TextFunctions.langId(col("text")))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "und")
  }

  test("redact masks emails, tokens, user ids") {
    val got = Seq("mail bob@x.co tok eyJabc.def user_id=42 end").toDF("s")
      .select(graft.functions.TextFunctions.redact(col("s"))).as[String].head()
    assert(got == "mail [email] tok [token] user_id=[id] end")
  }

  test("token counts: blank → 0, whitespace runs collapse") {
    val d = Seq((1L, "  a  b\tc "), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 0, 3L -> 0))
  }

  test("64-bit simhash: 64 chars, first 32 equal the 32-bit construction") {
    val d = Seq((1L, "one two three four five"), (2L, "totally different text here"))
      .toDF("doc_id", "text")
    val h64 = Dedup.simhashBits(d, "doc_id", "text", 64).as[(Long, String)].collect().toMap
    val h32 = Dedup.simhashBits(d, "doc_id", "text", 32).as[(Long, String)].collect().toMap
    h64.foreach { case (id, h) =>
      assert(h.length == 64 && h.forall(c => c == '0' || c == '1'))
      // bits 1..32 come from md5(tok) in both forms; 33..64 extend
      // with the second hash — the 32-bit (oracle-gated) fingerprint
      // is a prefix of the scale-path one.
      assert(h.take(32) == h32(id))
    }
  }

  test("multi-index simhashNearDups ≡ classic any-shared-band join for every maxHamming") {
    // Reference construction: the oracle's shape — one 8-bit band per
    // doc×4, bucket self-join on any shared band, exact Hamming filter.
    val sh = Dedup.simhashBits(docs, "doc_id", "text", 32)
      .select(col("id"), col("simhash"),
        explode(expr("transform(sequence(0, 3), b -> struct(b AS b, substring(simhash, b * 8 + 1, 8) AS key))")).as("_b"))
      .select(col("id"), col("simhash"), col("_b.b").as("b"), col("_b.key").as("key"))
    for (m <- 0 to 3) {
      val classic = sh.as("a").join(sh.as("b"),
          col("a.b") === col("b.b") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          graft.functions.HammingExpression.hamming(col("a.simhash"), col("b.simhash"))
            .cast("int").as("hamming"))
        .filter(col("hamming") <= m).distinct()
        .as[(Long, Long, Int)].collect().toSet
      val multi = Dedup.simhashNearDups(docs, "doc_id", "text", bits = 32, maxHamming = m)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int"))
        .as[(Long, Long, Int)].collect().toSet
      assert(multi == classic, s"maxHamming=$m")
    }
  }

  test("simhashNearDupsCapped under a generous cap equals the uncapped 64-bit pairs") {
    val exact = Dedup.simhashNearDups(docs, "doc_id", "text", bits = 64, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val capped = Dedup.simhashNearDupsCapped(docs, "doc_id", "text",
        bits = 64, maxHamming = 3, maxBucket = 1 << 20)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped == exact)
    assert(exact.nonEmpty) // sf0.001 plants near-dups; the test must see them
  }

  test("simhashBits fails loudly on a doc at the packed-lane token bound (2^20)") {
    val big = Seq((1L, Seq.fill(1 << 20)("tok").mkString(" "))).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.simhashBits(big, "doc_id", "text", 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("packed vote lanes")))
  }

  test("connectedComponents: driver union-find ≡ distributed propagation, comp = min id") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 10L), (5L, 6L), (8L, 7L), (8L, 9L))
      .toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, maxDriverPairs = 0)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L)
    assert(driver == want)
    assert(dist == want)
  }

  test("distributed propagation handles a long chain (sorted-neighborhood topology)") {
    // A 40-node path: the topology capped hot buckets now produce.
    // Pointer jumping keeps the round count logarithmic; correctness
    // contract here is convergence to the chain min either way.
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val dist = Dedup.connectedComponents(pairs, maxDriverPairs = 0)
      .as[(Long, Long)].collect().toMap
    assert(dist == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("dedupCorpus + canonicalMap: component members collapse to the min id") {
    val d = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val canon = Dedup.canonicalMap(d, "doc_id", pairs).as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
    val survivors = Dedup.dedupCorpus(d, "doc_id", pairs).as[(Long, String)]
      .collect().map(_._1).toSet
    assert(survivors == Set(1L, 4L, 5L, 7L, 8L))
  }

  test("deltaDedupStatus: base-dup, within-delta collapse, precedence, index path identical") {
    val base = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "unrelated base words completely different tokens here now"),
      (4L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val delta = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // = base 0
      (3L, "one two three four five six seven eight"), // = base 4
      (5L, "one two three four five six seven eight"), // = base 4, loser of {3,5}
      (7L, "totally unique snowflake document text goes here"),
      (9L, "red orange yellow green blue indigo violet pink"), // delta-only pair min
      (11L, "red orange yellow green blue indigo violet pink")).toDF("doc_id", "text")
    val got = Dedup.deltaDedupStatus(base, delta, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    // 5 is both a base dup AND the {3,5} component's loser —
    // dup_of_base wins (precedence); the delta-only pair {9,11}
    // collapses to its min id, 9 survives.
    assert(got == Map(1L -> "dup_of_base", 3L -> "dup_of_base",
      5L -> "dup_of_base", 7L -> "kept", 9L -> "kept", 11L -> "dup_in_delta"))
    // Production path: the persisted index table stands in for base.
    val viaIndex = Dedup.deltaDedupStatus(base, delta, "doc_id", "text",
        baseIndex = Some(Dedup.minhashIndex(base, "doc_id", "text")))
      .as[(Long, String)].collect().toMap
    assert(viaIndex == got)
  }

  test("embeddingDeltaStatus: base-dup, within-delta collapse, kept (planted vectors)") {
    val base = Seq((0L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val delta = Seq(
      (1L, Seq(1f, 0f, 0f)), // = base 0 → dup_of_base
      (3L, Seq(0f, 0.8f, 0.6f)), // cos vs base 2 = 0.8 < 0.95 → survives
      (5L, Seq(0f, 0.8f, 0.6f)), // = delta 3 → loser of {3,5}
      (7L, Seq(0.577f, 0.577f, 0.577f))) // far from everything
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingDeltaStatus(base, delta, "vec_id", "embedding",
        minSim = 0.95, seedStep = 2)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "dup_of_base", 3L -> "kept",
      5L -> "dup_in_delta", 7L -> "kept"))
  }

  test("delta ops degrade to the batch collapse when base is empty (sf0.001 corpus)") {
    // With no standing corpus, the incremental operator IS the batch
    // keep-canonical dedup: kept == dedupCorpus survivors.
    val kept = Dedup.deltaDedupStatus(docs.limit(0), docs, "doc_id", "text")
      .filter(col("status") === "kept").select("doc_id").as[Long].collect().toSet
    val batch = Dedup.dedupCorpus(docs, "doc_id",
        Dedup.minhashDedup(docs, "doc_id", "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == batch)
    assert(Dedup.deltaDedupStatus(docs.limit(0), docs, "doc_id", "text")
      .filter(col("status") === "dup_of_base").isEmpty)
  }

  test("winnowing guarantee: a shared token run of >= w+k-1 yields a shared fingerprint") {
    // k=3, w=4: any shared run of >= 6 tokens must produce at least
    // one common winnowed fingerprint (the MOSS guarantee). Doc 2
    // quotes a 8-token span of doc 1 inside unrelated text; doc 3 is
    // disjoint.
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, s"intro words $quote trailing content here"),
      (2L, s"completely different framing yet quoting $quote and moving on"),
      (3L, "nothing in common with either of the other documents at all")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowedFingerprints(d, "doc_id", "text")
    val shared12 = fps.filter(col("id") === 1).select("fp")
      .intersect(fps.filter(col("id") === 2).select("fp"))
    assert(shared12.count() >= 1)
    val pairs = TextAnalysis.containmentPairs(fps, 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("winnowing selects a subset of gram hashes, ~1/w density on real docs") {
    val fps = TextAnalysis.winnowedFingerprints(docs, "doc_id", "text")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    val gramCounts = docs
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n"))
      .filter(col("n") >= 3)
      .as[(Long, Int)].collect().toMap
    gramCounts.foreach { case (id, n) =>
      val nGrams = n - 2
      assert(fps(id) >= 1 && fps(id) <= nGrams,
        s"doc $id: ${fps(id)} fps from $nGrams grams")
    }
  }

  test("corpus pipeline: survivors pass the gate, contain no exact or near dups (idempotent)") {
    val cleaned = CorpusPipeline.clean(docs, "doc_id", "text").persist()
    val n = cleaned.count()
    assert(n > 0 && n <= docs.count())
    // every survivor passes the quality gate
    assert(cleaned.filter(!CorpusPipeline.qualityGate(col("text"), CorpusPipeline.Config())).isEmpty)
    // no byte-identical texts remain
    assert(cleaned.groupBy(md5(col("text"))).count().filter(col("count") > 1).isEmpty)
    // idempotence: a second near-dup pass over the survivors finds nothing
    assert(Dedup.minhashDedup(cleaned, "doc_id", "text").isEmpty)
    cleaned.unpersist()
    // the exact stage keeps the min id per text: byte-identical copies
    // planted at higher ids change nothing
    val copies = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    def exactIds(d: org.apache.spark.sql.DataFrame): Set[Long] =
      CorpusPipeline.exactSurvivors(d, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
    assert(exactIds(docs.unionByName(copies)) == exactIds(docs))
  }

  test("capped LSH candidates (keyed) yield the same dedup survivor set as exact candidates") {
    // A 6-copy near-identical cluster lands in one LSH bucket: with
    // maxBucket = 2 the bucket contributes the sorted-neighborhood
    // CHAIN instead of the 15-pair clique. Chain members all verify
    // against their neighbors (they're copies), so the component — and
    // the survivor set after collapse — is the same; only the pair
    // COUNT shrinks. (This is the semantic lshCandidatesCapped
    // documents: capping trades pair reports, not survivors.)
    val cluster = (1L to 6L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val rest = Seq(
      (20L, "completely unrelated words about spark catalyst planning"),
      (21L, "another distinct document on kafka feeds and workers"))
    val d = (cluster ++ rest).toDF("doc_id", "text")
    val sets = Dedup.docShingleArrays(Dedup.wordBigrams(d, "doc_id", "text"))
    val bands = Dedup.lshBandsFromArraysKeyed(sets, 8, 2)
    def survivors(cand: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.dedupCorpus(d, "doc_id", Dedup.jaccardForCandidates(sets, cand, 0.5))
        .as[(Long, String)].collect().map(_._1).toSet
    val exactCand = Dedup.lshCandidates(bands)
    val cappedCand = Dedup.lshCandidatesCapped(bands, maxBucket = 2)
    assert(cappedCand.count() < exactCand.count()) // chain < clique
    assert(survivors(cappedCand) == survivors(exactCand))
    assert(survivors(exactCand) == Set(1L, 20L, 21L))
  }

  test("sorted-neighborhood capped candidates chain families a star would lose") {
    // One hot bucket holding TWO interleaved-by-id near-dup families,
    // separated by skey. A min-id star would pair everything with
    // id 1 — its family-B edges would all fail verification,
    // orphaning family B. Consecutive pairs in skey order keep each
    // family internally connected.
    val bands = Seq(
      (1L, 0, "H", "aaaa"), (3L, 0, "H", "aaab"), (5L, 0, "H", "aaac"),
      (2L, 0, "H", "zzzx"), (4L, 0, "H", "zzzy"), (6L, 0, "H", "zzzz"))
      .toDF("id", "b", "key", "_skey")
    val got = Dedup.lshCandidatesCapped(bands, maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (3L, 5L), (2L, 5L), (2L, 4L), (4L, 6L)))
    // family A {1,3,5} connected via (1,3),(3,5); family B {2,4,6} via
    // (2,4),(4,6); the lone cross-family edge (2,5) is the run
    // boundary — the one verification will reject.
    // Bands without the sort key are refused, not star-reduced.
    intercept[IllegalArgumentException] {
      Dedup.lshCandidatesCapped(bands.drop("_skey"), maxBucket = 3)
    }
  }

  test("keyed capped dedup: replicated families keep survivor parity under a tiny cap") {
    // The round-6 probe scenario in miniature: 3 families × 8 replicas
    // (each replica appends a marker token — jaccard ≈ 0.9 within a
    // family, 0 across), cap far below the family size. The
    // sorted-neighborhood chain must reproduce the uncapped survivor
    // set exactly.
    val fams = (0 until 3).flatMap { f =>
      val base = (1 to 15).map(w => s"tok${f}_$w").mkString(s"family$f start ", " ", "")
      (0 until 8).map(r =>
        ((f * 100 + r).toLong, if (r == 0) base else s"$base zrep$r"))
    }
    val d = fams.toDF("doc_id", "text")
    def surv(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.dedupCorpus(d, "doc_id", pairs)
        .as[(Long, String)].collect().map(_._1).toSet
    val exact = surv(Dedup.minhashDedup(d, "doc_id", "text"))
    val capped = surv(Dedup.minhashDedupCapped(d, "doc_id", "text", maxBucket = 4))
    assert(capped == exact)
    assert(exact == Set(0L, 100L, 200L))
  }
  test("recallReport: exact per-query hit counting; per-query denominator") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("q_id", "n_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L)).toDF("q_id", "n_id")
    val got = Similarity.recallReport(exact, approx)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((1L, 0.5)), 2L -> ((2L, 1.0))))
    // A query with fewer exact neighbors than the approx side's k can
    // still reach recall 1.0 — the round-6 ADVICE defect (dividing by
    // a fixed k under-reported such queries forever).
    val short = Seq((3L, 30L)).toDF("q_id", "n_id")
    val gotShort = Similarity.recallReport(short, approx.union(short))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(gotShort == Map(3L -> 1.0))
  }

  test("pqServe off a persisted model is row-identical to self-contained pqTopK") {
    // The serving/training split (MICRO_r7 pq_serve row): train once,
    // round-trip the model through parquet as production would, serve
    // against the standing tables — results must pin to the q96 gate's
    // self-contained form exactly (same model ⇒ same retrieval).
    val e = graft.Tables.load(spark, dir, "embeddings")
    val (cb, codes) = Similarity.pqModel(e, "vec_id", "embedding", m = 8, seedStep = 7)
    val tmp = tempDir("pq_model_")
    cb.write.mode("overwrite").parquet(s"$tmp/codebooks")
    codes.write.mode("overwrite").parquet(s"$tmp/codes")
    val cbT = spark.read.parquet(s"$tmp/codebooks")
    val codesT = spark.read.parquet(s"$tmp/codes")
    val served = Similarity.pqServe(e, "vec_id", "embedding",
        col("vec_id") < 5, k = 5, cbT, codesT, shortlist = 100)
      .collect().map(_.toSeq).toSet
    val self = Similarity.pqTopK(e, "vec_id", "embedding",
        col("vec_id") < 5, k = 5, m = 8, seedStep = 7, shortlist = 100)
      .collect().map(_.toSeq).toSet
    assert(served == self)
  }

  /** The parquet scans of index table `table` in the executions a
    * window saw: scans of the table dir or of its cluster dirs. */
  private def indexScans(w: graft.tools.ExecutionTrace.Window, table: String) =
    w.executions.flatMap(_.qe.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(p => Seq(p, p.getParent).exists(_.getName == table)) => f
    })

  test("servePqIndex off the persisted layout pins to ivfPqTopK; probed clusters prune files") {
    val e = graft.Tables.load(spark, dir, "embeddings")
    val idx = tempDir("ivfpq_idx_")
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding", idx,
      seedStepIvf = 37, nAssign = 2, m = 8, seedStepPq = 7)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val (served, w) = graft.tools.ExecutionTrace.window(spark)(
      Similarity.servePqIndex(spark, idx, queries, k = 5, nProbe = 8, shortlist = 100))
    val self = Similarity.ivfPqTopK(e, "vec_id", "embedding",
      col("vec_id") < 5, k = 5, seedStepIvf = 37, nProbe = 8, nAssign = 2,
      m = 8, seedStepPq = 7, shortlist = 100)
    assert(served.collect().map(_.toSeq).toSet == self.collect().map(_.toSeq).toSet)
    // the served frame is a local relation: the call's own codes and
    // vectors scans carry the probed-cluster isin as a partition filter
    for (table <- Seq("codes", "vectors")) {
      val scans = indexScans(w, table)
      assert(scans.size == 1, s"$table: one scan per call, got ${scans.size}")
      assert(scans.forall(_.partitionFilters.nonEmpty), s"$table scan is not partition-pruned")
    }
  }

  test("servePqIndex job budget: 5 Spark jobs for the call that loads the model, 3 on a resident model") {
    // Serving is fixed work per query batch: an eager side job (schema
    // inference, first(), a second probe pass, a model re-read) shows
    // up here as a count above the budget.
    // Also on more cluster dirs than Spark lists without a job (32):
    // only the probed dirs are read.
    val e = graft.Tables.load(spark, dir01, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    for (seedStepIvf <- Seq(37, 11)) {
      val idx = tempDir("ivfpq_jobs_")
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", idx, seedStepIvf = seedStepIvf)
      val clusters = new java.io.File(idx, "codes").list().count(_.startsWith("cluster_id="))
      def serve() = graft.tools.ExecutionTrace.window(spark)(
        Similarity.servePqIndex(spark, idx, queries, k = 5, nProbe = 8, shortlist = 100).collect())
      val (cold, loading) = serve()
      val (warm, resident) = serve()
      assert(warm.nonEmpty && warm.toSeq == cold.toSeq)
      info(s"servePqIndex jobs over $clusters cluster dirs: ${loading.jobs} loading the model, " +
        s"${resident.jobs} resident")
      if (seedStepIvf == 11) assert(clusters > 32, s"$clusters cluster dirs")
      assert(loading.jobs <= 5, s"$clusters dirs: the loading call ran ${loading.jobs} jobs, budget 5")
      assert(resident.jobs <= 3, s"$clusters dirs: a resident-model call ran ${resident.jobs} jobs, budget 3")
    }
  }

  test("servePqIndex reloads its resident model when the same dir is rebuilt with another model") {
    val e = graft.Tables.load(spark, dir, "embeddings")
    val idx = tempDir("ivfpq_rebuild_")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    def serve() = Similarity.servePqIndex(spark, idx, queries, k = 5, nProbe = 8,
      shortlist = 100).collect().map(_.toSeq).toSet
    def self(seedStepIvf: Int) = Similarity.ivfPqTopK(e, "vec_id", "embedding",
      col("vec_id") < 5, k = 5, seedStepIvf = seedStepIvf, nProbe = 8, nAssign = 2,
      m = 8, seedStepPq = 7, shortlist = 100).collect().map(_.toSeq).toSet
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding", idx, seedStepIvf = 37)
    assert(serve() == self(37))
    // overwrite in place with other centroids: a model keyed on the dir
    // alone would probe the old clusters of the new codes
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding", idx, seedStepIvf = 11)
    val rebuilt = self(11)
    assert(rebuilt != self(37))
    assert(serve() == rebuilt)
  }

  test("IVF-PQ index schema: a double-embedding build serves like the float build; a mistyped table fails loudly") {
    val e = graft.Tables.load(spark, dir01, "embeddings")
    val ed = e.withColumn("embedding", col("embedding").cast("array<double>"))
    def build(emb: org.apache.spark.sql.DataFrame, name: String): String = {
      val d = tempDir(name)
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", d)
      d
    }
    def serve(idx: String, emb: org.apache.spark.sql.DataFrame) =
      Similarity.servePqIndex(spark, idx, emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        k = 5, nProbe = 8, shortlist = 100).collect().map(_.toSeq).toSeq
    val fIdx = build(e, "ivfpq_float_")
    val fRows = serve(fIdx, e)
    assert(fRows.nonEmpty && serve(build(ed, "ivfpq_double_"), ed) == fRows)
    // one column per table rewritten, after a serve has made the
    // model resident, with a type the declared schema does not allow:
    // the serve must throw, never read the column as null or serve the
    // model it held
    for ((table, column, badType) <- Seq(
        ("centroids", "cn", "string"),
        ("codebooks", "cw", "array<string>"),
        ("codes", "code", "string"),
        ("vectors", "ve", "array<string>"))) {
      val bad = tempDir(s"ivfpq_bad_$table")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(fIdx), new java.io.File(bad))
      assert(serve(bad, e) == fRows)
      val t = spark.read.parquet(s"$fIdx/$table")
        .withColumn(column, col(column).cast(badType))
      val w = t.write.mode("overwrite")
      if (t.columns.contains("cluster_id")) w.partitionBy("cluster_id").parquet(s"$bad/$table")
      else w.parquet(s"$bad/$table")
      val err = intercept[org.apache.spark.SparkException](serve(bad, e))
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("DATA_TYPE_MISMATCH")),
        s"$table.$column: expected a column type mismatch, got $err")
    }
  }

  test("pqEncodeStreaming matches batch pqEncode at the same model and runs on a live stream") {
    val e = graft.Tables.load(spark, dir, "embeddings")
    val (cb, _) = Similarity.pqModel(e, "vec_id", "embedding", m = 8, seedStep = 7)
    val cbS = cb.localCheckpoint(true) // standing model, as production would hold it
    val batch = Similarity.pqEncode(e, "vec_id", "embedding", cbS, m = 8)
      .as[(Long, Int, Long)].collect().toSet
    val mapSide = Similarity.pqEncodeStreaming(e, "vec_id", "embedding", cbS)
      .as[(Long, Int, Long)].collect().toSet
    assert(mapSide == batch)
    // live micro-batch: same codes arrive through a MemoryStream
    val rows = e.limit(20).as[(Long, Array[Float], Int)].collect().toSeq
    val in = memStream[(Long, Array[Float])]
    val q = Similarity.pqEncodeStreaming(
        in.toDF.toDF("vec_id", "embedding"), "vec_id", "embedding", cbS)
      .writeStream.format("memory").queryName("pq_stream").outputMode("append").start()
    try {
      in.addData(rows.map(r => (r._1, r._2)))
      q.processAllAvailable()
      val streamed = spark.table("pq_stream").as[(Long, Int, Long)].collect().toSet
      assert(streamed == batch.filter(t => rows.exists(_._1 == t._1)))
    } finally q.stop()
  }

  test("pqEncode: empty delta yields an empty codes frame (dim from model, not delta)") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (cb, _) = Similarity.pqModel(e, "vec_id", "embedding", m = 8, seedStep = 7)
    val empty = e.filter(col("vec_id") < 0)
    assert(Similarity.pqEncode(empty, "vec_id", "embedding", cb, m = 8).count() == 0L)
  }

  test("PQ: codes cover every (vector, subspace); ADC+rerank recall >= 0.9 vs brute force") {
    val dir01 = "/root/testdata/sf0.01"
    val e = graft.Tables.load(spark, dir01, "embeddings")
    val (cb, codes) = Similarity.pqModel(e, "vec_id", "embedding", m = 8, seedStep = 7)
    assert(codes.count() == e.count() * 8)
    // every assigned code exists in the trained codebook
    assert(codes.join(cb, Seq("s", "code"), "left_anti").isEmpty)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 5, k = 5)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(e, "vec_id", "embedding", col("vec_id") < 5,
        k = 5, m = 8, seedStep = 7, shortlist = 100)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ recall@5 $recall below contract")
  }

  test("PQ retrieval is deterministic under repartitioning") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val a = Similarity.pqTopK(e, "vec_id", "embedding", col("vec_id") < 3, k = 5)
      .collect().toSeq
    val b = Similarity.pqTopK(e.repartition(11), "vec_id", "embedding", col("vec_id") < 3, k = 5)
      .collect().toSeq
    assert(a == b)
  }

  test("IVF-PQ composed retrieval: recall vs brute force matches the IVF router ceiling") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("q_id"), col("n_id")).as[(Long, Long)].collect().toSet
    val exact = ids(Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 5, 5))
    val ivf = ids(Similarity.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 5, 5,
      seedStep = 37, nProbe = 8, nAssign = 2))
    val ivfpq = ids(Similarity.ivfPqTopK(e, "vec_id", "embedding", col("vec_id") < 5, 5))
    val rIvf = (exact & ivf).size.toDouble / exact.size
    val rPq = (exact & ivfpq).size.toDouble / exact.size
    assert(rPq >= 0.9, s"IVF-PQ recall $rPq below contract")
    // composition can't beat its router: everything IVF-PQ returns
    // comes from the router's candidate set
    assert(rPq <= rIvf + 1e-9, s"IVF-PQ recall $rPq exceeds router ceiling $rIvf")
  }

  test("pqEncode against a standing model reproduces the model's own codes") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val (cb, codes) = Similarity.pqModel(e, "vec_id", "embedding", m = 8, seedStep = 7)
    val re = Similarity.pqEncode(e, "vec_id", "embedding", cb)
      .as[(Long, Int, Long)].collect().toSet
    assert(re == codes.as[(Long, Int, Long)].collect().toSet)
    // and a disjoint delta encodes without touching base codes
    val delta = e.filter(col("vec_id") % 4 === 1)
    val dc = Similarity.pqEncode(delta, "vec_id", "embedding", cb)
    assert(dc.count() == delta.count() * 8)
  }


  test("appendToIvfPqIndex: base-build + delta-append serves identically to a base-model full-encode index") {
    // the incremental-maintenance contract: appending the delta crawl
    // to a standing index must serve EXACTLY like an index whose
    // (base-trained) model encoded base ∪ delta in one pass — the
    // append is that rebuild at delta cost
    import org.apache.spark.sql.functions.col
    val base = emb.filter(col("vec_id") % 4 =!= 1)
    val delta = emb.filter(col("vec_id") % 4 === 1)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    def serve(d: String) = Similarity.servePqIndex(spark, d, qs, k = 5, nProbe = 8,
      shortlist = 100).collect().map(_.toSeq).toSeq
    val dirA = tempDir("ivfpq_append_a")
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", dirA)
    // served before the append, dirA's model is resident when it is
    // served again: the append leaves the model tables as they were, and
    // the serve after it must still read the codes and vectors it added
    val before = serve(dirA)
    Similarity.appendToIvfPqIndex(spark, dirA, delta, "vec_id", "embedding")
    // reference: the SAME model read back from the base index, tables
    // encoding the full corpus in one pass
    val dirB = tempDir("ivfpq_append_b")
    val cents = spark.read.parquet(s"$dirA/centroids")
    val cb = spark.read.parquet(s"$dirA/codebooks")
    cents.write.parquet(s"$dirB/centroids")
    cb.write.parquet(s"$dirB/codebooks")
    val clusters = Similarity.ivfAssignTo(emb, cents, "vec_id", "embedding", nAssign = 2)
      .select(col("vec_id").as("id"), col("cluster_id"))
    Similarity.pqEncode(emb, "vec_id", "embedding", cb).join(clusters, Seq("id"))
      .repartition(col("cluster_id"))
      .write.partitionBy("cluster_id").parquet(s"$dirB/codes")
    Similarity.normalized(emb, "vec_id", "embedding").join(clusters, Seq("id"))
      .repartition(col("cluster_id"))
      .write.partitionBy("cluster_id").parquet(s"$dirB/vectors")
    // every vector (base AND delta) present exactly once per (cluster, subspace)
    val idsA = spark.read.parquet(s"$dirA/vectors").select("id").distinct()
    assert(idsA.count() == emb.count())
    assert(spark.read.parquet(s"$dirA/codes").count() ==
      spark.read.parquet(s"$dirB/codes").count())
    val a = serve(dirA)
    val b = serve(dirB)
    assert(a.nonEmpty && a == b && a != before)
  }

  test("appendToIvfPqIndex: replayed (double) append serves identically — at-least-once tolerant") {
    // serve-side dropDuplicates on (q_id, id, s) codes and n_id
    // vectors masks re-delivered rows, so a crashed-and-retried
    // append job cannot change results — the same idempotency
    // contract the feed sink makes for at-least-once Kafka delivery
    import org.apache.spark.sql.functions.col
    val base = emb.filter(col("vec_id") % 4 =!= 1)
    val delta = emb.filter(col("vec_id") % 4 === 1)
    val once = tempDir("ivfpq_replay_1")
    val twice = tempDir("ivfpq_replay_2")
    for (d <- Seq(once, twice)) {
      Similarity.writeIvfPqIndex(base, "vec_id", "embedding", d)
      Similarity.appendToIvfPqIndex(spark, d, delta, "vec_id", "embedding")
    }
    Similarity.appendToIvfPqIndex(spark, twice, delta, "vec_id", "embedding") // replay
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val a = Similarity.servePqIndex(spark, once, qs, k = 5, nProbe = 8, shortlist = 100)
      .collect().map(_.toSeq).toSeq
    val b = Similarity.servePqIndex(spark, twice, qs, k = 5, nProbe = 8, shortlist = 100)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("compactIvfPqIndex: serve-identical, one data file per cluster partition") {
    import org.apache.spark.sql.functions.col
    val base = emb.filter(col("vec_id") % 4 =!= 1)
    val delta = emb.filter(col("vec_id") % 4 === 1)
    val src = tempDir("ivfpq_cmp_src")
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", src)
    Similarity.appendToIvfPqIndex(spark, src, delta, "vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    // src is served (its model resident) before the compaction, and the
    // serve of the new dir reads that dir's own model files
    val a = Similarity.servePqIndex(spark, src, qs, k = 5, nProbe = 8, shortlist = 100)
      .collect().map(_.toSeq).toSeq
    val dst = tempDir("ivfpq_cmp_dst")
    Similarity.compactIvfPqIndex(spark, src, dst)
    val b = Similarity.servePqIndex(spark, dst, qs, k = 5, nProbe = 8, shortlist = 100)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
    // appended source: ≥2 files in some cluster dir; compacted: exactly 1 in each
    def filesPerPart(dir: String): Seq[Int] =
      new java.io.File(s"$dir/codes").listFiles.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("cluster_id="))
        .map(_.listFiles.count(_.getName.endsWith(".parquet")))
    assert(filesPerPart(src).exists(_ >= 2), "append should leave multiple files")
    assert(filesPerPart(dst).forall(_ == 1), "compaction must leave one file per cluster")
  }

  test("prefixFilterJaccard ≡ naive jaccardPairs on the sf0.001 corpus") {
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val sets = Dedup.wordBigrams(docs, "doc_id", "text")
      val naive = Dedup.jaccardPairs(sets, tau)
        .as[(Long, Long, Double)].collect().toSet
      val pruned = Dedup.prefixFilterJaccard(sets, tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(pruned == naive, s"tau=$tau")
    }
  }

  test("simhashCalibration: non-binding bounds reproduce the full spectrum") {
    // with cap = MaxValue and sampleFrac = 1 the bounded form IS the
    // full form; with a generous-but-finite cap on this corpus the
    // spectrum must be unchanged (no bucket is hot enough to bind)
    val full = DedupShapes.simhashCalibrationOf(docs)
      .collect().map(_.toSeq).toSeq
    val capped = DedupShapes.simhashCalibrationOf(docs,
        sampleFrac = 1.0, bucketCap = 100000)
      .collect().map(_.toSeq).toSeq
    assert(full.nonEmpty && capped == full)
  }

  test("simhashCalibration: hash-stable sample equals calibration of the pre-filtered frame") {
    // the sampleFrac parameter must be EXACTLY the q66 md5 recipe —
    // applying the same filter externally and calibrating unsampled
    // reproduces the sampled spectrum bit-for-bit
    val sampled = DedupShapes.simhashCalibrationOf(docs, sampleFrac = 0.5)
      .collect().map(_.toSeq).toSeq
    val pre = docs.filter(
      substring(md5(concat(lit("cal|"), col("doc_id").cast("string"))), 1, 4)
        < lit("8000"))
    val external = DedupShapes.simhashCalibrationOf(pre)
      .collect().map(_.toSeq).toSeq
    assert(sampled.nonEmpty && sampled == external)
    // and the sample really shrinks the pair space (quadratic win)
    val fullPairs = DedupShapes.simhashCalibrationOf(docs)
      .agg(sum("n_pairs")).as[Long].head()
    val sampledPairs = DedupShapes.simhashCalibrationOf(docs, sampleFrac = 0.5)
      .agg(sum("n_pairs")).as[Long].head()
    assert(sampledPairs * 2 < fullPairs,
      s"sampled=$sampledPairs full=$fullPairs")
  }

  test("prefixFilterJaccard prunes: candidate keys ≪ full shingle keys") {
    // with a hot shingle shared by everyone, the naive equi-join is
    // quadratic in the corpus; prefixes keep only rare shingles
    val sets = Dedup.wordBigrams(docs, "doc_id", "text")
    val fullKeys = sets.count()
    val dfreq = sets.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val prefKeys = sets.join(dfreq, Seq("sh"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"),
        count(lit(1)).as("sz"))
      .select(explode(slice(transform(col("ord"), x => x("sh")), lit(1),
        (col("sz") - ceil(col("sz") * 0.5) + 1).cast("int"))))
      .count()
    assert(prefKeys * 3 < fullKeys * 2, s"pref=$prefKeys full=$fullKeys")
  }

  test("clusterSilhouette: centroids score 1.0, boundary vectors 0, margins in between") {
    import spark.implicits._
    // seedStep 2 → ids 0 and 2 are centroids ([1,0] and [0,1]); id 1
    // routes confidently to cluster 0; id 3 sits exactly on the
    // Voronoi boundary (equal cosine to both, c_id tie-break → 0)
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.clusterSilhouette(e, "vec_id", "embedding", seedStep = 2)
      .orderBy(col("cluster_id"))
      .as[(Long, Long, Long, Long, Long)].collect().toList
    val c0 = got.head; val c2 = got(1)
    assert(got.map(_._1) == List(0L, 2L))
    assert(c0._2 == 3L && c2._2 == 1L)               // member counts
    assert(c0._4 == 0L, "boundary vector must score 0")  // min over cluster 0
    assert(c0._5 == 1000000L, "the centroid itself scores exactly 1.0")
    assert(c2._4 == 1000000L && c2._5 == 1000000L)
  }

  test("prefixFilterContainment: asymmetric semantics on a hand case") {
    import spark.implicits._
    // A's bigrams {a b, b c} are fully inside B's {a b, b c, c d, d e}:
    // C(A⊆B) = 1 → emitted; C(B⊆A) = 2/4 = 0.5 < 0.8 → not emitted;
    // the unrelated doc pairs with nobody
    val d = Seq((1L, "a b c"), (2L, "a b c d e"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixFilterContainment(
        Dedup.wordBigrams(d, "doc_id", "text"), 0.8)
      .as[(Long, Long, Long)].collect().toList
    assert(got == List((1L, 2L, 1000000L)))
    // at t = 0.5 the reverse direction qualifies too (2/4 = 0.5)
    val both = Dedup.prefixFilterContainment(
        Dedup.wordBigrams(d, "doc_id", "text"), 0.5)
      .orderBy(col("id_sub")).as[(Long, Long, Long)].collect().toList
    assert(both == List((1L, 2L, 1000000L), (2L, 1L, 500000L)))
  }

  test("prefixFilterContainmentCapped ≡ exact when the cap doesn't bind; bounded when it does") {
    import spark.implicits._
    val sets = Dedup.wordBigrams(docs, "doc_id", "text")
    // cap above the corpus max df — byte-identical to the exact form
    val maxDf = sets.groupBy(col("sh")).count()
      .agg(max(col("count"))).as[Long].head()
    val exact = Dedup.prefixFilterContainment(sets, 0.5)
      .collect().map(_.toSeq).toSet
    val unbound = Dedup.prefixFilterContainmentCapped(sets, 0.5, maxDf)
      .collect().map(_.toSeq).toSet
    assert(unbound == exact && exact.nonEmpty)
  }

  test("prefixFilterContainmentCapped ⊆ exact: original-|A| denominator is a conservative lower bound") {
    import spark.implicits._
    // HOT df 5, HOTB/HOTC df 3 — all above cap 2, dropped everywhere;
    // r1 (df 2) and r9 (df 2) survive. t = 0.5.
    val hand = Seq(
      (1L, "r1"), (1L, "HOT"),
      (2L, "r1"), (2L, "r2"), (2L, "HOT"),
      (3L, "r3"), (3L, "HOT"), (3L, "HOTB"), (3L, "HOTC"),
      (4L, "r4"), (4L, "HOT"), (4L, "HOTB"), (4L, "HOTC"),
      (5L, "r9"), (5L, "HOT"), (5L, "HOTB"), (5L, "HOTC"),
      (6L, "r9"), (6L, "z1")).toDF("id", "sh")
    val capped = Dedup.prefixFilterContainmentCapped(hand, 0.5, 2L)
      .as[(Long, Long, Long)].collect().toSet
    // (1→2): capped inter {r1} = 1 over ORIGINAL |A1| = 2 → 0.5, kept
    //   (exact score is 1.0 — lower bound, never higher);
    // (6→5): doc 5 has plen ≤ 0 (orig 4, capped 1, o_min 2) so it
    //   can't be a SUB, but it MUST stay eligible as SUP;
    // (5→6): the r12 regression — old |A′| denominator gave
    //   1/1 = 1.0 (an extra pair; true containment is 1/4 = 0.25);
    //   the original-|A| denominator keeps it out.
    assert(capped == Set((1L, 2L, 500000L), (6L, 5L, 500000L)))
    val exactPairs = Dedup.prefixFilterContainment(hand, 0.5)
      .as[(Long, Long, Long)].collect().toSet
    // capped pair set ⊆ exact pair set, and per-pair fx never higher
    assert(capped.map(p => (p._1, p._2)).subsetOf(exactPairs.map(p => (p._1, p._2))))
    val exactFx = exactPairs.map(p => (p._1, p._2) -> p._3).toMap
    capped.foreach { case (a, b, fx) => assert(fx <= exactFx((a, b))) }
    // the boilerplate fan-out the cap bounds: exact pairs doc 1 with
    // every HOT-sharing doc, capped does not
    assert(Set((1L, 3L), (1L, 4L), (1L, 5L))
      .subsetOf(exactPairs.map(p => (p._1, p._2))))
  }

  test("containmentDfCap: fixed-point ceil of a corpus fraction; ByFrac ≡ Capped at the derived cap") {
    import spark.implicits._
    // fixed-point, NOT double ceil: ceil(0.02 * 600) through doubles is
    // 13 (0.02*600 = 12.000000000000002); the integer-div form gives 12
    // — and a SQL oracle restating `(n*20000+999999)//1000000` agrees
    val n600 = spark.range(600).select(col("id"), lit("x").as("sh"))
    assert(Dedup.containmentDfCap(n600, 0.02) == 12L)
    val n601 = spark.range(601).select(col("id"), lit("x").as("sh"))
    assert(Dedup.containmentDfCap(n601, 0.02) == 13L) // genuine ceil step
    assert(Dedup.containmentDfCap(n600.limit(3), 0.5) == 2L)
    assert(Dedup.containmentDfCap(n600.limit(1), 0.001) == 1L) // floor at 1
    // the frac form is exactly the fixed-cap operator at the derived cap
    val sets = Dedup.wordBigrams(docs, "doc_id", "text")
    val cap = Dedup.containmentDfCap(sets, 0.02)
    val byFrac = Dedup.prefixFilterContainmentByFrac(sets, 0.5, 0.02)
      .collect().map(_.toSeq).toSet
    val fixed = Dedup.prefixFilterContainmentCapped(sets, 0.5, cap)
      .collect().map(_.toSeq).toSet
    assert(byFrac == fixed)
    // and at a binding fraction it stays a subset of the exact form
    val exact = Dedup.prefixFilterContainment(sets, 0.5)
      .select(col("id_sub"), col("id_sup")).as[(Long, Long)].collect().toSet
    assert(byFrac.map(p => (p.head.asInstanceOf[Long], p(1).asInstanceOf[Long]))
      .subsetOf(exact))
  }

  test("prefixFilterContainment ≡ naive all-ordered-pairs on the corpus (zero pruning loss)") {
    val sets = Dedup.wordBigrams(docs, "doc_id", "text")
    val naive = sets.as("a").join(sets.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_sub"), col("b.id").as("id_sup"))
      .agg(count(lit(1)).as("inter"))
      .join(sets.groupBy(col("id").as("id_sub")).agg(count(lit(1)).as("sz")), "id_sub")
      .withColumn("containment_fx", expr("(inter * 1000000) div sz"))
      .filter(col("containment_fx") >= 500000L)
      .select(col("id_sub"), col("id_sup"), col("containment_fx"))
    val pruned = Dedup.prefixFilterContainment(sets, 0.5)
    assert(naive.collect().map(_.toSeq).toSet ==
      pruned.collect().map(_.toSeq).toSet)
    assert(pruned.count() > 0)
  }

  test("clusterSilhouette: a sole centroid scores every vector 1.0, not null") {
    import spark.implicits._
    // seedStep > max id → only id 0 seeds a centroid, so no second-
    // nearest exists (c2 null); the round-11 guard defines that as
    // maximal routing confidence instead of a null silhouette
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.1f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.clusterSilhouette(e, "vec_id", "embedding", seedStep = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    assert(got == List((0L, 3L, 1000000L, 1000000L, 1000000L)))
  }
}
