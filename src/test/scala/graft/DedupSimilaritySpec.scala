package graft

import graft.ann.Similarity
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the old river bank tonight"), // near-dup of 1
    (3L, "The quick brown fox jumps over the lazy dog near the old river bank today!"), // exact dup of 1 modulo case/punct
    (4L, "completely different content about distributed query engines and columnar storage formats"),
    (5L, "yet another unrelated document mentioning vectorized execution and shuffle exchanges")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/punctuation-normalized duplicates") {
    val out = Dedup.exact(corpus).collect()
    assert(out.length == 4) // docs 1 and 3 share a fingerprint
    val dup = out.filter(_.getLong(2) == 2)
    assert(dup.length == 1 && dup(0).getLong(1) == 1L) // canonical = min id
  }

  test("ngram Jaccard finds near-dup pairs above threshold only") {
    val pairs = Dedup.ngramJaccardPairs(corpus, threshold = 0.5, n = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // a strict threshold excludes the near-dups with differing last token
    val strict = Dedup.ngramJaccardPairs(corpus, threshold = 0.999, n = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(strict == Set((1L, 3L))) // only the exact-normalized pair survives
  }

  test("dropNearDuplicates keeps the min-id survivor of each duplicate cluster") {
    val out = Dedup.dropNearDuplicates(corpus, threshold = 0.5, n = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // docs 2 and 3 are near/exact dups of 1 -> only 1 survives; 4, 5 untouched
    assert(out == Seq(1L, 4L, 5L))
  }

  test("connectedComponents merges transitive chains to the min reachable id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    // both paths must agree: driver union-find (default: graph under the
    // cap) and the distributed propagation loop (forced via cap 0)
    for (cap <- Seq(1000000, 0)) {
      val labels = Dedup.connectedComponents(pairs, maxDriverEdges = cap)
        .as[(Long, Long)].collect().toMap
      // chain 1-2-3-4: diameter 3, needs multiple propagation rounds
      assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L), s"cap=$cap")
      assert(labels(10L) == 10L && labels(11L) == 10L, s"cap=$cap")
    }
  }

  test("dropNearDuplicatesClustered keeps one survivor per connected component") {
    val out = Dedup.dropNearDuplicatesClustered(corpus, threshold = 0.5, n = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 4L, 5L))
  }

  test("minhash signatures are equal for identical shingle sets and mostly differ otherwise") {
    val sigs = Dedup.minhashSignatures(corpus, numHashes = 8, n = 3).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    assert(sigs(1L) == sigs(3L)) // identical after normalization
    assert(sigs(1L) != sigs(4L))
  }

  test("minhash LSH candidates include true near-dups and exclude unrelated docs") {
    val sigs = Dedup.minhashSignatures(corpus, numHashes = 8, n = 3)
    val cands = Dedup.minhashCandidatePairs(sigs, numHashes = 8, numBands = 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 3L)))
    assert(!cands.contains((4L, 5L)))
  }

  test("simhash: identical docs share signatures; near-dups are close in hamming distance") {
    val sigs = Dedup.simhash(corpus, bits = 32).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(4L)))
  }

  test("simhash near-dup pairs via pigeonhole blocks match brute-force hamming") {
    // 1 and 2 differ once in each 4-bit block 0-7 (hamming 8) and 3 is 1's
    // complement: a ceil-width split at radius 8 leaves block 8 zero bits
    // wide, all three rows share it and the cap of 2 drops the pair
    val a = 0x5a3c96e1L
    val handBuilt = Seq(
      (1L, a), (2L, a ^ 0x11111111L), (3L, ~a & 0xffffffffL)).toDF("id", "simhash")
    val inputs = Seq(
      ("corpus", Dedup.simhash(corpus, bits = 32), 6, 1000),
      ("hand-built radius 8", handBuilt, 8, 2))
    for ((name, sigs, maxH, cap) <- inputs) {
      val viaBlocks = Dedup.simhashNearDupPairs(sigs, bits = 32, maxHamming = maxH, maxBucketSize = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val raw = sigs.collect().map(r => r.getLong(0) -> r.getLong(1))
      val brute = (for {
        (ia, sa) <- raw; (ib, sb) <- raw if ia < ib
        if java.lang.Long.bitCount(sa ^ sb) <= maxH
      } yield (ia, ib)).toSet
      assert(viaBlocks == brute, name)
    }
  }

  test("simhash near-dup pairs reject maxHamming too large for the bit width") {
    // maxHamming+1 blocks must each get >= 1 bit; with bits=4, maxHamming=4
    // the 5th block would get width 0 -> a degenerate all-rows bucket
    val sigs = Dedup.simhash(corpus, bits = 4)
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(sigs, bits = 4, maxHamming = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(sigs, bits = 32, maxHamming = -1)
    }
  }

  test("cosine/dot are exact on hand-computed vectors") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 2.0f, 0.0f)),
      (3L, Array(3.0f, 4.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = df.as("a").join(df.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => (a, b) -> c }.toMap
    assert(out((1L, 2L)) == 0.0)
    assert(math.abs(out((1L, 3L)) - 0.6) < 1e-12)
    assert(math.abs(out((2L, 3L)) - 0.8) < 1e-12)
  }

  test("bruteForceTopK returns k nearest by cosine, excluding self, rank-tiebroken by id") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.01f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    assert(out == Map(3L -> 1, 1L -> 2)) // 3 is closest to 0, then 1; self excluded
  }

  test("bucketedTopK searches only same-cell vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f)), (1L, Array(2.0f, 1.0f)),   // cell: both dims > 0
      (2L, Array(-1.0f, 1.0f))                            // different cell
    ).toDF("vec_id", "embedding")
    val out = Similarity.bucketedTopK(vecs, vecs.filter(col("vec_id") === 0), k = 5,
      cell = Similarity.signBitCell(_, 2))
    assert(out.select("neighbor_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("multiProbeTopK recall >= single-probe recall against brute force") {
    // 500 random 64-dim vectors: cells sized 2^4 ≈ sqrt(N) per the IVF rule
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 20)
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val exact = resultSet(Similarity.bruteForceTopK(e, q, k = 5))
    val single = resultSet(Similarity.bucketedTopK(e, q, k = 5, cell = Similarity.signBitCell(_, 4)))
    val multi1 = resultSet(Similarity.multiProbeTopK(e, q, k = 5, nBits = 4, probeRadius = 1))
    val multi2 = resultSet(Similarity.multiProbeTopK(e, q, k = 5, nBits = 4, probeRadius = 2))
    def recall(s: Set[(Long, Long)]): Double = (s intersect exact).size.toDouble / exact.size
    val (rSingle, r1, r2) = (recall(single), recall(multi1), recall(multi2))
    // widening the probe set strictly widens candidates, so recall is monotone
    assert(r1 >= rSingle, s"radius-1 recall $r1 < single-probe $rSingle")
    assert(r2 >= r1, s"radius-2 recall $r2 < radius-1 $r1")
    assert(r2 > 0.4, s"radius-2 recall unexpectedly low on sqrt(N)-sized cells: $r2")
    // every query still gets k rows (probes never drop a query's own cell)
    assert(multi1.groupBy(_._1).forall(_._2.size == 5))
  }

  test("probeMasks: distinct, correct counts, correct hamming weights") {
    val m1 = Similarity.probeMasks(8, 1)
    val m2 = Similarity.probeMasks(8, 2)
    assert(m1.size == 9 && m1.distinct.size == 9)
    assert(m2.size == 1 + 8 + 28 && m2.distinct.size == m2.size)
    assert(m2.forall(m => java.lang.Long.bitCount(m) <= 2))
  }

  test("embeddingNearDupPairs: over-cap cells are dropped whole, not exploded") {
    val vecs = (1L to 10L).map(i => (i, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    // all 10 identical vectors land in one cell; cap 5 -> poisoned -> no pairs
    val capped = graft.ann.Similarity.embeddingNearDupPairs(vecs, 0.5, maxCellSize = 5)
    assert(capped.count() == 0)
    val uncapped = graft.ann.Similarity.embeddingNearDupPairs(vecs, 0.5, maxCellSize = 100)
    assert(uncapped.count() == 45) // C(10,2)
  }

  test("keepBestPerCluster keeps the highest score per cluster; singletons survive") {
    import org.apache.spark.sql.functions.col
    val scored = Seq(
      (1L, 10L), (2L, 99L), (3L, 99L), // cluster A: 2 and 3 tie at 99 -> min id 2
      (9L, 1L) // no cluster
    ).toDF("id", "score")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "label")
    val out = Dedup.keepBestPerCluster(scored, clusters, "score")
      .select(col("cluster_id"), col("id"), col("score"))
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 99L), (9L, 9L, 1L)))
  }

  test("embeddingNearDupPairs: exact mode returns every pair regardless of corpus size cap") {
    val vecs = (1L to 30L).map(i => (i, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    // cell=None must NOT go through the bounded collect (a single poisoned
    // group would silently return zero pairs)
    val out = graft.ann.Similarity.embeddingNearDupPairs(vecs, 0.5, cell = None, maxCellSize = 5)
    assert(out.count() == 30L * 29 / 2)
  }

  test("embeddingNearDupPairs: exact mode finds all pairs above threshold") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.05f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.embeddingNearDupPairs(vecs, threshold = 0.9, cell = None)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("SRP planes are deterministic Rademacher vectors; LSH pairs scale-invariant dups") {
    import graft.ann.Srp
    val p1 = Srp.planes(4, 8)
    val p2 = Srp.planes(4, 8)
    assert(p1.flatten.toSeq == p2.flatten.toSeq)
    assert(p1.flatten.forall(v => v == 1.0f || v == -1.0f))
    // a mix of signs, not degenerate all-ones
    assert(p1.flatten.toSet == Set(1.0f, -1.0f))

    // deterministic 64-dim vectors: v2 = 2*v1 has the SAME signature
    // (sign(dot) is scale-invariant) and cosine exactly 1; v3 has ~half
    // its components flipped => low cosine, filtered even when bucketed
    val v1 = Array.tabulate(64)(d => ((d % 7) - 3).toFloat / 3.0f)
    val v2 = v1.map(_ * 2.0f)
    val v3 = Array.tabulate(64)(d => if (d % 2 == 0) v1(d) else -v1(d))
    val vecs = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val out = Srp.srpLshPairs(vecs, threshold = 0.5)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("duplicateSpans merges overlapping spans into islands, splits on gaps > w") {
    val spanCorpus = Seq(
      // grams at w=3: abc bcd cde def; abc+bcd are shared with doc 2 ->
      // one island [1, 4]
      (1L, "a b c d e f"),
      // shared abc(pos3) + bcd(pos4) -> island [3, 6]
      (2L, "x y a b c d z"),
      // nothing shared, absent from the output
      (3L, "p q r s t pu pv pw"),
      // internal repetition: every gram occurs >1x corpus-wide (within
      // ONE doc) -> island [1, 9], dup_frac 1.0
      (4L, "m n o m n o m n o"),
      // two shared spans (abc..., uvw) separated by a 7-position gap > w
      // -> TWO islands: [1,3] and [8,10]
      (5L, "a b c fa fb fc fd u v w"),
      (6L, "a b c ga gb gc gd ge u v w")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(spanCorpus, w = 3)
      .select("doc_id", "n_spans", "dup_tokens", "n_tokens", "dup_frac")
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(3L))
    assert(out(1L) == ((1L, 1L, 4L, 6L, 0.666667)))
    assert(out(2L) == ((2L, 1L, 4L, 7L, 0.571429)))
    assert(out(4L) == ((4L, 1L, 9L, 9L, 1.0)))
    assert(out(5L) == ((5L, 2L, 6L, 10L, 0.6)))
    assert(out(6L) == ((6L, 2L, 6L, 11L, 0.545455)))
  }

  test("relativeDocFreqCap scales with the corpus above its floor") {
    import graft.dedup.Dedup
    import spark.implicits._
    val small = (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    assert(Dedup.relativeDocFreqCap(small, frac = 0.002, floorCap = 50L) == 50L,
      "floor binds on small corpora")
    val big = (1 to 60000).map(i => (i.toLong, "t")).toDF("doc_id", "text")
    assert(Dedup.relativeDocFreqCap(big, frac = 0.002, floorCap = 50L) == 120L,
      "0.2% of 60k")
    // the relative cap feeds the same candidate pipeline unchanged
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r")
    ).toDF("doc_id", "text")
    val cap = Dedup.relativeDocFreqCap(docs, frac = 0.5, floorCap = 2L)
    val pairs = Dedup.ngramJaccardPairs(docs, 0.9, n = 3, maxDocFreq = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }
}
