package graft.ann

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and a coarse-quantized (IVF-style)
  * variant as the scale path.
  *
  * Dot products use `aggregate(zip_with(...))` — pure Catalyst
  * expressions, codegen-friendly, summed strictly left-to-right so results
  * are bit-deterministic (same value in any engine that folds the list in
  * order).
  */
object Similarity {

  /** Strict left-to-right dot product of two float/double array columns.
    * Backed by the native codegen'd [[graft.functions.DotProduct]]
    * expression (bit-identical to the composable
    * `aggregate(zip_with(...))` form, ~an order of magnitude faster in the
    * ANN inner loop).
    */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors of each query vector against the corpus.
    *
    * The query set is small by construction → broadcast; each corpus
    * partition scores its rows against all queries. Ranking runs through
    * the bounded-heap [[graft.functions.TopKByScore]] aggregate, which
    * partial-aggregates map-side: every partition reduces to ≤ k
    * candidates per query BEFORE the exchange, so the shuffle carries
    * k rows per (partition × query) instead of the full corpus×queries
    * score set (a window row_number would shuffle everything).
    *
    * Output: (query_id, neighbor_id, rank, cosine) with self-matches
    * excluded and rank ties broken by neighbor id.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val scored = corpus.as("c")
      .join(broadcast(queries.as("q")), col(s"c.$idCol") =!= col(s"q.$idCol"))
      .select(
        col(s"q.$idCol").as("query_id"),
        col(s"c.$idCol").as("neighbor_id"),
        cosine(col(s"q.$vecCol"), col(s"c.$vecCol")).as("cos")
      )
    topKFromScores(scored, k)
  }

  /** Hard-negative mining: per query, the top-k corpus vectors whose
    * cosine falls in [`lo`, `hi`) — similar enough to be confusable,
    * dissimilar enough to be true negatives. The contrastive-training
    * companion to [[bruteForceTopK]] (whose top ranks are dominated by
    * near-duplicates — exactly the rows a triplet loss must NOT see as
    * negatives).
    *
    * Same execution shape as the exact search: broadcast queries, scores
    * computed scan-side, and the band predicate applied BEFORE the
    * bounded-heap aggregate — out-of-band rows never reach the exchange,
    * so a tight band costs a fraction of a full top-k. Queries with no
    * in-band neighbor emit no rows (an empty candidate set is the
    * signal to widen the band, not a NULL row).
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      lo: Double,
      hi: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(lo < hi, s"band [$lo, $hi) is empty")
    val scored = corpus.as("c")
      .join(broadcast(queries.as("q")), col(s"c.$idCol") =!= col(s"q.$idCol"))
      .select(
        col(s"q.$idCol").as("query_id"),
        col(s"c.$idCol").as("neighbor_id"),
        cosine(col(s"q.$vecCol"), col(s"c.$vecCol")).as("cos")
      )
      .filter(col("cos") >= lo && col("cos") < hi)
    topKFromScores(scored, k)
  }

  /** Shared ranking tail: scored (query_id, neighbor_id, cos) → per-query
    * top-k rows via the map-side-bounded aggregate.
    */
  private[ann] def topKFromScores(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.topK(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("query_id"),
        col("entry.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        r6(col("entry.score")).as("cosine")
      )

  /** Portable coarse-quantization cell: bit d set iff vec[d] > 0 —
    * one-bit-per-dimension sign quantization over the first `nBits`
    * dimensions. Well balanced when dimensions are roughly zero-centered,
    * deterministic in ANY engine (no transcendental functions), so it's
    * the cell used by the oracle-verified queries.
    */
  def signBitCell(vec: Column, nBits: Int = 8): Column =
    (0 until nBits)
      .map(d => when(element_at(vec, d + 1) > 0, lit(1L << d)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** IVF/LSH-bucketed approximate top-k: corpus and queries are assigned
    * coarse cells; each query searches only corpus vectors in the same
    * cell. Trades recall for a shuffle keyed on cells instead of a full
    * scan per query — the 100 TB path. Output schema matches
    * [[bruteForceTopK]].
    */
  def bucketedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      cell: Column => Column = signBitCell(_, 8),
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val cCell = corpus.withColumn("__cell", cell(col(vecCol)))
    val qCell = queries.withColumn("__cell", cell(col(vecCol)))
    val scored = cCell.as("c")
      .join(broadcast(qCell.as("q")),
        col("c.__cell") === col("q.__cell") && col(s"c.$idCol") =!= col(s"q.$idCol"))
      .select(
        col(s"q.$idCol").as("query_id"),
        col(s"c.$idCol").as("neighbor_id"),
        cosine(col(s"q.$vecCol"), col(s"c.$vecCol")).as("cos")
      )
    topKFromScores(scored, k)
  }

  /** XOR masks reaching every cell within hamming distance `radius` of a
    * query's own cell (radius 0 = just the cell, 1 = +single-bit flips,
    * 2 = +bit-pair flips). Distinct by construction.
    */
  def probeMasks(nBits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 2, s"probe radius $radius not in [0,2]")
    val r0 = Seq(0L)
    val r1 = if (radius >= 1) (0 until nBits).map(1L << _) else Nil
    val r2 =
      if (radius >= 2)
        for { i <- 0 until nBits; j <- (i + 1) until nBits }
          yield (1L << i) | (1L << j)
      else Nil
    r0 ++ r1 ++ r2
  }

  /** Multi-probe variant of [[bucketedTopK]]: each query searches its own
    * sign-bit cell PLUS every cell within hamming distance `probeRadius`
    * (sign bits flipped) — the standard multi-probe LSH recall fix for
    * vectors near a quantization border, where the true neighbors sit
    * across the hyperplane. Radius 1 costs nBits+1 probes per query,
    * radius 2 adds nBits·(nBits−1)/2 more; the corpus side is still
    * bucketed once and never duplicated. Probe cells are pairwise
    * distinct, so each (query, corpus) pair scores at most once — no
    * dedup needed before ranking. Size cells so 2^nBits ≈ √|corpus| for
    * the usual IVF probe/recall balance.
    */
  def multiProbeTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nBits: Int = 8,
      probeRadius: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val cCell = corpus.withColumn("__cell", signBitCell(col(vecCol), nBits))
    val masks = array(probeMasks(nBits, probeRadius).map(lit): _*)
    val qProbes = queries
      .withColumn("__qcell", signBitCell(col(vecCol), nBits))
      .withColumn("__cell", explode(transform(masks, m => col("__qcell").bitwiseXOR(m))))
    val scored = cCell.as("c")
      .join(broadcast(qProbes.as("q")),
        col("c.__cell") === col("q.__cell") && col(s"c.$idCol") =!= col(s"q.$idCol"))
      .select(
        col(s"q.$idCol").as("query_id"),
        col(s"c.$idCol").as("neighbor_id"),
        cosine(col(s"q.$vecCol"), col(s"c.$vecCol")).as("cos")
      )
    topKFromScores(scored, k)
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, bucketed by
    * coarse cell so candidate generation never goes all-pairs (exact
    * within a cell; probabilistic recall across cells, standard LSH
    * trade). Pass `cell = None` for exact all-pairs (test scale only).
    *
    * Single-pass like the id-only dedup pipelines: each cell's (id,
    * vector) members are gathered with a bounded in-group collect
    * ([[graft.functions.BoundedCollectVectors]]) and pairs explode
    * in-bucket — no cell self-join (which would evaluate the corpus
    * twice) and no O(cell²) blowup: cells larger than `maxCellSize` are
    * dropped whole (a cell should hold ~√N vectors by the nBits sizing
    * rule; one vastly over-sized cell means degenerate embeddings).
    * Buffer memory per cell ≤ maxCellSize × dim × 4 B.
    */
  def embeddingNearDupPairs(
      vectors: DataFrame,
      threshold: Double,
      cell: Option[Column => Column] = Some(signBitCell(_, 8)),
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCellSize: Int = 10000
  ): DataFrame = cell match {
    case None =>
      // exact all-pairs (test scale only): a bounded single-group collect
      // would silently drop EVERYTHING past the cap — a plain self-join
      // keeps the exact contract at any size
      vectors.as("a")
        .join(vectors.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
        .select(
          col(s"a.$idCol").as("id_a"),
          col(s"b.$idCol").as("id_b"),
          r6(cosine(col(s"a.$vecCol"), col(s"b.$vecCol"))).as("cosine")
        )
        .filter(col("cosine") >= threshold)
    case Some(f) =>
      val cells = vectors
        .withColumn("__cell", f(col(vecCol)))
        .groupBy("__cell")
        .agg(graft.functions.BoundedCollectVectors
          .boundedCollectVectors(col(idCol), col(vecCol), maxCellSize).as("items"))
        .filter(col("items").isNotNull && size(col("items")) >= 2)
      // streaming pair generator: O(cell) working memory (the one-shot
      // pair array is a memory cliff with vector payloads), zero per-pair
      // slice/struct allocation (see Pairs.pairs)
      graft.functions.Pairs.pairs(cells, col("items"), "a", "b")
        .select(
          col("a.id").as("id_a"),
          col("b.id").as("id_b"),
          r6(cosine(col("a.vec"), col("b.vec"))).as("cosine")
        )
        .filter(col("cosine") >= threshold)
  }
}
