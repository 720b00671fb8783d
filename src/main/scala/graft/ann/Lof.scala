package graft.ann

import graft.functions.Portable.{dsum, r6}
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local Outlier Factor over an embedding column — the density-aware
  * outlier score for vector corpora ("is this point alone, RELATIVE to
  * how alone its neighbors are"), the screen that catches embedding-space
  * junk (mis-encoded docs, collapsed all-zero vectors, off-manifold
  * modality mixups) that a global norm/centroid report
  * ([[Embeddings.healthReport]]) averages away. LOF ≈ 1: as dense as its
  * neighborhood; LOF ≫ 1: an outlier.
  *
  * Definition (Breunig et al. 2000, with one pinned deviation): each
  * point's k nearest neighbors by Euclidean distance, ties broken by
  * neighbor id and the neighbor set truncated at exactly k (the classic
  * definition keeps ALL points at the k-th distance; float distances
  * make ties measure-zero and the truncation keeps every frame exactly
  * n×k and the result deterministic — the deviation only matters on
  * hand-crafted equidistant inputs). k-distance = distance to the k-th
  * neighbor; reach-dist(p←o) = max(k-dist(o), d(p,o));
  * lrd(p) = 1/mean_o reach-dist(p←o); LOF(p) = mean_o lrd(o)/lrd(p).
  *
  * Scale shape: the kNN stage is the exact all-pairs scan through the
  * bounded-heap [[graft.functions.TopKByScore]] (map-side k-bounded —
  * the shuffle carries k rows per partition×query, never the n² score
  * set), the same discipline as [[Similarity.bruteForceTopK]]; at 100 TB
  * swap the candidate generation to the IVF/multi-probe cell join
  * ([[Similarity.bucketedTopK]]) — every stage downstream of the kNN
  * frame is already n×k-bounded: two joins against the node-sized
  * k-dist/lrd frames and two n-keyed aggregates. Distances come from the
  * codegen'd [[graft.functions.SqDist]] (strict left-to-right fold, so
  * the doubles are bit-identical in any engine); reach-dist and
  * lrd-ratio terms are r6-rounded before their DECIMAL(38,6) mean sums,
  * making both reductions order-free.
  *
  * Degenerate case: ≥ k exact duplicates make a neighborhood's mean
  * reach-dist 0 (infinite classic lrd); those rows emit NULL lrd/lof
  * rather than an unportable infinity — duplicates are [[graft.dedup]]'s
  * job, not an outlier score's.
  */
object Lof {

  /** (id, k_dist, lrd, lof) per vector; requires n > k distinct points.
    * Output doubles are UNROUNDED (callers round for display).
    */
  def lof(
      vectors: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dist = sqrt(graft.functions.GraftFunctions.sqDist(
      col(s"q.$vecCol"), col(s"c.$vecCol")))
    val scored = vectors.as("c")
      .join(broadcast(vectors.as("q")), col(s"c.$idCol") =!= col(s"q.$idCol"))
      .select(
        col(s"q.$idCol").cast("long").as("id"),
        col(s"c.$idCol").cast("long").as("nb"),
        dist.as("__d"))
    lofFromScored(scored, k, enforceK = false)
  }

  /** The 100 TB path: LOF over a PRECOMPUTED candidate-neighbor frame
    * instead of the all-pairs scan — plug in
    * [[Similarity.bucketedTopK]] / [[Similarity.multiProbeTopK]] (or any
    * blocked candidate generator) and the quadratic stage disappears;
    * everything downstream was always n×k-bounded. `candidates` needs
    * columns (`id`, `nb`) naming candidate neighbor ids per point
    * (extra columns ignored; self-pairs and duplicate pairs are
    * dropped). Distances are recomputed here with the same codegen'd
    * [[graft.functions.SqDist]], so WHEN the candidate set contains the
    * true k nearest of every point, the result is bit-identical to
    * [[lof]] (the parity contract in LofSpec).
    *
    * A point with FEWER than k candidates would silently score against
    * a smaller neighborhood (a different statistic, biased toward 1) —
    * that raises at runtime instead: widen the probe radius or fall
    * back to [[lof]].
    */
  def lofWithCandidates(
      vectors: DataFrame,
      k: Int,
      candidates: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      pairsDistinct: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = vectors.select(col(idCol).cast("long").as("__vid"), col(vecCol).as("__vec"))
    val pairs0 = candidates
      .select(col("id").cast("long").as("id"), col("nb").cast("long").as("nb"))
      .filter(col("id") =!= col("nb"))
    // multi-probe generators may emit a pair once per shared cell; a
    // duplicate pair would crowd the k-heap with copies of one neighbor.
    // `pairsDistinct = true` skips the dedup shuffle for generators that
    // guarantee uniqueness ([[selfProbeCandidates]]: XOR masks are
    // pairwise distinct, so each (id, nb) shares at most one probe cell)
    val pairs = if (pairsDistinct) pairs0 else pairs0.distinct()
    val scored = pairs
      .join(v.select(col("__vid").as("id"), col("__vec").as("__vq")), "id")
      .join(v.select(col("__vid").as("nb"), col("__vec").as("__vc")), "nb")
      .select(col("id"), col("nb"),
        sqrt(graft.functions.GraftFunctions.sqDist(col("__vq"), col("__vc"))).as("__d"))
    lofFromScored(scored, k, enforceK = true)
  }

  /** FUSED self-kNN LOF — [[selfProbeCandidates]] ∘ [[lofWithCandidates]]
    * with the candidate PAIR FRAME eliminated: both sides of the cell
    * join carry their vectors, the distance evaluates inside the join's
    * projection, and the rows stream straight into the bounded top-k
    * partial aggregate — the (nBits+1)·n^1.5 pairs exist only inside
    * one whole-stage-codegen pipeline and NEVER hit the shuffle layer
    * or disk. The unfused composition materializes the pair frame and
    * then sort-merge-joins it back to the vector table twice; at 200k
    * vectors (nBits=9, ~8·10^8 pairs) that is a multi-hundred-GB sort
    * spill — measured ENOSPC on the round-10 bench node — while this
    * shape's exchanges carry only the probe and corpus frames
    * (corpus·(radius+1) rows). Same pairs, same distances, bit-identical
    * output (the LofSpec parity contract).
    *
    * The cell join is hinted shuffle_hash: both sides partition by
    * `__cell` (a handful of vectors per cell under the [[sizedBits]]
    * rule — the build map stays small), and sorting 10^8-row join
    * OUTPUT, which is what a sort-merge plan would do, is exactly the
    * spill this method exists to avoid.
    */
  def selfProbeLof(
      vectors: DataFrame,
      k: Int,
      nBits: Int = 7,
      probeRadius: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val corpus = vectors.select(
      col(idCol).cast("long").as("nb"),
      col(vecCol).as("__vc"),
      Similarity.signBitCell(col(vecCol), nBits).as("__cell"))
    val masks = Similarity.probeMasks(nBits, probeRadius)
    val probes = vectors
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("__vq"),
        Similarity.signBitCell(col(vecCol), nBits).as("__qc"))
      .select(col("id"), col("__vq"),
        explode(array(masks.map(m => col("__qc").bitwiseXOR(lit(m))): _*)).as("__cell"))
    val scored = probes
      .join(corpus.hint("shuffle_hash"), Seq("__cell"))
      .filter(col("id") =!= col("nb"))
      .select(col("id"), col("nb"),
        sqrt(graft.functions.GraftFunctions.sqDist(col("__vq"), col("__vc"))).as("__d"))
    lofFromScored(scored, k, enforceK = true)
  }

  /** The IVF sizing rule as a function: 2^nBits ≈ √n, floored so tiny
    * corpora keep enough cells for the probe ring to mean something and
    * capped at 16 (65k cells — past that the probe fan-out, nBits+1
    * cells per point, costs more than the cell shrink saves at any n
    * this library targets). Pairs scale as (nBits+1)·n^1.5 under this
    * rule; a FIXED nBits degrades to n²/2^nBits as the corpus grows —
    * the round-10 sf10 measurements of q_lof_scalable use exactly this
    * sizing (nBits 7 up to ~8k vectors, 8 at 20k, 9 at 200k).
    */
  def sizedBits(n: Long, floor: Int = 7, cap: Int = 16): Int = {
    require(floor >= 1 && cap >= floor, s"need 1 <= floor <= cap, got $floor..$cap")
    val bits = math.ceil(
      math.log(math.sqrt(math.max(1L, n).toDouble)) / math.log(2.0)).toInt
    math.min(cap, math.max(floor, bits))
  }

  /** Self-kNN candidate pairs for [[lofWithCandidates]]: every vector
    * probes its own sign-bit cell plus the cells one sign-flip away
    * (radius ≤ 2 via [[Similarity.probeMasks]]) and pairs with every
    * corpus vector bucketed there — the multi-probe LSH blocking scheme,
    * emitted as a plain (id, nb) pair frame.
    *
    * Unlike [[Similarity.multiProbeTopK]] (which broadcasts the QUERY
    * side — right when queries are a small frame, wrong when queries ==
    * corpus), this is a SHUFFLE hash join keyed on the probe cell: both
    * sides partition by `__cell`, so the pair stage scales with
    * Σ_cells probes·|cell|² ≈ (probes/2^nBits)·n² and never broadcasts
    * anything. With 2^nBits ≈ √n (the IVF sizing rule) and radius 1
    * that is ~(nBits+1)·n^1.5 pairs — the 100 TB shape. Pairs are
    * unique by construction (XOR masks are pairwise distinct and each
    * corpus vector lives in exactly one cell), so pass
    * `pairsDistinct = true` downstream and skip the dedup shuffle.
    */
  def selfProbeCandidates(
      vectors: DataFrame,
      nBits: Int = 7,
      probeRadius: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val corpus = vectors.select(
      col(idCol).cast("long").as("nb"),
      Similarity.signBitCell(col(vecCol), nBits).as("__cell"))
    val masks = Similarity.probeMasks(nBits, probeRadius)
    val probes = vectors
      .select(col(idCol).cast("long").as("id"),
        Similarity.signBitCell(col(vecCol), nBits).as("__qc"))
      .select(col("id"),
        explode(array(masks.map(m => col("__qc").bitwiseXOR(lit(m))): _*)).as("__cell"))
    probes.join(corpus, Seq("__cell"))
      .filter(col("id") =!= col("nb"))
      .select(col("id"), col("nb"))
  }

  /** Shared tail: bounded-heap kNN over a (id, nb, __d) candidate score
    * frame, then the n×k-bounded k-dist/lrd/lof joins. `enforceK` makes
    * an under-populated neighborhood (fewer than k scored candidates
    * for some point) a loud error — only the candidate path can produce
    * one; the all-pairs scan always has n−1 ≥ k by precondition.
    */
  private def lofFromScored(scored: DataFrame, k: Int, enforceK: Boolean): DataFrame = {
    // top-k by NEGATED distance: the bounded heap keeps score DESC with
    // id ASC ties == distance ASC with id ASC ties
    val topCol = graft.functions.TopKByScore.topK(-col("__d"), col("nb"), k).as("top")
    val topped = scored.groupBy("id").agg(topCol)
    val guarded =
      if (!enforceK) topped
      else topped.withColumn("top",
        when(size(col("top")) >= k, col("top"))
          .otherwise(raise_error(concat(
            lit(s"lofWithCandidates: fewer than k=$k candidates for point "),
            col("id"),
            lit(" — LOF over a truncated neighborhood is a different statistic; " +
              "widen the candidate generator (probe radius) or use lof()")))))
    val knn = guarded
      .select(col("id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("id"), col("e.id").as("nb"), (-col("e.score")).as("d"),
        col("pos").cast("long").as("pos"))
      .pin(false) // consumed by k-dist, the reach join, and the lof join
    val kdist = knn.filter(col("pos") === (k - 1).toLong)
      .select(col("id").as("nb"), col("d").as("__kd_nb"))
    def dmean(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (dsum(r6(e)) /
        count(lit(1)).cast("double"))
    val lrd = knn
      .join(kdist, "nb") // node-sized k-dist frame
      .groupBy("id")
      .agg(dmean(greatest(col("__kd_nb"), col("d"))).as("__mr"))
      .select(col("id"),
        when(col("__mr") > 0.0, lit(1.0) / col("__mr")).as("lrd"))
      .pin(false) // consumed by both sides of the ratio join
    // a neighbor with NULL lrd (its own neighborhood is a >= k duplicate
    // family) contributes no ratio term: dividing by count(*) would
    // silently bias LOF low for points ADJACENT to duplicate families,
    // so any NULL neighbor lrd propagates NULL lof instead — the same
    // NULL-on-degenerate contract as lrd itself
    val ratio = col("__lrd_nb") / col("lrd")
    knn
      .join(lrd.select(col("id").as("nb"), col("lrd").as("__lrd_nb")), "nb")
      .join(lrd, "id")
      .groupBy(col("id"), col("lrd"))
      .agg(
        dsum(r6(ratio)).as("__sr"),
        count(ratio).as("__cn"),
        count(lit(1)).as("__ct"))
      .join(kdist.select(col("nb").as("id"), col("__kd_nb").as("k_dist")), "id")
      .select(col("id"), col("k_dist"), col("lrd"),
        when(col("lrd").isNotNull && col("__cn") === col("__ct"),
          col("__sr") / col("__cn").cast("double")).as("lof"))
  }
}
