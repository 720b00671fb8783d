package graft.ann

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Signed-random-projection (SRP) LSH for COSINE similarity — the
  * hyperplane-hashing complement to the Jaccard-oriented MinHash family
  * (Charikar 2002, "Similarity estimation techniques from rounding
  * algorithms"). The reference has no ANN surface at all; this extends
  * graft's LLM-pipeline side alongside [[Similarity.embeddingNearDupPairs]]
  * (whose sign-bit cells are axis-ALIGNED — SRP's random hyperplanes make
  * the buckets rotation-invariant, so recall does not depend on which
  * coordinates happen to carry the signal).
  *
  * Determinism: hyperplanes are Rademacher vectors (components ±1) derived
  * from the parity of md5Hash32("srp:plane:dim") — fixed public constants
  * any engine re-derives from md5, like [[graft.dedup.Dedup.MinhashParams]].
  * P(sign agrees) = 1 − θ/π, so banded signatures bucket high-cosine pairs
  * with the usual LSH S-curve.
  */
object Srp {

  /** ±1 by parity of the first-8-hex-chars-of-md5 hash of "srp:p:d" —
    * the same value `CAST(concat('0x', substr(md5(...),1,8)) AS BIGINT) % 2`
    * yields in DuckDB.
    */
  def planeSign(p: Int, d: Int, seed: String = ""): Float = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val tag = if (seed.isEmpty) s"srp:$p:$d" else s"srp:$seed:$p:$d"
    val dig = md.digest(tag.getBytes("UTF-8"))
    val h = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
    if (h % 2 == 0) 1.0f else -1.0f
  }

  /** The deterministic hyperplane matrix (nPlanes × dim). Tiny (KBs) —
    * ships to executors as literals inside the plan, no broadcast needed.
    */
  def planes(nPlanes: Int, dim: Int, seed: String = ""): Array[Array[Float]] =
    Array.tabulate(nPlanes, dim)((p, d) => planeSign(p, d, seed))

  /** Per-row SRP bit signature: element p is 1 iff dot(vec, plane_p) >= 0.
    * A pure projection over the codegen'd [[graft.functions.DotProduct]] —
    * zero shuffle to produce, like every signature stage in this repo.
    */
  def srpSignatureCols(vec: Column, nPlanes: Int, dim: Int, seed: String = ""): Seq[Column] =
    planes(nPlanes, dim, seed).toSeq.zipWithIndex.map { case (pl, p) =>
      when(graft.functions.GraftFunctions.dotProduct(vec, typedLit(pl)) >= 0.0, lit(1))
        .otherwise(lit(0)).as(s"minhash_$p")
    }

  /** SRP-LSH near-duplicate pairs: bit signatures → `numBands` band
    * buckets (REUSING [[graft.dedup.Dedup.minhashCandidatePairs]]'s
    * bounded-bucket machinery: one groupBy on (band, md5-of-band-bits),
    * bounded in-bucket collect, combination explosion — never a
    * self-join, degenerate buckets dropped whole) → exact cosine verify
    * on the candidate pairs only. The verify joins the candidate set
    * (victim-sized) back to the vector table twice by id — two
    * broadcast-able equi-joins, no vector payload through the band
    * shuffle.
    */
  def srpLshPairs(
      vectors: DataFrame,
      threshold: Double,
      nPlanes: Int = 16,
      numBands: Int = 4,
      dim: Int = 64,
      maxBucketSize: Int = 1000,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: String = ""
  ): DataFrame = {
    val sigs = vectors.select(
      col(idCol).as("id") +: srpSignatureCols(col(vecCol), nPlanes, dim, seed): _*)
    val cand = graft.dedup.Dedup.minhashCandidatePairs(sigs, nPlanes, numBands, maxBucketSize)
    cand
      .join(vectors.select(col(idCol).as("id_a"), col(vecCol).as("__va")), "id_a")
      .join(vectors.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        r6(Similarity.cosine(col("__va"), col("__vb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Capture–recapture estimate of the TRUE near-duplicate pair count —
    * the scale-native answer to "how many near-dups is our LSH pass
    * MISSING?": run [[srpLshPairs]] twice with INDEPENDENT hyperplane
    * seeds, treat each verified pair set as a "capture", and apply the
    * Chapman estimator N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with its standard
    * error — the wildlife-census trick, pointed at a pair population
    * nobody can afford to enumerate exactly. recall_a = n₁/N̂ is then
    * the measured recall of a single pass, not a hoped-for one.
    *
    * Honesty note: SRP captures are independent only CONDITIONAL on a
    * pair's cosine; high-cosine pairs are easier for BOTH passes, and
    * that heterogeneity biases N̂ LOW — so N̂ is a lower bound on the
    * missed mass and recall_a an upper bound on true recall
    * (documented, the standard capture-recapture caveat).
    *
    * Cost: the corpus is scanned ONCE — the (id, vector) frame pins
    * up front and BOTH seeds' sign bits evaluate in a single
    * projection over the pinned copy (2·nPlanes dot products per row,
    * one pass); only the per-seed band/bucket machinery and the
    * verify joins — all reading the pinned frame — run twice, which
    * is the method (two independent captures). The dominant cost is
    * the bucket machinery itself, and THAT is driven by the near-dup
    * pair population (quadratic in cluster density), not corpus rows —
    * measured: 10× vectors grew the estimated pair population 98× and
    * wall time 5.4× (SURVEY §4 "Capture–recapture work growth",
    * which also records the stage breakdown). Size bands to the
    * corpus via `nPlanes`/`numBands` (bits/band ≈ log₂(n/targetBucket))
    * when auditing bigger corpora; 4-bit bands saturate ≈20k clustered
    * vectors.
    *
    * Output ONE row: (n_a, n_b, n_both, n_est, se_est, recall_a,
    * recall_b) — estimate NULL when either pass catches nothing.
    */
  def captureRecapture(
      vectors: DataFrame,
      threshold: Double,
      seedA: String,
      seedB: String,
      nPlanes: Int = 16,
      numBands: Int = 4,
      dim: Int = 64,
      maxBucketSize: Int = 1000,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(seedA != seedB, "the two passes need independent hyperplane seeds")
    import graft.plans.Materialize.PinOps
    val pinned = vectors.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .pin(false) // both seeded projections + all 4 verify joins read it
    def seedBits(seed: String, tag: String): Seq[Column] =
      planes(nPlanes, dim, seed).toSeq.zipWithIndex.map { case (pl, p) =>
        when(graft.functions.GraftFunctions.dotProduct(
          col("__v"), typedLit(pl)) >= 0.0, lit(1))
          .otherwise(lit(0)).as(s"__${tag}_$p")
      }
    val sigsBoth = pinned.select(
      col("id") +: (seedBits(seedA, "a") ++ seedBits(seedB, "b")): _*)
      .pin(false) // one corpus projection feeds both band passes
    def pass(tag: String, flag: String): DataFrame = {
      val sigs = sigsBoth.select(
        col("id") +:
          (0 until nPlanes).map(p => col(s"__${tag}_$p").as(s"minhash_$p")): _*)
      graft.dedup.Dedup.minhashCandidatePairs(sigs, nPlanes, numBands, maxBucketSize)
        .join(pinned.select(col("id").as("id_a"), col("__v").as("__va")), "id_a")
        .join(pinned.select(col("id").as("id_b"), col("__v").as("__vb")), "id_b")
        .select(col("id_a"), col("id_b"),
          r6(Similarity.cosine(col("__va"), col("__vb"))).as("cosine"))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), lit(1).as(flag))
    }
    val joined = pass("a", "__ina")
      .join(pass("b", "__inb"), Seq("id_a", "id_b"), "full")
    val n1 = count(col("__ina")).cast("double")
    val n2 = count(col("__inb")).cast("double")
    val m = count(when(col("__ina").isNotNull && col("__inb").isNotNull, lit(1)))
      .cast("double")
    val nEst = (n1 + lit(1.0)) * (n2 + lit(1.0)) / (m + lit(1.0)) - lit(1.0)
    val varEst = (n1 + lit(1.0)) * (n2 + lit(1.0)) * (n1 - m) * (n2 - m) /
      ((m + lit(1.0)) * (m + lit(1.0)) * (m + lit(2.0)))
    joined.agg(
      count(col("__ina")).as("n_a"),
      count(col("__inb")).as("n_b"),
      count(when(col("__ina").isNotNull && col("__inb").isNotNull, lit(1))).as("n_both"),
      when(n1 > 0 && n2 > 0, r6(nEst)).as("n_est"),
      when(n1 > 0 && n2 > 0, r6(sqrt(greatest(lit(0.0), varEst)))).as("se_est"),
      when(n1 > 0 && n2 > 0 && nEst > 0, r6(n1 / nEst)).as("recall_a"),
      when(n1 > 0 && n2 > 0 && nEst > 0, r6(n2 / nEst)).as("recall_b"))
  }
}
