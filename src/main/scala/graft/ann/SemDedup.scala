package graft.ann

import graft.functions.Portable.r6
import graft.plans.Materialize.PinOps
import graft.ann.Similarity.cosine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication (SemDeDup-style): cluster embeddings with a
  * coarse quantizer, then inside each cluster drop every vector whose
  * cosine similarity to a LOWER-id cluster-mate reaches the threshold —
  * the embedding-space answer to "these documents say the same thing in
  * different words", one level fuzzier than
  * [[Similarity.embeddingNearDupPairs]]'s near-identical pairs.
  *
  * Same greedy min-id survivor policy as the text dedups
  * ([[graft.dedup.Dedup.dropNearDuplicates]]): NOT connected-components
  * clustering — a vector survives iff no lower-id cluster-mate is within
  * the threshold, so long similarity chains can keep several
  * representatives. [[graft.dedup.Dedup.dropNearDuplicatesClustered]] is
  * the transitive-closure alternative when that matters.
  *
  * Scale shape: assignment is [[KMeans.assign]]'s broadcast-argmin (the
  * corpus never shuffles for it); pruning is ONE groupBy(cid) with a
  * bounded in-group vector collect and in-cluster pair explosion — no
  * cluster self-join, no all-pairs. Clusters larger than
  * `maxClusterSize` are dropped from PRUNING whole (their members all
  * survive): at proper k sizing (k ≈ √N) an over-cap cluster means a
  * degenerate embedding space, and silently keeping members beats
  * silently deleting them. Buffer per cluster ≤ maxClusterSize × dim ×
  * 8 B.
  */
object SemDedup {

  /** In-cluster victim ids: vectors with a lower-id cluster-mate at
    * cosine ≥ `threshold`. Round-6 cosine so the decision is
    * engine-portable (SURVEY §5).
    */
  def victims(
      assigned: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxClusterSize: Int = 10000
  ): DataFrame = {
    val clusters = assigned
      .groupBy("cid")
      .agg(graft.functions.BoundedCollectVectors
        .boundedCollectVectors(col(idCol), col(vecCol), maxClusterSize).as("items"))
      .filter(col("items").isNotNull && size(col("items")) >= 2)
    // streaming pair generator: O(cluster) working memory (the one-shot
    // pair array is a memory cliff with vector payloads), zero per-pair
    // slice/struct allocation (see Pairs.pairs)
    graft.functions.Pairs.pairs(clusters, col("items"), "a", "b")
      .filter(r6(cosine(col("a.vec"), col("b.vec"))) >= threshold)
      .select(col("b.id").as(idCol))
      .distinct()
  }

  /** Survivors of semantic dedup: (idCol, cid) for every vector with no
    * lower-id cluster-mate at cosine ≥ `threshold`. `centroids` is a
    * (cid, centroid) frame from [[KMeans.initCentroids]] / [[KMeans.fit]].
    */
  def semDedup(
      vectors: DataFrame,
      centroids: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxClusterSize: Int = 10000
  ): DataFrame = {
    // the assignment feeds both the pruning agg and the anti-join's left
    // side; materialize it ONCE (it is the same artifact an IVF build
    // persists) instead of re-running the broadcast-argmin per branch
    val assigned = KMeans.assign(vectors, centroids, idCol, vecCol).pin(true)
    assigned
      .join(victims(assigned, threshold, idCol, vecCol, maxClusterSize),
        Seq(idCol), "left_anti")
      .select(col(idCol), col("cid"))
  }
}
