package graft.ann

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Clustering-quality diagnostics over a centroid set — the "is this
  * IVF/k-means index any good" pre-flight before trusting cluster
  * assignments for ANN partitioning, SemDeDup cells, or stratified
  * sampling. Two standard scores, both centroid-based so they run at
  * corpus scale (the classic pairwise silhouette is O(n²); its
  * simplified variant and Davies–Bouldin need only point→centroid and
  * centroid→centroid distances):
  *
  *   - simplified silhouette per cluster: s = (d₂ − d₁)/max(d₁, d₂)
  *     averaged over members, where d₁/d₂ are each point's nearest and
  *     second-nearest centroid distances (d₁ IS the assignment, so
  *     s ∈ [0, 1] here; near 0 = the point sits on a boundary);
  *   - Davies–Bouldin per cluster: max_{j≠i} (S_i + S_j)/M_ij with
  *     S = mean member distance and M = centroid separation (lower is
  *     better; > 1 = the two clusters overlap more than they separate).
  *
  * Scale shape: ONE corpus pass computes every point's two nearest
  * centroids through the bounded-heap [[graft.functions.TopKByScore]]
  * (k = 2, map-side bounded — no n×k materialization, no shuffle of
  * scored rows beyond 2/partition/point) against the k-row broadcast
  * centroid frame; everything downstream is cluster-sized. Distances
  * are Euclidean (√ of the codegen'd [[graft.functions.SqDist]]);
  * member terms are r6-rounded before DECIMAL means so cluster
  * aggregates are reduction-order-free.
  */
object ClusterQuality {

  /** Per-point two nearest centroids: (id, cid, d1, d2). */
  private def nearestTwo(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val dist = sqrt(graft.functions.GraftFunctions.sqDist(
      col(vecCol).cast("array<double>"), col("centroid")))
    vectors
      .crossJoin(broadcast(centroids)) // k-row centroid frame: bounded by contract
      .select(col(idCol).cast("long").as("id"), col("cid"), dist.as("__d"))
      .groupBy("id")
      .agg(graft.functions.TopKByScore.topK(-col("__d"), col("cid"), 2).as("t"))
      .select(col("id"),
        col("t")(0)("id").as("cid"),
        (-col("t")(0)("score")).as("d1"),
        (-col("t")(1)("score")).as("d2"))
  }

  private def dmean(e: Column): Column =
    dsum(r6(e)) /
      count(lit(1)).cast("double")

  /** Per-cluster simplified silhouette: (cid, n, mean_d1, mean_sil).
    * Points equidistant from two centroids score 0; a degenerate point
    * with d₂ = 0 (coincides with two centroids) likewise.
    */
  def silhouette(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val t = nearestTwo(vectors, centroids, idCol, vecCol)
    val s = when(col("d2") > 0.0, (col("d2") - col("d1")) / col("d2")).otherwise(lit(0.0))
    t.groupBy("cid")
      .agg(
        count(lit(1)).as("n"),
        dmean(col("d1")).as("mean_d1"),
        dmean(s).as("mean_sil"))
  }

  /** Per-cluster Davies–Bouldin ratio: (cid, n, s_c, db) where
    * db = max_{j≠i} (S_i + S_j)/M_ij. Clusters with no members get no
    * row (an empty IVF cell has no scatter to score); with a single
    * cluster there is no j ≠ i and db is NULL.
    */
  def daviesBouldin(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val t = nearestTwo(vectors, centroids, idCol, vecCol)
    val scatter = t.groupBy("cid")
      .agg(count(lit(1)).as("n"), dmean(col("d1")).as("s_c"))
    val sep = centroids.as("a")
      .join(broadcast(centroids.as("b")), col("a.cid") =!= col("b.cid"))
      .select(
        col("a.cid").as("cid"), col("b.cid").as("cj"),
        sqrt(graft.functions.GraftFunctions.sqDist(
          col("a.centroid"), col("b.centroid"))).as("__m"))
    scatter.as("si")
      .join(sep, Seq("cid"), "left")
      .join(scatter.select(col("cid").as("cj"), col("s_c").as("__sj")), Seq("cj"), "left")
      .groupBy(col("cid"), col("n"), col("s_c"))
      .agg(max(when(col("__m") > 0.0 && col("__sj").isNotNull,
        (col("s_c") + col("__sj")) / col("__m"))).as("db"))
  }
}
