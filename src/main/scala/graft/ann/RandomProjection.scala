package graft.ann

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection — data-INDEPENDENT
  * dimensionality reduction (vs [[Pca]]'s data-dependent axes): k
  * Rademacher hyperplanes scaled by 1/√k preserve pairwise distances
  * in expectation, with no training pass, no drift between corpus
  * versions, and bit-reproducible columns (the [[Srp]] md5 plane
  * derivation — SRP keeps only the SIGN of each projection; JL keeps
  * the value). The honest half is [[distortionReport]]: JL is a
  * guarantee about RANDOM data, so the measured distortion on YOUR
  * pairs is the number that says whether k was enough.
  */
object RandomProjection {

  /** The projected k-vector: component p = dot(vec, plane_p)/√k. A pure
    * per-row projection (k codegen'd dot products), zero shuffle.
    */
  def project(vec: Column, k: Int, dim: Int, seed: String = "jl"): Column = {
    require(k >= 1 && k <= 256, s"k must be in [1, 256], got $k")
    val scale = 1.0 / math.sqrt(k.toDouble)
    array(Srp.planes(k, dim, seed).toSeq.map { pl =>
      graft.functions.GraftFunctions.dotProduct(vec, typedLit(pl)) * lit(scale)
    }: _*)
  }

  /** Measured pairwise-distance distortion of [[project]] over the
    * vectors with id < `maxId` (a BOUNDED probe frame — the q_ann_topk
    * registration contract; ~maxId²/2 pairs, each 2(k+1) dot products):
    * ratio = ‖Pa − Pb‖ / ‖a − b‖ per pair, reported as one row of
    * (n_pairs, ratio_mean, ratio_min, ratio_max). A mean far from 1 or
    * a wide band means k is too small for THIS corpus's geometry —
    * measured, not hoped, before anything downstream trusts the
    * projected space. Identical-vector pairs (zero distance) drop,
    * counted.
    *
    * Output ONE row: (n_pairs, n_zero_dist, ratio_mean, ratio_min,
    * ratio_max).
    */
  def distortionReport(
      vectors: DataFrame,
      k: Int,
      dim: Int,
      maxId: Long,
      seed: String = "jl",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(maxId >= 2 && maxId <= 128,
      s"maxId must be in [2, 128], got $maxId — the probe frame is maxId² pairs")
    val probe = vectors
      .filter(col(idCol) < maxId)
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
    val planes = Srp.planes(k, dim, seed).toSeq
    val pairs = probe.as("a")
      .join(probe.as("b"), col("a.id") < col("b.id")) // bounded probe frame
    val projSq = planes.map { pl =>
      val d = graft.functions.GraftFunctions.dotProduct(col("a.__v"), typedLit(pl)) -
        graft.functions.GraftFunctions.dotProduct(col("b.__v"), typedLit(pl))
      d * d
    }.reduce(_ + _) / lit(k.toDouble)
    val origSq = graft.functions.GraftFunctions.sqDist(col("a.__v"), col("b.__v"))
    val scored = pairs.select(
      origSq.as("__o"),
      projSq.as("__p"))
    scored.agg(
      count(when(col("__o") > 0.0, lit(1))).as("n_pairs"),
      count(when(col("__o") === 0.0, lit(1))).as("n_zero_dist"),
      r6(dsum(when(col("__o") > 0.0, r6(sqrt(col("__p") / col("__o"))))
        .otherwise(lit(0.0))) /
        count(when(col("__o") > 0.0, lit(1))).cast("double")).as("ratio_mean"),
      r6(min(when(col("__o") > 0.0, sqrt(col("__p") / col("__o"))))).as("ratio_min"),
      r6(max(when(col("__o") > 0.0, sqrt(col("__p") / col("__o"))))).as("ratio_max"))
  }
}
