package graft.operators

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The library-wide quantile path switch — every percentile-fitting
  * operator ([[Outliers.winsorize]], [[Outliers.robustScale]],
  * [[Outliers.madOutliers]], [[Profile.quantileSummary]]) resolves its
  * quantile aggregate here.
  *
  * `exact = true` is `percentile` — R-7 linear interpolation, the same
  * definition as DuckDB's `quantile_cont`, so results are cross-engine
  * verifiable; it holds each group's full sorted value set, fine for
  * vocabulary-sized groups at oracle scale. With
  * `spark.graft.approxQuantiles=true` set on the session, even
  * exact-requesting call sites flip to `percentile_approx` — one cluster
  * conf line switches the whole library to the one-pass mergeable sketch
  * (same pattern as [[graft.plans.Materialize]]'s checkpoint switch), the
  * right path at 100 TB where exact percentiles would spill every group.
  *
  * Sketch error contract (asserted by ApproxQuantileParitySpec): the
  * returned value's RANK is within `n / accuracy` of the target rank, so
  * the approx quantile at p always lies within the exact quantiles at
  * p ± 1.5/accuracy (the 1.5 covers interpolation between neighbors), and
  * any clamp/flag decision differs from the exact path only for rows whose
  * value falls between the two bounds — a ≤ ~4·1.5/accuracy fraction of
  * each group.
  */
object Quantiles {

  /** Session conf key: "true" forces the approx sketch everywhere. */
  val ApproxKey = "spark.graft.approxQuantiles"

  /** Sketch accuracy: rank error ≤ group size / accuracy. */
  val Accuracy = 10000

  /** The effective path for a call site requesting `exact`. */
  def resolveExact(spark: SparkSession, exact: Boolean): Boolean =
    exact && !spark.conf.getOption(ApproxKey).contains("true")

  /** Quantile aggregate over `v` at probe(s) `p` on the resolved path. */
  def q(v: Column, p: Column, exact: Boolean): Column =
    if (exact) percentile(v, p) else percentile_approx(v, p, lit(Accuracy))

  /** WEIGHTED quantiles per group — the gap between #96's row-counted
    * quantiles and reality when rows carry mass (token-weighted doc
    * lengths, spend-weighted latencies: "the median DOC is 400 chars"
    * vs "the median TOKEN lives in a 4,000-char doc" differ by 10×
    * exactly when it matters). Weighted type-1 definition: q(p) = the
    * smallest value whose cumulative weight reaches p·W.
    *
    * Shape: one cumulative-weight window per group over (value, weight)
    * rows (the [[graft.operators.Hypothesis.ksTest]] exchange — values
    * pre-aggregate per (group, value), so the window frame is
    * distinct-value-sized), then one conditional min per probe.
    * Weights must be non-negative; negative weights raise loudly.
    *
    * Output per (group, p): (by…, p, q, w_total).
    */
  def weightedQuantiles(
      df: org.apache.spark.sql.DataFrame,
      byCols: Seq[String],
      valueCol: String,
      weightCol: String,
      ps: Seq[Double]): org.apache.spark.sql.DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"probes must lie in (0, 1], got $ps")
    val by = byCols.map(col)
    val v = col(valueCol).cast("double")
    val w = col(weightCol).cast("double")
    val checked = when(w < 0.0,
      raise_error(lit("weightedQuantiles: negative weight — quantiles of " +
        "signed mass are undefined; clamp or split the sign upstream")))
      .otherwise(w)
    val perValue = df
      .filter(v.isNotNull && !isnan(v) && w.isNotNull && !isnan(w))
      .select((by :+ v.as("__v") :+ checked.as("__w")): _*)
      .groupBy((by :+ col("__v")): _*)
      .agg(sum(col("__w").cast("decimal(38,6)")).as("__wd"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(by: _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(by: _*)
    val cum = perValue
      .withColumn("__cw", sum(col("__wd")).over(wOrd).cast("double"))
      .withColumn("__tw", sum(col("__wd")).over(wAll).cast("double"))
    val probes = ps.map { p =>
      struct(lit(p).as("p"),
        min(when(col("__cw") >= lit(p) * col("__tw"), col("__v"))).as("q"))
    }
    cum
      .groupBy(by: _*)
      .agg(max(col("__tw")).as("__twx"), array(probes: _*).as("__ps"))
      .select((by :+ explode(col("__ps")).as("__e") :+ col("__twx")): _*)
      .select((by ++ Seq(col("__e.p").as("p"), col("__e.q").as("q"),
        r6(col("__twx")).as("w_total"))): _*)
  }
}
