package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Empirical-Bayes beta-binomial shrinkage of per-group rates — the
  * standard fix for "this customer has 1/1 = 100% urgent orders"
  * small-sample noise when ranking groups by a rate (CTR smoothing,
  * per-domain spam rates, per-source defect rates). The prior
  * Beta(α, β) is fitted from the DATA by method of moments on the
  * group-level raw rates: with m = mean(p_g) and v = var(p_g)
  * (sample variance, G−1), the prior strength is
  * k = α+β = m(1−m)/v − 1, α = m·k; each group's posterior-mean rate
  * is then (x_g + α)/(n_g + k) — groups with little evidence shrink
  * toward the global mean, well-observed groups keep their own rate.
  *
  * Degenerate moments fail SOFT and VISIBLY: v = 0 (all groups agree),
  * v ≥ m(1−m) (over-dispersed beyond any beta prior, k ≤ 0), or G < 2
  * emit the RAW rate as `shrunk_rate` with NULL α/β — no arbitrary
  * pseudo-counts invented, and the NULL prior columns flag that no
  * shrinkage happened.
  *
  * Cross-engine determinism: raw rates and their squares are r6-pinned
  * before the DECIMAL(38,6) moment sums; α, k, and the posterior rate
  * are r6-pinned, so the fit is partitioning- and engine-independent.
  *
  * Spark shape: ONE map-side-combined groupBy builds the group frame
  * (x, n); the moment fit is a one-row aggregate over it that
  * broadcasts back — the raw data is scanned once, the group frame
  * twice, nothing shuffles twice.
  *
  * Reference analog: none (training-data pipeline extension — rate
  * de-noising before quota/selection decisions).
  */
object Shrinkage {

  /** Per group: (group, x, n, raw_rate, shrunk_rate, eb_alpha, eb_beta).
    * `successCol` is evaluated per ROW as a boolean.
    */
  def ebBetaBinomial(
      data: DataFrame,
      groupCol: String,
      successCol: Column): DataFrame = {
    val groups = data
      .groupBy(col(groupCol).as("group"))
      .agg(
        count(when(successCol, lit(1))).as("x"),
        count(lit(1)).as("n"))
      .withColumn("raw_rate", r6(col("x").cast("double") / col("n").cast("double")))
    val g = count(lit(1)).cast("double")
    val moments = groups.agg(
      count(lit(1)).as("__g"),
      (dsum(col("raw_rate")) / g).as("__m"),
      // sample variance via the sum-of-squares identity on r6-pinned rates
      when(count(lit(1)) > 1,
        (dsum(r6(col("raw_rate") * col("raw_rate"))) -
          dsum(col("raw_rate")) * dsum(col("raw_rate")) / g) / (g - lit(1.0)))
        .as("__v"))
    val prior = moments.select(
      col("__g"),
      when(col("__v") > 0 && col("__m") * (lit(1.0) - col("__m")) > col("__v"),
        r6(col("__m") * (lit(1.0) - col("__m")) / col("__v") - lit(1.0)))
        .as("__k"),
      col("__m"))
    groups
      .crossJoin(broadcast(prior)) // one-row prior frame: lint-exempt
      .withColumn("eb_alpha", when(col("__k") > 0, r6(col("__m") * col("__k"))))
      .withColumn("eb_beta",
        when(col("__k") > 0, r6((lit(1.0) - col("__m")) * col("__k"))))
      .withColumn("shrunk_rate",
        when(col("eb_alpha").isNotNull,
          r6((col("x").cast("double") + col("eb_alpha")) /
            (col("n").cast("double") + col("eb_alpha") + col("eb_beta"))))
          .otherwise(col("raw_rate")))
      .select(col("group"), col("x"), col("n"), col("raw_rate"),
        col("shrunk_rate"), col("eb_alpha"), col("eb_beta"))
  }
}
