package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sharp regression discontinuity — the causal read on a THRESHOLD
  * rule: when treatment flips deterministically at a cutoff of a
  * running variable (quality score above τ enters the corpus, spend
  * above τ gets the perk), units just left/right of the cutoff are
  * exchangeable, so the jump in outcome AT the cutoff is the local
  * treatment effect. The estimator every threshold-tuning debate needs
  * before anyone declares "the filter works": fit one local line per
  * side within a bandwidth, read the two intercepts at the cutoff.
  */
object Discontinuity {

  /** Local-linear sharp RDD: rows with |running − cutoff| ≤ bandwidth,
    * sides split at running ≥ cutoff (boundary row = treated side, the
    * sharp-design convention), per-side closed-form OLS of outcome on
    * the CENTERED running variable. effect = intercept_right −
    * intercept_left (the limit gap at the cutoff).
    *
    * One conditional global aggregate — no groupBy, no join, one scan;
    * moment terms are r6-rounded then DECIMAL(38,6)-summed (order-free
    * cross-engine). A side with zero centered-running variance (all
    * mass AT one point) reports a NULL slope and the side mean as its
    * intercept — the OLS limit, visibly degenerate via the NULL.
    *
    * Output (one row): n_left, n_right, intercept_left, slope_left,
    * intercept_right, slope_right, effect.
    */
  def sharpRdd(
      df: DataFrame,
      runningCol: String,
      outcomeCol: String,
      cutoff: Double,
      bandwidth: Double): DataFrame = {
    require(bandwidth > 0, s"bandwidth must be positive, got $bandwidth")
    val x = col(runningCol).cast("double")
    val y = col(outcomeCol).cast("double")
    val u = x - lit(cutoff)
    val right = x >= cutoff
    val base = df.filter(x.isNotNull && y.isNotNull &&
      abs(x - lit(cutoff)) <= lit(bandwidth))
    def side(cond: Column, tag: String): Seq[Column] = Seq(
      count(when(cond, lit(1))).as(s"n_$tag"),
      dsum(when(cond, r6(u))).as(s"__su_$tag"),
      dsum(when(cond, r6(y))).as(s"__sy_$tag"),
      dsum(when(cond, r6(u * y))).as(s"__suy_$tag"),
      dsum(when(cond, r6(u * u))).as(s"__suu_$tag"))
    val g = base.agg(
      (side(!right, "left") ++ side(right, "right")).head,
      (side(!right, "left") ++ side(right, "right")).tail: _*)
    def fit(tag: String): (Column, Column) = {
      val n = col(s"n_$tag").cast("double")
      val su = coalesce(col(s"__su_$tag"), lit(0.0))
      val sy = coalesce(col(s"__sy_$tag"), lit(0.0))
      val suy = coalesce(col(s"__suy_$tag"), lit(0.0))
      val suu = coalesce(col(s"__suu_$tag"), lit(0.0))
      val denom = n * suu - su * su
      val slope = when(col(s"n_$tag") > 0 && denom > 0,
        (n * suy - su * sy) / denom)
      val intercept = when(col(s"n_$tag") > 0,
        when(denom > 0, (sy - ((n * suy - su * sy) / denom) * su) / n)
          .otherwise(sy / n))
      (r6(intercept), r6(slope))
    }
    val (il, sl) = fit("left")
    val (ir, sr) = fit("right")
    g.select(
      col("n_left"), col("n_right"),
      il.as("intercept_left"), sl.as("slope_left"),
      ir.as("intercept_right"), sr.as("slope_right"),
      when(il.isNotNull && ir.isNotNull, r6(ir - il)).as("effect"))
  }
}
