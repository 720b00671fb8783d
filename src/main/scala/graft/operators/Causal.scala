package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Instrumental-variable estimation — the causal family's answer when
  * treatment is self-selected AND unconfoundedness is not defensible
  * (where [[Logistic.ipwAte]]/[[Logistic.aipwAte]] stop): a binary
  * instrument that shifts treatment but touches the outcome only
  * through it identifies the Local Average Treatment Effect.
  */
object Causal {

  /** Wald / 2SLS estimate with a binary instrument, per group:
    * LATE = (E[y|z=1] − E[y|z=0]) / (E[t|z=1] − E[t|z=0]), plus the
    * first-stage compliance gap and its strength z-statistic (a weak
    * instrument — |z| ≲ 3, the F≈10 rule of thumb — makes the ratio
    * explode; the column is the warning light, and a ZERO compliance
    * gap yields NULL, not ±∞).
    *
    * ONE corpus aggregate to the group frame: counts and DECIMAL sums
    * of y by instrument arm, t-rates by arm — every downstream double
    * is the same IEEE sequence in any engine. Output per group:
    * (by…, n, n_z1, n_z0, t_rate_z1, t_rate_z0, first_stage,
    * first_stage_z, itt, late).
    */
  def ivWald(
      df: DataFrame,
      byCols: Seq[String],
      instrument: Column,
      treated: Column,
      outcomeCol: String): DataFrame = {
    val y = col(outcomeCol).cast("double")
    val g = df
      .filter(y.isNotNull && !isnan(y))
      .select((byCols.map(col) ++ Seq(
        instrument.as("__z"), treated.as("__t"), y.as("__y"))): _*)
      .groupBy(byCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        count(when(col("__z"), lit(1))).as("n_z1"),
        count(when(!col("__z"), lit(1))).as("n_z0"),
        count(when(col("__z") && col("__t"), lit(1))).as("__t1"),
        count(when(!col("__z") && col("__t"), lit(1))).as("__t0"),
        dsum(when(col("__z"), r6(col("__y"))).otherwise(lit(0.0))).as("__sy1"),
        dsum(when(!col("__z"), r6(col("__y"))).otherwise(lit(0.0))).as("__sy0"))
    val n1 = col("n_z1").cast("double")
    val n0 = col("n_z0").cast("double")
    val p1 = col("__t1").cast("double") / n1
    val p0 = col("__t0").cast("double") / n0
    val fs = when(col("n_z1") > 0 && col("n_z0") > 0, p1 - p0)
    val pp = (col("__t1") + col("__t0")).cast("double") / (n1 + n0)
    val fsZ = when(col("n_z1") > 0 && col("n_z0") > 0 && pp > 0 && pp < 1,
      (p1 - p0) / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n0)))
    val itt = when(col("n_z1") > 0 && col("n_z0") > 0,
      col("__sy1") / n1 - col("__sy0") / n0)
    g.select((byCols.map(col) ++ Seq(
      col("n"), col("n_z1"), col("n_z0"),
      r6(when(col("n_z1") > 0, p1)).as("t_rate_z1"),
      r6(when(col("n_z0") > 0, p0)).as("t_rate_z0"),
      r6(fs).as("first_stage"),
      r6(fsZ).as("first_stage_z"),
      r6(itt).as("itt"),
      when(fs.isNotNull && fs =!= 0.0, r6(itt / fs)).as("late"))): _*)
  }
}
