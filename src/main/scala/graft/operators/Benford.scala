package graft.operators

import graft.functions.Portable.r6
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benford's-law first-digit audit — the classic "does this numeric
  * column look organically generated" screen for fraud / synthetic-data
  * / unit-mixing detection: naturally occurring multi-scale magnitudes
  * put digit d first with probability log₁₀(1 + 1/d); capped prices,
  * spoofed metrics, and unit mismatches visibly don't.
  *
  * Per (group, digit 1..9): observed count and fraction, the Benford
  * expectation, and the group's total χ² distance. Values outside
  * [1, 10¹⁸) are excluded: below 1 the first significant digit needs
  * log10 (a 1-ulp cross-engine hazard at powers of ten), and at 2⁶³
  * the long cast behind the exact long→string digit path stops being
  * exact (Spark clamps to Long.MaxValue where other engines raise).
  * Inside that 18-decade band the digit is the exact integer
  * formatting — portable everywhere.
  *
  * Shape: ONE fact scan partial-aggregates to (group, digit) cells;
  * the full 9-digit grid is an `explode(sequence(...))` projection over
  * the distinct groups (zero-count digits still contribute expected
  * mass to χ²); totals and the χ² sum are windows over the cell frame
  * sharing one group-keyed exchange. χ² terms are r6-rounded and summed
  * in DECIMAL so the statistic is reduction-order-free.
  */
object Benford {

  /** (group..., digit, n, obs_frac, exp_frac, chi2) — `chi2` is the
    * group-level statistic Σ_d (o_d − e_d)²/e_d over counts (e_d =
    * total·log₁₀(1+1/d)), repeated on each of the group's 9 rows;
    * groups with no qualifying values are absent.
    */
  def firstDigitAudit(df: DataFrame, by: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    // first digit of the integer part, via the exact long->string path
    // (the upper bound keeps floor(v) inside long range — see class doc)
    val facts = df
      .filter(v.isNotNull && !isnan(v) && v >= 1.0 && v < 1e18)
      .select((by.map(col) :+ substring(floor(v).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit")): _*)
    // cells feeds BOTH the distinct-group grid and the left join — pin
    // it (lazy) per the multi-consumer convention so the fact scan +
    // partial aggregate cannot re-execute
    val cells = facts
      .groupBy((by.map(col) :+ col("digit")): _*)
      .agg(count(lit(1)).as("n0"))
      .pin(false)
    val grid = cells
      .select(by.map(col): _*)
      .distinct()
      .select((by.map(col) :+ explode(sequence(lit(1), lit(9))).as("digit")): _*)
    val full = grid
      .join(cells, by :+ "digit", "left")
      .withColumn("n", coalesce(col("n0"), lit(0L)))
      .drop("n0")
    val byG = Window.partitionBy(by.map(col): _*)
    val expFrac = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0))
    val withTot = full
      .withColumn("total", sum(col("n")).over(byG))
      .withColumn("exp_frac", expFrac)
    val e = col("exp_frac") * col("total").cast("double")
    val term = r6(
      (col("n").cast("double") - e) * (col("n").cast("double") - e) / e)
    withTot
      .withColumn("chi2",
        sum(term.cast("decimal(38,6)")).over(byG).cast("double"))
      .select((by.map(col) ++ Seq(
        col("digit"),
        col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("obs_frac"),
        col("exp_frac"),
        col("chi2"))): _*)
  }
}
