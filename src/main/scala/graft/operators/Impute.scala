package graft.operators

import graft.functions.Portable.dsumIf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group mean imputation: fill NULL/NaN numeric values with the
  * group's mean over its VALID values — the last-resort fill a feature
  * pipeline applies after [[Rolling.forwardFill]] has no prior
  * observation to carry. Groups with no valid value at all stay NULL
  * (inventing a global constant is a policy, not a default).
  *
  * The per-group means are a vocabulary-sized aggregate (DECIMAL sums —
  * exact, partitioning-independent) that broadcasts back onto the fact
  * table: the facts are scanned once and never shuffle.
  */
object Impute {

  /** Replace invalid `valueCol` with the group mean; appends
    * `<valueCol>/imputed` (1 when filled, 0 otherwise — stays 0 for
    * rows left NULL because their group had no evidence).
    */
  def meanImpute(df: DataFrame, by: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val valid = v.isNotNull && !isnan(v)
    val means = df
      .groupBy(by.map(col): _*)
      .agg(
        count(when(valid, lit(1))).as("__n"),
        dsumIf(valid, v).as("__s"))
      .select((by.map(c => col(c).as(s"__k_$c")) :+
        when(col("__n") > 0, col("__s") / col("__n")).as("__mean")): _*)
    // null-SAFE key match: a NULL group is a real group with a real mean
    // (and the oracle's IS NOT DISTINCT FROM join agrees); a plain USING
    // join would silently leave NULL-group rows unimputed
    val cond = by.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
    df
      .join(broadcast(means), cond, "left")
      .withColumn(s"$valueCol/imputed",
        when(!valid && col("__mean").isNotNull, lit(1L)).otherwise(lit(0L)))
      .withColumn(valueCol, when(valid, col(valueCol)).otherwise(col("__mean")))
      .drop("__mean")
      .drop(by.map(c => s"__k_$c"): _*)
  }
}
