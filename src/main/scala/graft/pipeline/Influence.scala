package graft.pipeline

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Leave-one-group-out influence on a corpus-level mean metric — the
  * first-order data-valuation question for a mixed corpus: "if source
  * X vanished, would the corpus quality metric go up or down, and by
  * how much?" Positive delta = the corpus improves without the group
  * (the group is a drag); the ranking orders cut candidates before
  * anyone re-trains anything.
  *
  * The leave-one-out mean is the delete-one-block closed form
  * (S−s_g)/(N−n_g) ([[Splits.kFoldGroupMeanCv]] / Jackknife trick) —
  * one groupBy plus a one-row totals broadcast, the corpus scanned
  * once, never |groups| times. Metric sums are r6-pinned before
  * DECIMAL reductions. A group that IS the whole corpus has no
  * leave-out mean: NULL loo_mean/delta, never a 0/0.
  *
  * Output: one row per group — (group, n, group_mean, corpus_mean,
  * loo_mean, delta).
  */
object Influence {

  def leaveOneOutMean(
      df: DataFrame,
      groupCol: String,
      metric: Column): DataFrame = {
    val m = metric.cast("double")
    val groups = df
      .filter(m.isNotNull && !isnan(m))
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"), dsum(r6(m)).as("__s"))
    // distinct-modulo-case names: resolution is case-insensitive
    val totals = groups.agg(
      sum(col("n")).as("__totn"),
      coalesce(dsum(col("__s")), lit(0.0)).as("__tots"))
    groups
      .crossJoin(broadcast(totals)) // one-row totals frame: lint-exempt
      .withColumn("group_mean", r6(col("__s") / col("n").cast("double")))
      .withColumn("corpus_mean", r6(col("__tots") / col("__totn").cast("double")))
      .withColumn("loo_mean",
        when(col("__totn") > col("n"),
          r6((col("__tots") - col("__s")) / (col("__totn") - col("n")).cast("double"))))
      .withColumn("delta",
        when(col("loo_mean").isNotNull, r6(col("loo_mean") - col("corpus_mean"))))
      .select(col("group"), col("n"), col("group_mean"), col("corpus_mean"),
        col("loo_mean"), col("delta"))
  }
}
