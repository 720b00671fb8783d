package graft.operators

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Weight-of-evidence / information-value binning — the scorecard-style
  * "how predictive is this categorical feature of a binary outcome"
  * table (Siddiqi's credit-scoring WOE, the standard pre-model feature
  * screen). For a training-data pipeline this answers "does `source`
  * (or a length bucket, or a language) separate kept-vs-dropped docs"
  * before anyone trains a quality classifier on it — IV < 0.02 says the
  * column carries nothing, IV > 0.5 says it is suspiciously strong
  * (usually leakage).
  *
  * Per (feature, bin): WOE = ln( (g_b/G) / (b_b/B) ) with Laplace
  * `smoothing` added to each cell (zero cells stay finite), and the IV
  * contribution (g_b/G − b_b/B)·WOE; per feature the total
  * IV = Σ_bins contribution.
  *
  * Execution shape: ONE pass over the fact table — each feature's
  * per-bin good/bad cells come from a melt (posexplode of the feature
  * array, row-local) followed by a single map-side-combined groupBy on
  * (feature, bin); the per-feature totals re-aggregate from that
  * vocab-sized cell frame via a window (never a second fact scan). IV
  * terms are r6-pinned then DECIMAL-summed so the per-feature total is
  * partitioning-independent.
  */
object Woe {

  /** @param features categorical feature columns (cast to string; NULL
    *                 becomes its own "(null)" bin — missingness is
    *                 usually the most predictive bin in crawl data)
    * @param positive the binary outcome (NULL treated as false)
    * @param smoothing Laplace count added to each good/bad cell
    */
  def weightOfEvidence(
      df: DataFrame,
      features: Seq[String],
      positive: Column,
      smoothing: Double = 0.5): DataFrame = {
    require(features.nonEmpty, "weightOfEvidence needs at least one feature")
    require(features.distinct.size == features.size, "duplicate feature names")
    require(smoothing > 0, s"smoothing must be > 0 (zero cells must stay finite), got $smoothing")
    val isPos = coalesce(positive, lit(false))
    // melt: one row per (feature, bin) per input row — row-local, no shuffle
    val melted = df
      .withColumn("__pos", isPos)
      .select(
        explode(array(features.map(f => struct(
          lit(f).as("feature"),
          coalesce(col(f).cast("string"), lit("(null)")).as("bin"))): _*)).as("__m"),
        col("__pos"))
      .select(col("__m.feature").as("feature"), col("__m.bin").as("bin"), col("__pos"))
    val cells = melted
      .groupBy(col("feature"), col("bin"))
      .agg(
        count(when(col("__pos"), lit(1))).as("n_good"),
        count(when(!col("__pos"), lit(1))).as("n_bad"))
    val perFeature = Window.partitionBy(col("feature"))
    val g = col("n_good").cast("double") + lit(smoothing)
    val b = col("n_bad").cast("double") + lit(smoothing)
    // totals include the same per-cell smoothing so distributions sum to 1
    val totG = sum(g).over(perFeature)
    val totB = sum(b).over(perFeature)
    val withDist = cells
      .withColumn("__pg", g / totG)
      .withColumn("__pb", b / totB)
    val woe = log(col("__pg") / col("__pb"))
    val scored = withDist
      .withColumn("woe", r6(woe))
      .withColumn("iv_term", r6((col("__pg") - col("__pb")) * woe))
    scored
      .withColumn("iv",
        sum(col("iv_term").cast("decimal(38,6)")).over(perFeature).cast("double"))
      .select("feature", "bin", "n_good", "n_bad", "woe", "iv_term", "iv")
  }
}
