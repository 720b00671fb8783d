package graft.operators

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decision-stump (1R) feature screen — for each candidate feature, the
  * single best binary split "x ≤ t" against a boolean label, scored by
  * Gini impurity reduction. The honest first question before anyone
  * trains a model on a labeled corpus: "which features carry signal at
  * all, and where is the cut" — the non-parametric companion to
  * [[Woe]]'s information value (WOE assumes binned categories; the
  * stump FINDS the threshold).
  *
  * Candidate thresholds are the `bins` equal-width bin edges between
  * the feature's min and max (fixed binning, not quantile, so the
  * threshold grid is a pure closed form of (min, max) and the whole
  * screen stays one corpus pass + bounded frames — a quantile grid
  * would cost a percentile pass per feature for little gain at these
  * bin counts). For each edge: gain = Gini(parent) −
  * [n_L·Gini(L) + n_R·Gini(R)]/n. Edges with an empty side carry no
  * split and are skipped; a constant feature (max = min) has no valid
  * edge and is absent from the output — visible, not a fake 0-gain row.
  *
  * Spark shape: ONE melt pass over the data (features exploded
  * row-locally), a feature-sized bounds frame broadcast back, one
  * map-side-combined groupBy to the (feature × bins) cell frame, then
  * cumulative/argmax windows PARTITIONED by feature over that bounded
  * frame. Gain is r6-pinned BEFORE the argmax so the winning edge is
  * engine-independent (ties break toward the smaller threshold).
  *
  * Output: one row per feature with a valid split — (feature,
  * threshold, n_left, n_right, gini_parent, gini_split, gain).
  */
object Stump {

  def bestSplits(
      data: DataFrame,
      label: Column,
      features: Seq[(String, Column)],
      bins: Int = 16): DataFrame = {
    require(features.nonEmpty, "bestSplits needs at least one feature")
    require(bins >= 2 && bins <= 4096, s"bins must be in [2, 4096], got $bins")
    val melted = data.select(
      label.cast("boolean").cast("int").as("__y"),
      explode(array(features.map { case (n, c) =>
        struct(lit(n).as("f"), c.cast("double").as("x"))
      }: _*)).as("__fx"))
      .select(col("__y"), col("__fx.f").as("__f"), col("__fx.x").as("__x"))
      .filter(col("__x").isNotNull)
    val bounds = melted
      .groupBy(col("__f"))
      .agg(
        min(col("__x")).as("__lo"), max(col("__x")).as("__hi"),
        count(lit(1)).as("__n"), sum(col("__y")).as("__npos"))
      .filter(col("__hi") > col("__lo"))
      .withColumn("__w", (col("__hi") - col("__lo")) / lit(bins.toDouble))
    val cells = melted
      .join(broadcast(bounds), Seq("__f"))
      .withColumn("__bin",
        least(floor((col("__x") - col("__lo")) / col("__w")).cast("int"), lit(bins - 1)))
      .groupBy(col("__f"), col("__bin"))
      .agg(count(lit(1)).as("__cn"), sum(col("__y")).as("__cpos"))
    val byBin = Window.partitionBy(col("__f")).orderBy(col("__bin"))
    val cum = byBin.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def gini(pos: Column, n: Column): Column = {
      val p = pos.cast("double") / n.cast("double")
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    val splits = cells
      .withColumn("__nl", sum(col("__cn")).over(cum))
      .withColumn("__posl", sum(col("__cpos")).over(cum))
      .join(broadcast(bounds.select(col("__f"), col("__lo"), col("__w"),
        col("__n"), col("__npos"))), Seq("__f"))
      .filter(col("__nl") > 0 && col("__nl") < col("__n")) // both sides non-empty
      .withColumn("threshold",
        col("__lo") + col("__w") * (col("__bin") + lit(1)).cast("double"))
      .withColumn("__gp", gini(col("__npos"), col("__n")))
      .withColumn("__gs",
        (col("__nl").cast("double") * gini(col("__posl"), col("__nl")) +
          (col("__n") - col("__nl")).cast("double") *
            gini(col("__npos") - col("__posl"), col("__n") - col("__nl"))) /
          col("__n").cast("double"))
      .withColumn("gain", r6(col("__gp") - col("__gs")))
    val best = Window.partitionBy(col("__f"))
      .orderBy(col("gain").desc, col("threshold").asc)
    splits
      .withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(
        col("__f").as("feature"), r6(col("threshold")).as("threshold"),
        col("__nl").as("n_left"), (col("__n") - col("__nl")).as("n_right"),
        r6(col("__gp")).as("gini_parent"), r6(col("__gs")).as("gini_split"),
        col("gain"))
  }
}
