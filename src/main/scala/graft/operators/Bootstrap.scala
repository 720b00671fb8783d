package graft.operators

import graft.functions.Portable.dsum
import graft.text.TextFunctions.md5Hash32
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Poisson bootstrap: standard errors for per-group means over data too
  * large to resample classically. True bootstrap resampling draws n rows
  * from n with replacement — impossible distributed (it needs global
  * coordination per replica); the Poisson approximation gives every row
  * an INDEPENDENT Poisson(1) weight per replica, which preserves the
  * resampling distribution for large n and turns B replicas into one
  * explode + one aggregation — embarrassingly parallel, the standard
  * estimator for confidence intervals at this scale.
  *
  * Weights derive from the (seed, id, replica) md5 hash through the
  * Poisson(1) inverse CDF (a fixed CASE ladder — pure arithmetic, so
  * runs are reproducible across partitionings AND engines; no RNG
  * state). Replica means go through DECIMAL sums; the replica-variance
  * arithmetic is closed-form on those sums.
  *
  * Shape: facts explode ×B (B ~ tens) and partial-aggregate straight
  * down to (group × B) cells — the shuffle carries cells, not the
  * exploded facts; the final per-group reduce is over B-sized frames.
  */
object Bootstrap {

  /** Poisson(1) inverse-CDF cumulative thresholds for k = 0..6 (k = 7
    * absorbs the tail, P ≈ 8e-5): Σ_{j≤k} e⁻¹/j!.
    */
  private val PoissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119)

  private[graft] def poissonWeight(u: Column): Column =
    PoissonCdf.zipWithIndex.foldRight(lit(PoissonCdf.size.toLong)) {
      case ((c, k), rest) => when(u < c, lit(k.toLong)).otherwise(rest)
    }

  /** (by..., n, mean, se_boot): per-group valid-row count, plain mean,
    * and the bootstrap standard error of that mean from `replicas`
    * Poisson resamples (ddof-1 across replica means). Replicas that
    * draw zero total weight (vanishing probability for real groups)
    * are dropped from the variance. NULL/NaN rows are excluded.
    */
  def bootstrapMeanSE(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      idCol: String,
      replicas: Int = 32,
      seed: String = "graft"
  ): DataFrame = {
    require(replicas >= 2, s"need >= 2 replicas, got $replicas")
    val v = col(valueCol).cast("double")
    val u = (pmod(
      md5Hash32(concat_ws("|", lit(seed), col("__id").cast("string"), col("b"))),
      lit(1000000L)) + 0.5) / lit(1000000.0)

    val cells = df
      .filter(v.isNotNull && !isnan(v))
      .select((by.map(col) :+ v.as("__v") :+ col(idCol).as("__id")): _*)
      .select((by.map(col) :+ col("__v") :+ col("__id") :+
        explode(sequence(lit(0), lit(replicas - 1))).as("b")): _*)
      .withColumn("__w", poissonWeight(u))
      .groupBy((by.map(col) :+ col("b")): _*)
      .agg(
        dsum(col("__w") * col("__v")).as("__wx"),
        sum(col("__w")).as("__wn"),
        count(lit(1)).as("__rows"))
      .withColumn("__m", when(col("__wn") > 0, col("__wx") / col("__wn").cast("double")))

    cells
      .groupBy(by.map(col): _*)
      .agg(
        first(col("__rows")).as("n"),
        count(col("__m")).as("__bn"),
        sum(col("__m").cast("decimal(38,12)")).cast("double").as("__sm"),
        sum((col("__m") * col("__m")).cast("decimal(38,12)")).cast("double").as("__sm2"))
      .select((by.map(col) :+ col("n") :+
        (col("__sm") / col("__bn").cast("double")).as("mean_boot") :+
        when(col("__bn") > 1,
          sqrt(greatest(
            (col("__sm2") - col("__sm") * col("__sm") / col("__bn").cast("double")) /
              (col("__bn") - 1).cast("double"),
            lit(0.0)))).as("se_boot")): _*)
  }

  /** Poisson-bootstrap confidence band for the per-group MEDIAN — the
    * order statistic [[bootstrapMeanSE]]'s replica-variance algebra
    * cannot touch (a median has no closed-form SE; resampling is the
    * standard answer). Each replica's median is the weighted type-1
    * median under Poisson(1) integer weights — the 2·W_cum ≥ W_total
    * test stays EXACT integer arithmetic end to end — computed with
    * one cumulative window per (group × replica) over the
    * distinct-value frame ([[graft.operators.Quantiles.weightedQuantiles]]'s
    * machinery). The reported band is the TRIMMED replicate range
    * (2nd-smallest … 2nd-largest of `replicas` medians — at the
    * default 16 an ~88% band): honest for an order statistic where a
    * normal ±2σ would not be. Zero-total-weight replicas drop,
    * visibly (k_effective).
    *
    * Output per group: (by…, n, median_obs, boot_lo, boot_hi,
    * k_effective).
    */
  def bootstrapMedianCI(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      idCol: String,
      replicas: Int = 16,
      seed: String = "bm"
  ): DataFrame = {
    require(replicas >= 4 && replicas <= 64,
      s"replicas must be in [4, 64], got $replicas — the melt factor is B")
    val byCols = by.map(col)
    val v = col(valueCol).cast("double")
    val base = df
      .filter(v.isNotNull && !isnan(v))
      .select((byCols :+ v.as("__v") :+ col(idCol).cast("string").as("__id")): _*)
    // observed (unweighted) type-1 median: 2·rank ≥ n over distinct values
    val obsVal = base.groupBy((byCols :+ col("__v")): _*).agg(count(lit(1)).as("__c"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(byCols: _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(byCols: _*)
    val obs = obsVal
      .withColumn("__cw", sum(col("__c")).over(wOrd))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .groupBy(byCols: _*)
      .agg(first(col("__n")).as("n"),
        min(when(col("__cw") * 2 >= col("__n"), col("__v"))).as("median_obs"))
    // replica medians: Poisson weights, same exact-integer test
    val u = (pmod(
      md5Hash32(concat_ws("|", lit(seed), col("__id"), col("b").cast("string"))),
      lit(1000000L)).cast("double") + 0.5) / lit(1000000.0)
    val perVal = base
      .select((byCols :+ col("__v") :+ col("__id") :+
        explode(sequence(lit(0), lit(replicas - 1))).as("b")): _*)
      .withColumn("__w", poissonWeight(u))
      .groupBy((byCols :+ col("b") :+ col("__v")): _*)
      .agg(sum(col("__w")).as("__wd"))
    val wOrdB = org.apache.spark.sql.expressions.Window
      .partitionBy((byCols :+ col("b")): _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAllB = org.apache.spark.sql.expressions.Window
      .partitionBy((byCols :+ col("b")): _*)
    val medians = perVal
      .withColumn("__cw", sum(col("__wd")).over(wOrdB))
      .withColumn("__tw", sum(col("__wd")).over(wAllB))
      .filter(col("__tw") > 0)
      .groupBy((byCols :+ col("b")): _*)
      .agg(min(when(col("__cw") * 2 >= col("__tw"), col("__v"))).as("__med"))
    val band = medians
      .groupBy(byCols: _*)
      .agg(sort_array(collect_list(col("__med"))).as("__ms"))
      .select((byCols :+ col("__ms") :+ size(col("__ms")).as("__k")): _*)
      .select((byCols ++ Seq(
        // within `band` __k >= 1 by construction (a group reaches here
        // only via at least one replicate median); the all-replicates-
        // zero-weight group has NO band row and is surfaced by the
        // LEFT join below with a NULL band and k_effective = 0
        when(col("__k") >= 1,
          element_at(col("__ms"), when(col("__k") >= 3, 2).otherwise(1)))
          .as("boot_lo"),
        when(col("__k") >= 1,
          element_at(col("__ms"),
            when(col("__k") >= 3, col("__k") - 1).otherwise(col("__k")).cast("int")))
          .as("boot_hi"),
        col("__k").cast("long").as("k_effective"))): _*)
    // LEFT join: a group whose every replicate drew zero total weight has
    // no `band` row at all — it must still surface with median_obs and a
    // NULL band (k_effective = 0), not silently vanish from the report.
    obs.join(band, by, "left")
      .select((byCols ++ Seq(col("n"), col("median_obs"),
        col("boot_lo"), col("boot_hi"),
        coalesce(col("k_effective"), lit(0L)).as("k_effective"))): _*)
  }
}
