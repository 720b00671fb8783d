package graft.operators

import graft.functions.Portable.{dsum, r6}
import graft.meds.Meds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Outlier occlusion: null-out numeric values beyond a standard-deviation
  * cutoff from their code's mean, flagging each value's inlier status.
  *
  * Reference: src/MEDS_transforms/transforms/occlude_outliers.py:58-101.
  */
object Outliers {

  /** @param codeMetadata per-code stats; must either carry `values/mean` /
    *   `values/std` or the (`values/n_occurrences`, `values/sum`,
    *   `values/sum_sqd`) triple they derive from
    *   (occlude_outliers.py:71-78).
    *
    * The metadata side is vocabulary-sized → broadcast LEFT join; the fact
    * table is never shuffled.
    */
  def occludeOutliers(
      df: DataFrame,
      codeMetadata: DataFrame,
      stddevCutoff: Double,
      codeModifiers: Seq[String] = Nil
  ): DataFrame = {
    val joinCols = Meds.Code +: codeModifiers
    val stats = CodeMetadata.withMeanStd(codeMetadata).select((joinCols :+ "values/mean" :+ "values/std").map(col): _*)

    val v = col(Meds.NumericValue)
    val inlier = abs(v - col("values/mean")) <= lit(stddevCutoff) * col("values/std")

    df.join(broadcast(stats), joinCols, "left")
      .withColumn("numeric_value/is_inlier", inlier)
      .withColumn(Meds.NumericValue, when(inlier, v))
      .drop("values/mean", "values/std")
  }

  /** Winsorization: clamp each value into its code's [lower, upper]
    * quantile band instead of nulling it — the outlier treatment most
    * training-data pipelines prefer (keeps the row, caps its leverage).
    *
    * `exact = true` uses `percentile` (R-7 linear interpolation, the same
    * definition as DuckDB's `quantile_cont` — cross-engine verifiable);
    * at 100 TB pass `exact = false` for `approx_percentile`'s one-pass
    * mergeable sketch — exact percentiles need the full sorted value set
    * per code, the sketch needs O(1/accuracy) state. Bounds are
    * vocabulary-sized either way → broadcast join, no fact-side shuffle.
    */
  def winsorize(
      df: DataFrame,
      lowerQ: Double = 0.01,
      upperQ: Double = 0.99,
      exact: Boolean = false,
      codeModifiers: Seq[String] = Nil
  ): DataFrame = {
    require(lowerQ >= 0 && upperQ <= 1 && lowerQ < upperQ, s"bad quantile band [$lowerQ, $upperQ]")
    val joinCols = Meds.Code +: codeModifiers
    val v = col(Meds.NumericValue)
    val ex = Quantiles.resolveExact(df.sparkSession, exact)
    val (lo, hi) = (Quantiles.q(v, lit(lowerQ), ex), Quantiles.q(v, lit(upperQ), ex))
    val bounds = df
      .groupBy(joinCols.map(col): _*)
      .agg(lo.as("__lo"), hi.as("__hi"))
    df.join(broadcast(bounds), joinCols, "left")
      .withColumn(Meds.NumericValue,
        when(v.isNull, v)
          .when(v < col("__lo"), col("__lo"))
          .when(v > col("__hi"), col("__hi"))
          .otherwise(v))
      .drop("__lo", "__hi")
  }

  /** Robust scaling: (x − median) / IQR per code — the z-score's
    * outlier-resistant sibling (median/IQR instead of mean/σ, so a few
    * corrupt readings cannot drag the scale). Same machinery as
    * [[winsorize]]: exact R-7 percentiles for cross-engine verification,
    * `exact = false` for the one-pass mergeable sketch at 100 TB; the
    * per-code bounds table is vocab-sized and broadcast — the fact side
    * never shuffles. Constant codes (IQR = 0) scale to NULL, not a
    * division error.
    */
  def robustScale(
      df: DataFrame,
      exact: Boolean = false,
      codeModifiers: Seq[String] = Nil
  ): DataFrame = {
    val joinCols = Meds.Code +: codeModifiers
    val v = col(Meds.NumericValue)
    val ex = Quantiles.resolveExact(df.sparkSession, exact)
    def q(p: Double) = Quantiles.q(v, lit(p), ex)
    val bounds = df
      .groupBy(joinCols.map(col): _*)
      .agg(q(0.25).as("__q1"), q(0.5).as("__med"), q(0.75).as("__q3"))
    df.join(broadcast(bounds), joinCols, "left")
      .withColumn("scaled_value",
        (v - col("__med")) / nullif(col("__q3") - col("__q1"), lit(0.0)))
      .drop("__q1", "__med", "__q3")
  }

  /** MAD-based robust outlier flag: `|x − median| / (1.4826·MAD) > k`,
    * the median-absolute-deviation z-score (1.4826 rescales MAD to σ for
    * a normal population). Unlike the mean/σ flag in [[occludeOutliers]],
    * a handful of wild values cannot move the baseline they are judged
    * against — the standard tail-trimming gate for sensor/lab data.
    *
    * MAD needs the median FIRST, so this is inherently two passes over
    * the facts (median, then median of |x − median|); both group frames
    * are vocab-sized and broadcast back, the facts never shuffle.
    * `exact = true` gives R-7 interpolated percentiles for cross-engine
    * verification; the default approx sketch is the one-pass-per-stage
    * 100 TB path. Constant groups (MAD = 0) yield NULL robust_z and are
    * never flagged; NULL values are excluded from the baselines and
    * flagged false.
    */
  def madOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Double = 3.5,
      exact: Boolean = false
  ): DataFrame = {
    require(groupCols.nonEmpty, "madOutliers needs at least one group column")
    require(k > 0, s"k must be positive, got $k")
    val v = col(valueCol)
    val ex = Quantiles.resolveExact(df.sparkSession, exact)
    def q(c: org.apache.spark.sql.Column) = Quantiles.q(c, lit(0.5), ex)
    val med = df
      .filter(v.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(q(v).as("__med"))
    val mad = df
      .filter(v.isNotNull)
      .join(broadcast(med), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(q(abs(v - col("__med"))).as("__mad"))
    df.join(broadcast(med), groupCols, "left")
      .join(broadcast(mad), groupCols, "left")
      .withColumn("robust_z", (v - col("__med")) / (lit(1.4826) * nullif(col("__mad"), lit(0.0))))
      .withColumn("is_outlier", coalesce(abs(col("robust_z")) > k, lit(false)))
      .drop("__med", "__mad")
  }

  /** Per-group winsorized mean: clamp into the [pLo, pHi] quantile band,
    * then average — the robust location estimate that keeps ALL rows
    * (unlike a trimmed mean) while capping tail leverage; the number a
    * metrics dashboard should report when a handful of 10⁹ outliers
    * would otherwise own the mean. Same percentile machinery as
    * [[winsorize]] (R-7 exact at oracle scale, mergeable sketch under
    * the session switch); the bounds frame is group-sized and
    * broadcast. Clamped values are r6'd in double space before the
    * DECIMAL mean (§5: the band edges are interpolated doubles).
    * Output: (by..., n, mean, wins_mean, lo, hi).
    */
  def winsorizedMean(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      pLo: Double = 0.05,
      pHi: Double = 0.95,
      exact: Boolean = true): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad quantile band [$pLo, $pHi]")
    val v = col(valueCol).cast("double")
    val ex = Quantiles.resolveExact(df.sparkSession, exact)
    val base = df.filter(v.isNotNull && !isnan(v))
      .select((by.map(col) :+ v.as("__v")): _*)
    val bounds = base
      .groupBy(by.map(col): _*)
      .agg(
        Quantiles.q(col("__v"), lit(pLo), ex).as("lo"),
        Quantiles.q(col("__v"), lit(pHi), ex).as("hi"))
    val clamped = least(greatest(col("__v"), col("lo")), col("hi"))
    base
      .join(broadcast(bounds), by)
      .groupBy(by.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        dsum(r6(col("__v"))).as("__s"),
        dsum(r6(clamped)).as("__sw"),
        max(col("lo")).as("lo"),
        max(col("hi")).as("hi"))
      .select(
        (by.map(col) :+ col("n") :+
          (col("__s") / col("n").cast("double")).as("mean") :+
          (col("__sw") / col("n").cast("double")).as("wins_mean") :+
          col("lo") :+ col("hi")): _*)
  }
}
