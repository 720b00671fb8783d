package graft.operators

import graft.functions.Portable.{dsum, r6}
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hour-of-day seasonality profiling over an event stream — is a key's
  * activity clock-driven (peaked profile) or flat? The screen that
  * separates human-shaped traffic from bot/batch-shaped traffic and
  * tells a resampling step which keys even HAVE a daily cycle worth
  * modeling.
  *
  * Per key: the 24-bin hour histogram collapses to
  *   - `peak_hour` / `peak_share`: the modal hour and its share (ties →
  *     earliest hour, so the report is deterministic);
  *   - `entropy_norm`: Shannon entropy of the hour distribution
  *     normalized by ln 24 — 1.0 is perfectly flat, 0.0 is single-hour;
  *     the scale-free "how seasonal" scalar.
  *
  * One groupBy to the (key × ≤24)-sized hour frame; everything after is
  * windows over that bounded frame (partitions hold hours, never rows).
  * Entropy terms are r6'd in double space then DECIMAL-summed (§5) so
  * the reduction order is engine-free.
  */
object Seasonal {

  /** Mean of the r6-pinned non-null values of `e`; NULL when there are none. */
  private def dmean(e: Column): Column =
    when(count(e) > 0, dsum(r6(e)) / count(e).cast("double"))

  /** `df(keyCol, tsCol)` → (key, n, peak_hour, peak_share, entropy_norm).
    * NULL timestamps are dropped.
    */
  def hourOfDayProfile(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val byHour = df
      .filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), hour(col(tsCol)).cast("long").as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val wk = Window.partitionBy(col("key"))
    val share = col("cnt").cast("double") / col("n").cast("double")
    val withN = byHour.withColumn("n", sum(col("cnt")).over(wk))
    val ranked = withN
      .withColumn("__rk", row_number().over(wk.orderBy(col("cnt").desc, col("hour"))))
      .withColumn("__h", (-share * log(share)).cast("double"))
    ranked
      .groupBy("key")
      .agg(
        max(col("n")).as("n"),
        max(when(col("__rk") === 1, col("hour"))).as("peak_hour"),
        max(when(col("__rk") === 1, share)).as("peak_share"),
        dsum(r6(col("__h"))).as("__hsum"))
      .withColumn("entropy_norm", col("__hsum") / math.log(24.0))
      .drop("__hsum")
  }

  /** Per-key burstiness: the Fano factor Var/Mean of hourly event
    * counts — 1 for a Poisson (memoryless) arrival process, ≫ 1 for
    * bursty traffic (batch jobs, retry storms, thundering herds), < 1
    * for clocked/regular emission. The one-number complement to
    * [[hourOfDayProfile]]: entropy asks WHEN activity happens, Fano
    * asks how CLUMPED it is.
    *
    * Counts cover ACTIVE hours only (an hour with zero events
    * contributes no bucket — including silence would require a span
    * assumption the data can't supply; callers comparing keys should
    * compare over the same observation window). Two exact-count
    * aggregations: (key, hour-bucket) then key; moments are exact
    * BIGINT sums, so the only doubles are the final two divisions.
    */
  def burstiness(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val b = df
      .filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), date_trunc("hour", col(tsCol)).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val g = b.groupBy("key").agg(
      sum(col("__c")).as("n_events"),
      count(lit(1)).as("n_buckets"),
      sum(col("__c") * col("__c")).as("__s2"))
    val nD = col("n_buckets").cast("double")
    val mean = col("n_events").cast("double") / nD
    g.select(
      col("key"), col("n_events"), col("n_buckets"),
      mean.as("mean_per_bucket"),
      ((col("__s2").cast("double") / nD - mean * mean) / mean).as("fano"))
  }

  /** Seasonal-naive forecastability (MASE-style skill score) per key:
    * over the key's hourly volume series, the MAE of the lag-`period`
    * predictor divided by the MAE of the lag-1 naive predictor.
    * skill < 1: "same hour yesterday" beats "same as last hour" — the
    * series has a real cycle worth a seasonal model; skill ≥ 1: don't
    * bother. The model-free triage BEFORE fitting [[Ewma]]/Holt-Winters
    * — it ranks which keys seasonal smoothing will actually help.
    *
    * Lags are POSITIONAL over the key's observed buckets (silent hours
    * contribute no bucket — the [[burstiness]] convention; for gappy
    * series the "period" is period-OBSERVATIONS, which is the honest
    * statement without a span assumption). One groupBy to the
    * (key × hour) frame, both lag columns from ONE window, absolute
    * errors r6'd then DECIMAL-summed. Keys with fewer than period+1
    * buckets have no seasonal pair and emit NULL skill; a constant
    * series (mae₁ = 0) likewise.
    *
    * Output: (key, n_buckets, mae_naive, mae_seasonal, skill).
    */
  def seasonalNaiveSkill(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val b = df
      .filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), date_trunc("hour", col(tsCol)).as("__b"))
      .agg(count(lit(1)).cast("double").as("__v"))
    val w = Window.partitionBy(col("key")).orderBy(col("__b"))
    val withLags = b.select(
      col("key"),
      col("__v"),
      lag(col("__v"), 1).over(w).as("__l1"),
      lag(col("__v"), period).over(w).as("__lp"))
    withLags
      .groupBy("key")
      .agg(
        count(lit(1)).as("n_buckets"),
        dmean(abs(col("__v") - col("__l1"))).as("mae_naive"),
        dmean(abs(col("__v") - col("__lp"))).as("mae_seasonal"))
      .withColumn("skill",
        when(col("mae_naive") > 0.0, col("mae_seasonal") / col("mae_naive")))
  }

  /** Classical additive seasonal decomposition of per-key hourly
    * volumes: v = trend + seasonal + residual. Trend is the standard
    * centered moving average (the 2×m MA with half-weight endpoints for
    * even periods, the plain ±h window for odd); seasonal indices are
    * the phase means of the detrended series, centered to sum to ~0 so
    * the trend keeps the level; what remains is the anomaly signal —
    * "traffic is down" MEANS "down vs this hour-of-day's norm", which
    * neither [[Ewma.holt]] (no season) nor [[hourOfDayProfile]] (no
    * trend removal) answers alone.
    *
    * Scale shape: one fact pass to the (key × hour) bucket frame; the
    * MA windows and lags run per key over buckets (bounded by the
    * observation horizon, like [[seasonalNaiveSkill]]); phase means are
    * a (key × period)-sized aggregate joined back on the key. The MA is
    * POSITIONAL over observed buckets (gaps make "centered" ambiguous;
    * documented), while the phase is CALENDAR (epoch-hour mod period),
    * so seasonal indices stay hour-of-day-true even in gappy series.
    * Window sums are exact integer counts; the single trend divide is
    * one fixed IEEE sequence; detrended terms are r6'd then
    * DECIMAL-meaned for the phase means. Edge buckets (incomplete MA
    * window) emit NULL trend/residual but keep their seasonal index.
    *
    * Output: (key, bucket, phase, v, trend, seasonal, residual).
    */
  def decompose(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      period: Int): DataFrame =
    decomposeBuckets(hourlyBuckets(df, keyCol, tsCol), period)

  /** One fact pass to the per-key hourly count frame (key, bucket, v) —
    * the shared input of [[periodogram]] and [[decompose]], factored so
    * composed pipelines ([[decomposeAtDominant]]) scan the corpus ONCE
    * and run every period-sized stage over this bounded frame.
    */
  private[operators] def hourlyBuckets(
      df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    df.filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(count(lit(1)).cast("double").as("v"))

  /** [[decompose]] over a prebuilt (key, bucket, v) frame. */
  private[operators] def decomposeBuckets(buckets: DataFrame, period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val b = buckets
      .withColumn("phase",
        pmod((unix_micros(col("bucket")) / lit(3600000000L)).cast("long"), lit(period)))
    val w = Window.partitionBy(col("key")).orderBy(col("bucket"))
    val h = period / 2
    val trend =
      if (period % 2 == 0) {
        // 2×m MA: half-weight at ±h, full weight on the 2h-1 inner buckets
        val inner = Window.partitionBy(col("key")).orderBy(col("bucket"))
          .rowsBetween(-(h - 1), h - 1)
        val l = lag(col("v"), h).over(w)
        val r = lead(col("v"), h).over(w)
        when(l.isNotNull && r.isNotNull && count(col("v")).over(inner) === (period - 1),
          ((l + r) * 0.5 + sum(col("v")).over(inner)) / period.toDouble)
      } else {
        val win = Window.partitionBy(col("key")).orderBy(col("bucket"))
          .rowsBetween(-h, h)
        when(count(col("v")).over(win) === period,
          sum(col("v")).over(win) / period.toDouble)
      }
    val withTrend = b.withColumn("trend", trend)
      .withColumn("__detr", col("v") - col("trend"))
    val phaseMeans = withTrend.groupBy(col("key"), col("phase"))
      .agg(dmean(col("__detr")).as("__sp"))
    val centers = phaseMeans.groupBy(col("key"))
      .agg(dmean(col("__sp")).as("__c"))
    val seasonal = phaseMeans.join(centers, "key")
      .select(col("key"), col("phase"), (col("__sp") - col("__c")).as("seasonal"))
    withTrend.join(seasonal, Seq("key", "phase"), "left")
      .select(col("key"), col("bucket"), col("phase"), col("v"), col("trend"),
        col("seasonal"), (col("__detr") - col("seasonal")).as("residual"))
  }

  /** Per-key periodogram over the hourly count series: DFT power at
    * every candidate period P ∈ [minPeriod, maxPeriod] hours —
    * power(P) = ((Σ_t v'_t·cos θ)² + (Σ_t v'_t·sin θ)²)/n with
    * θ = 2π(t mod P)/P and v' mean-centered (so the DC component never
    * drowns the cycle). [[decompose]] ASSUMES a period; this MEASURES
    * which periods the data actually carries — run it first, feed its
    * winner to decompose.
    *
    * Execution shape: one groupBy to the (key × hour-bucket) count
    * frame; mean and the calendar-true bucket index t come from one
    * key-partitioned window over it; the (bucket × period) terms are a
    * row-local literal-sequence explode (the psi grid discipline — no
    * join), re-aggregated per (key, period). Σ terms are r6'd then
    * DECIMAL-summed so the reduction order is engine-free. Silent hours
    * are skipped, not zero-filled (t is calendar-true so phase is
    * preserved across gaps; resample first via [[Rolling]] if zeros
    * should count as observations).
    *
    * Output: (key, period, n_buckets, power, rk) — rk 1 = strongest
    * period (ties → smaller period).
    */
  def periodogram(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      minPeriod: Int = 2,
      maxPeriod: Int = 48): DataFrame = {
    require(minPeriod >= 2, s"minPeriod must be >= 2, got $minPeriod")
    require(maxPeriod > minPeriod, s"maxPeriod must exceed minPeriod")
    periodogramBuckets(hourlyBuckets(df, keyCol, tsCol), minPeriod to maxPeriod)
  }

  /** [[periodogram]] over a prebuilt (key, bucket, v) frame and an
    * EXPLICIT candidate-period list — contiguous for the public sweep,
    * or a handful of calendar-plausible cycles (6/8/12/24h) when a
    * composed pipeline pays one decompose branch per candidate.
    */
  private[operators] def periodogramBuckets(
      buckets: DataFrame, periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2) && periods.distinct == periods,
      s"periods must be distinct and >= 2, got $periods")
    val b = buckets.select(col("key"), col("bucket").as("__b"), col("v").as("__v"))
    val wk = Window.partitionBy(col("key")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // epoch diffs are exact hour multiples; the double division is exact
    val t = ((unix_timestamp(col("__b")) -
      min(unix_timestamp(col("__b"))).over(wk)) / lit(3600L)).cast("long")
    val withT = b
      .withColumn("__t", t)
      .withColumn("__mean", sum(col("__v")).over(wk) / count(lit(1)).over(wk))
    val terms = withT
      .select(col("key"), col("__t"), (col("__v") - col("__mean")).as("__dv"),
        explode(array(periods.map(lit): _*)).as("period"))
    val theta = lit(2.0 * math.Pi) *
      (col("__t") % col("period")).cast("double") / col("period").cast("double")
    val agg = terms
      .groupBy(col("key"), col("period"))
      .agg(
        count(lit(1)).as("n_buckets"),
        dsum(r6(col("__dv") * cos(theta))).as("__sc"),
        dsum(r6(col("__dv") * sin(theta))).as("__ss"))
    agg
      .select(col("key"), col("period"), col("n_buckets"),
        r6((col("__sc") * col("__sc") + col("__ss") * col("__ss")) /
          col("n_buckets").cast("double")).as("power"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("power").desc, col("period"))))
  }

  /** Per-key dominant period + spectral concentration, from
    * [[periodogram]]'s bounded (key × period) frame: the winning period,
    * its share of total spectral mass, and the normalized spectral
    * entropy (1 = white/flat spectrum — no real cycle; → 0 = one period
    * carries everything). The one-row-per-key answer to "does this key
    * have a cycle, and which": dominant_period is only meaningful when
    * spectral_entropy is LOW.
    */
  def dominantPeriod(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      minPeriod: Int = 2,
      maxPeriod: Int = 48): DataFrame =
    dominantPeriodBuckets(hourlyBuckets(df, keyCol, tsCol), minPeriod to maxPeriod)

  /** [[dominantPeriod]] over a prebuilt bucket frame + explicit periods. */
  private[operators] def dominantPeriodBuckets(
      buckets: DataFrame, periods: Seq[Int]): DataFrame = {
    val nP = periods.size
    // consumed by both the winner aggregation and the entropy pass
    val pg = periodogramBuckets(buckets, periods).pin(false)
    val tot = dsum(col("power"))
    val g = pg.groupBy(col("key"))
      .agg(
        max(col("n_buckets")).as("n_buckets"),
        max(when(col("rk") === 1, col("period"))).as("dominant_period"),
        max(when(col("rk") === 1, col("power"))).as("__pmax"),
        tot.as("__tot"))
    val share = when(col("__tot") > 0.0, col("__pmax") / col("__tot"))
    val ent = pg
      .join(g.select(col("key"), col("__tot")), "key")
      .filter(col("__tot") > 0.0 && col("power") > 0.0)
      .withColumn("__p", col("power") / col("__tot"))
      .groupBy(col("key"))
      .agg(dsum(r6(-col("__p") * log(col("__p")))).as("__h"))
    g.join(ent, Seq("key"), "left")
      .select(col("key"), col("n_buckets"), col("dominant_period"),
        r6(share).as("power_share"),
        r6(coalesce(col("__h"), lit(0.0)) / math.log(nP.toDouble))
          .as("spectral_entropy"))
  }

  /** The composed seasonality stack: measure each key's dominant period
    * over an explicit candidate grid ([[dominantPeriod]]), then
    * [[decompose]] every key AT ITS OWN winner — "find the cycle, then
    * subtract it" as ONE lazy plan, the way the two operators are meant
    * to chain (decompose ASSUMES a period; this supplies the measured
    * one). Keys whose spectrum is too flat to trust
    * (spectral_entropy > maxEntropy) are dropped, as are keys with NO
    * spectral mass at all (a constant series has power_share NULL and
    * entropy 0 — "very concentrated" would be the wrong reading):
    * decomposing a cycle-free series just relabels noise as
    * seasonality. Note entropy is measured over the CANDIDATE grid —
    * with a handful of candidates, broadband noise can still
    * concentrate on one of them, so a tight maxEntropy screens for
    * "one candidate clearly beats the others", not "this series is
    * truly periodic"; sweep [[periodogram]] first when that distinction
    * matters.
    *
    * Execution shape: ONE fact pass to the pinned (key × hour) bucket
    * frame; the periodogram/winner stage and every decompose branch run
    * over that bounded frame, never the corpus. Per-key periods can't
    * feed one window plan (frame widths are plan constants), so the
    * plan unions one decompose branch per CANDIDATE period, each
    * branch's input semi-joined (broadcast — the winner frame is
    * key-sized) to the keys that chose it: |periods| passes over the
    * bucket frame, zero extra fact scans. Keep the candidate list a
    * handful of calendar-plausible cycles, not a sweep.
    *
    * Output: [[decompose]]'s columns + the `period` each key was
    * decomposed at.
    */
  def decomposeAtDominant(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      periods: Seq[Int],
      maxEntropy: Double = 1.0): DataFrame = {
    require(periods.size <= 16,
      s"decomposeAtDominant unions one decompose branch per candidate period — " +
        s"${periods.size} is a sweep, not a candidate list; use periodogram to sweep")
    val buckets = hourlyBuckets(df, keyCol, tsCol).pin(false)
    val winners = dominantPeriodBuckets(buckets, periods)
      .filter(col("dominant_period").isNotNull &&
        col("power_share").isNotNull && // zero spectral mass = no cycle
        col("spectral_entropy") <= maxEntropy)
      .select(col("key"), col("dominant_period"))
      .pin(false) // one branch filter per candidate period
    periods.map { p =>
      val keysAtP = winners.filter(col("dominant_period") === p).select(col("key"))
      decomposeBuckets(
        buckets.join(broadcast(keysAtP), Seq("key"), "left_semi"), p)
        .withColumn("period", lit(p).cast("long"))
    }.reduce(_ unionByName _)
  }

  /** Trend/seasonal STRENGTH (Hyndman's F-measures) — the one-row-per-key
    * summary that decides whether [[decompose]]'s components are signal
    * or ritual: F = max(0, 1 − Var(residual)/Var(component + residual)),
    * near 1 when the component explains the series, near 0 when the
    * decomposition just relabeled noise. The triage step before anyone
    * forecasts with [[holtWinters]] or alerts on [[decompose]]'s
    * residuals at 100 TB: keys with F_seas ≈ 0 have no cycle to model.
    *
    * Composes on [[decomposeBuckets]]' frame (rows with a defined
    * trend), so the fact is scanned once; variances are population
    * moments over r6-rounded terms with DECIMAL(38,6) sums — order-free
    * like every other reduction here.
    *
    * Output: (key, n, f_trend, f_seas); keys whose component+residual
    * variance is 0 emit NULL (no variation to explain).
    */
  def strength(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      period: Int): DataFrame = {
    val d = decomposeBuckets(hourlyBuckets(df, keyCol, tsCol), period)
      .filter(col("trend").isNotNull)
    val r = r6(col("residual"))
    val sr = r6(col("seasonal") + col("residual"))
    val tr = r6(col("trend") + col("residual"))
    def popVar(s1: Column, s2: Column, n: Column): Column =
      s2 / n - (s1 / n) * (s1 / n)
    val n = col("n").cast("double")
    d.groupBy(col("key"))
      .agg(
        count(lit(1)).as("n"),
        dsum(r).as("__sR"), dsum(r6(r * r)).as("__qR"),
        dsum(sr).as("__sS"), dsum(r6(sr * sr)).as("__qS"),
        dsum(tr).as("__sT"), dsum(r6(tr * tr)).as("__qT"))
      .select(
        col("key"), col("n"),
        when(popVar(col("__sT"), col("__qT"), n) > 0,
          r6(greatest(lit(0.0),
            lit(1.0) - popVar(col("__sR"), col("__qR"), n) /
              popVar(col("__sT"), col("__qT"), n)))).as("f_trend"),
        when(popVar(col("__sS"), col("__qS"), n) > 0,
          r6(greatest(lit(0.0),
            lit(1.0) - popVar(col("__sR"), col("__qR"), n) /
              popVar(col("__sS"), col("__qS"), n)))).as("f_seas"))
  }
}
