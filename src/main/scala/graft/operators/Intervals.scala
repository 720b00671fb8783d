package graft.operators

import graft.functions.Portable.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra per key: time-weighted averages and gaps-and-islands
  * coverage — the step-function statistics event snapshots only
  * approximate when sampling is irregular (a plain mean over-weights
  * chatty periods; TWA weights each observation by how LONG it held).
  *
  * Both are single-shuffle window chains on the key, all-integer where
  * exactness matters (island arithmetic is pure epoch-micro BIGINT) and
  * r6-then-DECIMAL where doubles enter (the TWA products), so results
  * are partitioning-independent and engine-portable.
  */
object Intervals {

  /** Time-weighted average of a step function per key: each value holds
    * from its timestamp to the NEXT observation; the last observation
    * holds no time and contributes only its endpoint. Returns (key, n,
    * span_s, twa) with `twa = Σ vᵢ·Δtᵢ / Σ Δtᵢ` over seconds-scale
    * durations — NULL for keys with fewer than 2 observations (no time
    * elapses). Each product is r6-rounded (|v·Δt_s| stays far below the
    * 9e9 r6 exactness bound for month-scale spans) then DECIMAL-summed,
    * so reduction order is free.
    */
  def timeWeightedAverage(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      tieCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__us"), col(tieCol))
    val dtS = (lead(col("__us"), 1).over(w) - col("__us")).cast("double") / 1e6
    val term = r6(v * dtS).cast("decimal(38,6)")
    events
      .filter(col(timeCol).isNotNull && v.isNotNull && !isnan(v))
      .withColumn("__us", unix_micros(col(timeCol)))
      .select(col(keyCol).as("key"), col("__us"), term.as("__term"))
      .groupBy("key")
      .agg(
        count(lit(1)).as("n"),
        ((max(col("__us")) - min(col("__us"))).cast("double") / 1e6).as("span_s"),
        coalesce(sum(col("__term")), lit(0).cast("decimal(38,6)")).cast("double").as("__num"))
      .select(col("key"), col("n"),
        r6(col("span_s")).as("span_s"),
        when(col("span_s") > 0, col("__num") / col("span_s")).as("twa"))
  }

  /** Gaps-and-islands coverage: grow a fixed-width activity interval
    * `[t, t + widthUs)` around every event, merge overlaps per key, and
    * report (key, n_islands, covered_us) — uptime/activity coverage,
    * the question "how much of the month was this user actually
    * active" that event counts can't answer. Pure integer island
    * algebra: a running max of interval ends (one key window) marks
    * island starts, a running sum numbers them, and the island roll-up
    * is max(end) − min(start) summed per key. Two windows + one
    * aggregate sharing a single key exchange.
    */
  def activityCoverage(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      tieCol: String,
      widthUs: Long): DataFrame = {
    require(widthUs > 0, s"widthUs must be positive, got $widthUs")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__s"), col(tieCol))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col(timeCol).isNotNull)
      .withColumn("__s", unix_micros(col(timeCol)))
      .withColumn("__e", col("__s") + widthUs)
      // an island starts where this interval clears every earlier end
      .withColumn("__new",
        when(col("__s") > coalesce(max(col("__e")).over(prior), lit(Long.MinValue)), 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w))
      .groupBy(col(keyCol).as("key"), col("__island"))
      .agg((max(col("__e")) - min(col("__s"))).as("__len"))
      .groupBy("key")
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("__len")).as("covered_us"))
  }
}
