package graft.operators

import graft.functions.Portable.dsum0
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CUSUM changepoint detection per key — the sequential drift detector:
  * the one-sided cumulative sum `S_i = max(0, S_{i−1} + (x_i − mean))`
  * resets while the series hovers around its mean and climbs once the
  * level SHIFTS, so its maximum marks the most likely changepoint and
  * its height the evidence ("this sensor stepped up mid-month" — a
  * trailing z-score flags single spikes, CUSUM accumulates small
  * sustained shifts that never individually clear a z threshold).
  *
  * Two logical passes, ONE shuffle: the key-grouping aggregate computes
  * the per-key DECIMAL mean AND collects the time-sorted series in the
  * same exchange; the CUSUM recurrence is then a sorted-array fold with
  * a 4-slot double state [S, maxS, argmax, i] — same fixed-order
  * portability contract as [[Ewma]]/[[Ewma.holtLast]] (the oracle
  * replays the identical fold with DuckDB `list_reduce`). Per-key
  * series must fit a task, the bounded-series contract every per-key
  * fold here shares.
  */
object Changepoint {

  /** (key, n, mean, cusum_max, cusum_at): `cusum_at` is the 1-based
    * position (in (time, tie) order) where the running CUSUM peaks —
    * the estimated changepoint; 0 when the series never rises above
    * its mean (max stays at the S₀ = 0 seed). NULL/NaN observations
    * and null times are excluded.
    *
    * `tieCol` must be unique within (key, time): the collected structs
    * sort by (t, tie, value), so a duplicated tie value falls back to
    * ordering by value — still deterministic here, but divergent from
    * an engine that replays the fold ordered by (time, tie) alone, and
    * the emitted state depends on fold order. Same contract as
    * [[Ewma.holtLast]] and [[Transitions.eventPaths]].
    */
  def cusum(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      tieCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val grouped = events
      .filter(col(timeCol).isNotNull && v.isNotNull && !isnan(v))
      .select(col(keyCol).as("key"),
        struct(unix_micros(col(timeCol)).as("t"), col(tieCol).as("tb"), v.as("v")).as("e"))
      .groupBy("key")
      .agg(
        sort_array(collect_list(col("e"))).as("es"),
        count(lit(1)).as("n"),
        (dsum0(col("e.v")) / count(lit(1)).cast("double")).as("mean"))
    // state: [S, maxS, argmax, i] — homogeneous double array so the
    // fold stays a plain Catalyst aggregate in BOTH engines
    val state = aggregate(
      col("es"),
      array(lit(0.0), lit(0.0), lit(0.0), lit(0.0)),
      (acc, e) => {
        val s = greatest(lit(0.0), element_at(acc, 1) + (e.getField("v") - col("mean")))
        val i = element_at(acc, 4) + lit(1.0)
        array(
          s,
          when(s > element_at(acc, 2), s).otherwise(element_at(acc, 2)),
          when(s > element_at(acc, 2), i).otherwise(element_at(acc, 3)),
          i)
      })
    grouped
      .select(col("key"), col("n"), col("mean"), state.as("st"))
      .select(
        col("key"), col("n"), col("mean"),
        element_at(col("st"), 2).as("cusum_max"),
        element_at(col("st"), 3).cast("long").as("cusum_at"))
  }
}
