package graft.operators

import graft.functions.Portable.{dsumIf, r6}
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key rolling time-series features: trailing event-time window
  * aggregates and forward-fill — the feature-engineering step between
  * raw MEDS events and model-ready sequences (trailing utilization
  * counts, carry-forward of sparse lab values, ...).
  *
  * Both operators are single-shuffle: one exchange on the key, one
  * in-partition sort, then frame-local computation. Spark's WindowExec
  * evaluates a trailing RANGE frame with a sliding two-pointer pass
  * (rows enter and leave the frame once each), so per-partition cost is
  * O(n) amortized for count/sum — no per-row frame rescans — and the
  * sort spills; nothing about the shape degrades at 100 TB. The key
  * partitioning is the same (patient/user) partitioning the other MEDS
  * chains use, so a pipeline that sessionizes, forward-fills and rolls
  * up reuses ONE exchange.
  *
  * Null-time rows are dropped (a time window is meaningless for
  * statics); callers that need statics union them back, as
  * add_time_derived does.
  */
object Rolling {

  /** Appends `n_trail` (events in `[t - windowUs, t]`, both bounds
    * inclusive — `rangeBetween(-windowUs, currentRow)` counts an event
    * exactly `windowUs` old, matching DuckDB `RANGE ... PRECEDING`)
    * and `sum_trail` (sum of non-null `valueCol` in the same frame,
    * 0 when empty) to every row.
    *
    * The frame bound is on the event-time microsecond value, so rows
    * sharing a timestamp are peers and see identical frames in every
    * engine (RANGE semantics) — no tie-break needed for determinism.
    * The sum runs over DECIMAL(38,6): associative, so map-side frame
    * order cannot wiggle low bits.
    */
  def trailingAggregates(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      windowUs: Long
  ): DataFrame = {
    require(windowUs > 0, "windowUs must be positive")
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col("__us"))
      .rangeBetween(-windowUs, Window.currentRow)
    // NaN is excluded from the sum (one NaN would otherwise poison every
    // later frame of its key) — same value predicate the code-metadata
    // aggregations use.
    val v = events.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
        when(!isnan(col(valueCol)), col(valueCol))
      case _ => col(valueCol)
    }
    events
      .filter(col(timeCol).isNotNull)
      .withColumn("__us", unix_micros(col(timeCol)))
      .withColumn("n_trail", count(lit(1)).over(w))
      .withColumn(
        "sum_trail",
        coalesce(sum(v.cast("decimal(38,6)")).over(w), lit(0)).cast("double"))
      .drop("__us")
  }

  /** Appends `z_trail`: each row's z-score against the trailing `frame`
    * PRIOR observations on its key (current row excluded — the score
    * must not test a point against a baseline that contains it). The
    * self-calibrating anomaly signal for sensor/rate streams: no global
    * thresholds, each key is its own baseline. NULL until `minPrior`
    * observations exist and whenever the baseline variance is 0.
    *
    * One key-partitioned window; mean and variance come from DECIMAL
    * frame sums (segment-tree window evaluation reorders double sums —
    * DECIMAL makes the frame aggregate order-free, so any engine gets
    * the identical baseline). Ties order by `tieCol` so "prior" is
    * well-defined at equal timestamps.
    */
  def trailingZScore(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      tieCol: String,
      frame: Int,
      minPrior: Int = 3
  ): DataFrame = {
    require(frame >= minPrior && minPrior >= 2, s"bad frame=$frame minPrior=$minPrior")
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(unix_micros(col(timeCol)), col(tieCol))
      .rowsBetween(-frame, -1)
    val v = col(valueCol).cast("double")
    val ok = v.isNotNull && !isnan(v)
    val n = count(when(ok, lit(1))).over(w).cast("double")
    val s = coalesce(sum(when(ok, v.cast("decimal(38,6)"))).over(w),
      lit(0).cast("decimal(38,6)")).cast("double")
    val s2 = coalesce(sum(when(ok, (v * v).cast("decimal(38,6)"))).over(w),
      lit(0).cast("decimal(38,6)")).cast("double")
    val mean = s / n
    val variance = greatest(s2 / n - mean * mean, lit(0.0))
    events
      .filter(col(timeCol).isNotNull)
      .withColumn("z_trail",
        when(lit(minPrior) <= n && ok && sqrt(variance) > 0,
          (v - mean) / sqrt(variance)))
  }

  /** Resample each key's event stream onto a regular `stepUs` grid:
    * one row per (key, bucket) from the key's first to last bucket with
    * `n_events` (0 for gap buckets) and `value_last` — the most recent
    * non-null value at or before the bucket, carried forward across
    * gaps (pandas `resample().last().ffill()`).
    *
    * Shapes: one groupBy collapses events to (key, bucket) BEFORE the
    * grid join (the dense grid never meets raw events), the grid
    * explodes from per-key [first, last] spans — guarded by
    * `maxBucketsPerKey` with a loud error, since a mis-sized step times
    * a years-long key is how grids explode — and the forward-fill
    * window rides the same key partitioning. In-bucket "last" is
    * max(struct(time, tieBreak, value)): (time, tieBreak) is unique, so
    * the struct max is a deterministic arg-max.
    *
    * Bucket ids use `div` (truncating): exact floor for the
    * non-negative epochs MEDS data carries.
    */
  def resampleLastValue(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      tieBreakCol: String,
      valueCol: String,
      stepUs: Long,
      maxBucketsPerKey: Long = 1000000L
  ): DataFrame = {
    require(stepUs > 0, "stepUs must be positive")
    // localCheckpoint: perBucket feeds BOTH the span scan and the grid
    // join — without it, column pruning would split the two consumers
    // into two full event scans (the double-evaluation trap the other
    // multi-consumer pipelines here guard the same way).
    val perBucket = events
      .filter(col(timeCol).isNotNull)
      .withColumn("__us", unix_micros(col(timeCol)))
      .withColumn("bucket_us", expr(s"(__us div $stepUs) * $stepUs"))
      .groupBy(col(keyCol), col("bucket_us"))
      .agg(
        count(lit(1)).as("n_events"),
        max(when(col(valueCol).isNotNull,
          struct(col("__us"), col(tieBreakCol), col(valueCol).as("v"))))
          .getField("v").as("__vb"))
      .pin(false)
    val grid = perBucket
      .groupBy(col(keyCol))
      .agg(min("bucket_us").as("__lo"), max("bucket_us").as("__hi"))
      .withColumn("bucket_us",
        explode(when((col("__hi") - col("__lo")) / stepUs < maxBucketsPerKey,
          sequence(col("__lo"), col("__hi"), lit(stepUs)))
          .otherwise(raise_error(lit(
            s"resampleLastValue: a key spans more than $maxBucketsPerKey buckets of $stepUs µs — widen stepUs or raise maxBucketsPerKey")))))
      .select(col(keyCol), col("bucket_us"))
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col("bucket_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(perBucket, Seq(keyCol, "bucket_us"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("value_last", last(col("__vb"), ignoreNulls = true).over(w))
      .drop("__vb")
  }

  /** Appends `outCol` = the most recent non-null `valueCol` at or
    * before each row's time (the row's own value when present) —
    * pandas `ffill` / Polars `forward_fill` per key.
    *
    * Uses a ROWS frame over (time, tieBreak) so rows with colliding
    * timestamps fill in a deterministic order; `tieBreakCol` must be
    * unique within a key.
    */
  def forwardFill(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      tieBreakCol: String,
      valueCol: String,
      outCol: String
  ): DataFrame = {
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col(timeCol), col(tieBreakCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col(timeCol).isNotNull)
      .withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(w))
  }
  /** Fixed hopping-window aggregation via Spark's built-in `window()`
    * generator — counts and DECIMAL value sums per (group, window) for
    * overlapping windows of `windowUs` sliding by `slideUs` (epoch-
    * aligned, the `window()` default). Each event lands in
    * windowUs/slideUs windows via a row-local projection (the generator
    * explodes BEFORE the shuffle, so the exchange carries (group,
    * win_start) cells partial-aggregated map-side — never one row per
    * (event × window) across the wire).
    *
    * This is the batch twin of the streaming windowed aggregations in
    * [[graft.streaming.Streaming]] — same `window()` operator, same
    * alignment — so a backfill and a live stream produce byte-identical
    * frames. `windowUs` must be a multiple of `slideUs`.
    */
  def hoppingAgg(
      events: DataFrame,
      by: Seq[String],
      timeCol: String,
      valueCol: String,
      windowUs: Long,
      slideUs: Long): DataFrame = {
    require(windowUs > 0 && slideUs > 0, "window and slide must be positive")
    require(windowUs % slideUs == 0,
      s"window $windowUs must be a multiple of slide $slideUs for gap-free hops")
    val v = col(valueCol).cast("double")
    events
      .filter(col(timeCol).isNotNull)
      .groupBy((by.map(col) :+
        window(col(timeCol), s"$windowUs microseconds", s"$slideUs microseconds")
          .as("__w")): _*)
      .agg(
        count(lit(1)).as("n"),
        dsumIf(v.isNotNull && !isnan(v), v).as("sum_value"))
      .select((by.map(col) ++ Seq(
        unix_micros(col("__w.start")).as("win_start_us"),
        col("n"), col("sum_value"))): _*)
  }


  /** Trailing rolling MEDIAN per key — the robust twin of the rolling
    * mean/z features above: one poisoned reading drags a trailing mean
    * (and the z-scores built on it) for the whole window, while the
    * median shrugs. Exact, over the last `k` ROWS by (time, tie) order:
    * the window collects ≤ k values per row (k ≤ 64 loudly — a rolling
    * collect is O(k) state per row by construction), sorts in-row, and
    * takes the lower-middle / middle pair average.
    *
    * Output: input keys + (t, v, n_window, roll_median).
    */
  def rollingMedian(
      df: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      tieCol: String,
      valueCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64,
      s"k must be in [1, 64], got $k — the per-row window state is O(k)")
    val v = col(valueCol).cast("double")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("t"), col("__tie"))
      .rowsBetween(-(k - 1).toLong, 0L)
    val base = df
      .filter(v.isNotNull && !isnan(v) && col(timeCol).isNotNull)
      .select((keyCols.map(col) :+ col(timeCol).as("t") :+
        col(tieCol).as("__tie") :+ v.as("v")): _*)
      .withColumn("__win", sort_array(collect_list(col("v")).over(w)))
    val n = size(col("__win"))
    // integer midpoints: Spark's `/` is a double divide, so cast back
    val lo = element_at(col("__win"), ((n + 1) / 2).cast("int"))
    val hi = element_at(col("__win"), (n / 2 + 1).cast("int"))
    base
      .select((keyCols.map(col) ++ Seq(col("t"), col("__tie"), col("v"),
        n.cast("long").as("n_window"),
        r6((lo + hi) / 2.0).as("roll_median"))): _*)
  }

  /** Peak detection over per-key series — strict local maxima with a
    * PROMINENCE floor measured against the [[rollingMedian]] baseline
    * (a spike is a peak relative to its robust local level, not the
    * global mean — a rising series would otherwise flag every step).
    * Endpoints cannot be peaks (no two-sided evidence). All three
    * windows (lag, lead, trailing median) share the one (key ×
    * time-order) exchange.
    *
    * Output per detected peak: (keys…, t, v, baseline, prominence).
    */
  def detectPeaks(
      df: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      tieCol: String,
      valueCol: String,
      k: Int = 5,
      minProminence: Double = 0.0): DataFrame = {
    require(minProminence >= 0, s"minProminence must be >= 0, got $minProminence")
    val base = rollingMedian(df, keyCols, timeCol, tieCol, valueCol, k)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("t"), col("__tie"))
    base
      .withColumn("__prev", lag(col("v"), 1).over(w))
      .withColumn("__next", lead(col("v"), 1).over(w))
      .filter(col("__prev").isNotNull && col("__next").isNotNull &&
        col("v") > col("__prev") && col("v") > col("__next") &&
        col("v") - col("roll_median") >= minProminence)
      .drop("__tie")
      .select((keyCols.map(col) ++ Seq(col("t"), col("v"),
        col("roll_median").as("baseline"),
        r6(col("v") - col("roll_median")).as("prominence"))): _*)
  }
}
