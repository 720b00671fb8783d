package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-order Markov transition statistics over per-key event
  * sequences: how often does `prev` hand off to `next`, and with what
  * conditional probability — the sequence-level counterpart of
  * [[Assoc]]'s set-level co-occurrence, and the summary a
  * next-event-prediction training set is built from.
  *
  * ONE key-partitioned window (lead) pairs each event with its
  * successor; the (prev, next) roll-up partial-aggregates to a ≤vocab²
  * frame, and row totals re-aggregate from THAT frame (no second fact
  * pass, no broadcast of anything fact-sized).
  */
object Transitions {

  /** Per-key ordered event path: the first `maxSteps` event types in
    * (time, tie) order joined into one `a>b>c` string — the clickstream
    * path-analysis materialization ("which journeys convert") and the
    * human-readable twin of [[transitionCounts]]. ONE key shuffle
    * (sorted collect, the tokenization contract), row-local slice+join
    * after; `n_events` counts the FULL history so truncation is
    * visible.
    *
    * `tieCol` must be unique within (key, time): the collected structs
    * sort by (t, tie, type), so a duplicated tie value would fall back
    * to ordering by event type — deterministic here, but divergent from
    * any engine that orders by (time, tie) alone.
    */
  def eventPaths(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String,
      maxSteps: Int = 10): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be >= 1, got $maxSteps")
    events
      .filter(col(timeCol).isNotNull)
      .select(col(keyCol).as("key"),
        struct(unix_micros(col(timeCol)).as("t"), col(tieCol).as("tb"),
          col(typeCol).as("et")).as("e"))
      .groupBy("key")
      .agg(sort_array(collect_list(col("e"))).as("__es"))
      .select(col("key"),
        size(col("__es")).cast("long").as("n_events"),
        concat_ws(">",
          transform(slice(col("__es"), 1, maxSteps), e => e.getField("et"))).as("path"))
  }

  /** Per-key inter-arrival statistics: (key, n_gaps, mean_gap_s,
    * max_gap_us) over consecutive event gaps — the burstiness /
    * heartbeat-health profile of a stream (a crawler that slows down, a
    * device that goes quiet). Gaps come from the same lag window shape
    * as [[transitionCounts]] (one key shuffle); keys with a single
    * event have no gap and drop out.
    */
  def interArrivalStats(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(unix_micros(col(timeCol)), col(tieCol))
    events
      .filter(col(timeCol).isNotNull)
      .withColumn("__gap", unix_micros(col(timeCol)) - lag(unix_micros(col(timeCol)), 1).over(w))
      .filter(col("__gap").isNotNull)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_gaps"),
        // plain INTEGER sum, not the DECIMAL(38,6) convention: gaps are
        // exact longs, and a decimal sum of micros-scale values puts the
        // scaled int128 past 2^53 where DuckDB's decimal->double cast
        // (scaled-int divide) rounds differently than Spark's
        // BigDecimal path. Mean in SECONDS keeps r6's x*1e6 within 2^53.
        (sum(col("__gap")).cast("double") /
          count(lit(1)).cast("double") / lit(1000000.0)).as("mean_gap_s"),
        max(col("__gap")).as("max_gap_us"))
  }

  /** (prev, next, n, p): transition counts and row-conditional
    * probabilities. Each key's last event has no successor and drops
    * out; null-time rows carry no sequence position and are excluded.
    * Ties at equal times order by `tieCol` so sequences — and thus
    * transitions — are deterministic.
    */
  def transitionCounts(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(unix_micros(col(timeCol)), col(tieCol))
    val pairs = events
      .filter(col(timeCol).isNotNull && col(typeCol).isNotNull)
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("prev"), col("__next").as("next"))
      .agg(count(lit(1)).as("n"))
    val rowTot = pairs.groupBy("prev").agg(sum(col("n")).as("nt"))
    pairs
      .join(broadcast(rowTot), "prev")
      .select(col("prev"), col("next"), col("n"),
        (col("n").cast("double") / col("nt").cast("double")).as("p"))
  }

  /** Entropy rate of the first-order chain — "how predictable are the
    * journeys": H = Σ_s π_s·H(next | s) in nats, with π the empirical
    * visit share of each source state and H(next|s) the per-row
    * conditional entropy. H ≈ 0 means the next step is a foregone
    * conclusion (rigid funnels); H near ln(|states|) means anything
    * can follow anything (no structure worth modelling). The one-number
    * sequel to [[transitionCounts]], computed ON its output frame —
    * everything after the transition groupBy is state²-sized.
    *
    * Per-(s,t) terms −p·ln(p) are r6-pinned before the DECIMAL
    * per-state sum; state weights π_s = n_s/N likewise. Output ONE
    * row: (n_states, n_transitions, entropy_rate, max_entropy =
    * ln(n_states), predictability = 1 − H/ln(n_states); NULL when a
    * single state makes the ratio 0/0).
    */
  def entropyRate(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String): DataFrame = {
    val tc = transitionCounts(events, keyCol, timeCol, typeCol, tieCol)
    val perState = tc
      .groupBy(col("prev"))
      .agg(
        sum(col("n")).as("__ns"),
        dsum(r6(-r6(col("p")) *
          log(r6(col("p"))))).as("__h"))
    val total = perState.agg(coalesce(sum(col("__ns")), lit(0L)).as("__nt"))
    perState
      .crossJoin(broadcast(total)) // one-row totals frame: lint-exempt
      .agg(
        count(lit(1)).as("n_states"),
        coalesce(sum(col("__ns")), lit(0L)).as("n_transitions"),
        r6(coalesce(dsum(r6(col("__ns").cast("double") /
          col("__nt").cast("double") * col("__h"))), lit(0.0))).as("entropy_rate"))
      .withColumn("max_entropy",
        when(col("n_states") > 0, r6(
          log(col("n_states").cast("double")))))
      .withColumn("predictability",
        when(col("max_entropy") > 0, r6(
          lit(1.0) - col("entropy_rate") / col("max_entropy"))))
  }

  /** Markov next-event BACKTEST — does yesterday's transition matrix
    * actually predict tomorrow's clicks, measured instead of assumed:
    * fit per-state argmax-next on the TRAIN keys (whole keys, never
    * split mid-journey — a journey straddling train/test would leak),
    * score top-1 accuracy on the TEST keys' transitions. The
    * train/test discipline of #98's leakage audit applied to the
    * transition model itself; a state whose accuracy ≈ its majority
    * base rate carries no sequence signal.
    *
    * One windowed bigram pass (key-partitioned), a state-frame argmax
    * (row_number over the VOCAB-sized (prev, next) count frame), one
    * broadcast-able join of test bigrams to the state-sized model.
    * Ties break by `next` ascending — deterministic. States only seen
    * in test have no model row and are absent — the caller's coverage
    * question, answered by comparing state sets, not hidden in a 0.
    *
    * Output per prev state: (prev, predicted, n_train, n_test,
    * n_correct, accuracy).
    */
  def markovBacktest(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String,
      inTrain: Column): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(unix_micros(col(timeCol)), col(tieCol))
    val bigrams = events
      .filter(col(timeCol).isNotNull && col(typeCol).isNotNull)
      .withColumn("__train", inTrain)
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(col(typeCol).as("prev"), col("__next").as("next"), col("__train"))
    val trainCounts = bigrams.filter(col("__train"))
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("__n"))
    val wRank = Window.partitionBy(col("prev"))
      .orderBy(col("__n").desc, col("next").asc)
    val model = trainCounts
      .withColumn("__r", row_number().over(wRank))
      .filter(col("__r") === 1)
      .groupBy(col("prev"))
      .agg(first(col("next")).as("predicted"),
        sum(col("__n")).as("__npred")) // __n of the argmax row only
    val trainTotals = trainCounts.groupBy(col("prev")).agg(sum(col("__n")).as("n_train"))
    val test = bigrams.filter(!col("__train"))
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("__nt"))
    model.drop("__npred")
      .join(trainTotals, Seq("prev"))
      .join(test
        .groupBy(col("prev"))
        .agg(sum(col("__nt")).as("n_test")), Seq("prev"), "left")
      .join(test.select(col("prev"), col("next").as("predicted"), col("__nt").as("__nc")),
        Seq("prev", "predicted"), "left")
      .select(col("prev"), col("predicted"), col("n_train"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("__nc"), lit(0L)).as("n_correct"),
        when(coalesce(col("n_test"), lit(0L)) > 0,
          r6(coalesce(col("__nc"), lit(0L)).cast("double") /
            col("n_test").cast("double"))).as("accuracy"))
  }
}
