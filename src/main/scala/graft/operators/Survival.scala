package graft.operators

import graft.functions.Portable.{dsum, dsum0, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan–Meier survival estimation over an event stream — "how long
  * until a user converts/churns, accounting for users we stopped
  * observing" (right censoring). The per-key duration starts at the
  * key's FIRST event; the terminal event is its first `eventType`
  * occurrence (observed) or its last event of any type (censored).
  *
  * Output is the day-granularity KM curve: one row per distinct
  * duration with the risk set, event/censor counts, and the cumulative
  * log-survival. `log_s(t) = Σ_{t'≤t, d>0} r6(ln(1 − d/n_risk))` and
  * S(t) = e^{log_s}; the LOG curve is emitted because it is exactly the
  * windowed sum of per-row hazard terms — each term r6-rounded before a
  * DECIMAL(38,6) cumulative sum, so the curve is bit-portable across
  * engines (the same ln-sum discipline as the LM/KL scores; an exp at
  * the end would add nothing but another libm call).
  *
  * Spark shape: ONE shuffle on the key builds per-key spans; the curve
  * frame is DAY-granularity — bounded by the observation horizon (days,
  * not keys or rows), so the two cumulative windows over it are global
  * windows over a provably tiny frame (the same bounded-by-contract
  * class as the vocabulary rank in fit_vocabulary_indices), sharing one
  * sort. The at-risk count comes from total − running(prior d+c) with
  * the one-row total broadcast — no triangular self-join.
  *
  * Reference analog: none (time-to-event analytics extension per the
  * build brief; complements [[Retention]] / [[Funnel]]).
  */
object Survival {

  private val DayUs = 86400000000L

  /** (t_day, n_risk, d_events, c_censored, log_s). `t_day` is whole
    * days from the key's first event; keys whose first event IS the
    * terminal event land at day 0. Keys with no event at all after
    * filtering NULL times are absent.
    */
  def kaplanMeier(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      eventType: String): DataFrame = {
    val t = unix_micros(col(timeCol))
    // one key shuffle: first event, first terminal event, last event
    val spans = events
      .filter(col(timeCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(
        min(t).as("__t0"),
        min(when(col(typeCol) === eventType, t)).as("__te"),
        max(t).as("__tl"))
    val durations = spans.select(
      floor((coalesce(col("__te"), col("__tl")) - col("__t0")).cast("double") / DayUs.toDouble)
        .cast("long").as("t_day"),
      col("__te").isNotNull.as("__observed"))
    // day-granularity curve: bounded by the horizon, not the corpus
    val curve = durations
      .groupBy(col("t_day"))
      .agg(
        count(when(col("__observed"), lit(1))).as("d_events"),
        count(when(!col("__observed"), lit(1))).as("c_censored"))
    val total = curve.agg(
      sum(col("d_events") + col("c_censored")).as("__total"))
    val byT = Window.orderBy(col("t_day"))
    val prior = byT.rowsBetween(Window.unboundedPreceding, -1)
    val withRisk = curve
      .crossJoin(broadcast(total)) // one-row totals frame: lint-exempt
      .withColumn("n_risk",
        col("__total") - coalesce(
          sum(col("d_events") + col("c_censored")).over(prior), lit(0L)))
    // hazard term per day, r6-rounded BEFORE the DECIMAL cumulative sum.
    // d == n_risk (survival hits exactly zero, ln(0) = −∞) can only occur
    // on the TERMINAL day (no one outlives it); that row emits NULL log_s
    // instead of an unportable infinity, and no later row exists to
    // inherit the skip.
    val term = when(col("d_events") > 0 && col("d_events") < col("n_risk"),
      r6(
        log(lit(1.0) - col("d_events").cast("double") / col("n_risk").cast("double"))))
      .otherwise(lit(0.0))
    withRisk
      .withColumn("log_s",
        when(col("d_events") === col("n_risk"), lit(null).cast("double"))
          .otherwise(sum(term.cast("decimal(38,6)")).over(byT).cast("double")))
      .select(col("t_day"), col("n_risk"), col("d_events"), col("c_censored"), col("log_s"))
  }

  /** Two-group log-rank test — "do the arms' survival CURVES differ",
    * the whole-curve companion to [[kaplanMeier]] (a mean-duration
    * t-test throws away censoring; the log-rank uses every at-risk
    * day). Spans are built exactly as in [[kaplanMeier]] (first event →
    * first `eventType` else last event, day granularity); `inA` splits
    * keys into the two arms by any row-level predicate — it is resolved
    * per KEY as `max(inA)` over the key's rows, so flag ANY row of a
    * treated key.
    *
    * At each day t with d_t > 0 total events, arm A contributes
    * observed d_At against expected d_t·n_At/n_t under H₀ (same
    * hazard), with hypergeometric variance
    * d_t·(n_At/n_t)·(1−n_At/n_t)·(n_t−d_t)/(n_t−1). The statistic
    * (O−E)²/V is χ²₁. Day terms are r6-rounded before DECIMAL sums so
    * the day-order reduction is bit-portable; single-at-risk days
    * (n_t = 1) carry zero variance and are skipped by the V guard.
    *
    * Spark shape: one key shuffle to spans, then everything lives on
    * the day-granularity curve frame (bounded by the horizon — same
    * contract as [[kaplanMeier]]); the cumulative at-risk window and
    * the final one-row aggregate sort that tiny frame once. Output is
    * ONE row: (n_a, n_b, o_a, e_a, v, chi2); chi2 NULL when either arm
    * is empty or no day carries variance.
    */
  def logRank(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      eventType: String,
      inA: org.apache.spark.sql.Column): DataFrame = {
    val t = unix_micros(col(timeCol))
    val spans = events
      .filter(col(timeCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(
        min(t).as("__t0"),
        min(when(col(typeCol) === eventType, t)).as("__te"),
        max(t).as("__tl"),
        max(when(inA, lit(1)).otherwise(lit(0))).as("__a"))
    val durations = spans.select(
      floor((coalesce(col("__te"), col("__tl")) - col("__t0")).cast("double") / DayUs.toDouble)
        .cast("long").as("t_day"),
      col("__te").isNotNull.as("__observed"),
      (col("__a") === 1).as("__inA"))
    // day-granularity curve per arm, pivoted into columns (one groupBy)
    def cnt(obs: Boolean, a: Boolean): Column =
      count(when(col("__observed") === obs && col("__inA") === a, lit(1)))
    val curve = durations
      .groupBy(col("t_day"))
      .agg(
        cnt(obs = true, a = true).as("d_a"),
        cnt(obs = true, a = false).as("d_b"),
        cnt(obs = false, a = true).as("c_a"),
        cnt(obs = false, a = false).as("c_b"))
    val totals = curve.agg(
      sum(col("d_a") + col("c_a")).as("__tot_a"),
      sum(col("d_b") + col("c_b")).as("__tot_b"))
    val byT = Window.orderBy(col("t_day"))
    val prior = byT.rowsBetween(Window.unboundedPreceding, -1)
    val withRisk = curve
      .crossJoin(broadcast(totals)) // one-row totals frame: lint-exempt
      .withColumn("n_a_risk",
        col("__tot_a") - coalesce(sum(col("d_a") + col("c_a")).over(prior), lit(0L)))
      .withColumn("n_b_risk",
        col("__tot_b") - coalesce(sum(col("d_b") + col("c_b")).over(prior), lit(0L)))
    val d = (col("d_a") + col("d_b")).cast("double")
    val nA = col("n_a_risk").cast("double")
    val n = (col("n_a_risk") + col("n_b_risk")).cast("double")
    val p = nA / n
    val eTerm = when(d > 0.0, r6(d * p)).otherwise(lit(0.0))
    val vTerm = when(d > 0.0 && n > 1.0,
      r6(d * p * (lit(1.0) - p) * (n - d) / (n - 1.0)))
      .otherwise(lit(0.0))
    withRisk.agg(
        max(col("__tot_a")).as("n_a"),
        max(col("__tot_b")).as("n_b"),
        sum(col("d_a")).as("o_a"),
        dsum0(eTerm).as("e_a"),
        dsum0(vTerm).as("v"))
      .withColumn(
        "chi2",
        when(col("n_a") > 0 && col("n_b") > 0 && col("v") > 0.0,
          (col("o_a").cast("double") - col("e_a")) *
            (col("o_a").cast("double") - col("e_a")) / col("v")))
  }

  /** Nelson–Aalen cumulative hazard over the same spans as
    * [[kaplanMeier]]: H(t) = Σ_{t'≤t} d/n_risk — the hazard-scale twin
    * of the KM curve (KM multiplies survival fractions; NA adds hazard
    * increments, is defined even past d = n_risk, and its slope reads
    * directly as "risk per day", which the epidemiology/SRE literature
    * plots to spot hazard REGIME changes a survival curve smooths over).
    *
    * Identical execution shape to KM (one key shuffle → day-granularity
    * curve → two shared-sort windows over the horizon-bounded frame);
    * per-day increments d/n are exact rationals r6'd before the
    * DECIMAL cumulative sum. Output: (t_day, n_risk, d_events,
    * c_censored, hazard, cum_hazard).
    */
  def nelsonAalen(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      eventType: String): DataFrame = {
    val t = unix_micros(col(timeCol))
    val spans = events
      .filter(col(timeCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(
        min(t).as("__t0"),
        min(when(col(typeCol) === eventType, t)).as("__te"),
        max(t).as("__tl"))
    val durations = spans.select(
      floor((coalesce(col("__te"), col("__tl")) - col("__t0")).cast("double") / DayUs.toDouble)
        .cast("long").as("t_day"),
      col("__te").isNotNull.as("__observed"))
    val curve = durations
      .groupBy(col("t_day"))
      .agg(
        count(when(col("__observed"), lit(1))).as("d_events"),
        count(when(!col("__observed"), lit(1))).as("c_censored"))
    val total = curve.agg(
      sum(col("d_events") + col("c_censored")).as("__total"))
    val byT = Window.orderBy(col("t_day"))
    val prior = byT.rowsBetween(Window.unboundedPreceding, -1)
    val withRisk = curve
      .crossJoin(broadcast(total)) // one-row totals frame: lint-exempt
      .withColumn("n_risk",
        col("__total") - coalesce(
          sum(col("d_events") + col("c_censored")).over(prior), lit(0L)))
    val inc = r6(
      col("d_events").cast("double") / col("n_risk").cast("double"))
    withRisk
      .withColumn("hazard", inc)
      .withColumn("cum_hazard",
        sum(inc.cast("decimal(38,6)")).over(byT).cast("double"))
      .select(col("t_day"), col("n_risk"), col("d_events"), col("c_censored"),
        col("hazard"), col("cum_hazard"))
  }

  /** Restricted mean survival time — the area under the KM curve up to
    * a horizon τ: "expected days survived within the first τ days", the
    * clinically-standard single-number summary when hazards aren't
    * proportional (a hazard ratio is meaningless then; an RMST
    * difference never is). Built directly ON the [[kaplanMeier]] curve:
    * the step function S contributes S(tᵢ₋₁)·(min(tᵢ,τ)−min(tᵢ₋₁,τ))
    * per curve row plus the S(t_last)·(τ−t_last) tail, all r6-pinned
    * before a DECIMAL sum; a terminal zero-survival day (NULL log_s)
    * contributes a zero tail rather than poisoning the integral.
    *
    * Same day-granularity bounded-frame contract as [[kaplanMeier]] —
    * the lag/sum windows order the curve, never subjects. Output ONE
    * row: (horizon_days, rmst, n, n_events).
    */
  def restrictedMeanSurvival(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      eventType: String,
      horizonDays: Long): DataFrame = {
    require(horizonDays > 0, s"horizon must be positive, got $horizonDays")
    val curve = kaplanMeier(events, keyCol, timeCol, typeCol, eventType)
    val byT = Window.orderBy(col("t_day"))
    val tau = lit(horizonDays.toDouble)
    val s = when(col("log_s").isNull, lit(0.0)).otherwise(r6(exp(col("log_s"))))
    val stepped = curve
      .withColumn("__s", s)
      .withColumn("__prevs", coalesce(lag(col("__s"), 1).over(byT), lit(1.0)))
      .withColumn("__prevt", coalesce(lag(col("t_day"), 1).over(byT), lit(0L)))
      .withColumn("__w",
        greatest(lit(0.0),
          least(col("t_day").cast("double"), tau) -
            least(col("__prevt").cast("double"), tau)))
      .withColumn("__mx", max(col("t_day")).over(Window.partitionBy(lit(1))))
    stepped.agg(
      lit(horizonDays).as("horizon_days"),
      r6(coalesce(dsum(r6(col("__prevs") * col("__w"))), lit(0.0)) +
        coalesce(dsum(when(col("t_day") === col("__mx"),
          r6(col("__s") * greatest(lit(0.0), tau - least(col("t_day").cast("double"), tau))))),
          lit(0.0))).as("rmst"),
      coalesce(sum(col("d_events") + col("c_censored")), lit(0L)).as("n"),
      coalesce(sum(col("d_events")), lit(0L)).as("n_events"))
  }

  /** Two-arm RMST contrast — the recommended effect report when
    * proportional hazards fail ([[logRank]] answers "different?",
    * [[coxPh]]'s HR assumes PH; the RMST difference "arm A survives
    * 2.3 more days out of the first 30" assumes nothing). Same
    * span/curve construction as [[restrictedMeanSurvival]], but every
    * window is PARTITIONED BY ARM (each arm gets its own
    * day-granularity curve — no global window exists here, unlike the
    * single-curve ops). The arm flag resolves per KEY as max(inA) over
    * the key's rows, the [[logRank]] convention.
    *
    * Output ONE row: (horizon_days, n_a, n_b, rmst_a, rmst_b,
    * rmst_diff) — an empty arm yields NULL rmst and diff.
    */
  def rmstDiff(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      eventType: String,
      inA: Column,
      horizonDays: Long): DataFrame = {
    require(horizonDays > 0, s"horizon must be positive, got $horizonDays")
    val t = unix_micros(col(timeCol))
    val tau = lit(horizonDays.toDouble)
    val spans = events
      .filter(col(timeCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(
        max(when(inA, lit(1L)).otherwise(lit(0L))).as("__arm"),
        min(t).as("__t0"),
        min(when(col(typeCol) === eventType, t)).as("__te"),
        max(t).as("__tl"))
    val durations = spans.select(
      col("__arm"),
      floor((coalesce(col("__te"), col("__tl")) - col("__t0")).cast("double") / DayUs.toDouble)
        .cast("long").as("t_day"),
      col("__te").isNotNull.as("__obs"))
    val curve = durations
      .groupBy(col("__arm"), col("t_day"))
      .agg(
        count(when(col("__obs"), lit(1))).as("__d"),
        count(when(!col("__obs"), lit(1))).as("__c"))
    val byArm = Window.partitionBy(col("__arm"))
    val byT = byArm.orderBy(col("t_day"))
    val prior = byT.rowsBetween(Window.unboundedPreceding, -1)
    val exits = col("__d") + col("__c")
    val staged = curve
      .withColumn("__tot", sum(exits).over(byArm))
      .withColumn("__nrisk", col("__tot") - coalesce(sum(exits).over(prior), lit(0L)))
      .withColumn("__term",
        when(col("__d") > 0 && col("__d") < col("__nrisk"),
          r6(log(lit(1.0) - col("__d").cast("double") / col("__nrisk").cast("double"))))
          .otherwise(lit(0.0)))
      .withColumn("__zeroed",
        coalesce(sum(when(col("__d") === col("__nrisk"), lit(1))).over(byT), lit(0L)))
      .withColumn("__s",
        when(col("__zeroed") > 0, lit(0.0))
          .otherwise(r6(exp(sum(col("__term").cast("decimal(38,6)")).over(byT)
            .cast("double")))))
      .withColumn("__prevs", coalesce(lag(col("__s"), 1).over(byT), lit(1.0)))
      .withColumn("__prevt", coalesce(lag(col("t_day"), 1).over(byT), lit(0L)))
      .withColumn("__w",
        greatest(lit(0.0),
          least(col("t_day").cast("double"), tau) -
            least(col("__prevt").cast("double"), tau)))
      .withColumn("__mx", max(col("t_day")).over(byArm))
    def armAgg(arm: Int, c: Column): Column = when(col("__arm") === arm, c)
    def rmstOf(arm: Int): Column =
      r6(coalesce(dsum(armAgg(arm, r6(col("__prevs") * col("__w")))), lit(0.0)) +
        coalesce(dsum(when(col("t_day") === col("__mx"),
          armAgg(arm, r6(col("__s") *
            greatest(lit(0.0), tau - least(col("t_day").cast("double"), tau)))))),
          lit(0.0)))
    val counts = staged.agg(
      lit(horizonDays).as("horizon_days"),
      coalesce(sum(armAgg(1, exits)), lit(0L)).as("n_a"),
      coalesce(sum(armAgg(0, exits)), lit(0L)).as("n_b"),
      rmstOf(1).as("__ra"),
      rmstOf(0).as("__rb"))
    counts.select(
      col("horizon_days"), col("n_a"), col("n_b"),
      when(col("n_a") > 0, col("__ra")).as("rmst_a"),
      when(col("n_b") > 0, col("__rb")).as("rmst_b"),
      when(col("n_a") > 0 && col("n_b") > 0, r6(col("__ra") - col("__rb")))
        .as("rmst_diff"))
  }

  /** Competing-risks cumulative incidence (Aalen–Johansen, two causes)
    * — when a subject can exit by EITHER of two terminal events
    * ("purchased" vs "churned"), 1−KM per cause over-counts (it treats
    * the competing exit as censoring, as if those subjects could still
    * convert); the CIF allocates each day's overall survival mass to
    * the cause that actually claimed it:
    * CIF_k(t) = Σ_{t'≤t} S(t'⁻)·d_k(t')/n(t'), with S the ALL-CAUSE
    * KM survival. CIF₁+CIF₂+S(t) = 1 up to rounding — the accounting
    * identity the spec pins.
    *
    * Per key: first cause-1 and cause-2 times; the EARLIER one is the
    * terminal event (a tie goes to cause 1, documented); neither ⇒
    * censored at the last event. Day-granularity curve, the
    * [[kaplanMeier]] bounded-frame window contract; hazard and CIF
    * terms r6-pinned before DECIMAL cumulative sums.
    *
    * Output: one row per day — (t_day, n_risk, d_cause1, d_cause2,
    * c_censored, cif1, cif2).
    */
  def competingRisks(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      typeCol: String,
      cause1: String,
      cause2: String): DataFrame = {
    require(cause1 != cause2, "the two causes must differ")
    val t = unix_micros(col(timeCol))
    val spans = events
      .filter(col(timeCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(
        min(t).as("__t0"),
        min(when(col(typeCol) === cause1, t)).as("__t1"),
        min(when(col(typeCol) === cause2, t)).as("__t2"),
        max(t).as("__tl"))
    val te = when(col("__t1").isNotNull && (col("__t2").isNull || col("__t1") <= col("__t2")),
      col("__t1"))
      .otherwise(col("__t2")) // NULL when neither cause occurred
    val cause = when(col("__t1").isNotNull && (col("__t2").isNull || col("__t1") <= col("__t2")),
      lit(1)).otherwise(when(col("__t2").isNotNull, lit(2)))
    val durations = spans.select(
      floor((coalesce(te, col("__tl")) - col("__t0")).cast("double") / DayUs.toDouble)
        .cast("long").as("t_day"),
      cause.as("__cause"))
    val curve = durations
      .groupBy(col("t_day"))
      .agg(
        count(when(col("__cause") === 1, lit(1))).as("d_cause1"),
        count(when(col("__cause") === 2, lit(1))).as("d_cause2"),
        count(when(col("__cause").isNull, lit(1))).as("c_censored"))
    val total = curve.agg(
      sum(col("d_cause1") + col("d_cause2") + col("c_censored")).as("__total"))
    val byT = Window.orderBy(col("t_day"))
    val prior = byT.rowsBetween(Window.unboundedPreceding, -1)
    val run = byT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exits = col("d_cause1") + col("d_cause2") + col("c_censored")
    val withRisk = curve
      .crossJoin(broadcast(total)) // one-row totals frame: lint-exempt
      .withColumn("n_risk", col("__total") - coalesce(sum(exits).over(prior), lit(0L)))
    val dAll = (col("d_cause1") + col("d_cause2")).cast("double")
    // all-cause survival BEFORE this day: exp of the PRIOR hazard sum
    val term = when(dAll > 0 && dAll < col("n_risk").cast("double"),
      r6(log(lit(1.0) - dAll / col("n_risk").cast("double")))).otherwise(lit(0.0))
    val sPrev = when(
      coalesce(sum(when(dAll === col("n_risk").cast("double"), lit(1))).over(prior), lit(0L)) > 0,
      lit(0.0)) // survival already hit exactly zero on an earlier day
      .otherwise(r6(exp(coalesce(sum(term.cast("decimal(38,6)")).over(prior), lit(0.0))
        .cast("double"))))
    // stage sPrev as a real column first: a window expression cannot
    // nest inside another window function
    def cif(d: Column): Column =
      sum(r6(col("__sprev") * d.cast("double") / col("n_risk").cast("double"))
        .cast("decimal(38,6)")).over(run).cast("double")
    withRisk
      .withColumn("__sprev", sPrev)
      .select(col("t_day"), col("n_risk"), col("d_cause1"), col("d_cause2"),
        col("c_censored"),
        r6(cif(col("d_cause1"))).as("cif1"),
        r6(cif(col("d_cause2"))).as("cif2"))
  }

  /** Cox proportional-hazards regression, single covariate, Breslow
    * ties — "does x shift the HAZARD, accounting for censoring" (the
    * modelled companion to [[logRank]]'s yes/no: log-rank is exactly
    * the Cox score test at β=0). Subjects arrive as one row per key:
    * duration (day granularity), observed flag, covariate x — the same
    * span-building shape as [[kaplanMeier]], done by the caller.
    *
    * Fixed-iteration Newton–Raphson from β₀ = 0 (a fixed step COUNT, not
    * a convergence test, is what makes the estimate cross-engine
    * reproducible): per step, each subject contributes w = r6(e^{βx}),
    * wx, wx² — each term r6-pinned BEFORE its DECIMAL(38,6) sum — to
    * per-DAY totals; risk-set sums S₀/S₁/S₂ at each event day are
    * reverse-cumulative windows over the day frame; the score is
    * U = Σ_days d·(x̄_events − S₁/S₀) and the information
    * I = Σ_days d·(S₂/S₀ − (S₁/S₀)²), each day term r6-pinned; then
    * β ← r6(β + U/I). I ≤ 0 (no events, or x constant within every risk
    * set) leaves β unchanged and surfaces as se = NULL rather than a
    * divide-by-zero ∞.
    *
    * Spark shape: the subject frame is already per-key (one groupBy
    * upstream); each Newton step is one map-side-combined groupBy(day)
    * over it plus windows on the DAY-granularity frame — bounded by the
    * observation horizon, the [[kaplanMeier]] global-window contract —
    * collected to ONE (U, I, ll) row with the [[graft.functions.Portable.r6]]-
    * rounded β update, which re-enters the next step as a one-row local
    * frame. `iters` steps = `iters`+1 linear passes, zero subject-frame
    * shuffles beyond the day groupBy. The previous shape (β in a one-row
    * frame folded into the next step's plan) referenced β THREE times per step, so the
    * logical plan — and the executed aggregate count, Spark not
    * dedup'ing common subplans — grew 3^(iters+1): at iters=4 that was
    * up to ~3⁵ redundant day-aggregate+window passes (measured: q_cox
    * 10.3 s at sf0.1 where one pass costs ~0.3 s).
    *
    * Output is ONE row: (n, n_events, beta, hr, se, loglik) where
    * hr = r6(e^β), se = r6(1/√I) at the final β, and loglik is the
    * Breslow log-partial-likelihood Σ_days r6(β·sx − d·ln S₀).
    *
    * Reference analog: none (survival-analytics extension; completes
    * the KM / Nelson–Aalen / log-rank family).
    */
  def coxPh(
      subjects: DataFrame,
      durationCol: String,
      observedCol: String,
      xCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"coxPh is a fixed-step Newton contract: 1 <= iters <= 16, got $iters")
    import graft.plans.Materialize.PinOps
    // every Newton step re-reads the subject frame: pin it once so the
    // steps iterate over the per-key frame, never the upstream event log
    val subj = subjects.select(
      col(durationCol).cast("long").as("__t"),
      col(observedCol).cast("boolean").as("__obs"),
      col(xCol).cast("double").as("__x")).pin()
    val byT = Window.orderBy(col("__t"))
    val riskFrame = byT.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // one Newton step: (one-row β frame) -> (one-row β' frame w/ U, I),
    // collected and re-seeded as a LocalRelation between steps (same
    // discipline as [[graft.operators.Logistic.fitGd]]: β values live
    // in the broadcast relation so every step compiles to the same
    // whole-stage source, and the collected carry keeps the plan
    // constant-size instead of folding 3 references per step).
    // The β-independent event stats (d, sx) ride the SAME day groupBy as
    // the β-weighted moments — recomputing two cheap aggregates beats a
    // per-step join against a separate evDay frame.
    def step(beta: DataFrame): DataFrame = {
      val w = r6(exp(col("__beta") * col("__x")))
      val dayTotals = subj
        .crossJoin(broadcast(beta.select("__beta"))) // one-row frame: lint-exempt
        .groupBy(col("__t"))
        .agg(
          dsum(w).as("__w"),
          dsum(r6(w * col("__x"))).as("__wx"),
          dsum(r6(w * col("__x") * col("__x"))).as("__wxx"),
          count(when(col("__obs"), lit(1))).as("__d"),
          coalesce(dsum(when(col("__obs"), col("__x"))), lit(0.0)).as("__sx"))
      def wsum(c: Column): Column =
        sum(c.cast("decimal(38,6)")).over(riskFrame).cast("double")
      val risk = dayTotals
        .withColumn("__s0", wsum(col("__w")))
        .withColumn("__s1", wsum(col("__wx")))
        .withColumn("__s2", wsum(col("__wxx")))
        .filter(col("__d") > 0)
      val m1 = col("__s1") / col("__s0")
      // global agg emits exactly one row even on an event-free frame,
      // so the 1x1 crossJoin below can never drop the β carry
      val ui = risk
        .crossJoin(broadcast(beta.select(col("__beta").as("__b0"))))
        .agg(
          coalesce(dsum(r6(col("__sx") - col("__d").cast("double") * m1)), lit(0.0)).as("__u"),
          coalesce(dsum(r6(col("__d").cast("double") *
            (col("__s2") / col("__s0") - m1 * m1))), lit(0.0)).as("__i"),
          coalesce(dsum(r6(col("__b0") * col("__sx") -
            col("__d").cast("double") * log(col("__s0")))), lit(0.0)).as("__ll"))
      ui
        .crossJoin(broadcast(beta.select(col("__beta").as("__bprev"))))
        .select(
          when(col("__i") > 0, r6(col("__bprev") + col("__u") / col("__i")))
            .otherwise(col("__bprev")).as("__beta"),
          col("__u"), col("__i"), col("__ll"), col("__bprev"))
    }
    val spark = subjects.sparkSession
    val betaSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__beta",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    def betaDf(b: Double): DataFrame =
      spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row(b)), betaSchema)
    var fittedB = 0.0
    var it = 0
    while (it < iters) {
      fittedB = step(betaDf(fittedB)).head().getDouble(0)
      it += 1
    }
    // one extra evaluation AT the final β for (U, I, loglik) reporting
    val finalRow = step(betaDf(fittedB)).head()
    val finalEval = spark.createDataFrame(
      java.util.Collections.singletonList(finalRow),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__beta",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("__u",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("__i",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("__ll",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("__bprev",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    val counts = subj.agg(
      count(lit(1)).as("n"),
      count(when(col("__obs"), lit(1))).as("n_events"))
    counts
      .crossJoin(broadcast(finalEval))
      .select(
        col("n"), col("n_events"),
        col("__bprev").as("beta"),
        r6(exp(col("__bprev"))).as("hr"),
        when(col("__i") > 0, r6(lit(1.0) / sqrt(col("__i"))))
          .otherwise(lit(null).cast("double")).as("se"),
        col("__ll").as("loglik"))
  }
}
