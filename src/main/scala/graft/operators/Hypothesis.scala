package graft.operators

import graft.functions.Portable.{dsum, dsum0, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-level two-sample tests — Kolmogorov–Smirnov and
  * Mann–Whitney U — per group. The complement of [[Stats.welchTest]]:
  * Welch asks "did the MEAN move", these ask "did the
  * DISTRIBUTION move" (shape/shift), which is what a guardrail metric
  * with a heavy tail actually needs (a mean test misses a variance blow-up
  * or a median shift under a stable mean).
  *
  * Both tests reduce to rank/ECDF statistics over one exchange:
  *   - KS aggregates the fact table down to the per-(group, value)
  *     distinct-value frame FIRST (one groupBy shuffle), then runs the
  *     cumulative-count windows on that bounded frame — the window
  *     partition holds distinct values, never raw rows, so a 100 TB
  *     column with bounded value cardinality windows over a tiny frame.
  *   - MWU ranks raw rows (windows partitioned by the group, the same
  *     single-exchange reuse as [[Stats.spearman]]: rank / tie-count
  *     windows share one partitioning) and then collapses straight to a
  *     group-sized moment frame.
  *
  * Engine portability: cumulative counts and tie counts are exact
  * BIGINTs; average ranks are exact halves DECIMAL-summed; every double
  * expression downstream (ECDF fractions, z) is the same IEEE operation
  * sequence in any engine (sqrt is correctly rounded — no libm pow/exp in
  * the oracle-checked surface).
  */
object Hypothesis {

  private def ok(c: Column): Column = c.isNotNull && !isnan(c)

  /** Per-group two-sample Kolmogorov–Smirnov: rows where `inA` holds are
    * sample A, the rest sample B. Emits `n_a`, `n_b`, the KS distance
    * `d` = max |F_A(x) − F_B(x)| over the pooled support, and the scaled
    * statistic `ks` = √(n_a·n_b/(n_a+n_b))·d (compare to the usual 1.36
    * α=0.05 critical value). Groups where either sample is empty emit
    * NULL `d`/`ks` rather than vanishing — an empty arm is a finding.
    */
  def ksTest(df: DataFrame, by: Seq[String], valueCol: String, inA: Column): DataFrame = {
    val x = col(valueCol).cast("double")
    val a = when(inA, 1L).otherwise(0L)
    val byCols = by.map(col)
    val counts = df
      .filter(ok(x))
      .select((byCols :+ x.as("__x") :+ a.as("__a")): _*)
      .groupBy((byCols :+ col("__x")): _*)
      .agg(sum(col("__a")).as("__ca"), sum(lit(1L) - col("__a")).as("__cb"))
    val wOrd = Window
      .partitionBy(byCols: _*)
      .orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(byCols: _*)
    val na = sum(col("__ca")).over(wAll)
    val nb = sum(col("__cb")).over(wAll)
    val stepped = counts
      .withColumn("__fa", sum(col("__ca")).over(wOrd))
      .withColumn("__fb", sum(col("__cb")).over(wOrd))
      .withColumn("__na", na)
      .withColumn("__nb", nb)
      .withColumn(
        "__d",
        when(
          col("__na") > 0 && col("__nb") > 0,
          abs(
            col("__fa").cast("double") / col("__na").cast("double") -
              col("__fb").cast("double") / col("__nb").cast("double"))))
    stepped
      .groupBy(byCols: _*)
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        max(col("__d")).as("d"))
      .withColumn(
        "ks",
        sqrt(
          col("n_a").cast("double") * col("n_b").cast("double") /
            (col("n_a") + col("n_b")).cast("double")) * col("d"))
  }

  /** Per-group Mann–Whitney U (two-sided normal approximation with the
    * standard tie correction): `u_a` is sample A's U statistic from
    * average ranks, `z` its tie-corrected standardization — the
    * distribution-free "did the typical value shift" test that ignores
    * outlier magnitude entirely (a single 10⁹ row moves Welch's t, not
    * this). NULL `z` when an arm is empty or every value ties.
    *
    * Ranks are exact halves; the per-row tie term Σ_rows(c²−1) equals the
    * per-value Σ(c³−c) (each of a value's c rows contributes c²−1), which
    * keeps the tie sum on the already-ranked frame instead of a second
    * aggregate.
    */
  def mannWhitney(df: DataFrame, by: Seq[String], valueCol: String, inA: Column): DataFrame = {
    val x = col(valueCol).cast("double")
    val byCols = by.map(col)
    val base = df
      .filter(ok(x))
      .select((byCols :+ x.as("__x") :+ when(inA, 1L).otherwise(0L).as("__a")): _*)
    val wg = Window.partitionBy(byCols: _*)
    val wv = Window.partitionBy((byCols :+ col("__x")): _*)
    val avgRank =
      rank().over(wg.orderBy(col("__x"))).cast("double") +
        (count(lit(1)).over(wv) - 1).cast("double") / 2.0
    val ranked = base
      .withColumn("__rk", avgRank)
      .withColumn("__c", count(lit(1)).over(wv))
    val m = ranked
      .groupBy(byCols: _*)
      .agg(
        sum(col("__a")).as("n_a"),
        sum(lit(1L) - col("__a")).as("n_b"),
        dsum0(when(col("__a") === 1L, col("__rk"))).as("__ra"),
        dsum0((col("__c") * col("__c") - 1L)).as("__ties"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = (col("n_a") + col("n_b")).cast("double")
    val u = col("__ra") - naD * (naD + 1.0) / 2.0
    val sigma2 =
      naD * nbD / 12.0 * ((nD + 1.0) - col("__ties") / (nD * (nD - 1.0)))
    m.withColumn("u_a", u)
      .withColumn(
        "z",
        when(
          col("n_a") > 0 && col("n_b") > 0 && sigma2 > 0.0,
          (u - naD * nbD / 2.0) / sqrt(sigma2)))
      // Cliff's delta 2U/(n_a·n_b) − 1: the EFFECT SIZE the z-score isn't
      // (at 10⁹ rows everything is "significant"; delta says how often a
      // random A row actually beats a random B row, −1..1)
      .withColumn(
        "delta",
        when(col("n_a") > 0 && col("n_b") > 0, lit(2.0) * u / (naD * nbD) - 1.0))
      .drop("__ra", "__ties")
  }

  /** Per-group two-proportion z-test: rate of `hit` in sample A (rows
    * where `inA`) vs sample B, with the pooled-variance z — the
    * conversion-rate / defect-rate A/B readout ([[Stats.welchTest]] for
    * binary outcomes, where Welch's per-row variance is just p(1−p) and
    * pooling is the standard null). One partial-aggregated scan to a
    * group-sized frame of four exact counts; NULL z when an arm is empty
    * or the pooled rate is degenerate (0 or 1 — no variance to test).
    */
  def twoProportionZ(df: DataFrame, by: Seq[String], hit: Column, inA: Column): DataFrame = {
    val a = when(inA, 1L).otherwise(0L)
    val h = when(hit, 1L).otherwise(0L)
    val g = df
      .groupBy(by.map(col): _*)
      .agg(
        sum(a).as("n_a"),
        sum(lit(1L) - a).as("n_b"),
        coalesce(sum(when(inA, h)), lit(0L)).as("k_a"),
        coalesce(sum(when(!inA, h)), lit(0L)).as("k_b"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val pa = col("k_a").cast("double") / naD
    val pb = col("k_b").cast("double") / nbD
    val pp = (col("k_a") + col("k_b")).cast("double") / (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / naD + lit(1.0) / nbD))
    g.select((by.map(col) :+ col("n_a") :+ col("n_b") :+ col("k_a") :+ col("k_b") :+
      when(col("n_a") > 0, pa).as("p_a") :+
      when(col("n_b") > 0, pb).as("p_b") :+
      when(col("n_a") > 0 && col("n_b") > 0 && pp > 0.0 && pp < 1.0, (pa - pb) / se)
        .as("z")): _*)
  }

  /** Per-group Kruskal–Wallis H: the k-arm extension of [[mannWhitney]]
    * — "did ANY arm's distribution shift" across the levels of `armCol`
    * (compare H to χ²_{k−1}). H = 12/(N(N+1))·Σ_a R_a²/n_a − 3(N+1) from
    * average ranks over the pooled group, divided by the tie correction
    * C = 1 − Σ(c³−c)/(N³−N) (`h` is tie-corrected; NULL when the group
    * has < 2 arms or every value ties — C = 0 leaves nothing to test).
    *
    * Same single-exchange discipline as [[mannWhitney]]: the rank and
    * tie-count windows share the group partitioning; per-arm rank sums
    * collapse to a (group × arms)-sized frame, then to group rows. The
    * tie term rides the per-row Σ(c²−1) ≡ Σ_values(c³−c) identity so no
    * second aggregate scans the ranked frame.
    */
  def kruskalWallis(df: DataFrame, by: Seq[String], armCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val byCols = by.map(col)
    val base = df
      .filter(ok(x) && col(armCol).isNotNull)
      .select((byCols :+ col(armCol).as("__arm") :+ x.as("__x")): _*)
    val wg = Window.partitionBy(byCols: _*)
    val wv = Window.partitionBy((byCols :+ col("__x")): _*)
    val avgRank =
      rank().over(wg.orderBy(col("__x"))).cast("double") +
        (count(lit(1)).over(wv) - 1).cast("double") / 2.0
    val perArm = base
      .withColumn("__rk", avgRank)
      .withColumn("__c", count(lit(1)).over(wv))
      .groupBy((byCols :+ col("__arm")): _*)
      .agg(
        count(lit(1)).as("__na"),
        dsum0(col("__rk")).as("__ra"),
        dsum0(col("__c") * col("__c") - 1L).as("__ties"))
    // R_a²/n_a is the one inexact double here — r6 it in DOUBLE space
    // before the DECIMAL-cast sum (§5 convention: the raw double→DECIMAL
    // cast rounds differently across engines at 10⁻⁶ boundaries)
    val rr = col("__ra") * col("__ra") / col("__na").cast("double")
    val m = perArm
      .groupBy(byCols: _*)
      .agg(
        sum(col("__na")).as("n"),
        count(lit(1)).as("k_arms"),
        dsum0(r6(rr)).as("__rr"),
        dsum0(col("__ties")).as("__t"))
    val nD = col("n").cast("double")
    val h0 = lit(12.0) / (nD * (nD + 1.0)) * col("__rr") - lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - col("__t") / (nD * nD * nD - nD)
    m.withColumn(
        "h",
        when(col("k_arms") >= 2 && col("n") > 1 && corr > 0.0, h0 / corr))
      .drop("__rr", "__t")
  }

  /** Two-sided normal p-value from a z-score via the Abramowitz–Stegun
    * 26.2.16 rational tail (|ε| < 1e-5 — ample for FDR thresholding,
    * which compares p to rates like 0.05): Q(x) = φ(x)(a₁t + a₂t² + a₃t³),
    * t = 1/(1 + 0.33267·x), p = min(1, 2·Q(|z|)). Chosen over an erf
    * call because neither engine exposes erf in SQL and the explicit
    * formula is the SAME operation sequence everywhere — exp is the one
    * libm call, pinned by r6 at every consumer.
    */
  def pFromZ(z: Column): Column = {
    val x = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(0.33267) * x)
    val phi = exp(-x * x / 2.0) / math.sqrt(2.0 * math.Pi)
    val q = phi * (lit(0.4361836) * t - lit(0.1201676) * t * t +
      lit(0.9372980) * t * t * t)
    // explicit NULL guard: least() SKIPS nulls, so least(1, NULL) would
    // turn an untestable z into a confident p = 1
    when(z.isNotNull, least(lit(1.0), lit(2.0) * q))
  }

  /** Benjamini–Hochberg FDR control over a frame of per-test p-values —
    * what turns "500 slices each chi-squared at α=0.05" (≈25 false
    * alarms by construction) into a controlled discovery list. Adds
    * `m` (test count), `rank` (ascending p, ties broken by `tieCols` so
    * the report is deterministic), the adjusted `q` = min over the
    * suffix of p·m/rank (monotone by construction), and `reject`
    * (q ≤ alpha — equivalent to the classic step-up rule).
    *
    * Scale shape: the input is a TESTS frame (one row per hypothesis —
    * group-sized, not corpus-sized), so the two global windows here
    * order hundreds of rows, never raw data; this is the km_survival
    * "bounded frame below an aggregation" window allowance. Rows with
    * NULL p (untestable slices) pass through with NULL rank/q/reject
    * rather than silently vanishing — an untestable slice is a finding.
    */
  def benjaminiHochberg(
      tests: DataFrame,
      pCol: String,
      tieCols: Seq[String],
      alpha: Double = 0.05): DataFrame = {
    val p = col(pCol)
    val ord = p.asc +: tieCols.map(col(_).asc)
    val wRank = Window.orderBy(ord: _*)
    val wSuffix = Window.orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val testable = tests.filter(p.isNotNull)
    val ranked = testable
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("q",
        least(lit(1.0),
          min(p * col("m").cast("double") / col("rank").cast("double")).over(wSuffix)))
      .withColumn("reject", col("q") <= alpha)
    ranked.unionByName(
      tests.filter(p.isNull)
        .withColumn("m", lit(null).cast("long"))
        .withColumn("rank", lit(null).cast("long"))
        .withColumn("q", lit(null).cast("double"))
        .withColumn("reject", lit(null).cast("boolean")))
  }

  /** Cochran–Mantel–Haenszel test + Mantel–Haenszel pooled odds ratio —
    * "is arm A associated with the hit AFTER controlling for the
    * strata", the Simpson's-paradox-proof version of [[twoProportionZ]]:
    * per-stratum 2×2 tables are combined by their own information, so a
    * confounder that splits both arm mix and base rate across strata
    * (the classic way a pooled 2×2 lies) cancels instead of biasing.
    *
    * Per stratum k with cells (a, b; c, d), n = a+b+c+d:
    * CMH χ²₁ = (Σ(a − E_a))² / Σ V_a with E_a = (a+b)(a+c)/n and
    * V_a = (a+b)(c+d)(a+c)(b+d) / (n²(n−1)); OR_MH = Σ(ad/n) / Σ(bc/n).
    * No continuity correction (the modern default). Strata with n < 2
    * carry no information (V undefined) and are excluded from ALL sums
    * — counted in `k_dropped` so the exclusion is visible. χ² is NULL
    * when ΣV = 0 (every stratum degenerate); OR_MH is NULL when
    * Σ(bc/n) = 0 (no discordant mass — ∞ is not a number to ship).
    *
    * One corpus pass to the strata-sized cell frame, then one-row
    * sums; per-stratum terms r6-pinned before DECIMAL reductions so
    * the stratum-order reduction is engine-independent. Output ONE
    * row: (k_strata, k_dropped, n, chi2, p_value, or_mh).
    */
  def cmh(df: DataFrame, strata: Seq[String], hit: Column, inA: Column): DataFrame = {
    require(strata.nonEmpty, "cmh needs at least one stratum column")
    val cells = df
      .groupBy(strata.map(col): _*)
      .agg(
        count(when(inA && hit, lit(1))).as("__a"),
        count(when(inA && !hit, lit(1))).as("__b"),
        count(when(!inA && hit, lit(1))).as("__c"),
        count(when(!inA && !hit, lit(1))).as("__d"))
      .withColumn("__n", col("__a") + col("__b") + col("__c") + col("__d"))
    val nD = col("__n").cast("double")
    val aD = col("__a").cast("double")
    val ea = (col("__a") + col("__b")).cast("double") * (col("__a") + col("__c")).cast("double") / nD
    val va = (col("__a") + col("__b")).cast("double") * (col("__c") + col("__d")).cast("double") *
      (col("__a") + col("__c")).cast("double") * (col("__b") + col("__d")).cast("double") /
      (nD * nD * (nD - lit(1.0)))
    val informative = col("__n") >= 2
    val sums = cells.agg(
      count(when(informative, lit(1))).as("k_strata"),
      count(when(!informative, lit(1))).as("k_dropped"),
      coalesce(sum(when(informative, col("__n"))), lit(0L)).as("n"),
      coalesce(dsum(when(informative, r6(aD - ea))), lit(0.0)).as("__dev"),
      coalesce(dsum(when(informative, r6(va))), lit(0.0)).as("__v"),
      coalesce(dsum(when(informative,
        r6(aD * col("__d").cast("double") / nD))), lit(0.0)).as("__rn"),
      coalesce(dsum(when(informative,
        r6(col("__b").cast("double") * col("__c").cast("double") / nD))), lit(0.0)).as("__rd"))
    val chi2 = when(col("__v") > 0,
      r6(col("__dev") * col("__dev") / col("__v")))
    sums.select(
      col("k_strata"), col("k_dropped"), col("n"),
      chi2.as("chi2"),
      when(chi2.isNotNull, r6(pFromZ(sqrt(chi2)))).as("p_value"),
      when(col("__rd") > 0, r6(col("__rn") / col("__rd"))).as("or_mh"))
  }

  /** Simpson's-paradox detector — does the POOLED A-vs-B rate
    * difference point the other way from the STRATIFIED one? The
    * pooled diff is what every naive dashboard shows; the stratified
    * reference is the Mantel–Haenszel risk difference
    * Σ w_k·(p_Ak − p_Bk) / Σ w_k with w_k = n_Ak·n_Bk/n_k (each
    * stratum weighted by its own information). `simpson_flag` fires
    * when the two signs disagree — the slice-mix artifact worth a page
    * before anyone acts on the pooled number. `n_reversed` counts the
    * strata whose own diff opposes the pooled sign (the raw material
    * of the paradox even when the MH aggregate doesn't flip).
    *
    * One corpus pass to strata-sized cells; per-stratum terms
    * r6-pinned, DECIMAL reductions; strata missing an arm carry no
    * weight (w = 0). Output ONE row: (k_strata, n, pooled_diff,
    * stratified_diff, n_reversed, simpson_flag) — both diffs NULL when
    * an arm is empty overall resp. no stratum carries weight.
    */
  def simpsonCheck(df: DataFrame, strata: Seq[String], hit: Column, inA: Column): DataFrame = {
    require(strata.nonEmpty, "simpsonCheck needs at least one stratum column")
    val cells = df
      .groupBy(strata.map(col): _*)
      .agg(
        count(when(inA, lit(1))).as("__na"),
        count(when(!inA, lit(1))).as("__nb"),
        count(when(inA && hit, lit(1))).as("__ka"),
        count(when(!inA && hit, lit(1))).as("__kb"))
    val naD = col("__na").cast("double")
    val nbD = col("__nb").cast("double")
    val d = col("__ka").cast("double") / naD - col("__kb").cast("double") / nbD
    val wgt = naD * nbD / (naD + nbD)
    val weighted = col("__na") > 0 && col("__nb") > 0
    val sums = cells.agg(
      count(lit(1)).as("k_strata"),
      sum(col("__na") + col("__nb")).as("n"),
      sum(col("__ka") + col("__kb")).as("__k"),
      sum(col("__na")).as("__sna"), sum(col("__nb")).as("__snb"),
      sum(col("__ka")).as("__ska"), sum(col("__kb")).as("__skb"),
      coalesce(dsum(when(weighted, r6(wgt * d))), lit(0.0)).as("__wd"),
      coalesce(dsum(when(weighted, r6(wgt))), lit(0.0)).as("__w"),
      count(when(weighted, lit(1))).as("__kw"))
    val pooled = when(col("__sna") > 0 && col("__snb") > 0,
      r6(col("__ska").cast("double") / col("__sna").cast("double") -
        col("__skb").cast("double") / col("__snb").cast("double")))
    val stratified = when(col("__w") > 0, r6(col("__wd") / col("__w")))
    // second cell pass for the per-stratum sign tally against the
    // pooled sign (needs the pooled diff: one-row broadcast back)
    val tally = cells
      .crossJoin(broadcast(sums.select(pooled.as("__pooled"))))
      .agg(coalesce(sum(when(
        col("__na") > 0 && col("__nb") > 0 && col("__pooled").isNotNull &&
          signum(d) =!= lit(0.0) && signum(d) =!= signum(col("__pooled")), 1L)),
        lit(0L)).as("n_reversed"))
    sums
      .crossJoin(broadcast(tally))
      .select(
        col("k_strata"), col("n"),
        pooled.as("pooled_diff"),
        stratified.as("stratified_diff"),
        col("n_reversed"),
        when(pooled.isNotNull && stratified.isNotNull,
          signum(pooled) =!= signum(stratified) && signum(pooled) =!= lit(0.0))
          .as("simpson_flag"))
  }

  /** VanderWeele–Ding E-value — the sensitivity bound every
    * observational risk ratio should ship with: how strong would an
    * unmeasured confounder (on the risk-ratio scale, with BOTH the
    * treatment and the outcome) have to be to explain the observed
    * association away entirely? E = RR + √(RR(RR−1)) on the
    * away-from-null ratio (RR < 1 inverts first). E close to 1 means a
    * whisper of confounding kills the claim; E = 3 needs a confounder
    * tripling both associations.
    *
    * One aggregate; RR NULL when either arm is empty or the control
    * rate is 0 (an infinite ratio is not a number to ship). Output ONE
    * row: (n_a, n_b, p_a, p_b, rr, e_value).
    */
  def eValue(df: DataFrame, hit: Column, inA: Column): DataFrame = {
    val g = df.agg(
      count(when(inA, lit(1))).as("n_a"),
      count(when(!inA, lit(1))).as("n_b"),
      count(when(inA && hit, lit(1))).as("__ka"),
      count(when(!inA && hit, lit(1))).as("__kb"))
    val pa = col("__ka").cast("double") / col("n_a").cast("double")
    val pb = col("__kb").cast("double") / col("n_b").cast("double")
    val rr = when(col("n_a") > 0 && col("n_b") > 0 && pb > 0 && pa > 0, pa / pb)
    val away = when(rr >= 1, rr).otherwise(lit(1.0) / rr)
    g.select(
      col("n_a"), col("n_b"),
      when(col("n_a") > 0, r6(pa)).as("p_a"),
      when(col("n_b") > 0, r6(pb)).as("p_b"),
      r6(rr).as("rr"),
      when(rr.isNotNull, r6(away + sqrt(away * (away - lit(1.0))))).as("e_value"))
  }

  /** Fisher's EXACT test per group — the 2×2 association test that is
    * still valid when [[chiSquare]]'s expected-count-≥5 rule breaks
    * (rare exposures × rare outcomes, exactly the slices a filter audit
    * cares about). Two-sided by the point-probability rule: p = Σ of
    * hypergeometric P(k) over every table at least as extreme
    * (P(k) ≤ P(observed)·(1+1e-7), the R convention).
    *
    * Scale shape: ONE corpus aggregate to the group-sized cell frame;
    * the enumeration explodes min(r1, c1)−max(0, r1+c1−n)+1 terms PER
    * GROUP (support of the hypergeometric), each term a handful of
    * [[graft.functions.SpecialMath.lfact]] formula evaluations — no
    * factorial tables, no windows. The term count is the smaller
    * margin, so it is loudly capped: a margin past `maxTerms` means the
    * counts are far out of the exact-test regime and [[chiSquare]] is
    * the right tool (the error message says so).
    *
    * Engine portability: log-space terms via the Lanczos lgamma (same
    * operation sequence in both engines), each exp(logP) r6-pinned
    * before the DECIMAL sum — term order is free.
    *
    * Output per group: (by…, a, b, c, d, p_value).
    */
  def fisherExact(
      df: DataFrame,
      byCols: Seq[String],
      exposure: Column,
      outcome: Column,
      maxTerms: Long = 100000L): DataFrame = {
    require(maxTerms >= 1, s"maxTerms must be positive, got $maxTerms")
    val lf = graft.functions.SpecialMath.lfact _
    val cells = df
      .groupBy(byCols.map(col): _*)
      .agg(
        count(when(exposure && outcome, lit(1))).as("a"),
        count(when(exposure && !outcome, lit(1))).as("b"),
        count(when(!exposure && outcome, lit(1))).as("c"),
        count(when(!exposure && !outcome, lit(1))).as("d"))
      .withColumn("__n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("__r1", col("a") + col("b"))
      .withColumn("__c1", col("a") + col("c"))
      .withColumn("__lo", greatest(lit(0L), col("__r1") + col("__c1") - col("__n")))
      .withColumn("__hi", least(col("__r1"), col("__c1")))
      .withColumn("__hi",
        when(col("__hi") - col("__lo") < maxTerms, col("__hi"))
          .otherwise(raise_error(concat(
            lit(s"fisherExact: more than $maxTerms enumeration terms in group ("),
            concat_ws(",", byCols.map(col): _*),
            lit(") — margins this large are out of the exact-test regime; " +
              "use chiSquare")))))
    // log P(k) with the group-constant part factored out once per group
    val constPart = lf(col("__r1")) + lf(col("__n") - col("__r1")) +
      lf(col("__c1")) + lf(col("__n") - col("__c1")) - lf(col("__n"))
    def varPart(k: Column): Column =
      -lf(k) - lf(col("__r1") - k) - lf(col("__c1") - k) -
        lf(col("__n") - col("__r1") - col("__c1") + k)
    val terms = cells
      .withColumn("__lpobs", constPart + varPart(col("a")))
      .select((byCols.map(col) ++ Seq(col("a"), col("b"), col("c"), col("d"),
        col("__n"), col("__r1"), col("__c1"), col("__lpobs"),
        explode(sequence(col("__lo"), col("__hi"))).as("__k"))): _*)
      .withColumn("__lp", constPart + varPart(col("__k")))
    terms
      .groupBy((byCols.map(col) ++ Seq(col("a"), col("b"), col("c"), col("d"))): _*)
      .agg(r6(least(lit(1.0),
        dsum(when(col("__lp") <= col("__lpobs") + 1e-7,
          r6(exp(col("__lp")))).otherwise(lit(0.0))))).as("p_value"))
  }

  /** McNemar's test for PAIRED binary outcomes — "did the flag flip
    * between the two runs", asked of the SAME units (the before/after
    * question [[twoProportionZ]] gets wrong by ignoring the pairing:
    * concordant pairs carry no information and only inflate n). Per
    * group: b = 1→0 flips, c = 0→1 flips, χ²₁ = (b−c)²/(b+c), NULL when
    * b+c = 0 (no discordant pairs — nothing moved, nothing testable).
    * No continuity correction (the modern default, matching [[cmh]]).
    * One aggregate; p via the χ²₁ = z² identity and [[pFromZ]].
    *
    * Output per group: (by…, n, b, c, chi2, p_value).
    */
  def mcnemar(
      df: DataFrame,
      byCols: Seq[String],
      before: Column,
      after: Column): DataFrame = {
    val g = df
      .groupBy(byCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        count(when(before && !after, lit(1))).as("b"),
        count(when(!before && after, lit(1))).as("c"))
    val bD = col("b").cast("double")
    val cD = col("c").cast("double")
    val chi2 = when(col("b") + col("c") > 0,
      (bD - cD) * (bD - cD) / (bD + cD))
    g.select((byCols.map(col) ++ Seq(col("n"), col("b"), col("c"),
      r6(chi2).as("chi2"),
      r6(pFromZ(sqrt(chi2))).as("p_value"))): _*)
  }

  /** Holm step-down familywise-error correction — the
    * assumption-free companion of [[benjaminiHochberg]] (FWER, not
    * FDR: use Holm when ONE false claim is disqualifying, BH when a
    * controlled fraction is fine). Adjusted p = running MAX over the
    * ascending-p prefix of (m−rank+1)·p, capped at 1; reject = adj ≤ α.
    * Same tests-frame window allowance as BH (hundreds of hypotheses,
    * never raw data); NULL-p rows pass through untestable, visibly.
    *
    * Output: input columns + (m, rank, p_adj, reject).
    */
  def holm(
      tests: DataFrame,
      pCol: String,
      tieCols: Seq[String],
      alpha: Double = 0.05): DataFrame = {
    val p = col(pCol)
    val ord = p.asc +: tieCols.map(col(_).asc)
    val wRank = Window.orderBy(ord: _*)
    val wPrefix = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val testable = tests.filter(p.isNotNull)
    val ranked = testable
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("p_adj",
        least(lit(1.0),
          max(p * (col("m") - col("rank") + 1L).cast("double")).over(wPrefix)))
      .withColumn("reject", col("p_adj") <= alpha)
    ranked.unionByName(
      tests.filter(p.isNull)
        .withColumn("m", lit(null).cast("long"))
        .withColumn("rank", lit(null).cast("long"))
        .withColumn("p_adj", lit(null).cast("double"))
        .withColumn("reject", lit(null).cast("boolean")))
  }

  /** Randomization (Monte-Carlo relabeling) test for a difference in
    * means — the EXACT-logic answer when the z-test's normality is in
    * doubt (heavy tails, tiny arms): re-run the 50/50 assignment `k`
    * times with deterministic md5-derived labels, and ask how often a
    * random split beats the observed |Δ|. p = (1 + #{|Δᵢ| ≥ |Δobs|}) /
    * (k + 1), the add-one-for-the-observed convention — never 0, as a
    * resampling p must be.
    *
    * Scale shape: ONE corpus scan computes all k relabeled partial sums
    * at once (the per-row explode is k ≤ `maxK` struct literals, then a
    * k-row groupBy with map-side combine) plus the observed sums — no
    * per-iteration jobs, no shuffle of raw rows beyond the k-sized
    * partials. Sums DECIMAL-reduced; Δs r6-pinned.
    *
    * Output ONE row: (n_a, n_b, d_obs, k, n_ge, p_value).
    */
  def randomizationTest(
      df: DataFrame,
      valueCol: String,
      inA: Column,
      idCol: String,
      k: Int = 19,
      seed: String = "rt"): DataFrame = {
    require(k >= 1 && k <= 64,
      s"k must be in [1, 64], got $k — the melt factor is k")
    val v = col(valueCol).cast("double")
    val base = df
      .filter(v.isNotNull && !isnan(v))
      .select(v.as("__v"), inA.as("__a"), col(idCol).cast("string").as("__id"))
    val obs = base.agg(
      count(when(col("__a"), lit(1))).as("n_a"),
      count(when(!col("__a"), lit(1))).as("n_b"),
      dsum(when(col("__a"), r6(col("__v"))).otherwise(lit(0.0))).as("__sa"),
      dsum(r6(col("__v"))).as("__s"))
    val reps = base
      .select(col("__v"),
        explode(array((1 to k).map(i => struct(
          lit(i).as("i"),
          (graft.text.TextFunctions.md5Hash32(
            concat(lit(s"$seed:$i:"), col("__id"))) % 2 === 0).as("f"))): _*))
          .as("__r"))
      .groupBy(col("__r.i").as("__i"))
      .agg(
        count(when(col("__r.f"), lit(1))).as("__ka"),
        count(when(!col("__r.f"), lit(1))).as("__kb"),
        dsum(when(col("__r.f"), r6(col("__v"))).otherwise(lit(0.0))).as("__ksa"),
        dsum(r6(col("__v"))).as("__ks"))
    def meanDiff(na: Column, nb: Column, sa: Column, s: Column): Column =
      when(na > 0 && nb > 0,
        sa / na.cast("double") - (s - sa) / nb.cast("double"))
    val dObs = meanDiff(col("n_a"), col("n_b"), col("__sa"), col("__s"))
    val dRep = meanDiff(col("__ka"), col("__kb"), col("__ksa"), col("__ks"))
    reps
      .crossJoin(broadcast(obs)) // one-row observed frame: lint-exempt
      .select(col("n_a"), col("n_b"), r6(dObs).as("d_obs"),
        (abs(r6(dRep)) >= abs(r6(dObs))).as("__ge"))
      .groupBy(col("n_a"), col("n_b"), col("d_obs"))
      .agg(count(lit(1)).as("k"), count(when(col("__ge"), lit(1))).as("n_ge"))
      .select(col("n_a"), col("n_b"), col("d_obs"), col("k"), col("n_ge"),
        r6((col("n_ge").cast("double") + 1.0) /
          (col("k").cast("double") + 1.0)).as("p_value"))
  }

  /** Two-sample Cramér–von Mises statistic per group — [[ksTest]]'s
    * integrated sibling: KS reads the single WORST ECDF gap, CvM
    * integrates the SQUARED gap over the pooled distribution, so a
    * persistent moderate shift (which KS can under-rank against one
    * freak step) accumulates. T = (n·m / N²) · Σ_x cnt_x · gap_x², the
    * tie-aware discrete form over the pooled distinct-value frame —
    * IDENTICAL machinery to ksTest (one groupBy to the distinct-value
    * frame, cumulative windows over it), one extra squared-gap column.
    * Per-value terms r6-pinned before the DECIMAL reduction.
    *
    * Output per group: (by…, n_a, n_b, t).
    */
  def cvmTest(df: DataFrame, by: Seq[String], valueCol: String, inA: Column): DataFrame = {
    val x = col(valueCol).cast("double")
    val a = when(inA, 1L).otherwise(0L)
    val byCols = by.map(col)
    val counts = df
      .filter(ok(x))
      .select((byCols :+ x.as("__x") :+ a.as("__a")): _*)
      .groupBy((byCols :+ col("__x")): _*)
      .agg(sum(col("__a")).as("__ca"), sum(lit(1L) - col("__a")).as("__cb"))
    val wOrd = Window
      .partitionBy(byCols: _*)
      .orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(byCols: _*)
    val stepped = counts
      .withColumn("__fa", sum(col("__ca")).over(wOrd))
      .withColumn("__fb", sum(col("__cb")).over(wOrd))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
    val gap = col("__fa").cast("double") / col("__na").cast("double") -
      col("__fb").cast("double") / col("__nb").cast("double")
    val term = (col("__ca") + col("__cb")).cast("double") * gap * gap
    stepped
      .filter(col("__na") > 0 && col("__nb") > 0)
      .groupBy(byCols: _*)
      .agg(
        first(col("__na")).as("n_a"),
        first(col("__nb")).as("n_b"),
        (dsum(r6(term)) *
          first(col("__na")).cast("double") * first(col("__nb")).cast("double") /
          ((first(col("__na")) + first(col("__nb"))).cast("double") *
            (first(col("__na")) + first(col("__nb"))).cast("double"))).as("__t"))
      .select((byCols ++ Seq(col("n_a"), col("n_b"), r6(col("__t")).as("t"))): _*)
  }

  /** Cochran–Armitage trend test — "does the hit RATE climb with the
    * dose", which [[chiSquare]] cannot ask (it sees unordered
    * categories; a clean monotone trend and a zigzag score the same
    * χ²). Doses are the numeric `scoreCol` levels; per group:
    * z = Σsᵢ(kᵢ − nᵢ·p̄) / √(p̄(1−p̄)·(Σs²nᵢ − (Σsnᵢ)²/N)). One
    * aggregate to the dose-level frame (bounded by distinct doses),
    * exact integer counts, the score sums r6-pinned DECIMALs.
    *
    * Output per group: (by…, n, k_levels, z, p_value) — NULL z when
    * the pooled rate or the dose spread is degenerate.
    */
  def cochranArmitage(
      df: DataFrame,
      byCols: Seq[String],
      doseCol: String,
      hit: Column): DataFrame = {
    val s = col(doseCol).cast("double")
    val levels = df
      .filter(s.isNotNull && !isnan(s))
      .groupBy((byCols.map(col) :+ s.as("__s")): _*)
      .agg(count(lit(1)).as("__n"), count(when(hit, lit(1))).as("__k"))
    val g = levels
      .groupBy(byCols.map(col): _*)
      .agg(sum(col("__n")).as("n"),
        count(lit(1)).as("k_levels"),
        sum(col("__k")).as("__ktot"),
        dsum(r6(col("__s") * col("__n").cast("double"))).as("__sn"),
        dsum(r6(col("__s") * col("__s") * col("__n").cast("double"))).as("__s2n"),
        dsum(r6(col("__s") * col("__k").cast("double"))).as("__sk"))
    val nD = col("n").cast("double")
    val pbar = col("__ktot").cast("double") / nD
    val num = col("__sk") - pbar * col("__sn")
    val spread = col("__s2n") - col("__sn") * col("__sn") / nD
    val z = when(pbar > 0 && pbar < 1 && spread > 0,
      num / sqrt(pbar * (lit(1.0) - pbar) * spread))
    g.select((byCols.map(col) ++ Seq(col("n"), col("k_levels"),
      r6(z).as("z"), r6(pFromZ(z)).as("p_value"))): _*)
  }

  /** Storey's π₀ and q-values over a tests frame — the missing number
    * behind [[benjaminiHochberg]]: BH conservatively assumes EVERY
    * hypothesis is null; Storey estimates the true null fraction
    * π₀ = #{p > λ} / ((1−λ)·m) (λ = 0.5, capped at 1) and scales the
    * q-values by it, buying back power exactly when most slices really
    * moved. Same tests-frame window allowance as BH; NULL-p rows ride
    * through untestable.
    *
    * Output: input columns + (m, rank, pi0, q_storey, reject).
    */
  def storeyQValues(
      tests: DataFrame,
      pCol: String,
      tieCols: Seq[String],
      lambda: Double = 0.5,
      alpha: Double = 0.05): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val p = col(pCol)
    val ord = p.asc +: tieCols.map(col(_).asc)
    val wAll = Window.partitionBy()
    val wRank = Window.orderBy(ord: _*)
    val wSuffix = Window.orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val testable = tests.filter(p.isNotNull)
    val ranked = testable
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("pi0",
        least(lit(1.0),
          count(when(p > lambda, lit(1))).over(wAll).cast("double") /
            (lit(1.0 - lambda) * col("m").cast("double"))))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("q_storey",
        least(lit(1.0),
          col("pi0") *
            min(p * col("m").cast("double") / col("rank").cast("double")).over(wSuffix)))
      .withColumn("reject", col("q_storey") <= alpha)
      .withColumn("pi0", r6(col("pi0")))
    ranked.unionByName(
      tests.filter(p.isNull)
        .withColumn("m", lit(null).cast("long"))
        .withColumn("pi0", lit(null).cast("double"))
        .withColumn("rank", lit(null).cast("long"))
        .withColumn("q_storey", lit(null).cast("double"))
        .withColumn("reject", lit(null).cast("boolean")))
  }

  /** Wald–Wolfowitz runs test per group — "is this sequence RANDOM
    * around its level, or does it streak/alternate": binarize each
    * ordered value against the group median (type-1, exact-integer
    * 2·cum ≥ n — the [[graft.operators.Bootstrap.bootstrapMedianCI]]
    * test), count sign runs, standardize against the exact run-count
    * moments. Too few runs = regimes/autocorrelation; too many =
    * oscillation — either invalidates every i.i.d.-assuming monitor
    * upstream. Values EQUAL to the median carry no sign and drop,
    * counted. The run count needs one lag over the group-ordered
    * rows; the median windows run over the distinct-value frame.
    *
    * Output per group: (by…, n, n_above, n_below, n_ties_dropped,
    * runs, z, p_value) — z NULL when either side is empty.
    */
  def runsTest(
      df: DataFrame,
      byCols: Seq[String],
      timeCol: String,
      tieCol: String,
      valueCol: String): DataFrame = {
    val by = byCols.map(col)
    val v = col(valueCol).cast("double")
    val base = df
      .filter(v.isNotNull && !isnan(v) && col(timeCol).isNotNull)
      .select((by ++ Seq(col(timeCol).as("__t"), col(tieCol).as("__tie"),
        v.as("__v"))): _*)
    val perVal = base.groupBy((by :+ col("__v")): _*).agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(by: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(by: _*)
    val med = perVal
      .withColumn("__cw", sum(col("__c")).over(wOrd))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .groupBy(by: _*)
      .agg(min(when(col("__cw") * 2 >= col("__n"), col("__v"))).as("__med"))
    val signed = base
      .join(med, byCols)
      .filter(col("__v") =!= col("__med"))
      .withColumn("__s", col("__v") > col("__med"))
    val wSeq = Window.partitionBy(by: _*).orderBy(col("__t"), col("__tie"))
    val counted = signed
      .withColumn("__chg",
        when(lag(col("__s"), 1).over(wSeq).isNull ||
          lag(col("__s"), 1).over(wSeq) =!= col("__s"), 1L).otherwise(0L))
    val ties = base.join(med, byCols)
      .groupBy(by: _*)
      .agg(count(when(col("__v") === col("__med"), lit(1))).as("n_ties_dropped"))
    val g = counted
      .groupBy(by: _*)
      .agg(count(lit(1)).as("n"),
        count(when(col("__s"), lit(1))).as("n_above"),
        count(when(!col("__s"), lit(1))).as("n_below"),
        sum(col("__chg")).as("runs"))
    val n1 = col("n_above").cast("double")
    val n2 = col("n_below").cast("double")
    val nD = col("n").cast("double")
    val muR = lit(2.0) * n1 * n2 / nD + 1.0
    val sigma2 = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nD) /
      (nD * nD * (nD - 1.0))
    val z = when(col("n_above") > 0 && col("n_below") > 0 && sigma2 > 0,
      (col("runs").cast("double") - muR) / sqrt(sigma2))
    g.join(ties, byCols)
      .select((by ++ Seq(col("n"), col("n_above"), col("n_below"),
        col("n_ties_dropped"), col("runs"),
        r6(z).as("z"), r6(pFromZ(z)).as("p_value"))): _*)
  }

  /** Friedman test per group — "do the k treatments rank differently
    * across the b blocks", the rank-based repeated-measures ANOVA
    * ([[kruskalWallis]] needs independent groups; Friedman respects
    * the block pairing, and [[graft.operators.Stats.kendallW]] is its
    * agreement-flavored twin: Q = b(k−1)W with tie-free data).
    * Average ranks within block for ties; the classical statistic
    * Q = 12/(bk(k+1))·ΣR_j² − 3b(k+1), df = k−1. Complete blocks
    * enforced loudly (the kendallW contract). Emits the statistic and
    * df, not a p — the χ²_{k−1} tail is the caller's lookup, the
    * [[kruskalWallis]] convention.
    *
    * Output per group: (by…, n_blocks, k_treatments, q, df).
    */
  def friedman(
      df: DataFrame,
      byCols: Seq[String],
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val by = byCols.map(col)
    val v = col(valueCol).cast("double")
    val base = df
      .filter(v.isNotNull && !isnan(v) &&
        col(blockCol).isNotNull && col(treatmentCol).isNotNull)
      .select((by ++ Seq(col(blockCol).as("__b"), col(treatmentCol).as("__tr"),
        v.as("__v"))): _*)
    val wb = Window.partitionBy((by :+ col("__b")): _*).orderBy(col("__v"))
    val wt = Window.partitionBy((by ++ Seq(col("__b"), col("__v"))): _*)
    val ranked = base
      .withColumn("__rk",
        rank().over(wb).cast("double") +
          (count(lit(1)).over(wt).cast("double") - 1.0) / 2.0)
    val shape = ranked.groupBy(by: _*)
      .agg(countDistinct(col("__b")).as("__nb"),
        countDistinct(col("__tr")).as("__k"),
        count(lit(1)).as("__rows"),
        countDistinct(col("__b"), col("__tr")).as("__cells"))
      .withColumn("__ok",
        when(col("__rows") === col("__nb") * col("__k") &&
          col("__cells") === col("__rows"), lit(1L))
          .otherwise(raise_error(lit(
            "friedman: incomplete or duplicated (block, treatment) design — " +
              "every block must measure every treatment exactly once"))))
    val rj = ranked.groupBy((by :+ col("__tr")): _*)
      .agg(dsum(col("__rk")).as("__rj"))
    val agg = rj.groupBy(by: _*)
      .agg(dsum(r6(col("__rj") * col("__rj"))).as("__sr2"))
      .join(shape.filter(col("__ok") === 1L), byCols)
    val bD = col("__nb").cast("double")
    val kD = col("__k").cast("double")
    val q = lit(12.0) / (bD * kD * (kD + 1.0)) * col("__sr2") -
      lit(3.0) * bD * (kD + 1.0)
    agg.select((by ++ Seq(col("__nb").as("n_blocks"),
      col("__k").as("k_treatments"),
      when(col("__k") >= 2 && col("__nb") >= 2, r6(q)).as("q"),
      (col("__k") - 1L).as("df"))): _*)
  }

  /** Cochran's Q per group — [[mcnemar]] generalized to k BINARY
    * treatments on the same subjects ("do the k filter versions flag
    * the same docs"): Q = k(k−1)·Σ_j(C_j − T/k)² / (k·T − ΣR_i²),
    * C_j = per-treatment hits, R_i = per-subject hits, T = ΣR_i;
    * df = k−1. Subjects with all-equal outcomes carry no information
    * but stay in the sums (the standard formulation handles them).
    * Complete design enforced loudly. Output per group:
    * (by…, n_subjects, k_treatments, q, df) — Q NULL when the
    * denominator is 0 (every subject constant).
    */
  def cochranQ(
      df: DataFrame,
      byCols: Seq[String],
      subjectCol: String,
      treatmentCol: String,
      hit: Column): DataFrame = {
    val by = byCols.map(col)
    val base = df
      .filter(col(subjectCol).isNotNull && col(treatmentCol).isNotNull)
      .select((by ++ Seq(col(subjectCol).as("__s"), col(treatmentCol).as("__tr"),
        when(hit, 1L).otherwise(0L).as("__h"))): _*)
    val shape = base.groupBy(by: _*)
      .agg(countDistinct(col("__s")).as("__ns"),
        countDistinct(col("__tr")).as("__k"),
        count(lit(1)).as("__rows"),
        countDistinct(col("__s"), col("__tr")).as("__cells"))
      .withColumn("__ok",
        when(col("__rows") === col("__ns") * col("__k") &&
          col("__cells") === col("__rows"), lit(1L))
          .otherwise(raise_error(lit(
            "cochranQ: incomplete or duplicated (subject, treatment) design"))))
    val cj = base.groupBy((by :+ col("__tr")): _*)
      .agg(sum(col("__h")).as("__cj"))
    val ri = base.groupBy((by :+ col("__s")): _*)
      .agg(sum(col("__h")).as("__ri"))
    val cSums = cj.groupBy(by: _*)
      .agg(sum(col("__cj")).as("__t"), dsum(r6(col("__cj").cast("double") *
        col("__cj").cast("double"))).as("__sc2"))
    val rSums = ri.groupBy(by: _*)
      .agg(dsum(r6(col("__ri").cast("double") * col("__ri").cast("double"))).as("__sr2"))
    val joined = cSums.join(rSums, byCols).join(shape.filter(col("__ok") === 1L), byCols)
    val kD = col("__k").cast("double")
    val tD = col("__t").cast("double")
    // k(k−1)Σ(C_j − T/k)² = (k−1)(kΣC_j² − T²)
    val num = (kD - 1.0) * (kD * col("__sc2") - tD * tD)
    val den = kD * tD - col("__sr2")
    joined.select((by ++ Seq(col("__ns").as("n_subjects"),
      col("__k").as("k_treatments"),
      when(den > 0, r6(num / den)).as("q"),
      (col("__k") - 1L).as("df"))): _*)
  }
}
