package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary logistic regression by full-batch gradient descent, trained
  * and applied as one relational plan — the other classic corpus
  * classifier shape next to [[graft.text.NaiveBayes]] (fastText-style
  * quality gates and propensity models are both "a linear model over a
  * handful of cheap features"). A FIXED iteration count and a fixed
  * learning rate, not a convergence test, make the fit a deterministic
  * function of the data — re-runs and both engines walk the identical
  * gradient path.
  *
  * Per step, with p = r6(σ(β·x)): gradient g_j = Σ r6((p−y)·x_j) / n
  * (each term r6-pinned before its DECIMAL(38,6) sum, so the reduction
  * is partitioning- and engine-independent) and β_j ← r6(β_j − η·g_j).
  * Callers should pre-scale features to O(1) magnitudes (and r6-pin
  * them); GD on wild scales needs the tiny η this contract doesn't take.
  *
  * Spark shape: β is CARRIED THROUGH THE DRIVER between steps — each
  * step is the SAME one-row-β-broadcast aggregate plan as before (β
  * enters as a broadcast one-row LocalRelation, the update arithmetic
  * stays in-plan), but its single result row is collected and re-seeded
  * into the next step's LocalRelation instead of being FOLDED into the
  * next step's logical plan. `iters` linear passes, zero shuffles of
  * the data. Two reasons for this exact shape:
  *   - the folded chain referenced β twice per step, so the logical
  *     plan — and the executed aggregate count, Spark not dedup'ing
  *     common subplans — grew 2^iters: at iters=5 up to 31 redundant
  *     aggregate passes (measured: q_logreg 5.6 s at sf0.1 where one
  *     pass costs ~0.1 s);
  *   - a LocalRelation carry rather than lit(β) literals keeps the
  *     generated whole-stage source IDENTICAL across steps and across
  *     every fitGd caller (β values live in the broadcast relation,
  *     not the source text), so janino compiles the step once per JVM
  *     — measured 1.25 s vs 5.7 s for the 5-step fit when each step's
  *     literals forced a fresh compile.
  * Scoring is a broadcast of the resulting one-row frame.
  *
  * Reference analog: none (training-data pipeline extension per the
  * build brief — quality/propensity classifier plumbing).
  */
object Logistic {

  private def bcol(j: Int) = s"__b$j"

  /** One-row coefficient frame (__b0 = intercept, __b1.. = `xCols` in
    * order) after `iters` GD steps from β = 0.
    */
  def fitGd(
      data: DataFrame,
      yCol: String,
      xCols: Seq[String],
      iters: Int = 5,
      lr: Double = 0.5): DataFrame = {
    require(xCols.nonEmpty, "fitGd needs at least one feature column")
    require(iters >= 1 && iters <= 64,
      s"fitGd is a fixed-step GD contract: 1 <= iters <= 64, got $iters")
    require(lr > 0, s"learning rate must be > 0, got $lr")
    val xs = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    // every GD step re-reads the feature frame: pin it once so the
    // steps iterate over the projected rows, never the upstream plan
    import graft.plans.Materialize.PinOps
    val rows = data.select(
      (col(yCol).cast("boolean").cast("int").cast("double").as("__y") +:
        xs.zipWithIndex.map { case (x, j) => x.as(s"__x$j") }): _*).pin()
    val spark = data.sparkSession
    val schema = org.apache.spark.sql.types.StructType(xs.indices.map(j =>
      org.apache.spark.sql.types.StructField(bcol(j),
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    // one-row LocalRelation β frame from collected values (null-safe:
    // an empty input NULLs the sums and the NULLs carry, as before)
    def betaDf(row: org.apache.spark.sql.Row): DataFrame =
      spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row.fromSeq(xs.indices.map(j =>
            if (row.isNullAt(j)) null else java.lang.Double.valueOf(row.getDouble(j))))),
        schema)
    // identical expression tree per step to the old folded chain
    def step(beta: DataFrame): DataFrame = {
      val z = xs.indices.map(j => col(bcol(j)) * col(s"__x$j")).reduce(_ + _)
      val p = r6(lit(1.0) / (lit(1.0) + exp(-z)))
      val joined = rows.crossJoin(broadcast(beta)) // one-row frame: lint-exempt
      val aggs =
        count(lit(1)).as("__n") +:
          xs.indices.map(j => dsum(r6((p - col("__y")) * col(s"__x$j"))).as(s"__g$j"))
      joined
        .agg(aggs.head, aggs.tail: _*)
        .crossJoin(broadcast(beta))
        .select(xs.indices.map(j =>
          r6(col(bcol(j)) - lit(lr) * col(s"__g$j") / col("__n").cast("double"))
            .as(bcol(j))): _*)
    }
    val b0 = betaDf(org.apache.spark.sql.Row.fromSeq(xs.indices.map(_ => 0.0)))
    (1 to iters).foldLeft(b0)((b, _) => betaDf(step(b).head()))
  }

  /** Melt a [[fitGd]] frame to (feature, beta) rows — "__intercept"
    * plus `xCols` — and attach the fit's final log-loss and n (one
    * extra scoring pass), for reporting/oracle comparison.
    */
  def coefficients(
      data: DataFrame,
      fit: DataFrame,
      yCol: String,
      xCols: Seq[String]): DataFrame = {
    val scored = score(data.withColumn("__y",
      col(yCol).cast("boolean").cast("int").cast("double")), fit, xCols, "__p")
    // r6-rounded probabilities can hit exactly 0/1; clamp into
    // (0, 1) so a confidently-scored row costs ~13.8 nats, not -Inf
    val pc = least(greatest(col("__p"), lit(1e-6)), lit(1.0 - 1e-6))
    val loss = scored.agg(
      count(lit(1)).as("__n"),
      r6(coalesce(
        dsum(r6(-(col("__y") * log(pc) +
          (lit(1.0) - col("__y")) * log(lit(1.0) - pc)))), lit(0.0)) /
        count(lit(1)).cast("double")).as("log_loss"))
    val names = "__intercept" +: xCols
    val melted = fit.select(explode(array(names.zipWithIndex.map {
      case (n, j) => struct(lit(n).as("feature"), col(bcol(j)).as("beta"))
    }: _*)).as("__kv"))
      .select(col("__kv.feature").as("feature"), col("__kv.beta").as("beta"))
    melted.crossJoin(broadcast(loss))
      .select(col("feature"), col("beta"), col("__n").as("n"), col("log_loss"))
  }

  /** Add `outCol` = r6(σ(β·x)) from a broadcast [[fitGd]] frame. */
  def score(
      data: DataFrame,
      fit: DataFrame,
      xCols: Seq[String],
      outCol: String): DataFrame = {
    val xs = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    val z = xs.zipWithIndex.map { case (x, j) => col(bcol(j)) * x }.reduce(_ + _)
    data.crossJoin(broadcast(fit)) // one-row frame: lint-exempt
      .withColumn(outCol, r6(lit(1.0) / (lit(1.0) + exp(-z))))
      .drop(xs.indices.map(bcol): _*)
  }

  /** Hájek inverse-propensity-weighted ATE from a scored frame —
    * E[y|do(t=1)] − E[y|do(t=0)] with w = t/p̂ resp. (1−t)/(1−p̂), the
    * standard observational-data estimator once a propensity column
    * exists ([[fitGd]] + [[score]] is the intended producer; any
    * calibrated score works). Propensities are clipped to
    * [clip, 1−clip] BEFORE weighting (r6-pinned), the usual
    * positivity-violation guard — an unclipped p̂ ≈ 0 control row would
    * otherwise dominate the whole estimate. Hájek (self-normalizing)
    * rather than Horvitz–Thompson: weights are divided by their own
    * sum, so the estimate is invariant to propensity miscalibration by
    * a constant factor and bounded by the outcome range.
    *
    * One global aggregate (all four sums map-side-combined, r6-pinned
    * terms, DECIMAL reductions). Output is ONE row: (n_treated,
    * n_control, mean_treated, mean_control, ate) — arm means NULL when
    * an arm is empty (no fake zeros), ate NULL with them.
    */
  /** Doubly-robust AIPW average treatment effect — consistent if
    * EITHER the propensity model OR the per-arm outcome model is
    * right, which is why it is the default over plain [[ipwAte]] when
    * a covariate worth regressing on exists. Outcome models are
    * per-arm simple OLS μ_t(x) = a_t + b_t·x (closed form from one
    * conditional aggregate; a degenerate arm — n < 2 or constant x —
    * falls back to the arm mean, b = 0, visibly NULL-slope is not
    * needed since the mean IS the 0-slope fit). The estimator is
    * τ̂ = mean[ μ₁(x) − μ₀(x) + t(y−μ₁(x))/p̂ − (1−t)(y−μ₀(x))/(1−p̂) ]
    * with p̂ clipped to [clip, 1−clip] as in [[ipwAte]].
    *
    * Two passes: one conditional aggregate builds the one-row
    * (a₁, b₁, a₀, b₀) frame, one scan computes the r6-pinned per-row
    * contributions under a DECIMAL mean. Output ONE row:
    * (n_treated, n_control, ate).
    */
  def aipwAte(
      scored: DataFrame,
      yCol: String,
      treatCol: String,
      propCol: String,
      xCol: String,
      clip: Double = 0.05): DataFrame = {
    require(clip >= 0 && clip < 0.5, s"clip must be in [0, 0.5), got $clip")
    // two full passes read `scored` (the outcome-model aggregate and the
    // contribution aggregate); pin the four needed columns once so the
    // caller's upstream plan (typically a scored+tokenized corpus) runs
    // once, not twice (guide §2.1: don't recompute what two consumers
    // share)
    import graft.plans.Materialize.PinOps
    val scoredP = scored
      .select(col(yCol), col(treatCol), col(propCol), col(xCol)).pin(false)
    val t = col(treatCol).cast("boolean")
    val y = col(yCol).cast("double")
    val x = col(xCol).cast("double")
    def armOls(arm: Column, tag: String): Seq[Column] = {
      val n = count(when(arm, lit(1))).cast("double")
      val sx = coalesce(dsum(when(arm, r6(x))), lit(0.0))
      val sy = coalesce(dsum(when(arm, r6(y))), lit(0.0))
      val sxy = coalesce(dsum(when(arm, r6(x * y))), lit(0.0))
      val sxx = coalesce(dsum(when(arm, r6(x * x))), lit(0.0))
      val det = n * sxx - sx * sx
      val b = when(n > 1 && det > 0, r6((n * sxy - sx * sy) / det)).otherwise(lit(0.0))
      Seq(
        count(when(arm, lit(1))).as(s"__n$tag"),
        when(n > 0, r6((sy - b * sx) / n)).otherwise(lit(0.0)).as(s"__a$tag"),
        b.as(s"__b$tag"))
    }
    val modelCols = armOls(t, "1") ++ armOls(!t, "0")
    val model = scoredP.agg(modelCols.head, modelCols.tail: _*)
    val p = r6(least(greatest(col(propCol), lit(clip)), lit(1.0 - clip)))
    val mu1 = col("__a1") + col("__b1") * x
    val mu0 = col("__a0") + col("__b0") * x
    val contrib = r6(mu1 - mu0 +
      when(t, (y - mu1) / p).otherwise(lit(0.0)) -
      when(!t, (y - mu0) / (lit(1.0) - p)).otherwise(lit(0.0)))
    scoredP
      .crossJoin(broadcast(model)) // one-row model frame: lint-exempt
      .agg(
        first(col("__n1")).as("n_treated"),
        first(col("__n0")).as("n_control"),
        r6(coalesce(dsum(contrib), lit(0.0)) / count(lit(1)).cast("double")).as("ate"))
  }

  /** Heterogeneous-treatment-effect profile by propensity bin — does
    * the effect CONCENTRATE where treatment was likely, or where it
    * was a surprise? Fixed-width bins of the propensity score; per bin
    * the raw treated-vs-control outcome difference (within a narrow
    * propensity bin the arms are approximately exchangeable — the
    * stratification IS the adjustment, the classic subclassification
    * estimator). Bins missing an arm report NULL diff — no
    * extrapolated effect where there is no overlap (the positivity
    * hole made visible, bin by bin).
    *
    * One pass, one group aggregate; r6-pinned DECIMAL means. Output:
    * one row per non-empty bin — (bin, p_lo, p_hi, n_treated,
    * n_control, mean_treated, mean_control, diff).
    */
  def hteByPropensityBin(
      scored: DataFrame,
      yCol: String,
      treatCol: String,
      propCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins must be in [2, 1000], got $nBins")
    val t = col(treatCol).cast("boolean")
    val y = col(yCol).cast("double")
    val p = col(propCol).cast("double")
    val bin = least(lit(nBins - 1L), greatest(lit(0L), floor(p * nBins).cast("long")))
    val width = 1.0 / nBins
    val g = scored
      .filter(p.isNotNull && !isnan(p))
      .groupBy(bin.as("bin"))
      .agg(
        count(when(t, lit(1))).as("n_treated"),
        count(when(!t, lit(1))).as("n_control"),
        dsum(when(t, r6(y))).as("__st"),
        dsum(when(!t, r6(y))).as("__sc"))
    g.select(
      col("bin"),
      r6(col("bin").cast("double") * lit(width)).as("p_lo"),
      r6((col("bin") + lit(1L)).cast("double") * lit(width)).as("p_hi"),
      col("n_treated"), col("n_control"),
      when(col("n_treated") > 0, r6(col("__st") / col("n_treated").cast("double")))
        .as("mean_treated"),
      when(col("n_control") > 0, r6(col("__sc") / col("n_control").cast("double")))
        .as("mean_control"),
      when(col("n_treated") > 0 && col("n_control") > 0,
        r6(col("__st") / col("n_treated").cast("double") -
          col("__sc") / col("n_control").cast("double"))).as("diff"))
  }

  /** Propensity-bin RANK matching — the deterministic, distributed
    * analog of 1:1 nearest-neighbor propensity matching. Classic greedy
    * NN matching is sequential (each match removes a control) and
    * order-dependent — unreproducible across engines and unshardable at
    * scale. Here treated and control units are ranked WITHIN each
    * fixed-width propensity bin by a stable outcome-independent key
    * (the unit id) and paired rank-to-rank; unmatched surplus in either
    * arm is dropped and counted. Within a bin, propensities differ by
    * at most the bin width — the caliper, by construction.
    *
    * ATT reading: every treated unit that found a control contributes
    * y_t − y_c; the per-bin mean is the bin's ATT, and Σ n_pairs·att /
    * Σ n_pairs reconstructs the overall matched ATT. Bins missing an
    * arm report 0 pairs (the positivity hole, visible — the
    * [[hteByPropensityBin]] contract).
    *
    * Execution: two bin-partitioned rank windows + one (bin, rank)
    * equi-join — no sequential state, no broadcast; pairs are r6 +
    * DECIMAL-summed.
    *
    * Output per bin: (bin, p_lo, p_hi, n_treated, n_control, n_pairs,
    * att).
    */
  def rankMatchedAtt(
      scored: DataFrame,
      idCol: String,
      yCol: String,
      treatCol: String,
      propCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins must be in [2, 1000], got $nBins")
    val t = col(treatCol).cast("boolean")
    val p = col(propCol).cast("double")
    val bin = least(lit(nBins - 1L), greatest(lit(0L), floor(p * nBins).cast("long")))
    val width = 1.0 / nBins
    val base = scored
      .filter(p.isNotNull && !isnan(p) && col(yCol).isNotNull)
      .select(bin.as("bin"), t.as("__t"), col(yCol).cast("double").as("__y"),
        col(idCol).as("__id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bin"), col("__t")).orderBy(col("__id"))
    val ranked = base.withColumn("__rk", row_number().over(w))
    val treated = ranked.filter(col("__t"))
      .select(col("bin"), col("__rk"), col("__y").as("__yt"))
    val control = ranked.filter(!col("__t"))
      .select(col("bin"), col("__rk"), col("__y").as("__yc"))
    val arms = base.groupBy(col("bin")).agg(
      count(when(col("__t"), lit(1))).as("n_treated"),
      count(when(!col("__t"), lit(1))).as("n_control"))
    val pairs = treated.join(control, Seq("bin", "__rk"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        dsum(r6(col("__yt") - col("__yc"))).as("__sd"))
    arms.join(pairs, Seq("bin"), "left")
      .select(
        col("bin"),
        r6(col("bin").cast("double") * lit(width)).as("p_lo"),
        r6((col("bin") + lit(1L)).cast("double") * lit(width)).as("p_hi"),
        col("n_treated"), col("n_control"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(col("n_pairs") > 0, r6(col("__sd") / col("n_pairs").cast("double")))
          .as("att"))
  }

  /** Inverse-propensity weight diagnostics per arm — the numbers that
    * decide whether an [[ipwAte]]/[[aipwAte]] estimate deserves trust
    * BEFORE anyone reads it: Kish effective sample size
    * ESS = (Σw)²/Σw² (how many "real" observations the weighted arm is
    * worth; ESS ≪ n means a few extreme weights own the estimate) and
    * the largest single weight's share of the arm's total. One global
    * conditional aggregate, r6-pinned DECIMAL sums; max is exact.
    *
    * Output: one row per arm — (arm, n, ess, ess_ratio, max_w_share).
    */
  def weightDiagnostics(
      scored: DataFrame,
      treatCol: String,
      propCol: String,
      clip: Double = 0.05): DataFrame = {
    require(clip >= 0 && clip < 0.5, s"clip must be in [0, 0.5), got $clip")
    val t = col(treatCol).cast("boolean")
    val p = r6(least(greatest(col(propCol), lit(clip)), lit(1.0 - clip)))
    val w = when(t, r6(lit(1.0) / p)).otherwise(r6(lit(1.0) / (lit(1.0) - p)))
    scored
      .select(when(t, lit("treated")).otherwise(lit("control")).as("arm"), w.as("__w"))
      .groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("__w")).as("__sw"),
        dsum(r6(col("__w") * col("__w"))).as("__sw2"),
        max(col("__w")).as("__mw"))
      .select(
        col("arm"), col("n"),
        when(col("__sw2") > 0, r6(col("__sw") * col("__sw") / col("__sw2"))).as("ess"),
        when(col("__sw2") > 0,
          r6(col("__sw") * col("__sw") / col("__sw2") / col("n").cast("double")))
          .as("ess_ratio"),
        when(col("__sw") > 0, r6(col("__mw") / col("__sw"))).as("max_w_share"))
  }

  def ipwAte(
      scored: DataFrame,
      yCol: String,
      treatCol: String,
      propCol: String,
      clip: Double = 0.05): DataFrame = {
    require(clip >= 0 && clip < 0.5, s"clip must be in [0, 0.5), got $clip")
    val t = col(treatCol).cast("boolean")
    val y = col(yCol).cast("double")
    val p = r6(least(greatest(col(propCol), lit(clip)), lit(1.0 - clip)))
    val wt = when(t, r6(lit(1.0) / p))
    val wc = when(!t, r6(lit(1.0) / (lit(1.0) - p)))
    scored
      .agg(
        count(when(t, lit(1))).as("n_treated"),
        count(when(!t, lit(1))).as("n_control"),
        (dsum(r6(wt * y)) / dsum(wt)).as("__mt"),
        (dsum(r6(wc * y)) / dsum(wc)).as("__mc"))
      .select(
        col("n_treated"), col("n_control"),
        r6(col("__mt")).as("mean_treated"),
        r6(col("__mc")).as("mean_control"),
        r6(col("__mt") - col("__mc")).as("ate"))
  }
}
