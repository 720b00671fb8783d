package graft.operators

import graft.functions.Portable.{dsum, dsumIf, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.functions._

/** Classifier-quality evaluation over scored rows — the measurement side
  * of model-based data curation. A large-scale pipeline that filters with
  * a quality classifier (fastText-style, logistic head, LLM scorer) needs
  * to know, per slice, whether the scores actually separate good from bad
  * (AUC) and whether the score VALUES mean what they say (calibration)
  * before thresholding 100 TB on them. Both reduce to one exchange:
  *
  *   - ROC AUC via the rank identity AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺·n⁻)
  *     with average ranks for ties (the probabilistic interpretation
  *     P(score⁺ > score⁻) + ½P(tie) — exactly [[Hypothesis.mannWhitney]]'s
  *     U normalized), so no threshold sweep or curve materialization:
  *     rank windows partitioned by the group, then a group-sized moment
  *     frame.
  *   - Calibration by fixed-width score bins: per bin the mean predicted
  *     score (confidence) vs the empirical positive rate (accuracy), and
  *     per group the expected calibration error ECE = Σ_b (n_b/N)·|acc_b
  *     − conf_b| — one groupBy to the (group × bins)-sized frame, ECE as
  *     a window sum back over it.
  *
  * Engine portability: ranks are exact halves DECIMAL-summed, bin ids
  * exact integer floors, every mean a DECIMAL sum over exact inputs —
  * no libm in the oracle-checked surface.
  */
object Evaluation {

  private def ok(c: Column): Column = c.isNotNull && !isnan(c)

  /** Per-group ROC AUC of `scoreCol` against boolean `label`. Emits
    * `n_pos`, `n_neg`, `auc` (NULL when an arm is empty — a slice with no
    * negatives has no ranking quality to report, and dropping the row
    * would hide exactly the slice that needs attention).
    */
  def rocAuc(df: DataFrame, by: Seq[String], scoreCol: String, label: Column): DataFrame = {
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val base = df
      .filter(ok(x))
      .select((byCols :+ x.as("__x") :+ when(label, 1L).otherwise(0L).as("__p")): _*)
    val wg = Window.partitionBy(byCols: _*)
    val wv = Window.partitionBy((byCols :+ col("__x")): _*)
    // average rank = rank() + (ties-1)/2, exact halves
    val avgRank =
      rank().over(wg.orderBy(col("__x"))).cast("double") +
        (count(lit(1)).over(wv) - 1).cast("double") / 2.0
    val m = base
      .withColumn("__rk", avgRank)
      .groupBy(byCols: _*)
      .agg(
        sum(col("__p")).as("n_pos"),
        sum(lit(1L) - col("__p")).as("n_neg"),
        dsumIf(col("__p") === 1L, col("__rk")).as("__rp"))
    val npD = col("n_pos").cast("double")
    val nnD = col("n_neg").cast("double")
    m.withColumn(
        "auc",
        when(
          col("n_pos") > 0 && col("n_neg") > 0,
          (col("__rp") - npD * (npD + 1.0) / 2.0) / (npD * nnD)))
      .drop("__rp")
  }

  /** Per-group reliability table over `nBins` fixed-width score bins
    * (scores expected in [0,1]; out-of-range clamps into the edge bins).
    * One row per non-empty (group, bin): `n`, `conf` (mean score), `acc`
    * (positive rate), plus the group-level `ece` repeated on each row —
    * a window sum over the bins frame, which is (groups × nBins)-sized,
    * so the "global" window never sees corpus-scale partitions.
    */
  def calibration(
      df: DataFrame,
      by: Seq[String],
      scoreCol: String,
      label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val bin = least(lit(nBins - 1L), greatest(lit(0L), floor(x * nBins).cast("long")))
    val g = df
      .filter(ok(x))
      .select((byCols :+ bin.as("bin") :+ x.as("__x") :+
        when(label, 1L).otherwise(0L).as("__p")): _*)
      .groupBy((byCols :+ col("bin")): _*)
      .agg(
        count(lit(1)).as("n"),
        dsum(col("__x")).as("__sx"),
        sum(col("__p")).as("__k"))
    val nD = col("n").cast("double")
    val binned = g
      .withColumn("conf", col("__sx") / nD)
      .withColumn("acc", col("__k").cast("double") / nD)
    val wg = Window.partitionBy(byCols: _*)
    // n·|acc−conf| is inexact — r6 in DOUBLE space before the DECIMAL
    // cast (§5: the raw double→DECIMAL cast is a cross-engine boundary
    // hazard); magnitudes are ≤ n, far under the 2⁵³/10⁶ exactness bound
    val term = nD * abs(col("acc") - col("conf"))
    binned
      .withColumn("__N", sum(col("n")).over(wg))
      .withColumn(
        "ece",
        sum(r6(term).cast("decimal(38,6)"))
          .over(wg).cast("double") / col("__N").cast("double"))
      .drop("__sx", "__k", "__N")
  }

  /** Per-group average precision: AP = (1/n⁺)·Σ_{positives} P@rank —
    * the area under the precision-recall curve, which is what matters
    * when positives are rare ([[rocAuc]] saturates near 1 on a 1:10⁴
    * class skew; AP does not). Ranking is score-descending with `idCol`
    * tie-breaks so the curve — and the hash — is deterministic.
    *
    * One exchange: the rank and cumulative-positive windows share the
    * group partitioning; per-positive precision terms are exact
    * rationals r6'd in double space then DECIMAL-summed (§5). Groups
    * with no positives emit NULL ap, not a dropped row.
    */
  /** Murphy decomposition of the Brier score — [[calibration]]'s ECE
    * says HOW FAR the probabilities sit from the diagonal; this says
    * whether the score is bad because the model is MISCALIBRATED
    * (reliability, want 0) or just UNINFORMATIVE (resolution, want
    * large, bounded by uncertainty = ȳ(1−ȳ), the best any calibrated
    * but constant predictor can do). brier = mean((p−y)²) is computed
    * directly from rows (not from bins), so the identity
    * brier ≈ reliability − resolution + uncertainty holds up to
    * within-bin variance — the gap is itself the binning error.
    *
    * One corpus pass to the (group × bins) cell frame (same equal-width
    * binning as [[calibration]]); reliability/resolution terms are
    * n_b-weighted squares of bin means, r6-pinned before DECIMAL sums
    * under group-partitioned windows. Output one row per group:
    * (by..., n, brier, reliability, resolution, uncertainty).
    */
  def brierDecomposition(
      df: DataFrame,
      by: Seq[String],
      scoreCol: String,
      label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val bin = least(lit(nBins - 1L), greatest(lit(0L), floor(x * nBins).cast("long")))
    val y = when(label, 1L).otherwise(0L)
    val cells = df
      .filter(ok(x))
      .select((byCols :+ bin.as("__bin") :+ x.as("__x") :+ y.as("__y")): _*)
      .groupBy((byCols :+ col("__bin")): _*)
      .agg(
        count(lit(1)).as("__n"),
        dsum(r6(col("__x"))).as("__sx"),
        sum(col("__y")).as("__k"),
        dsum(r6((col("__x") - col("__y").cast("double")) *
          (col("__x") - col("__y").cast("double")))).as("__sq"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(byCols: _*)
    def wsum(c: Column): Column = sum(c.cast("decimal(38,6)")).over(wg).cast("double")
    val nD = col("__n").cast("double")
    val pbar = col("__sx") / nD
    val ybar = col("__k").cast("double") / nD
    // NOTE: column resolution is case-INsensitive by default, so the
    // group-total names must not collide with the cell names modulo case
    val totals = cells
      .withColumn("__totn", sum(col("__n")).over(wg))
      .withColumn("__totk", sum(col("__k")).over(wg))
      .withColumn("__totnd", col("__totn").cast("double"))
      .withColumn("__yg", col("__totk").cast("double") / col("__totnd"))
      .withColumn("__brier", wsum(col("__sq")) / col("__totnd"))
      .withColumn("__rel", wsum(r6(nD * (pbar - ybar) * (pbar - ybar))) / col("__totnd"))
      .withColumn("__res",
        wsum(r6(nD * (ybar - col("__yg")) * (ybar - col("__yg")))) / col("__totnd"))
    totals
      .groupBy(byCols: _*)
      .agg(
        first(col("__totn")).as("n"),
        r6(first(col("__brier"))).as("brier"),
        r6(first(col("__rel"))).as("reliability"),
        r6(first(col("__res"))).as("resolution"),
        r6(first(col("__yg")) * (lit(1.0) - first(col("__yg")))).as("uncertainty"))
  }

  /** Hosmer–Lemeshow-style calibration χ² on fixed-width score bins —
    * the TEST companion to [[calibration]]'s descriptive ECE: is the
    * observed-vs-expected gap larger than chance, per group. Per bin,
    * O = Σy and E = Σp; χ² = Σ (O−E)²/(E·(1−E/n_b)) over bins with
    * 0 < E < n_b (a bin whose expectation is degenerate carries no
    * testable variance and is skipped — counted in `b_skipped`);
    * df = testable bins − 2 (the fitted-model convention), p from the
    * χ² tail via the normal approximation z = √(2χ²) − √(2df−1)
    * (Wilson–Hilferty-adjacent; exact enough for a gate at df ≥ 8).
    * Equal-WIDTH bins rather than the classical equal-count deciles:
    * deciles need a global sort of the corpus; fixed bins keep the
    * whole test one pass + a group-partitioned window, and the
    * statistic remains a valid calibration χ² (documented variant).
    *
    * Output per group: (by..., n, b_tested, b_skipped, chi2, df,
    * p_value) — chi2/p NULL when fewer than 3 testable bins.
    */
  def hosmerLemeshow(
      df: DataFrame,
      by: Seq[String],
      scoreCol: String,
      label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 3, s"nBins must be >= 3, got $nBins")
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val bin = least(lit(nBins - 1L), greatest(lit(0L), floor(x * nBins).cast("long")))
    val cells = df
      .filter(ok(x))
      .select((byCols :+ bin.as("__bin") :+ x.as("__x") :+
        when(label, 1L).otherwise(0L).as("__y")): _*)
      .groupBy((byCols :+ col("__bin")): _*)
      .agg(
        count(lit(1)).as("__cn"),
        dsum(r6(col("__x"))).as("__e"),
        sum(col("__y")).as("__o"))
    val nD = col("__cn").cast("double")
    val testable = col("__e") > 0 && col("__e") < nD
    val term = when(testable,
      r6((col("__o").cast("double") - col("__e")) * (col("__o").cast("double") - col("__e")) /
        (col("__e") * (lit(1.0) - col("__e") / nD))))
    val g = cells
      .groupBy(byCols: _*)
      .agg(
        sum(col("__cn")).as("n"),
        count(when(testable, lit(1))).as("b_tested"),
        count(when(!testable, lit(1))).as("b_skipped"),
        coalesce(dsum(term), lit(0.0)).as("__chi2"))
      .withColumn("df", greatest(lit(0L), col("b_tested") - lit(2L)))
    val chi2 = when(col("b_tested") >= 3, r6(col("__chi2")))
    val z = sqrt(lit(2.0) * chi2) - sqrt(lit(2.0) * col("df").cast("double") - lit(1.0))
    // one-sided upper tail: P(Z > z) = pFromZ/2 for z >= 0, else the
    // complement (pFromZ folds to |z|)
    val tail = when(z >= 0, graft.operators.Hypothesis.pFromZ(z) / lit(2.0))
      .otherwise(lit(1.0) - graft.operators.Hypothesis.pFromZ(z) / lit(2.0))
    g.select((byCols :+ col("n") :+ col("b_tested") :+ col("b_skipped") :+
      chi2.as("chi2") :+ col("df") :+
      when(chi2.isNotNull && col("df") >= 1, r6(tail)).as("p_value")): _*)
  }

  /** Classifier confusion matrix with per-class recall and overall
    * accuracy — the eval that turns "language-ID works" into numbers
    * per class: which true labels leak where, and how much. One
    * groupBy to the class²-sized cell frame; `frac_of_true` (the
    * recall row-profile) is a class-partitioned window over it;
    * accuracy is a one-row broadcast, never a global window. NULL
    * labels on either side are kept as a real '(null)' class — a
    * predictor that returns NULL is a finding, not a dropped row.
    *
    * Output: one row per observed (true, pred) cell —
    * (true_label, pred_label, n, frac_of_true, accuracy).
    */
  def confusionMatrix(
      df: DataFrame,
      trueCol: String,
      predCol: String): DataFrame = {
    val cells = df
      .groupBy(
        coalesce(col(trueCol).cast("string"), lit("(null)")).as("true_label"),
        coalesce(col(predCol).cast("string"), lit("(null)")).as("pred_label"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.agg(
      sum(col("n")).as("__tot"),
      coalesce(sum(when(col("true_label") === col("pred_label"), col("n"))), lit(0L))
        .as("__ok"))
    val byTrue = org.apache.spark.sql.expressions.Window.partitionBy(col("true_label"))
    cells
      .withColumn("frac_of_true",
        r6(col("n").cast("double") / sum(col("n")).over(byTrue).cast("double")))
      .crossJoin(broadcast(totals)) // one-row totals frame: lint-exempt
      .withColumn("accuracy",
        r6(col("__ok").cast("double") / col("__tot").cast("double")))
      .select(col("true_label"), col("pred_label"), col("n"),
        col("frac_of_true"), col("accuracy"))
  }

  /** Fleiss' κ — chance-corrected agreement for m raters per item, the
    * multi-rater extension of Cohen's κ (two raters) and the first
    * gate on any preference/annotation corpus: κ near 0 means the
    * "labels" are noise dressed as data. Per item i and category j,
    * n_ij votes with Σ_j n_ij = m; P_i = (Σ n_ij² − m)/(m(m−1)),
    * P̄ = mean P_i, chance agreement P_e = Σ_j p_j², κ = (P̄−P_e)/(1−P_e).
    * A VARYING vote count per item breaks the formula — enforced with
    * an in-plan raise_error, not a silent wrong κ. P_e = 1 (every vote
    * one category) leaves nothing to correct: κ NULL.
    *
    * One groupBy to the (items × categories) vote-cell frame, one
    * item-sized reduction, category-sized marginals broadcast; all
    * ratios r6-pinned, DECIMAL sums. Output ONE row:
    * (n_items, m_raters, n_categories, p_bar, p_e, kappa).
    */
  def fleissKappa(
      votes: DataFrame,
      itemCol: String,
      categoryCol: String): DataFrame = {
    val cells = votes
      .filter(col(categoryCol).isNotNull)
      .groupBy(col(itemCol).as("__i"), col(categoryCol).cast("string").as("__c"))
      .agg(count(lit(1)).as("__nij"))
    val items = cells
      .groupBy(col("__i"))
      .agg(sum(col("__nij")).as("__m"), sum(col("__nij") * col("__nij")).as("__sq"))
    val mCheck = items.agg(
      min(col("__m")).as("__mmin"), max(col("__m")).as("__mmax"),
      count(lit(1)).as("__ni"))
    val m = when(col("__mmin") === col("__mmax"), col("__mmin"))
      .otherwise(raise_error(concat(lit("fleissKappa: every item needs the same "),
        lit("number of votes; saw "), col("__mmin").cast("string"), lit(".."),
        col("__mmax").cast("string"))))
    // "__mr", not "__m": the item frame already carries "__m" and the
    // crossJoin below would make the reference ambiguous
    val checked = mCheck.select(col("__ni"), m.as("__mr"))
    val mD = col("__mr").cast("double")
    val pBar = items
      .crossJoin(broadcast(checked)) // one-row frame: lint-exempt
      .agg(
        first(col("__ni")).as("n_items"),
        first(col("__mr")).as("m_raters"),
        r6(coalesce(dsum(r6((col("__sq") - col("__m")).cast("double") /
          (mD * (mD - lit(1.0))))), lit(0.0)) /
          count(lit(1)).cast("double")).as("p_bar"))
    val marginals = cells
      .groupBy(col("__c"))
      .agg(sum(col("__nij")).as("__cn"))
    val pe = marginals
      .crossJoin(broadcast(checked.select((col("__ni") * col("__mr")).as("__votes"))))
      .agg(
        count(lit(1)).as("n_categories"),
        r6(coalesce(dsum(r6(r6(col("__cn").cast("double") / col("__votes").cast("double")) *
          r6(col("__cn").cast("double") / col("__votes").cast("double")))), lit(0.0)))
          .as("p_e"))
    pBar
      .crossJoin(broadcast(pe))
      .select(
        col("n_items"), col("m_raters"), col("n_categories"),
        col("p_bar"), col("p_e"),
        when(col("p_e") < 1.0,
          r6((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))).as("kappa"))
  }

  /** Cost-optimal decision threshold — turn a score + a benefit/cost
    * pair into the cutoff to DEPLOY: at candidate threshold t (the
    * lower edge of each fixed-width score bin), utility =
    * benefitTp·TP(t) − costFp·FP(t); the argmax row per group is the
    * operating point (ties break toward the HIGHER threshold — when
    * two cutoffs pay the same, keep less). The step that turns
    * #233's PR curve into an actual filter setting, priced in the
    * caller's units ("a kept-good doc is worth 1, a kept-bad doc
    * costs 5").
    *
    * One pass to the (group × bins) frame; TP/FP at each edge are
    * reverse-cumulative sums under group-partitioned windows; the
    * argmax is a group-partitioned rank. Output one row per group:
    * (by..., threshold, tp, fp, fn, utility).
    */
  def bestThreshold(
      df: DataFrame,
      by: Seq[String],
      scoreCol: String,
      label: Column,
      benefitTp: Double,
      costFp: Double,
      nBins: Int = 20): DataFrame = {
    require(nBins >= 2 && nBins <= 10000, s"nBins must be in [2, 10000], got $nBins")
    require(benefitTp > 0 && costFp >= 0, "benefit must be positive, cost non-negative")
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val bin = least(lit(nBins - 1L), greatest(lit(0L), floor(x * nBins).cast("long")))
    val cells = df
      .filter(ok(x))
      .select((byCols :+ bin.as("__bin") :+
        when(label, 1L).otherwise(0L).as("__y")): _*)
      .groupBy((byCols :+ col("__bin")): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"))
    val byG = org.apache.spark.sql.expressions.Window.partitionBy(byCols: _*)
    val fromTop = byG.orderBy(col("__bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val staged = cells
      .withColumn("__tp", sum(col("__pos")).over(fromTop))
      .withColumn("__fp", sum(col("__n") - col("__pos")).over(fromTop))
      .withColumn("__allpos", sum(col("__pos")).over(byG))
      .withColumn("threshold",
        r6(col("__bin").cast("double") / lit(nBins.toDouble)))
      .withColumn("utility",
        r6(lit(benefitTp) * col("__tp").cast("double") -
          lit(costFp) * col("__fp").cast("double")))
    val best = org.apache.spark.sql.expressions.Window.partitionBy(byCols: _*)
      .orderBy(col("utility").desc, col("threshold").desc)
    staged
      .withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select((byCols :+ col("threshold") :+ col("__tp").as("tp") :+
        col("__fp").as("fp") :+ (col("__allpos") - col("__tp")).as("fn") :+
        col("utility")): _*)
  }

  def averagePrecision(
      df: DataFrame,
      by: Seq[String],
      scoreCol: String,
      idCol: String,
      label: Column): DataFrame = {
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val base = df
      .filter(ok(x))
      .select((byCols :+ x.as("__x") :+ col(idCol).as("__id") :+
        when(label, 1L).otherwise(0L).as("__p")): _*)
    val wOrd = Window.partitionBy(byCols: _*).orderBy(col("__x").desc, col("__id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = base
      .withColumn("__rk", row_number().over(wOrd))
      .withColumn("__cp", sum(col("__p")).over(wCum))
    val prec = col("__cp").cast("double") / col("__rk").cast("double")
    ranked
      .groupBy(byCols: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__p")).as("n_pos"),
        dsumIf(col("__p") === 1L, r6(prec)).as("__ap"))
      .withColumn(
        "ap",
        when(col("n_pos") > 0, col("__ap") / col("n_pos").cast("double")))
      .drop("__ap")
  }

  /** Per-group precision/recall/F1 threshold curve over `nBins`
    * fixed-width score cutoffs — the operational "where do I cut" table
    * for a classifier-filtered pipeline: [[rocAuc]] says whether the
    * score ranks, [[calibration]] whether it means what it says; this
    * says what keeping `score ≥ cutoff` actually costs in kept-junk
    * (precision) and lost-good (recall) at each threshold.
    *
    * One fact pass to the (group × bin) count frame; cumulative
    * tp/fp from ONE bin-descending window over it (vocab-sized);
    * every metric an exact-integer ratio. Only non-empty bins emit a
    * row (the curve is a step function; empty bins add no step).
    *
    * Output: (by..., cutoff, n_ge, tp, fp, fn, precision, recall, f1).
    */
  def prCurve(
      df: DataFrame,
      by: Seq[String],
      scoreCol: String,
      label: Column,
      nBins: Int = 20): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val bin = least(lit(nBins - 1L), greatest(lit(0L), floor(x * nBins).cast("long")))
    val g = df
      .filter(ok(x))
      .select((byCols :+ bin.as("__bin") :+ when(label, 1L).otherwise(0L).as("__p")): _*)
      .groupBy((byCols :+ col("__bin")): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__p")).as("__k"))
    val wDesc = Window.partitionBy(byCols: _*).orderBy(col("__bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(byCols: _*)
    val tp = sum(col("__k")).over(wDesc)
    val nGe = sum(col("__n")).over(wDesc)
    val totPos = sum(col("__k")).over(wAll)
    val prec = tp.cast("double") / nGe.cast("double")
    val rec = tp.cast("double") / totPos.cast("double")
    g.select((byCols :+
      (col("__bin").cast("double") / nBins.toDouble).as("cutoff") :+
      nGe.as("n_ge") :+ tp.as("tp") :+ (nGe - tp).as("fp") :+
      (totPos - tp).as("fn") :+
      prec.as("precision") :+
      when(totPos > 0L, rec).as("recall") :+
      when(totPos > 0L && (prec + rec) > 0.0,
        lit(2.0) * prec * rec / (prec + rec)).as("f1")): _*)
  }

  /** Per-group isotonic recalibration (PAVA) over the binned
    * reliability table — [[calibration]] MEASURES the miscalibration,
    * this fits the FIX: the monotone step function iso(bin) mapping raw
    * scores to calibrated probabilities (the standard post-hoc
    * recalibrator for quality/classifier scores before thresholding).
    *
    * Uses the minimax closed form of isotonic regression,
    * iso(i) = max_{j≤i} min_{k≥i} mean(y over bins j..k), computed
    * RELATIONALLY on the (group × nBins) frame: one fact pass bins the
    * scores; cumulative positive/count sums come from one bin-ordered
    * window; the (j ≤ i ≤ k) triple then materializes ≤ nBins³ rows per
    * group — config-bounded, never corpus-bounded, the [[graft
    * .operators.Stats.kendallTau]] discipline applied to bins. Interval
    * means are ratios of exact integer cumsum differences, so every
    * candidate is one IEEE divide and min/max over them is
    * order-free — engine-reproducible without rounding tricks.
    *
    * Output: one row per non-empty (group, bin): (by..., bin, n, conf,
    * acc, iso) with iso monotone non-decreasing in bin.
    */
  def isotonicCalibration(
      df: DataFrame,
      by: Seq[String],
      scoreCol: String,
      label: Column,
      nBins: Int = 20): DataFrame = {
    require(nBins >= 2 && nBins <= 64, s"nBins must be in 2..64, got $nBins")
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val bin = least(lit(nBins - 1L), greatest(lit(0L), floor(x * nBins).cast("long")))
    val bins = df
      .filter(ok(x))
      .select((byCols :+ bin.as("bin") :+ x.as("__x") :+
        when(label, 1L).otherwise(0L).as("__p")): _*)
      .groupBy((byCols :+ col("bin")): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__p")).as("__k"),
        dsum(r6(col("__x"))).as("__sx"))
    val wc = Window.partitionBy(byCols: _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cumulative columns get distinct lowercase names: Spark resolution
    // is case-insensitive, so "__K" would capture "__k"
    val idx = bins
      .withColumn("__cn", sum(col("n")).over(wc))
      .withColumn("__ck", sum(col("__k")).over(wc))
      .withColumn("__pn", col("__cn") - col("n"))
      .withColumn("__pk", col("__ck") - col("__k"))
    def side(tag: String, cols: Seq[String]): DataFrame =
      idx.select((byCols ++ cols.map(c => col(c).as(s"${tag}_$c"))): _*)
    val i = side("i", Seq("bin", "n", "__k", "__sx"))
    val j = side("j", Seq("bin", "__pn", "__pk"))
    val k = side("k", Seq("bin", "__cn", "__ck"))
    val mean = (col("k___ck") - col("j___pk")).cast("double") /
      (col("k___cn") - col("j___pn")).cast("double")
    val inner = i
      .join(j, by).filter(col("j_bin") <= col("i_bin"))
      .join(k, by).filter(col("k_bin") >= col("i_bin"))
      .groupBy((byCols :+ col("i_bin") :+ col("j_bin") :+ col("i_n") :+
        col("i___k") :+ col("i___sx")): _*)
      .agg(min(mean).as("__mn"))
    inner
      .groupBy((byCols :+ col("i_bin").as("bin") :+ col("i_n").as("n") :+
        col("i___k") :+ col("i___sx")): _*)
      .agg(max(col("__mn")).as("iso"))
      .select((byCols :+ col("bin") :+ col("n") :+
        (col("i___sx") / col("n").cast("double")).as("conf") :+
        (col("i___k").cast("double") / col("n").cast("double")).as("acc") :+
        col("iso")): _*)
  }

  /** B-cubed clustering evaluation (Bagga–Baldwin) — the standard score
    * for a DEDUP/entity clustering against gold classes, where pairwise
    * F overweights big clusters and purity ignores recall. Per item:
    * precision = the fraction of its cluster sharing its gold label,
    * recall = the fraction of its gold class landing in its cluster;
    * B³ P/R are the item averages, F1 their harmonic mean.
    *
    * Closed form over the (cluster × label) CELL frame — never per-item
    * or per-pair: Σ cell²/|cluster| / N and Σ cell²/|class| / N (each
    * item in a cell contributes cell/|cluster|, so the item sum
    * collapses to cell²/|cluster|). Execution: one groupBy to cells,
    * two group-sized joins (cluster sizes, class sizes), one global
    * aggregate; the per-cell ratios are r6-rounded before their
    * DECIMAL(38,6) sums so the reduction is order-free. Items with a
    * NULL cluster or label are dropped and counted.
    *
    * Output (one row): n_items, n_dropped, n_clusters, n_labels,
    * bcubed_precision, bcubed_recall, bcubed_f1.
    */
  def bCubed(
      df: DataFrame,
      clusterCol: String,
      labelCol: String): DataFrame = {
    val base = df.select(col(clusterCol).cast("string").as("__cl"),
      col(labelCol).cast("string").as("__lb"))
    val kept = base.filter(col("__cl").isNotNull && col("__lb").isNotNull)
    val dropped = base.agg(
      count(when(col("__cl").isNull || col("__lb").isNull, lit(1))).as("n_dropped"))
    val cells = kept.groupBy(col("__cl"), col("__lb")).agg(count(lit(1)).as("__cell"))
    val csize = cells.groupBy(col("__cl")).agg(sum(col("__cell")).as("__cs"))
    val lsize = cells.groupBy(col("__lb")).agg(sum(col("__cell")).as("__ls"))
    val agg = cells
      .join(csize, "__cl") // cluster-count-sized frames
      .join(lsize, "__lb")
      .agg(
        sum(col("__cell")).as("n_items"),
        countDistinct(col("__cl")).as("n_clusters"),
        countDistinct(col("__lb")).as("n_labels"),
        dsum(r6(col("__cell").cast("double") * col("__cell").cast("double") /
          col("__cs").cast("double"))).as("__sp"),
        dsum(r6(col("__cell").cast("double") * col("__cell").cast("double") /
          col("__ls").cast("double"))).as("__sr"))
    agg
      .crossJoin(broadcast(dropped)) // one-row totals frame: lint-exempt
      .select(col("n_items"), col("n_dropped"), col("n_clusters"), col("n_labels"),
        when(col("n_items") > 0, r6(col("__sp") / col("n_items").cast("double")))
          .as("bcubed_precision"),
        when(col("n_items") > 0, r6(col("__sr") / col("n_items").cast("double")))
          .as("bcubed_recall"),
        when(col("n_items") > 0 && col("__sp") + col("__sr") > 0,
          r6(lit(2.0) * (col("__sp") / col("n_items").cast("double")) *
            (col("__sr") / col("n_items").cast("double")) /
            (col("__sp") / col("n_items").cast("double") +
              col("__sr") / col("n_items").cast("double"))))
          .as("bcubed_f1"))
  }

  /** Per-class one-vs-rest classifier metrics — precision, recall, F1,
    * and Matthews correlation per class off ONE confusion pass: what
    * [[confusionMatrix]] leaves to the reader, computed with the
    * same cell machinery ("which classes does the filter actually
    * miss" is a per-class question; accuracy hides it behind the
    * majority class). MCC is the balance-proof single number per class
    * (tp·tn − fp·fn over the geometric mean of the four margins; NULL
    * when any margin is empty — the 0/0 classes are the finding).
    *
    * Scale shape: one corpus groupBy to the k² cell frame; classes =
    * distinct labels ∪ predictions (each class must appear for its
    * zero-support row to exist); tp comes from the diagonal and
    * fp/fn/tn from the MARGINS (fp = n_pred − tp, fn = n_true − tp,
    * tn = N − tp − fp − fn) — class-sized joins only, no classes ×
    * cells fan-out, nothing corpus-sized past the first groupBy.
    *
    * Output per class: (class, n_true, n_pred, tp, fp, fn, precision,
    * recall, f1, mcc).
    */
  def classMetrics(
      df: DataFrame,
      trueCol: String,
      predCol: String): DataFrame = {
    val cells = df
      .groupBy(
        coalesce(col(trueCol).cast("string"), lit("(null)")).as("__t"),
        coalesce(col(predCol).cast("string"), lit("(null)")).as("__p"))
      .agg(count(lit(1)).as("__n"))
      .pin(false) // consumed by the class list, margins, diagonal, total
    val classes = cells.select(col("__t").as("class"))
      .unionAll(cells.select(col("__p").as("class"))).distinct()
    val diag = cells.filter(col("__t") === col("__p"))
      .select(col("__t").as("class"), col("__n").as("__tp"))
    val trueM = cells.groupBy(col("__t").as("class")).agg(sum(col("__n")).as("__nt"))
    val predM = cells.groupBy(col("__p").as("class")).agg(sum(col("__n")).as("__np"))
    val tot = cells.agg(sum(col("__n")).as("__tot"))
    val sums = classes
      .join(diag, Seq("class"), "left")
      .join(trueM, Seq("class"), "left")
      .join(predM, Seq("class"), "left")
      .crossJoin(broadcast(tot)) // one-row total: lint-exempt
      .select(col("class"),
        coalesce(col("__tp"), lit(0L)).as("tp"),
        (coalesce(col("__np"), lit(0L)) - coalesce(col("__tp"), lit(0L))).as("fp"),
        (coalesce(col("__nt"), lit(0L)) - coalesce(col("__tp"), lit(0L))).as("fn"),
        (col("__tot") - coalesce(col("__nt"), lit(0L)) -
          coalesce(col("__np"), lit(0L)) + coalesce(col("__tp"), lit(0L))).as("tn"))
    def d(c: String) = col(c).cast("double")
    val prec = when(col("tp") + col("fp") > 0, d("tp") / (d("tp") + d("fp")))
    val rec = when(col("tp") + col("fn") > 0, d("tp") / (d("tp") + d("fn")))
    val mccDen = sqrt((d("tp") + d("fp")) * (d("tp") + d("fn")) *
      (d("tn") + d("fp")) * (d("tn") + d("fn")))
    sums.select(
      col("class"),
      (col("tp") + col("fn")).as("n_true"),
      (col("tp") + col("fp")).as("n_pred"),
      col("tp"), col("fp"), col("fn"),
      r6(prec).as("precision"),
      r6(rec).as("recall"),
      when(prec.isNotNull && rec.isNotNull && prec + rec > 0,
        r6(lit(2.0) * prec * rec / (prec + rec))).as("f1"),
      when(mccDen > 0,
        r6((d("tp") * d("tn") - d("fp") * d("fn")) / mccDen)).as("mcc"))
  }

  /** Krippendorff's alpha (nominal) per group — the agreement
    * coefficient that handles MISSING ratings and any rater count,
    * where [[fleissKappa]] requires complete equal-size blocks: ratings
    * arrive as bare (unit, category) rows, units with a single rating
    * carry no pairable information and drop (counted). Disagreement
    * form: Do = (1/n)·Σ_u Σ_c o_uc(m_u − o_uc)/(m_u − 1),
    * De = (1/(n(n−1)))·Σ_c n_c(n − n_c), α = 1 − Do/De over the
    * pairable ratings n = Σ_{m_u ≥ 2} m_u.
    *
    * Shape: two groupBys to the (unit × category) o_uc frame and the
    * category totals — unit/category-sized, never rater-pair-sized.
    * α NULL when De = 0 (one category total — agreement is undefined,
    * not perfect). Output per group: (by…, n_units, n_pairable,
    * d_o, d_e, alpha).
    */
  def krippendorffAlpha(
      df: DataFrame,
      byCols: Seq[String],
      unitCol: String,
      categoryCol: String): DataFrame = {
    val by = byCols.map(col)
    val ouc = df
      .filter(col(unitCol).isNotNull && col(categoryCol).isNotNull)
      .groupBy((by :+ col(unitCol).as("__u") :+
        col(categoryCol).cast("string").as("__c")): _*)
      .agg(count(lit(1)).as("__o"))
    val mu = ouc.groupBy((by :+ col("__u")): _*)
      .agg(sum(col("__o")).as("__m"))
    val cells = ouc.join(mu, byCols :+ "__u")
      .filter(col("__m") >= 2L)
    val nc = cells.groupBy((by :+ col("__c")): _*)
      .agg(sum(col("__o")).as("__nc"))
    val doSum = cells
      .groupBy(by: _*)
      .agg(
        countDistinct(col("__u")).as("n_units"),
        sum(col("__o")).as("n_pairable"),
        dsum(r6(col("__o").cast("double") * (col("__m") - col("__o")).cast("double") /
          (col("__m").cast("double") - 1.0))).as("__dnum"))
    val n = col("n_pairable").cast("double")
    val joined = doSum.join(
      nc.join(doSum.select((by :+ col("n_pairable").as("__np")): _*), byCols)
        .groupBy(by: _*)
        .agg(dsum((col("__nc") * (col("__np") - col("__nc"))).cast("double")).as("__enum")),
      byCols)
    val dO = when(n > 0, col("__dnum") / n)
    val dE = when(n > 1, col("__enum") / (n * (n - 1.0)))
    joined.select((by ++ Seq(col("n_units"), col("n_pairable"),
      r6(dO).as("d_o"), r6(dE).as("d_e"),
      when(dE > 0, r6(lit(1.0) - dO / dE)).as("alpha"))): _*)
  }

  /** Cumulative gains / lift table per group — the business-facing
    * readout behind [[rocAuc]]'s single number: rank by score
    * descending, cut into `nBins` equal-population bins, and report
    * each bin's positives, the CUMULATIVE capture share ("the top 20%
    * of scores catch 61% of the positives"), and the cumulative lift
    * vs random targeting. Ranking tie-breaks by `idCol` so the table
    * — and the hash — is deterministic. Rank windows partition by the
    * group; the cumulative runs over the (group × nBins) frame.
    *
    * Output per (group, bin 1-based): (by…, bin, n, n_pos,
    * cum_capture, cum_lift) — lift NULL when the group has no
    * positives.
    */
  def gainsTable(
      df: DataFrame,
      by: Seq[String],
      scoreCol: String,
      label: Column,
      idCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 100, s"nBins must be in [2, 100], got $nBins")
    val x = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val wr = Window.partitionBy(byCols: _*).orderBy(col("__x").desc, col("__id"))
    val wg = Window.partitionBy(byCols: _*)
    val ranked = df
      .filter(ok(x))
      .select((byCols :+ x.as("__x") :+ when(label, 1L).otherwise(0L).as("__p") :+
        col(idCol).as("__id")): _*)
      .withColumn("__r", row_number().over(wr).cast("long") - 1L)
      .withColumn("__n", count(lit(1)).over(wg))
      // exact integer floor-div bin (the PAA discipline)
      .withColumn("bin",
        ((col("__r") * nBins.toLong - pmod(col("__r") * nBins.toLong, col("__n"))) /
          col("__n")).cast("long") + 1L)
    val bins = ranked
      .groupBy((byCols :+ col("bin")): _*)
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("n_pos"))
    val wCum = Window.partitionBy(byCols: _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bins
      .withColumn("__cp", sum(col("n_pos")).over(wCum))
      .withColumn("__cn", sum(col("n")).over(wCum))
      .withColumn("__tp", sum(col("n_pos")).over(Window.partitionBy(byCols: _*)))
      .withColumn("__tn", sum(col("n")).over(Window.partitionBy(byCols: _*)))
      .select((byCols ++ Seq(col("bin"), col("n"), col("n_pos"),
        when(col("__tp") > 0,
          r6(col("__cp").cast("double") / col("__tp").cast("double")))
          .as("cum_capture"),
        when(col("__tp") > 0,
          r6((col("__cp").cast("double") / col("__cn").cast("double")) /
            (col("__tp").cast("double") / col("__tn").cast("double"))))
          .as("cum_lift"))): _*)
  }
}
