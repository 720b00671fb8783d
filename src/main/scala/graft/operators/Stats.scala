package graft.operators

import graft.functions.Portable.{dsum, dsum0, dsumIf, r6}
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-group bivariate statistics — Pearson correlation and closed-form
  * least-squares regression — from ONE scan of the fact table. The
  * drift/trend analytics a curation pipeline runs over signal columns
  * (does quality score drift with time? does length correlate with
  * perplexity?).
  *
  * Both reduce to the five moment sums (n, Σx, Σy, Σxy, Σx², Σy²),
  * which partial-aggregate map-side and combine associatively — the
  * groups×6 result frame is all that crosses the exchange, never the
  * facts. Built-in `corr`/`regr_slope` sum DOUBLES, whose value depends
  * on partition order; these sums go through DECIMAL(38,6) instead
  * (exact, partitioning-independent, engine-portable — the same
  * convention as [[CodeMetadata]]), and the final scalar arithmetic on
  * the sums is identical IEEE double math in any engine.
  *
  * Rows where either coordinate is NULL or NaN are excluded pairwise.
  */
object Stats {

  private def ok(c: Column): Column = c.isNotNull && !isnan(c)

  /** Sample variance from the raw moments, (s2 / n − mean²) · n/(n−1),
    * clamped at 0 against cancellation.
    */
  private def svar(s2: Column, mean: Column, n: Column): Column =
    greatest(s2 / n - mean * mean, lit(0.0)) * n / (n - 1.0)

  /** The shared moment-sum aggregate: by..., n, sx, sy, sxy, sxx, syy
    * (sums as DOUBLE, exact through DECIMAL(38,6)).
    */
  private def moments(df: DataFrame, by: Seq[String], xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val p = ok(x) && ok(y)
    df.groupBy(by.map(col): _*)
      .agg(
        count(when(p, lit(1))).as("n"),
        dsumIf(p, x).as("sx"),
        dsumIf(p, y).as("sy"),
        dsumIf(p, x * y).as("sxy"),
        dsumIf(p, x * x).as("sxx"),
        dsumIf(p, y * y).as("syy")
      )
  }

  /** Per-group Spearman rank correlation: Pearson over AVERAGE ranks
    * (the standard tie treatment — tied values share the mean of the
    * positions they span), the monotonic-association measure that
    * ignores scale and outliers ("does quality rank track length rank"
    * where Pearson would chase the heavy tail).
    *
    * All four rank/tie windows share ONE exchange: they partition by
    * the group (sorts differ, partitioning doesn't), and the tie-count
    * windows over (group, value) are satisfied by the group clustering
    * — same reuse as the bigram-LM windows. Ranks are exact halves, so
    * the moment sums stay exact through DECIMAL and the result is
    * engine-portable. Pairwise-valid rows only.
    */
  def spearman(df: DataFrame, by: Seq[String], xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val wg = Window.partitionBy(by.map(col): _*)
    def avgRank(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      rank().over(wg.orderBy(v)).cast("double") +
        (count(lit(1)).over(Window.partitionBy((by.map(col) :+ v): _*)) - 1).cast("double") / 2.0
    val ranked = df
      .filter(ok(x) && ok(y))
      .withColumn("__rx", avgRank(x))
      .withColumn("__ry", avgRank(y))
    groupedCorrelation(ranked, by, "__rx", "__ry")
      .withColumnRenamed("corr", "rho")
  }

  /** Per-group Gini concentration of a non-negative quantity: 0 = the
    * group's mass is spread evenly across its rows, →1 = a few rows
    * hold everything. The corpus-diversity alarm ("90% of this
    * language's tokens come from one domain") that decides whether a
    * source needs down-weighting before training.
    *
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted x (i
    * 1-based). Tie order among equal x doesn't change Σ i·xᵢ, so no
    * tie-break is needed for portability. One group-partitioned sort
    * window + one aggregate sharing the same single shuffle; the
    * rank-weighted sums go through DECIMAL so the result is
    * partitioning-independent. Groups with zero total mass are NULL.
    */
  def gini(df: DataFrame, by: Seq[String], valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*)
      .orderBy(v)
    df.filter(ok(v) && v >= 0)
      .withColumn("__i", row_number().over(w))
      .groupBy(by.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        dsum(v).as("__s"),
        dsum(col("__i") * v).as("__is"))
      .select(by.map(col) :+ col("n") :+
        when(col("__s") > 0,
          lit(2.0) * col("__is") / (col("n").cast("double") * col("__s")) -
            (col("n") + 1).cast("double") / col("n").cast("double"))
          .as("gini"): _*)
  }

  /** Chi-square contingency analysis of two categorical columns: per
    * cell (a, b) the observed count, the independence-expected count
    * row·col/N, and the cell's χ² contribution (o−e)²/e — which cells
    * drive the dependence (is `lang` independent of `source`? where do
    * splits leak label signal?). Callers sum `chi2` for the statistic.
    *
    * One fact scan to the |A|×|B| cell frame; marginals re-aggregate
    * from the CELLS (vocab-sized, not the facts) and broadcast back on.
    * NULL categories are excluded (they're missingness, not a level).
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // localCheckpoint (lazy): four consumers (ra, rb, tot, the join) would
    // otherwise each re-run the fact scan + aggregate; the cell frame is
    // vocab-sized (|A|x|B| observed), cheap to pin.
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("__obs"))
      .pin(false)
    val ra = cells.groupBy("a").agg(sum(col("__obs")).as("na"))
    val rb = cells.groupBy("b").agg(sum(col("__obs")).as("nb"))
    val tot = cells.agg(sum(col("__obs")).as("n"))
    val e = col("na").cast("double") * col("nb").cast("double") / col("n").cast("double")
    // Full |A|x|B| grid, not just observed cells: a ZERO cell still
    // contributes its expected count to the statistic (o=0 -> (0-e)^2/e
    // = e), and perfectly-dependent columns are exactly the case where
    // most of the grid is empty.
    ra.crossJoin(broadcast(rb))
      .join(cells, Seq("a", "b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"),
        coalesce(col("__obs"), lit(0L)).as("observed"), e.as("expected"),
        ((coalesce(col("__obs"), lit(0L)).cast("double") - e) *
          (coalesce(col("__obs"), lit(0L)).cast("double") - e) / e).as("chi2"))
  }

  /** Cramér's V — [[chiSquare]] normalized into an effect SIZE on
    * [0, 1]: V = √(χ²/(N·(min(r,c)−1))). χ² alone grows with N, so at
    * corpus scale EVERYTHING is "significant"; V answers the question a
    * curator actually has — how strongly are the two columns coupled
    * (V ≳ 0.3: source effectively determines language; dedup within
    * (source, lang) cells is redundant). One row out: the dimensions,
    * N, χ², and V.
    *
    * Same two-aggregation shape as [[chiSquare]] (the cell frame is
    * vocab-sized); per-cell χ² terms are r6-rounded before the final
    * DECIMAL sum so the cell-order reduction is engine-portable, and
    * √ is IEEE-correctly-rounded — no libm hazard. Degenerate tables
    * (one row or one column: min dimension 1) have no independence to
    * measure and emit NULL V.
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    chiSquare(df, aCol, bCol)
      .agg(
        countDistinct(col("a")).as("n_a_levels"),
        countDistinct(col("b")).as("n_b_levels"),
        sum(col("observed")).as("n"),
        dsum0(r6(col("chi2"))).as("chi2"))
      .withColumn(
        "v",
        when(least(col("n_a_levels"), col("n_b_levels")) >= 2 && col("n") > 0,
          sqrt(col("chi2") /
            (col("n").cast("double") *
              (least(col("n_a_levels"), col("n_b_levels")).cast("double") - 1.0)))))
  }

  /** Append `pct` — each row's percent rank of `valueCol` within its
    * group ((rank − 1)/(n − 1); 0 for singleton groups, the SQL-standard
    * definition both Spark and DuckDB implement identically, ties
    * sharing a rank). NULL/NaN values are dropped first: engines
    * disagree on where they sort, so they have no portable rank.
    * One group-partitioned window — a single shuffle on the group key,
    * each group ranked independently; no global sort.
    */
  def percentileRank(df: DataFrame, by: Seq[String], valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*)
      .orderBy(col(valueCol))
    df.filter(ok(col(valueCol).cast("double")))
      .withColumn("pct", percent_rank().over(w))
  }

  /** (by..., n, corr): Pearson r per group; NULL when either variance
    * is zero (constant column) or the group has no valid pairs.
    */
  def groupedCorrelation(df: DataFrame, by: Seq[String], xCol: String, yCol: String): DataFrame = {
    val m = moments(df, by, xCol, yCol)
    val n = col("n").cast("double")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    m.select(
      (by.map(col) :+ col("n") :+
        (cov / nullif(sqrt(greatest(vx * vy, lit(0.0))), lit(0.0))).as("corr")): _*
    )
  }

  /** (by..., n, slope, intercept): least-squares fit y = slope·x +
    * intercept per group; NULL slope when x is constant.
    */
  def groupedLinReg(df: DataFrame, by: Seq[String], xCol: String, yCol: String): DataFrame = {
    val m = moments(df, by, xCol, yCol)
    val n = col("n").cast("double")
    val slope = (n * col("sxy") - col("sx") * col("sy")) /
      nullif(n * col("sxx") - col("sx") * col("sx"), lit(0.0))
    m.select(
      (by.map(col) :+ col("n") :+ slope.as("slope") :+
        ((col("sy") - slope * col("sx")) / n).as("intercept")): _*
    )
  }

  /** Population stability index of `valueCol`'s distribution per group,
    * comparing the rows where `isRef` is true (reference period) against
    * the rest (current period) — the standard drift gate a training-data
    * refresh runs per feature before accepting a new snapshot.
    *
    * Values are bucketed into `nBins` FIXED-WIDTH bins spanning the
    * group's overall [min, max] (exact min/max — identical in every
    * engine, unlike quantile edges), each side's proportions are
    * add-half smoothed ((n + 0.5)/(N + nBins/2), so empty bins
    * contribute finitely), and PSI = Σ_bins (p − q)·ln(p/q).
    *
    * Execution shape: ONE scan of the facts to the (group, side, bin)
    * count frame (partial-agg map-side); everything after — the full
    * group×bin grid, side totals, the ln terms — is vocab-sized and
    * broadcast. ln terms sum in DECIMAL(38,12) so reduction order
    * cannot wiggle low bits (the [[groupDivergence]] convention).
    */
  def psi(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      isRef: Column,
      nBins: Int = 10
  ): DataFrame = {
    require(nBins >= 2, "psi needs at least 2 bins")
    val v = col(valueCol).cast("double")
    val facts = df.filter(ok(v)).select((by.map(col) :+ v.as("__v") :+ isRef.as("__ref")): _*)
    val rng = facts
      .groupBy(by.map(col): _*)
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val width = (col("__hi") - col("__lo")) / nBins.toDouble
    val bin = when(col("__hi") === col("__lo"), lit(0))
      .otherwise(least(floor((col("__v") - col("__lo")) / width), lit(nBins - 1.0)))
      .cast("int")
    // one fact scan -> (group, side, bin) counts; vocab-sized thereafter
    val counts = facts
      .join(broadcast(rng), by)
      .groupBy((by.map(col) :+ col("__ref") :+ bin.as("__bin")): _*)
      .agg(count(lit(1)).as("__n"))
      .pin(false)
    val totals = counts.groupBy((by.map(col) :+ col("__ref")): _*).agg(sum(col("__n")).as("__tot"))
    // (group x bin) grid by exploding a literal bin sequence onto the
    // distinct groups — a projection, not a join (a crossJoin here shows
    // up as a BroadcastNestedLoopJoin and costs a broadcast for 10 ints)
    val grid = counts
      .select(by.map(col): _*)
      .distinct()
      .select((by.map(col) :+
        explode(sequence(lit(0), lit(nBins - 1))).as("__bin")): _*)
    def side(ref: Boolean, cn: String, tn: String) = {
      val c = counts.filter(col("__ref") === ref).drop("__ref").withColumnRenamed("__n", cn)
      val t = totals.filter(col("__ref") === ref).drop("__ref").withColumnRenamed("__tot", tn)
      (c, t)
    }
    val (cr, tr) = side(ref = true, "__nr", "__tr")
    val (cc, tc) = side(ref = false, "__nc", "__tc")
    val p = (coalesce(col("__nr"), lit(0L)).cast("double") + 0.5) /
      (coalesce(col("__tr"), lit(0L)).cast("double") + nBins / 2.0)
    val q = (coalesce(col("__nc"), lit(0L)).cast("double") + 0.5) /
      (coalesce(col("__tc"), lit(0L)).cast("double") + nBins / 2.0)
    grid
      .join(cr, by :+ "__bin", "left")
      .join(cc, by :+ "__bin", "left")
      .join(broadcast(tr), by, "left")
      .join(broadcast(tc), by, "left")
      .select((by.map(col) :+ ((p - q) * log(p / q)).cast("decimal(38,12)").as("__term")): _*)
      .groupBy(by.map(col): _*)
      .agg(sum(col("__term")).cast("double").as("psi"))
  }

  /** Per-group 1-D earth-mover (Wasserstein-1) distance between the
    * reference and current distributions over `nBins` equal-width bins:
    * EMD = Σ_bins |P_b − Q_b| · binWidth (cumulative-histogram form) —
    * the drift measure that knows 1 ≠ 10: [[psi]] and KL score "how
    * surprising", EMD scores "how FAR the mass moved" in the value's
    * own units, which is what a clamp/threshold owner actually asks.
    *
    * Same scaffolding as [[psi]]: one fact scan to the (group, side,
    * bin) count frame, the group×bin grid by literal-sequence explode,
    * everything downstream vocab-sized. No smoothing — empty bins are
    * real zero mass for a distance. Cumulative diffs run through ONE
    * bin-ordered window (deterministic order); the final Σ|·| r6's each
    * bin term then DECIMAL-sums. Groups missing a side emit NULL.
    *
    * Output: (by..., n_ref, n_cur, bin_width, emd).
    */
  def emd1d(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      isRef: Column,
      nBins: Int = 20
  ): DataFrame = {
    require(nBins >= 2, "emd1d needs at least 2 bins")
    val v = col(valueCol).cast("double")
    val facts = df.filter(ok(v)).select((by.map(col) :+ v.as("__v") :+ isRef.as("__ref")): _*)
    val rng = facts
      .groupBy(by.map(col): _*)
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val width = (col("__hi") - col("__lo")) / nBins.toDouble
    val bin = when(col("__hi") === col("__lo"), lit(0))
      .otherwise(least(floor((col("__v") - col("__lo")) / width), lit(nBins - 1.0)))
      .cast("int")
    val counts = facts
      .join(broadcast(rng), by)
      .groupBy((by.map(col) :+ col("__ref") :+ bin.as("__bin")): _*)
      .agg(count(lit(1)).as("__n"))
      .pin(false)
    val totals = counts.groupBy((by.map(col) :+ col("__ref")): _*).agg(sum(col("__n")).as("__tot"))
    val grid = counts
      .select(by.map(col): _*)
      .distinct()
      .select((by.map(col) :+
        explode(sequence(lit(0), lit(nBins - 1))).as("__bin")): _*)
    def side(ref: Boolean, cn: String, tn: String) = {
      val c = counts.filter(col("__ref") === ref).drop("__ref").withColumnRenamed("__n", cn)
      val t = totals.filter(col("__ref") === ref).drop("__ref").withColumnRenamed("__tot", tn)
      (c, t)
    }
    val (cr, tr) = side(ref = true, "__nr", "__tr")
    val (cc, tc) = side(ref = false, "__nc", "__tc")
    val p = coalesce(col("__nr"), lit(0L)).cast("double") / col("__tr").cast("double")
    val q = coalesce(col("__nc"), lit(0L)).cast("double") / col("__tc").cast("double")
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*).orderBy(col("__bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid
      .join(cr, by :+ "__bin", "left")
      .join(cc, by :+ "__bin", "left")
      .join(broadcast(tr), by, "left")
      .join(broadcast(tc), by, "left")
      .join(broadcast(rng), by)
      .withColumn("__cum", sum((p - q)).over(wCum))
      .groupBy(by.map(col): _*)
      .agg(
        max(col("__tr")).as("n_ref"),
        max(col("__tc")).as("n_cur"),
        r6(max(width)).as("bin_width"),
        when(max(col("__tr")).isNotNull && max(col("__tc")).isNotNull,
          dsum(r6(abs(col("__cum")))) * max(width)).as("emd"))
  }

  /** Two-sample Welch z-test per group — the A/B experiment readout:
    * per group, each arm's count/mean, the mean difference, its Welch
    * standard error (se = √(s²ᴀ/nᴀ + s²ʙ/nʙ), sample variances), and
    * the z statistic. `armB` marks treatment rows (false/NULL =
    * control).
    *
    * One scan: arm-conditional DECIMAL moment sums in a single
    * aggregate (no split-into-two-frames self-join), so the fact table
    * shuffles once and partial aggregation does the heavy lifting —
    * identical cost profile to [[groupedCorrelation]]. Groups need
    * n ≥ 2 in BOTH arms for se/z (NULL otherwise); everything after the
    * moment sums is plain IEEE double arithmetic in a fixed expression
    * order, so results are engine-portable.
    */
  def welchTest(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      armB: Column): DataFrame = {
    val v = col(valueCol).cast("double")
    val p = ok(v)
    val isB = coalesce(armB, lit(false))
    val m = df
      .groupBy(by.map(col): _*)
      .agg(
        count(when(p && !isB, lit(1))).as("n_a"),
        count(when(p && isB, lit(1))).as("n_b"),
        dsumIf(p && !isB, v).as("__sa"),
        dsumIf(p && isB, v).as("__sb"),
        dsumIf(p && !isB, v * v).as("__sa2"),
        dsumIf(p && isB, v * v).as("__sb2"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val meanA = col("__sa") / na
    val meanB = col("__sb") / nb
    val se = when(col("n_a") >= 2 && col("n_b") >= 2,
      sqrt(svar(col("__sa2"), meanA, na) / na + svar(col("__sb2"), meanB, nb) / nb))
    m.select((by.map(col) ++ Seq(
      col("n_a"), col("n_b"),
      when(col("n_a") > 0, meanA).as("mean_a"),
      when(col("n_b") > 0, meanB).as("mean_b"),
      when(col("n_a") > 0 && col("n_b") > 0, meanB - meanA).as("delta"),
      se.as("se"),
      when(se > 0, (meanB - meanA) / se).as("z"))): _*)
  }

  /** Difference-in-differences per group — the causal readout when
    * treatment lands mid-stream: did = (meanB_post − meanB_pre) −
    * (meanA_post − meanA_pre), its pooled standard error
    * √(Σ_cells s²/n) over the four (arm × period) cells, and the z
    * statistic. Subtracting each arm's own pre-period mean nets out
    * level differences between arms AND the shared time trend that a
    * plain post-only [[welchTest]] confounds.
    *
    * Same cost shape as [[welchTest]]: ONE scan, four-way conditional
    * DECIMAL moment sums in a single aggregate. All four cells need
    * n ≥ 2 for se/z (NULL otherwise); fixed IEEE expression order =
    * engine-portable.
    */
  def didTest(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      armB: Column,
      isPost: Column): DataFrame = {
    val v = col(valueCol).cast("double")
    val p = ok(v)
    val isB = coalesce(armB, lit(false))
    val post = coalesce(isPost, lit(false))
    val cells = Seq(
      "a_pre" -> (!isB && !post), "a_post" -> (!isB && post),
      "b_pre" -> (isB && !post), "b_post" -> (isB && post))
    val aggs = cells.flatMap { case (nm, cond) =>
      Seq(
        count(when(p && cond, lit(1))).as(s"n_$nm"),
        dsumIf(p && cond, v).as(s"__s_$nm"),
        dsumIf(p && cond, v * v).as(s"__s2_$nm"))
    }
    val m = df.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*)
    def mean(nm: String): Column = col(s"__s_$nm") / col(s"n_$nm").cast("double")
    // per-cell variance-of-the-mean contribution: s²/n with the sample
    // variance from raw moments
    def varOverN(nm: String): Column = {
      val n = col(s"n_$nm").cast("double")
      greatest(col(s"__s2_$nm") / n - mean(nm) * mean(nm), lit(0.0)) * n / (n - 1.0) / n
    }
    val allCells = cells.map(_._1)
    val enough = allCells.map(nm => col(s"n_$nm") >= 2).reduce(_ && _)
    val did = (mean("b_post") - mean("b_pre")) - (mean("a_post") - mean("a_pre"))
    val se = when(enough,
      sqrt(allCells.map(varOverN).reduce(_ + _)))
    m.select((by.map(col) ++ allCells.map(nm => col(s"n_$nm")) ++ Seq(
      when(enough, did).as("did"),
      se.as("se"),
      when(se > 0, did / se).as("z"))): _*)
  }

  /** Per-key autocorrelation of `valueCol` at lags 1..`maxLag` (Pearson r
    * between the series and its k-step-lagged self, ordered by
    * (`orderCol`, `tieCol`)) — "is this signal bursty or memoryless",
    * the per-entity seasonality/momentum probe a drift monitor runs over
    * metric streams.
    *
    * All `maxLag` lag windows share ONE key exchange (same partitioning
    * AND sort — Spark evaluates them in a single Window node), the lag
    * columns unpivot to (key, lag, x, y) rows via a row-local explode,
    * and [[groupedCorrelation]] collapses straight to the (key × lag)
    * moment frame — no self-join of the series against itself, which is
    * the naive O(maxLag) re-shuffle formulation. Keys here are
    * high-cardinality entities (users, codes), so window partitions stay
    * small at any corpus size; `tieCol` must make the sort total or the
    * lag pairing is nondeterministic.
    */
  def acf(
      df: DataFrame,
      by: Seq[String],
      orderCol: String,
      tieCol: String,
      valueCol: String,
      maxLag: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val x = col(valueCol).cast("double")
    val w = Window.partitionBy(by.map(col): _*).orderBy(col(orderCol), col(tieCol))
    // lag columns bound BEFORE the explode (the bound-column discipline:
    // a generator child holding window expressions trips the analyzer's
    // extraction order, and HOF-style inlining would re-evaluate them)
    val withLags = df
      .filter(ok(x) && col(orderCol).isNotNull)
      .select((by.map(col) :+ col(orderCol) :+ col(tieCol) :+ x.as("__x")): _*)
      .select(((by.map(col) :+ col("__x")) ++
        (1 to maxLag).map(k => lag(col("__x"), k).over(w).as(s"__l$k"))): _*)
    val lagged = withLags
      .select((by.map(col) :+ col("__x") :+
        explode(array((1 to maxLag).map(k =>
          struct(lit(k).as("lag"), col(s"__l$k").as("y"))): _*)).as("__p")): _*)
      .select((by.map(col) :+ col("__p.lag").as("lag") :+ col("__x") :+
        col("__p.y").as("__y")): _*)
      .filter(col("__y").isNotNull)
    groupedCorrelation(lagged, by :+ "lag", "__x", "__y")
      .withColumnRenamed("corr", "acf")
  }

  /** Per-group Cohen's kappa between two label columns — chance-corrected
    * agreement (1 = perfect, 0 = what marginal luck alone predicts, <0 =
    * systematic disagreement). The labeler-audit op: declared metadata vs
    * a detector (lang tag vs lang-ID), two annotators, model vs gold.
    *
    * One scan to the (group × labelA × labelB) contingency frame;
    * observed agreement is the diagonal share, expected agreement joins
    * the two marginal frames on the label (both group×labels-sized, the
    * join is dimension-scale). Marginal products go through DECIMAL(38,0)
    * — counts at 100 TB are ~10¹², their products ~10²⁴, past BIGINT —
    * and every division afterwards is the same IEEE sequence in any
    * engine. NULL kappa when expected agreement is 1 (both sides
    * constant: agreement is vacuous, not perfect).
    */
  def cohenKappa(df: DataFrame, by: Seq[String], aCol: String, bCol: String): DataFrame = {
    val byCols = by.map(col)
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy((byCols :+ col(aCol).as("__a") :+ col(bCol).as("__b")): _*)
      .agg(count(lit(1)).as("__c"))
    val base = cells
      .groupBy(byCols: _*)
      .agg(
        sum(col("__c")).as("n"),
        coalesce(sum(when(col("__a") === col("__b"), col("__c"))), lit(0L)).as("__diag"))
    val ma = cells.groupBy((byCols :+ col("__a").as("__l")): _*).agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy((byCols :+ col("__b").as("__l")): _*).agg(sum(col("__c")).as("__cb"))
    val pePart = ma
      .join(mb, by :+ "__l")
      .groupBy(byCols: _*)
      .agg(
        coalesce(sum((col("__ca") * col("__cb")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).cast("double").as("__pe_num"))
    val nD = col("n").cast("double")
    val po = col("__diag").cast("double") / nD
    // left join: a group whose label sets don't overlap at all has
    // expected agreement 0, it doesn't vanish from the report
    val pe = coalesce(col("__pe_num"), lit(0.0)) / (nD * nD)
    base
      .join(pePart, by, "left")
      .select((byCols :+ col("n") :+ po.as("po") :+ pe.as("pe") :+
        ((po - pe) / nullif(lit(1.0) - pe, lit(0.0))).as("kappa")): _*)
  }

  /** Per-group Wilson score interval for a proportion (default z = 1.96,
    * the 95% band): `p` the raw share of rows where `hit` holds, `lo`/`hi`
    * the interval that, unlike the naive ±z√(p(1−p)/n), stays inside
    * [0,1] and behaves at p near 0/1 or small n — the error-bar every
    * rate on a data-quality dashboard should carry ("source X is 2%
    * mojibake ± what?").
    *
    * One partial-aggregated scan to a group-sized frame; everything after
    * is per-row double arithmetic on exact counts (sqrt only — engine-
    * portable). Groups with n = 0 cannot occur (no rows, no group).
    */
  def wilsonInterval(df: DataFrame, by: Seq[String], hit: Column, z: Double = 1.96): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val reserved = Seq("n", "k", "p", "lo", "hi")
    require(by.forall(!reserved.contains(_)),
      s"group columns $by collide with the output columns $reserved")
    val g = df
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"), coalesce(sum(when(hit, 1L)), lit(0L)).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD + z2 / (lit(4.0) * nD * nD)) / denom
    g.select((by.map(col) :+ col("n") :+ col("k") :+ p.as("p") :+
      (center - half).as("lo") :+ (center + half).as("hi")): _*)
  }

  /** CUPED variance reduction for A/B readouts: adjust each unit's
    * post-period metric y by its pre-period covariate x,
    * y′ = y − θ(x − x̄) with θ = cov(x, y)/var(x), which strips the
    * between-user variance the experiment didn't cause. Reports, per
    * group: the adjusted and raw A−B lifts and the variance-reduction
    * ratio cov²/(var_x·var_y) = corr² — how much narrower the
    * confidence interval got for free.
    *
    * Execution: ONE aggregation collapses the fact table to the
    * per-(group, unit) frame (pre/post means from DECIMAL sums, r6'd —
    * §5); a second aggregation takes pooled AND per-arm moments of that
    * unit frame in one pass (conditional sums, no pivot join). Units
    * lacking either period are dropped — CUPED is defined on complete
    * pairs; the `n_units` count makes the attrition visible. NULL
    * outputs when var_x or var_y is 0 (no covariate signal to remove).
    */
  def cuped(
      df: DataFrame,
      by: Seq[String],
      unitCol: String,
      valueCol: String,
      inPre: Column,
      inA: Column): DataFrame = {
    val v = col(valueCol).cast("double")
    val byCols = by.map(col)
    // guarded: a unit with no rows in one period must yield NULL, and
    // ANSI mode raises on the bare 0-count division
    def dmean(flag: Column): Column = {
      val cnt = count(when(flag && ok(v), lit(1)))
      when(cnt > 0,
        sum(when(flag && ok(v), v.cast("decimal(38,6)"))).cast("double") /
          cnt.cast("double"))
    }
    val units = df
      .groupBy((byCols :+ col(unitCol).as("__u")): _*)
      .agg(
        dmean(inPre).as("__x0"),
        dmean(!inPre).as("__y0"),
        max(when(inA, 1L).otherwise(0L)).as("__a"))
      .filter(col("__x0").isNotNull && col("__y0").isNotNull)
      .select(
        (byCols :+ col("__a") :+
          r6(col("__x0")).as("__x") :+
          r6(col("__y0")).as("__y")): _*)
    val m = units
      .groupBy(byCols: _*)
      .agg(
        count(lit(1)).as("n_units"),
        dsum0(col("__x")).as("sx"),
        dsum0(col("__y")).as("sy"),
        dsum0(col("__x") * col("__y")).as("sxy"),
        dsum0(col("__x") * col("__x")).as("sxx"),
        dsum0(col("__y") * col("__y")).as("syy"),
        sum(col("__a")).as("na"),
        dsum0(when(col("__a") === 1L, col("__x"))).as("sxa"),
        dsum0(when(col("__a") === 1L, col("__y"))).as("sya"))
    val n = col("n_units").cast("double")
    val naD = col("na").cast("double")
    val nbD = (col("n_units") - col("na")).cast("double")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    val theta = cov / nullif(vx, lit(0.0))
    val meanXa = col("sxa") / naD
    val meanXb = (col("sx") - col("sxa")) / nbD
    val meanYa = col("sya") / naD
    val meanYb = (col("sy") - col("sya")) / nbD
    val diffRaw = meanYa - meanYb
    m.select(
      (byCols :+ col("n_units") :+ col("na").as("n_a") :+
        (col("n_units") - col("na")).as("n_b") :+
        theta.as("theta") :+
        when(naD > 0 && nbD > 0, diffRaw).as("diff_raw") :+
        when(naD > 0 && nbD > 0, diffRaw - theta * (meanXa - meanXb)).as("diff_adj") :+
        when(vx > 0 && vy > 0, cov * cov / (vx * vy)).as("var_reduction")): _*)
  }

  /** Per-group Kendall τ-b over a DETERMINISTIC bounded sample — the
    * concordance alternative to [[spearman]] that reads directly as
    * "P(agree) − P(disagree)" and handles heavy ties honestly via the
    * τ-b denominator. τ is inherently pairwise (O(n²) pairs, and the
    * O(n log n) merge-sort formulation is a sequential algorithm, not a
    * dataflow), so this measures the sample: `sampleN` units per group,
    * chosen by md5 hash order — deterministic, engine-reproducible, and
    * unbiased w.r.t. any value ordering (the [[graft.dedup.LshTuning]]
    * sampling discipline). At sampleN = 200 the τ standard error is
    * already ~0.05 — more sample buys nothing a screening question needs.
    *
    * Scale shape: one row_number window per group (hash order) caps each
    * group at `sampleN`; the pair frame is a group-keyed self-join of
    * ≤ sampleN-row groups (≤ sampleN²/2 pairs per group, bounded by
    * CONFIG, not the corpus); concordance counts are exact integers and
    * τ = (C−D)/√((n₀−t_x)(n₀−t_y)) is one fixed IEEE sequence. NULL τ
    * when either factor is 0 (a fully-tied side).
    *
    * Output: (by..., n, n_pairs, concordant, discordant, tau_b).
    */
  def kendallTau(
      df: DataFrame,
      by: Seq[String],
      idCol: String,
      xCol: String,
      yCol: String,
      sampleN: Int = 200): DataFrame = {
    require(sampleN >= 2, s"sampleN must be >= 2, got $sampleN")
    val byCols = by.map(col)
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val h = graft.text.TextFunctions.md5Hash32(
      concat_ws("|", (lit("kt") +: byCols :+ col("__id").cast("string")): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(byCols: _*).orderBy(h, col("__id"))
    val sampled = df
      .filter(ok(x) && ok(y) && col(idCol).isNotNull)
      .select((byCols :+ col(idCol).as("__id") :+ x.as("__x") :+ y.as("__y")): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= sampleN)
      .drop("__rn")
    val pairs = sampled.as("l")
      .join(sampled.as("r"),
        by.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) &&
          col("l.__id") < col("r.__id"))
    val cx = signum(col("l.__x") - col("r.__x"))
    val cy = signum(col("l.__y") - col("r.__y"))
    val agg = pairs
      .groupBy(by.map(c => col(s"l.$c").as(c)): _*)
      .agg(
        count(lit(1)).as("n_pairs"),
        count(when(cx * cy > 0, lit(1))).as("concordant"),
        count(when(cx * cy < 0, lit(1))).as("discordant"),
        count(when(cx === 0, lit(1))).as("__tx"),
        count(when(cy === 0, lit(1))).as("__ty"))
    val sizes = sampled.groupBy(byCols: _*).agg(count(lit(1)).as("n"))
    val fx = (col("n_pairs") - col("__tx")).cast("double")
    val fy = (col("n_pairs") - col("__ty")).cast("double")
    sizes.join(agg, by, "left")
      .select((byCols :+ col("n") :+
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs") :+
        coalesce(col("concordant"), lit(0L)).as("concordant") :+
        coalesce(col("discordant"), lit(0L)).as("discordant") :+
        when(fx > 0.0 && fy > 0.0,
          (col("concordant") - col("discordant")).cast("double") /
            sqrt(fx * fy)).as("tau_b")): _*)
  }

  /** Per-key Ljung–Box Q over the first `maxLag` autocorrelations —
    * "is this series white noise" as ONE portmanteau number
    * (χ²_maxLag under H₀): Q = n(n+2)·Σ_h ρ_h²/(n−h). The residual /
    * drift-monitor companion to [[acf]]: instead of eyeballing lag bars,
    * a single test decides whether per-entity metric streams carry any
    * temporal structure worth a seasonal model.
    *
    * Reuses [[acf]]'s one-exchange lag machinery (all lags in one
    * window node), joins the key-sized series-length frame, and sums
    * r6-rounded ρ²/(n−h) terms through DECIMAL(38,6) — lag-order-free.
    * Keys with n ≤ maxLag (or an undefined ρ at some lag — constant
    * series) emit NULL q.
    *
    * Output: (by..., n_obs, n_lags, q).
    */
  def ljungBox(
      df: DataFrame,
      by: Seq[String],
      orderCol: String,
      tieCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    val x = col(valueCol).cast("double")
    val nSeries = df
      .filter(ok(x) && col(orderCol).isNotNull)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_obs"))
    val rho = acf(df, by, orderCol, tieCol, valueCol, maxLag)
    val terms = rho.join(nSeries, by)
      .select((by.map(col) :+ col("n_obs") :+
        (col("acf") * col("acf") /
          (col("n_obs").cast("double") - col("lag").cast("double"))).as("__t")): _*)
    val m = terms
      .groupBy((by.map(col) :+ col("n_obs")): _*)
      .agg(
        count(lit(1)).as("n_lags"),
        count(when(col("__t").isNull, lit(1))).as("__bad"),
        dsum(r6(col("__t"))).as("__s"))
    val nD = col("n_obs").cast("double")
    m.select((by.map(col) :+ col("n_obs") :+ col("n_lags") :+
      when(col("__bad") === 0L && col("n_obs") > maxLag.toLong,
        nD * (nD + 2.0) * col("__s")).as("q")): _*)
  }

  /** Per-group Hill tail-index estimator over the top `k` order
    * statistics: α̂ = 1 / mean(ln(x₍ᵢ₎/x₍ₖ₊₁₎)), i = 1..k — how heavy is
    * this distribution's upper tail (α ≲ 2: infinite variance — means
    * and z-scores stop being meaningful; α large: thin tail). The
    * quantitative companion to [[gini]]/#195's Zipf slope for doc
    * lengths, degree distributions and revenue-per-key: Zipf fits the
    * BODY, Hill measures exactly the TAIL a clamp/winsorize policy has
    * to survive.
    *
    * One rank window per group keeps only k+1 rows (filter directly on
    * the rank — the frame never exceeds (k+1)·|groups|); ln ratios are
    * r6'd then DECIMAL-meaned. Groups with fewer than k+1 positive
    * values, or with x₍ₖ₊₁₎ = x₍₁₎ (a constant tail — zero log ratios),
    * emit NULL α. Ranking ties break by `idCol` so the order
    * statistics are deterministic under duplicates.
    *
    * Output: (by..., n, x_tail, alpha); x_tail = x₍ₖ₊₁₎, the tail
    * threshold the estimate conditions on.
    */
  def hillTailIndex(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      idCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val byCols = by.map(col)
    val x = col(valueCol).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(byCols: _*).orderBy(col("__x").desc, col(idCol))
    val top = df
      .filter(ok(x) && x > 0.0)
      .select((byCols :+ col(idCol) :+ x.as("__x")): _*)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k + 1)
    val sizes = df.filter(ok(x) && x > 0.0).groupBy(byCols: _*).agg(count(lit(1)).as("n"))
    val perGroup = top
      .groupBy(byCols: _*)
      .agg(
        count(lit(1)).as("__nk"),
        min(when(col("__rk") === k + 1, col("__x"))).as("x_tail"),
        collect_list(struct(col("__rk"), col("__x"))).as("__xs"))
    // ln(x_i / x_tail) for i <= k, r6'd, DECIMAL-meaned. The k+1 rows are
    // already in hand per group; the fold is row-local over that array.
    val terms = perGroup
      .select((byCols :+ col("__nk") :+ col("x_tail") :+
        explode(col("__xs")).as("__e")): _*)
      .filter(col("__e.__rk") <= k && col("x_tail").isNotNull)
      .select((byCols :+ col("__nk") :+ col("x_tail") :+
        r6(log(col("__e.__x") / col("x_tail"))).as("__t")): _*)
    val m = terms
      .groupBy((byCols :+ col("__nk") :+ col("x_tail")): _*)
      .agg((dsum(col("__t")) /
        count(lit(1)).cast("double")).as("__mean"))
    sizes.join(
        m.select((byCols :+ col("x_tail") :+
          when(col("__nk") === k + 1 && col("__mean") > 0.0,
            lit(1.0) / col("__mean")).as("alpha")): _*),
        by, "left")
      .select((byCols :+ col("n") :+ col("x_tail") :+ col("alpha")): _*)
  }

  /** Per-group standardized effect size: Cohen's d = (mean_B −
    * mean_A)/s_pooled and the small-sample-corrected Hedges' g — the
    * "is it BIG" companion to [[welchTest]]'s "is it real": at corpus
    * scale everything is significant, and d < 0.2 says the significant
    * thing is negligible. Same conditional-moment scan (r6→DECIMAL);
    * s_pooled = √(((n_A−1)s²_A + (n_B−1)s²_B)/(n_A+n_B−2));
    * g = d·(1 − 3/(4(n_A+n_B)−9)). NULL when either arm has n < 2 or
    * the pooled variance is 0.
    *
    * Output: (by..., n_a, n_b, diff, s_pooled, d, g).
    */
  def effectSize(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      armB: Column): DataFrame = {
    val v = col(valueCol).cast("double")
    val p = ok(v)
    val isB = coalesce(armB, lit(false))
    val m = df
      .groupBy(by.map(col): _*)
      .agg(
        count(when(p && !isB, lit(1))).as("n_a"),
        count(when(p && isB, lit(1))).as("n_b"),
        dsumIf(p && !isB, r6(v)).as("__sa"), dsumIf(p && isB, r6(v)).as("__sb"),
        dsumIf(p && !isB, r6(v * v)).as("__sa2"), dsumIf(p && isB, r6(v * v)).as("__sb2"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val meanA = col("__sa") / naD
    val meanB = col("__sb") / nbD
    val pooled = sqrt(((naD - 1.0) * svar(col("__sa2"), meanA, naD) +
      (nbD - 1.0) * svar(col("__sb2"), meanB, nbD)) / (naD + nbD - 2.0))
    val okArms = col("n_a") >= 2 && col("n_b") >= 2
    val d = when(okArms && pooled > 0.0, (meanB - meanA) / pooled)
    m.select((by.map(col) :+ col("n_a") :+ col("n_b") :+
      when(col("n_a") > 0 && col("n_b") > 0, meanB - meanA).as("diff") :+
      when(okArms, pooled).as("s_pooled") :+
      d.as("d") :+
      (d * (lit(1.0) - lit(3.0) / (lit(4.0) * (naD + nbD) - 9.0))).as("g")): _*)
  }

  /** Per-group odds ratio with Haldane–Anscombe correction:
    * OR = ((k_B+½)(n_A−k_A+½)) / ((k_A+½)(n_B−k_B+½)) with its
    * log-scale CI — the conversion-rate EFFECT measure next to
    * [[Hypothesis.twoProportionZ]]'s significance (an OR of 1.02 can
    * be wildly significant and still not worth shipping). The ½
    * correction keeps zero cells finite and is the standard finite-
    * sample de-bias. Exact integer cells; a handful of IEEE ops.
    *
    * Output: (by..., n_a, n_b, k_a, k_b, odds_ratio, log_or, se_log_or).
    */
  def oddsRatio(
      df: DataFrame,
      by: Seq[String],
      hit: Column,
      armB: Column): DataFrame = {
    val isB = coalesce(armB, lit(false))
    val h = coalesce(hit, lit(false))
    val m = df
      .groupBy(by.map(col): _*)
      .agg(
        count(when(!isB, lit(1))).as("n_a"),
        count(when(isB, lit(1))).as("n_b"),
        count(when(!isB && h, lit(1))).as("k_a"),
        count(when(isB && h, lit(1))).as("k_b"))
    def c(e: Column): Column = e.cast("double") + 0.5
    val a = c(col("k_b"))
    val b = c(col("n_b") - col("k_b"))
    val cc = c(col("k_a"))
    val dd = c(col("n_a") - col("k_a"))
    val orr = a * dd / (cc * b)
    val seLog = sqrt(lit(1.0) / a + lit(1.0) / b + lit(1.0) / cc + lit(1.0) / dd)
    val have = col("n_a") > 0 && col("n_b") > 0
    m.select((by.map(col) :+ col("n_a") :+ col("n_b") :+ col("k_a") :+ col("k_b") :+
      when(have, orr).as("odds_ratio") :+
      when(have, log(orr)).as("log_or") :+
      when(have, seLog).as("se_log_or")): _*)
  }

  /** Many-vs-control comparison: every arm Welch-tested against ONE
    * designated control in a single pass — the multi-variant experiment
    * readout (feed the p column to [[Hypothesis.benjaminiHochberg]] for
    * the FDR-controlled discovery list; 10 arms at α=0.05 without it is
    * a false-positive machine). Same moment discipline as [[welchTest]]
    * (r6→DECIMAL conditional sums), with the one-row control frame
    * cross-joined broadcast; arms with n < 2 on either side emit NULL
    * se/z/p. The control arm itself is not emitted.
    *
    * Output: (arm, n, n_control, mean, mean_control, diff, se, z, p).
    */
  def manyVsControl(
      df: DataFrame,
      armCol: String,
      valueCol: String,
      controlArm: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val p = ok(v)
    val m = df
      .filter(col(armCol).isNotNull)
      .groupBy(col(armCol).as("arm"))
      .agg(count(when(p, lit(1))).as("n"), dsumIf(p, r6(v)).as("__s"),
        dsumIf(p, r6(v * v)).as("__s2"))
    val ctrl = m.filter(col("arm") === controlArm)
      .select(col("n").as("n_control"), col("__s").as("__cs"), col("__s2").as("__cs2"))
    val nD = col("n").cast("double")
    val ncD = col("n_control").cast("double")
    val mean = col("__s") / nD
    val meanC = col("__cs") / ncD
    val se = when(col("n") >= 2 && col("n_control") >= 2,
      sqrt(svar(col("__s2"), mean, nD) / nD + svar(col("__cs2"), meanC, ncD) / ncD))
    val z = when(se > 0.0, (mean - meanC) / se)
    m.filter(col("arm") =!= controlArm)
      .crossJoin(broadcast(ctrl)) // one-row control frame: lint-exempt
      .select(col("arm"), col("n"), col("n_control"),
        when(col("n") > 0, mean).as("mean"),
        when(col("n_control") > 0, meanC).as("mean_control"),
        when(col("n") > 0 && col("n_control") > 0, mean - meanC).as("diff"),
        se.as("se"), z.as("z"),
        Hypothesis.pFromZ(z).as("p"))
  }

  /** Per-group temperature softmax: score → sampling weight
    * w_i = exp((s_i − max_s)/T) / Σ_j exp((s_j − max_s)/T) — how a
    * quality/reward score becomes a sampling DISTRIBUTION (T → 0:
    * argmax picking; T large: uniform; the knob every score-weighted
    * data sampler exposes). Max-shifted so exp never overflows
    * regardless of score scale.
    *
    * One group max + one exp-sum aggregation (r6'd terms,
    * DECIMAL-summed, order-free) joined back — two passes over the
    * GROUP frame, the max broadcast-sized. Rows with NULL score are
    * excluded. Degenerate one-row groups get w = 1.
    *
    * Output: input group/id columns + (score, w).
    */
  def softmaxWeights(
      df: DataFrame,
      by: Seq[String],
      idCol: String,
      scoreCol: String,
      temperature: Double = 1.0): DataFrame = {
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val s = col(scoreCol).cast("double")
    val byCols = by.map(col)
    val base = df.filter(ok(s))
      .select((byCols :+ col(idCol) :+ s.as("score")): _*)
    val mx = base.groupBy(byCols: _*).agg(max(col("score")).as("__mx"))
    val term = exp((col("score") - col("__mx")) / temperature)
    val withT = base.join(mx, by).withColumn("__t", term)
    val tot = withT.groupBy(byCols: _*)
      .agg(dsum(r6(col("__t"))).as("__tot"))
    withT.join(tot, by)
      .select((byCols :+ col(idCol) :+ col("score") :+
        (col("__t") / col("__tot")).as("w")): _*)
  }

  /** Delta-method confidence interval for a RATIO-OF-SUMS metric over
    * clustered units: CTR, revenue-per-session, tokens-per-doc — where
    * the naive row-level binomial SE is wrong because rows cluster
    * within units (users). Input is one row per UNIT with its x and y
    * sums; the metric is R = Σx/Σy and
    * Var(R) ≈ (s²_x − 2R·s_xy + R²·s²_y) / (n·ȳ²) — the standard
    * linearization every experimentation platform ships for ratio
    * metrics. One scan to the five moments (r6→DECIMAL, including the
    * cross moment), one IEEE sequence per group; NULL when n < 2 or
    * Σy = 0.
    *
    * Output: (by..., n, sum_x, sum_y, ratio, se, ci_lo, ci_hi).
    */
  def ratioMetricCi(
      units: DataFrame,
      by: Seq[String],
      xCol: String,
      yCol: String,
      z: Double = 1.959963984540054): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val p = ok(x) && ok(y)
    val m = units
      .groupBy(by.map(col): _*)
      .agg(
        count(when(p, lit(1))).as("n"),
        dsumIf(p, r6(x)).as("sum_x"), dsumIf(p, r6(y)).as("sum_y"),
        dsumIf(p, r6(x * x)).as("__sxx"), dsumIf(p, r6(y * y)).as("__syy"),
        dsumIf(p, r6(x * y)).as("__sxy"))
    val nD = col("n").cast("double")
    val mx = col("sum_x") / nD
    val my = col("sum_y") / nD
    val ratio = col("sum_x") / col("sum_y")
    def sv(s2: Column, ma: Column, mb: Column): Column =
      (s2 / nD - ma * mb) * nD / (nD - 1.0)
    val varR = (sv(col("__sxx"), mx, mx) - lit(2.0) * ratio * sv(col("__sxy"), mx, my) +
      ratio * ratio * sv(col("__syy"), my, my)) / (nD * my * my)
    val okRow = col("n") >= 2 && col("sum_y") =!= 0.0
    val se = when(okRow, sqrt(greatest(varR, lit(0.0))))
    m.select((by.map(col) :+ col("n") :+ col("sum_x") :+ col("sum_y") :+
      when(col("sum_y") =!= 0.0, ratio).as("ratio") :+
      se.as("se") :+
      when(okRow, ratio - lit(z) * se).as("ci_lo") :+
      when(okRow, ratio + lit(z) * se).as("ci_hi")): _*)
  }

  /** Per-group mixture sequential probability ratio test (mSPRT) with a
    * normal mixing prior τ² — the ALWAYS-VALID A/B readout: its p-value
    * stays honest under continuous monitoring, where the fixed-horizon
    * [[welchTest]] p is only valid at a pre-registered n (peeking at a
    * classic test inflates false positives severalfold; this is the
    * industry-standard fix). Λ = √(V/(V+τ²)) · exp(θ̂²τ²/(2V(V+τ²)))
    * with θ̂ the mean difference and V its variance estimate;
    * p_always = min(1, 1/Λ), monotone non-increasing as evidence
    * accumulates.
    *
    * Same conditional-moment scan as [[welchTest]]; the Λ/p arithmetic
    * is one fixed IEEE sequence per group. NULL when either arm has
    * n < 2 or V = 0.
    *
    * Output: (by..., n_a, n_b, theta, v, lambda, p_always).
    */
  def msprt(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      armB: Column,
      tau2: Double = 1.0): DataFrame = {
    require(tau2 > 0, s"tau2 must be positive, got $tau2")
    val v = col(valueCol).cast("double")
    val p = ok(v)
    val isB = coalesce(armB, lit(false))
    val m = df
      .groupBy(by.map(col): _*)
      .agg(
        count(when(p && !isB, lit(1))).as("n_a"),
        count(when(p && isB, lit(1))).as("n_b"),
        dsumIf(p && !isB, r6(v)).as("__sa"), dsumIf(p && isB, r6(v)).as("__sb"),
        dsumIf(p && !isB, r6(v * v)).as("__sa2"), dsumIf(p && isB, r6(v * v)).as("__sb2"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val meanA = col("__sa") / naD
    val meanB = col("__sb") / nbD
    val theta = meanB - meanA
    val vv = svar(col("__sa2"), meanA, naD) / naD + svar(col("__sb2"), meanB, nbD) / nbD
    val okArms = col("n_a") >= 2 && col("n_b") >= 2
    val lam = sqrt(vv / (vv + tau2)) *
      exp(theta * theta * tau2 / (lit(2.0) * vv * (vv + tau2)))
    m.select((by.map(col) :+ col("n_a") :+ col("n_b") :+
      when(col("n_a") > 0 && col("n_b") > 0, theta).as("theta") :+
      when(okArms, vv).as("v") :+
      when(okArms && vv > 0.0, lam).as("lambda") :+
      when(okArms && vv > 0.0, least(lit(1.0), lit(1.0) / lam)).as("p_always")): _*)
  }

  /** Per-group Poisson rate ratio: (k_B/T_B)/(k_A/T_A) with the
    * log-scale SE √(1/k_A + 1/k_B) — the events-per-exposure A/B
    * readout (incidents per machine-hour, purchases per session-day)
    * where [[Hypothesis.twoProportionZ]]'s per-trial framing doesn't
    * fit. Exposures are caller-supplied sums (time, sessions, bytes);
    * exact integer event counts, one IEEE sequence; NULL when either
    * arm has zero events or exposure.
    *
    * Output: (by..., k_a, k_b, t_a, t_b, rate_a, rate_b, rate_ratio,
    * log_rr, se_log_rr).
    */
  def rateRatio(
      df: DataFrame,
      by: Seq[String],
      isEvent: Column,
      exposureCol: String,
      armB: Column): DataFrame = {
    val isB = coalesce(armB, lit(false))
    val e = coalesce(isEvent, lit(false))
    val exp0 = col(exposureCol).cast("double")
    val m = df
      .groupBy(by.map(col): _*)
      .agg(
        count(when(!isB && e, lit(1))).as("k_a"),
        count(when(isB && e, lit(1))).as("k_b"),
        dsumIf(!isB && ok(exp0), r6(exp0)).as("t_a"),
        dsumIf(isB && ok(exp0), r6(exp0)).as("t_b"))
    val rateA = col("k_a").cast("double") / col("t_a")
    val rateB = col("k_b").cast("double") / col("t_b")
    val have = col("k_a") > 0 && col("k_b") > 0 && col("t_a") > 0.0 && col("t_b") > 0.0
    val rr = rateB / rateA
    m.select((by.map(col) :+ col("k_a") :+ col("k_b") :+ col("t_a") :+ col("t_b") :+
      when(col("t_a") > 0.0, rateA).as("rate_a") :+
      when(col("t_b") > 0.0, rateB).as("rate_b") :+
      when(have, rr).as("rate_ratio") :+
      when(have, log(rr)).as("log_rr") :+
      when(have, sqrt(lit(1.0) / col("k_a") + lit(1.0) / col("k_b"))).as("se_log_rr")): _*)
  }

  /** Per-group sample-ratio-mismatch check — the A/B health gate that
    * runs BEFORE any effect is read: χ²₁ of the observed arm split
    * against the design ratio. An SRM (lost exposures, bot filtering
    * hitting one arm, crooked hash) invalidates every downstream
    * readout, and the classic failure is nobody looking. χ² =
    * (n_B−e_B)²/e_B + (n_A−e_A)²/e_A with e_B = n·expectedB; > 3.84 ≈
    * "the split is broken at 5%". Exact integer counts, three IEEE ops;
    * one aggregation. Groups with n = 0 after filtering emit no row.
    *
    * Output: (by..., n_a, n_b, frac_b, chi2).
    */
  def sampleRatioMismatch(
      df: DataFrame,
      by: Seq[String],
      armB: Column,
      expectedB: Double = 0.5): DataFrame = {
    require(expectedB > 0 && expectedB < 1, s"expectedB must be in (0,1), got $expectedB")
    val isB = coalesce(armB, lit(false))
    val m = df
      .groupBy(by.map(col): _*)
      .agg(
        count(when(!isB, lit(1))).as("n_a"),
        count(when(isB, lit(1))).as("n_b"))
    val nD = (col("n_a") + col("n_b")).cast("double")
    val eB = nD * expectedB
    val eA = nD * (1.0 - expectedB)
    val nbD = col("n_b").cast("double")
    val naD = col("n_a").cast("double")
    m.select((by.map(col) :+ col("n_a") :+ col("n_b") :+
      when(nD > 0.0, nbD / nD).as("frac_b") :+
      when(nD > 0.0,
        (nbD - eB) * (nbD - eB) / eB + (naD - eA) * (naD - eA) / eA).as("chi2")): _*)
  }

  /** Per-group quantile shift function (quantile treatment effect):
    * Q_B(p) − Q_A(p) at each probe — the DISTRIBUTIONAL A/B readout a
    * mean difference hides: "the median moved +2 but P95 moved +40"
    * is a tail regression [[welchTest]] reports as a small positive
    * delta. Uses the library-wide [[Quantiles]] path switch (exact R-7
    * locally, `percentile_approx` under the 100 TB conf), conditional
    * aggregation so BOTH arms' quantile arrays come from ONE pass.
    * Groups with an empty arm emit NULL for that side and the shift.
    *
    * Output: (by..., p, q_a, q_b, shift).
    */
  def quantileShift(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      armB: Column,
      ps: Seq[Double],
      exact: Boolean = true): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"bad probe list $ps")
    val v = col(valueCol).cast("double")
    val isB = coalesce(armB, lit(false))
    val ex = Quantiles.resolveExact(df.sparkSession, exact)
    val probes = array(ps.map(lit): _*)
    df.filter(ok(v))
      .groupBy(by.map(col): _*)
      .agg(
        Quantiles.q(when(!isB, v), probes, ex).as("__qa"),
        Quantiles.q(when(isB, v), probes, ex).as("__qb"))
      .select((by.map(col) :+ col("__qa") :+ col("__qb") :+ posexplode(probes)): _*)
      .withColumnRenamed("col", "p")
      .withColumn("q_a", element_at(col("__qa"), col("pos") + 1))
      .withColumn("q_b", element_at(col("__qb"), col("pos") + 1))
      .select((by.map(col) :+ col("p") :+ col("q_a") :+ col("q_b") :+
        (col("q_b") - col("q_a")).as("shift")): _*)
  }

  /** Covariate balance audit (the "Table 1" balance check): per
    * covariate, the standardized mean difference between arms —
    * SMD = (mean_B − mean_A)/√((s²_A + s²_B)/2) — and the variance
    * ratio s²_B/s²_A. THE pre-analysis gate for any observational
    * effect estimate ([[stratifiedAte]], [[Stats.quantileShift]]):
    * |SMD| ≳ 0.1 means the arms differ on that covariate and the naive
    * contrast is confounded. Scale-free, so covariates in different
    * units compare on one report.
    *
    * One scan, all covariates in a single aggregation (k covariates
    * cost one pass, not k — the [[Validate.violations]] discipline);
    * conditional moments r6'd→DECIMAL-summed. Per-covariate NULL/NaN
    * rows are excluded from that covariate only. Arms with n < 2 emit
    * NULL smd/variance_ratio (no variance); zero pooled variance with
    * equal means emits smd 0, with unequal means NULL (the difference
    * is real but the scale is undefined).
    *
    * Output: one row per covariate — (covariate, n_a, n_b, mean_a,
    * mean_b, smd, variance_ratio).
    */
  def covariateBalance(
      df: DataFrame,
      covariates: Seq[String],
      armB: Column): DataFrame = {
    require(covariates.nonEmpty, "covariateBalance needs at least one covariate")
    require(covariates.distinct.size == covariates.size, "duplicate covariate names")
    val isB = coalesce(armB, lit(false))
    val aggs = covariates.flatMap { cv =>
      val v = col(cv).cast("double")
      val p = ok(v)
      Seq(
        count(when(p && !isB, lit(1))).as(s"__na_$cv"),
        count(when(p && isB, lit(1))).as(s"__nb_$cv"),
        dsumIf(p && !isB, r6(v)).as(s"__sa_$cv"),
        dsumIf(p && isB, r6(v)).as(s"__sb_$cv"),
        dsumIf(p && !isB, r6(v * v)).as(s"__sa2_$cv"),
        dsumIf(p && isB, r6(v * v)).as(s"__sb2_$cv"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perCov = array(covariates.map { cv =>
      val na = col(s"__na_$cv"); val nb = col(s"__nb_$cv")
      val naD = na.cast("double"); val nbD = nb.cast("double")
      val meanA = when(na >= 1, col(s"__sa_$cv") / naD)
      val meanB = when(nb >= 1, col(s"__sb_$cv") / nbD)
      val va = when(na >= 2, svar(col(s"__sa2_$cv"), meanA, naD))
      val vb = when(nb >= 2, svar(col(s"__sb2_$cv"), meanB, nbD))
      val pooled = (va + vb) / 2.0
      val smd = when(pooled > 0.0, (meanB - meanA) / sqrt(pooled))
        .otherwise(when(pooled === 0.0 && meanB === meanA, lit(0.0)))
      struct(
        lit(cv).as("covariate"),
        na.as("n_a"), nb.as("n_b"),
        r6(meanA).as("mean_a"),
        r6(meanB).as("mean_b"),
        r6(smd).as("smd"),
        r6(when(va > 0.0, vb / va)).as("variance_ratio"))
    }: _*)
    row.select(explode(perCov).as("p")).select("p.*")
  }

  /** Stratified average treatment effect (direct adjustment): the
    * A/B readout when assignment is imbalanced ACROSS strata —
    * ATE = Σ_s w_s·(mean_B,s − mean_A,s), w_s = n_s/N, which a pooled
    * [[welchTest]] confounds with the strata mix (Simpson's trap). SE
    * is the usual √(Σ w_s²·(s²_A/n_A + s²_B/n_B)). One scan to
    * per-stratum conditional moments (r6→DECIMAL); strata missing an
    * arm contribute weight but no effect and are counted in
    * `n_strata_incomplete` so the imbalance is visible, not silent.
    *
    * Output: one row — (n, n_strata, n_strata_incomplete, ate, se, z).
    */
  def stratifiedAte(
      df: DataFrame,
      strata: Seq[String],
      valueCol: String,
      armB: Column): DataFrame = {
    require(strata.nonEmpty, "stratifiedAte needs at least one stratum column")
    val v = col(valueCol).cast("double")
    val p = ok(v)
    val isB = coalesce(armB, lit(false))
    val m = df
      .groupBy(strata.map(col): _*)
      .agg(
        count(when(p && !isB, lit(1))).as("na"),
        count(when(p && isB, lit(1))).as("nb"),
        dsumIf(p && !isB, r6(v)).as("sa"), dsumIf(p && isB, r6(v)).as("sb"),
        dsumIf(p && !isB, r6(v * v)).as("sa2"), dsumIf(p && isB, r6(v * v)).as("sb2"))
    val naD = col("na").cast("double")
    val nbD = col("nb").cast("double")
    val meanA = col("sa") / naD
    val meanB = col("sb") / nbD
    val complete = col("na") >= 1 && col("nb") >= 1
    val varOk = col("na") >= 2 && col("nb") >= 2
    // per-stratum rows carry n_s and the effect; the weighted combine is
    // one aggregation over the strata-sized frame
    val perStratum = m.select(
      (col("na") + col("nb")).as("ns"),
      when(complete, meanB - meanA).as("eff"),
      when(varOk, svar(col("sa2"), meanA, naD) / naD + svar(col("sb2"), meanB, nbD) / nbD)
        .as("vs"))
    def d2(e: Column): Column =
      dsum0(r6(e))
    val g = perStratum.agg(
      sum(col("ns")).as("n"),
      count(lit(1)).as("n_strata"),
      count(when(col("eff").isNull, lit(1))).as("n_strata_incomplete"),
      count(when(col("eff").isNotNull && col("vs").isNull, lit(1))).as("__novar"),
      // weights renormalize over COMPLETE strata — dividing by the full N
      // would shrink the ATE toward 0 whenever a stratum misses an arm
      coalesce(sum(when(col("eff").isNotNull, col("ns"))), lit(0L)).as("__nc"),
      d2(col("ns").cast("double") * col("eff")).as("__we"),
      d2(col("ns").cast("double") * col("ns") * col("vs")).as("__wv"))
    val ncD = col("__nc").cast("double")
    val ate = col("__we") / ncD
    val se = when(col("__novar") === 0L && col("__nc") > 0L, sqrt(col("__wv")) / ncD)
    g.select(col("n"), col("n_strata"), col("n_strata_incomplete"),
      when(col("__nc") > 0L, ate).as("ate"),
      se.as("se"),
      when(se > 0.0, ate / se).as("z"))
  }

  /** Per-group two-sample power analysis: the sample size EACH ARM of a
    * future A/B test needs to detect a `relEffect` relative shift of
    * this metric at significance `zAlpha` and power `zBeta` —
    * n = 2σ²(z_α + z_β)²/δ², δ = relEffect·mean. The design-time
    * companion to [[welchTest]] (which reads a finished experiment):
    * run it per metric slice BEFORE launching, and slices where
    * n_required dwarfs the traffic tell you the metric can't power a
    * test there.
    *
    * One scan to (n, Σx, Σx²) moments (r6'd then DECIMAL-summed);
    * everything after is one fixed IEEE sequence per group. The z
    * constants fold into one driver-side coefficient. Groups with
    * n < 2 or a zero mean (δ = 0) emit NULL n_required.
    *
    * Output: (by..., n, mean, sd, delta, n_required).
    */
  def powerAnalysis(
      df: DataFrame,
      by: Seq[String],
      valueCol: String,
      relEffect: Double = 0.05,
      zAlpha: Double = 1.959963984540054,   // two-sided 5%
      zBeta: Double = 0.8416212335729143    // 80% power
  ): DataFrame = {
    require(relEffect > 0, s"relEffect must be positive, got $relEffect")
    val v = col(valueCol).cast("double")
    val coef = 2.0 * (zAlpha + zBeta) * (zAlpha + zBeta)
    val m = df
      .filter(ok(v))
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n"), dsum0(r6(v)).as("__sx"), dsum0(r6(v * v)).as("__sxx"))
    val nD = col("n").cast("double")
    val mean = col("__sx") / nD
    val variance = greatest(col("__sxx") / nD - mean * mean, lit(0.0)) * nD / (nD - 1.0)
    val delta = lit(relEffect) * mean
    m.select((by.map(col) :+ col("n") :+ mean.as("mean") :+
      when(col("n") >= 2, sqrt(variance)).as("sd") :+
      delta.as("delta") :+
      when(col("n") >= 2 && delta =!= 0.0,
        ceil(lit(coef) * variance / (delta * delta)).cast("long")).as("n_required")): _*)
  }

  /** Per-group Theil's U (uncertainty coefficient): U(Y|X) =
    * (H(Y) − H(Y|X)) / H(Y) ∈ [0,1] — "knowing X removes what fraction
    * of Y's uncertainty". The ASYMMETRIC categorical-dependence measure
    * Cramér's V can't be: U(lang|source) ≠ U(source|lang), which is
    * exactly the "does source determine language, or vice versa"
    * question a mixture designer asks.
    *
    * Everything reduces to count-moment entropies (the [[Diversity]]
    * trick): N·H(Y) = N ln N − Σ_y n_y ln n_y and
    * N·H(Y|X) = Σ_x n_x ln n_x − Σ_xy n_xy ln n_xy, so one fact pass to
    * the (group × x × y) joint-count frame feeds every term; the x- and
    * y-marginals re-aggregate from THAT frame (no second fact pass).
    * k·ln k terms are r6'd then DECIMAL-summed. Groups with a single Y
    * level (H(Y) = 0) emit NULL u. NULL x or y rows are excluded.
    *
    * Output: (by..., n, nx, ny, h_y, h_y_given_x, u).
    */
  def theilsU(
      df: DataFrame,
      by: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val byCols = by.map(col)
    def klnk(c: Column): Column =
      dsum(r6(c.cast("double") * log(c.cast("double"))))
    val joint = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy((byCols :+ col(xCol).as("__x") :+ col(yCol).as("__y")): _*)
      .agg(count(lit(1)).as("__k"))
    val jointM = joint.groupBy(byCols: _*)
      .agg(sum(col("__k")).as("n"), klnk(col("__k")).as("__sxy"))
    val xM = joint.groupBy((byCols :+ col("__x")): _*).agg(sum(col("__k")).as("__kx"))
      .groupBy(byCols: _*)
      .agg(count(lit(1)).as("nx"), klnk(col("__kx")).as("__sx"))
    val yM = joint.groupBy((byCols :+ col("__y")): _*).agg(sum(col("__k")).as("__ky"))
      .groupBy(byCols: _*)
      .agg(count(lit(1)).as("ny"), klnk(col("__ky")).as("__sy"))
    val nD = col("n").cast("double")
    val hY = log(nD) - col("__sy") / nD
    val hYgX = (col("__sx") - col("__sxy")) / nD
    jointM.join(xM, by).join(yM, by)
      .select((byCols :+ col("n") :+ col("nx") :+ col("ny") :+
        hY.as("h_y") :+ hYgX.as("h_y_given_x") :+
        when(hY > 0.0, (hY - hYgX) / hY).as("u")): _*)
  }

  /** Full Pearson correlation MATRIX over ≤16 numeric columns in ONE
    * global aggregate — the EDA staple that loop-calling a per-pair
    * corr would turn into k(k−1)/2 corpus scans. All k(k+3)/2 + 1
    * moment sums (n, Σx, Σx², every Σx·y) evaluate in a single pass;
    * rows are LISTWISE complete (any NULL among the columns drops the
    * row — same n for every cell, the textbook matrix). Pairs then
    * unfold from the one-row moment frame as a literal-struct explode.
    * Moments are r6 + DECIMAL(38,6); zero-variance columns yield NULL
    * cells, visibly.
    *
    * Output per unordered pair (a < b by column order):
    * (feature_a, feature_b, n, corr).
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 16,
      s"correlationMatrix needs 2..16 columns, got ${cols.size} — wider " +
        "matrices belong in batched calls")
    val base = df
      .filter(cols.map(c =>
        col(c).isNotNull && !isnan(col(c).cast("double"))).reduce(_ && _))
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
    // Positional (i, j) pair indices: user column names may themselves
    // contain "__", so embedding raw names in the moment aliases could
    // collide (cols x, y__z, x__y, z ⇒ two `__p_x__y__z`).
    val pairs = for (i <- cols.indices; j <- (i + 1) until cols.size)
      yield (i, j)
    val aggs =
      Seq(count(lit(1)).as("__n")) ++
        cols.indices.flatMap(i => Seq(
          dsum(r6(col(cols(i)))).as(s"__s_$i"),
          dsum(r6(col(cols(i)) * col(cols(i)))).as(s"__q_$i"))) ++
        pairs.map { case (i, j) =>
          dsum(r6(col(cols(i)) * col(cols(j)))).as(s"__p_${i}_$j") }
    val m = base.agg(aggs.head, aggs.tail: _*)
    val n = col("__n").cast("double")
    def cell(i: Int, j: Int): Column = {
      val cov = n * col(s"__p_${i}_$j") - col(s"__s_$i") * col(s"__s_$j")
      def varN(k: Int) = n * col(s"__q_$k") - col(s"__s_$k") * col(s"__s_$k")
      struct(lit(cols(i)).as("feature_a"), lit(cols(j)).as("feature_b"),
        col("__n").as("n"),
        when(col("__n") > 1 && varN(i) > 0 && varN(j) > 0,
          r6(cov / (sqrt(varN(i)) * sqrt(varN(j))))).as("corr"))
    }
    m.select(explode(array(pairs.map { case (i, j) => cell(i, j) }: _*)).as("__c"))
      .select(col("__c.feature_a"), col("__c.feature_b"), col("__c.n"), col("__c.corr"))
  }

  /** Concentration (Lorenz) table: split the corpus into value-decile
    * bins by exact R-7 quantile EDGES (bin = how many edges lie strictly
    * below the value — ties cluster, so bins can be uneven, by design)
    * and report each bin's share of the TOTAL value plus the running
    * share — the curve behind #100's single Gini number ("the top
    * decile of docs holds 48% of all characters"). Edges ride a one-row
    * broadcast; the cumulative runs as a bin×bin join on the
    * nBins-sized frame, never a partition-less window.
    *
    * Output per non-empty bin: (bin, n, value_share, cum_share).
    */
  def concentrationCurve(
      df: DataFrame,
      valueCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 100, s"nBins must be in [2, 100], got $nBins")
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && !isnan(v)).select(v.as("__v"))
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val edges = Profile.quantileSummary(
      base.withColumn("__g", lit(1)), Seq("__g"), "__v", ps)
      .agg(sort_array(collect_list(col("q"))).as("__edges"))
    val binned = base
      .crossJoin(broadcast(edges)) // one-row edge frame: lint-exempt
      .select(size(filter(col("__edges"), e => e < col("__v"))).cast("long").as("bin"),
        col("__v"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), dsum(r6(col("__v"))).as("__s"))
      .pin(false) // totals + the cumulative join both read it
    val tot = binned.agg(dsum(r6(col("__s"))).as("__tot"))
    val cum = binned.as("a")
      .join(binned.as("b"), col("b.bin") <= col("a.bin"))
      .groupBy(col("a.bin").as("bin"))
      .agg(dsum(r6(col("b.__s"))).as("__cs"))
    binned.join(cum, Seq("bin"))
      .crossJoin(broadcast(tot)) // one-row totals: lint-exempt
      .select(col("bin"), col("n"),
        when(col("__tot") > 0, r6(col("__s") / col("__tot"))).as("value_share"),
        when(col("__tot") > 0, r6(col("__cs") / col("__tot"))).as("cum_share"))
  }

  /** Mutual-information feature screen: MI(feature; label) in nats per
    * CATEGORICAL feature, plus the entropies and the normalized
    * MI / min(H(x), H(y)) — the model-free "does this column know
    * anything about the label" ranking that catches the non-monotone
    * relationships [[Woe]]'s information value (binned, direction-aware)
    * and a correlation screen both miss.
    *
    * Scale shape: melt the features (×|cols|, the [[Drift.driftReport]]
    * contract) → ONE groupBy to the (feature, x, y) cell frame
    * (bounded by Σ feature cardinalities × label cardinality) → margins
    * as two more grouped frames off the CELL frame (never the corpus)
    * → joins all feature-sized. Per-cell plogp terms r6-pinned before
    * DECIMAL sums, so reduction order is free. NULL feature values are
    * a category ("<null>"), not dropped — missingness often IS the
    * signal; NULL labels are dropped (untestable rows).
    *
    * Output per feature: (feature, n, h_x, h_y, mi, nmi).
    */
  def miScreen(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: Column): DataFrame = {
    require(featureCols.nonEmpty, "miScreen needs at least one feature")
    require(featureCols.size <= 64,
      s"miScreen melts the fact table x|cols|; ${featureCols.size} " +
        "columns exceed the 64-column audit contract — run in batches")
    val cells = df
      .select(labelCol.cast("string").as("__y"),
        explode(array(featureCols.map(c => struct(
          lit(c).as("feature"),
          coalesce(col(c).cast("string"), lit("<null>")).as("x"))): _*)).as("__m"))
      .filter(col("__y").isNotNull)
      .select(col("__m.feature").as("feature"), col("__m.x").as("x"), col("__y"))
      .groupBy(col("feature"), col("x"), col("__y"))
      .agg(count(lit(1)).as("__nxy"))
      .pin(false) // consumed by both margins and the joint term
    val xm = cells.groupBy(col("feature"), col("x"))
      .agg(sum(col("__nxy")).as("__nx"))
    val ym = cells.groupBy(col("feature"), col("__y"))
      .agg(sum(col("__nxy")).as("__ny"))
    val tot = cells.groupBy(col("feature")).agg(sum(col("__nxy")).as("n"))
    val nD = col("n").cast("double")
    val joined = cells
      .join(xm, Seq("feature", "x"))
      .join(ym, Seq("feature", "__y"))
      .join(tot, Seq("feature"))
    def plogp(num: Column): Column =
      num.cast("double") / nD * log(nD / num.cast("double"))
    joined
      .groupBy(col("feature"), col("n"))
      .agg(
        // margin terms arrive once per cell — weight by the cell's
        // share of its margin so each margin term sums exactly once;
        // r6 the OUTER product (§5: the value entering the DECIMAL sum
        // is the one that must be engine-pinned)
        dsum(r6(plogp(col("__nx")) * col("__nxy").cast("double") /
          col("__nx").cast("double"))).as("__hx"),
        dsum(r6(plogp(col("__ny")) * col("__nxy").cast("double") /
          col("__ny").cast("double"))).as("__hy"),
        dsum(r6(col("__nxy").cast("double") / nD *
          log(nD * col("__nxy").cast("double") /
            (col("__nx").cast("double") * col("__ny").cast("double")))))
          .as("__mi"))
      .select(col("feature"), col("n"),
        r6(col("__hx")).as("h_x"), r6(col("__hy")).as("h_y"),
        r6(col("__mi")).as("mi"),
        when(least(col("__hx"), col("__hy")) > 0,
          r6(col("__mi") / least(col("__hx"), col("__hy")))).as("nmi"))
  }

  /** Kendall's coefficient of concordance W — "do the m raters agree on
    * the ranking of the n items at all" ([[Agreement]]'s kappas ask
    * about LABELS; W asks about ORDERINGS — reviewer panels, per-source
    * quality league tables, A/B judge pools). Average ranks for ties;
    * tie-corrected denominator: W = 12·S / (m²(n³−n) − m·ΣT) with
    * S = Σᵢ (Rᵢ − m(n+1)/2)² and T = Σ(t³−t) per rater.
    *
    * Every rater must rank every item (incomplete blocks are a
    * different statistic) — enforced with a loud raise_error, not a
    * silent filter. Ranks come from windows PARTITIONED per rater
    * (item-count-sized partitions); everything downstream is
    * rater/item-frame-sized. Output ONE row:
    * (n_items, n_raters, s, w).
    */
  def kendallW(
      df: DataFrame,
      raterCol: String,
      itemCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df
      .filter(v.isNotNull && !isnan(v) &&
        col(raterCol).isNotNull && col(itemCol).isNotNull)
      .select(col(raterCol).as("__r"), col(itemCol).as("__it"), v.as("__v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__r")).orderBy(col("__v"))
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__r"), col("__v"))
    // average rank of a tie family = rank() + (ties-1)/2, an exact half
    val ranked = base
      .withColumn("__rk",
        rank().over(w).cast("double") +
          (count(lit(1)).over(wt).cast("double") - 1.0) / 2.0)
      .withColumn("__t", count(lit(1)).over(wt))
      .pin(false) // consumed by the item sums, the tie sums, and the check
    // completeness check: every rater ranks every item exactly once
    val shape = ranked.agg(
      countDistinct(col("__r")).as("__m"),
      countDistinct(col("__it")).as("__ni"),
      count(lit(1)).as("__rows"),
      countDistinct(col("__r"), col("__it")).as("__cells"))
      .withColumn("__ok",
        when(col("__rows") === col("__m") * col("__ni") &&
          col("__cells") === col("__rows"), lit(1L))
          .otherwise(raise_error(lit(
            "kendallW: incomplete or duplicated (rater, item) block — " +
              "every rater must rank every item exactly once"))))
    val itemSums = ranked.groupBy(col("__it"))
      .agg(dsum(col("__rk")).as("__ri"))
    // tie correction ΣT = Σ over tie families of (t³−t): each of a
    // family's t member rows contributes t²−1, so the row sum is exact
    val ties = ranked.agg(
      dsum((col("__t") * col("__t") - 1L).cast("double")).as("__tsum"))
    val joined = itemSums
      .crossJoin(broadcast(shape.filter(col("__ok") === 1L))) // one-row: lint-exempt
      .crossJoin(broadcast(ties)) // one-row: lint-exempt
    val mD = col("__m").cast("double")
    val nD = col("__ni").cast("double")
    val dev = col("__ri") - mD * (nD + 1.0) / 2.0
    joined
      .groupBy(col("__m"), col("__ni"), col("__tsum"))
      .agg(dsum(r6(dev * dev)).as("s"))
      .select(
        col("__ni").as("n_items"), col("__m").as("n_raters"), r6(col("s")).as("s"),
        when(mD * mD * (nD * nD * nD - nD) - mD * col("__tsum") > 0,
          r6(lit(12.0) * col("s") /
            (mD * mD * (nD * nD * nD - nD) - mD * col("__tsum")))).as("w"))
  }

  /** Negative-binomial method-of-moments fit per group — the
    * overdispersion MODEL behind #199's Fano flag: once var > mean,
    * r = mean²/(var − mean) and p = r/(r + mean) say HOW clumpy
    * (small r = bursty; r → ∞ recovers Poisson). Exact DECIMAL
    * moments; r/p NULL when var ≤ mean (no overdispersion to model —
    * the Poisson row is the finding). Output per group:
    * (by…, n, mean, variance, r, p).
    */
  def negativeBinomialFit(
      df: DataFrame,
      byCols: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val g = df
      .filter(v.isNotNull && !isnan(v))
      .groupBy(byCols.map(col): _*)
      .agg(count(lit(1)).as("n"), dsum(r6(v)).as("__s"), dsum(r6(v * v)).as("__s2"))
    val nD = col("n").cast("double")
    val mean = col("__s") / nD
    val vr = greatest(col("__s2") / nD - mean * mean, lit(0.0))
    val r = when(vr > mean && mean > 0, mean * mean / (vr - mean))
    g.select((byCols.map(col) ++ Seq(col("n"),
      r6(mean).as("mean"), r6(vr).as("variance"),
      r6(r).as("r"), r6(when(r.isNotNull, r / (r + mean))).as("p"))): _*)
  }

  /** Log-normal method-of-moments fit per group over POSITIVE values —
    * the two-parameter model heavy right-skewed pipeline metrics
    * (latencies, doc lengths, spend) actually follow: μ/σ of ln x with
    * the implied median exp(μ) and p95 exp(μ + 1.6449·σ), so "what
    * will the tail do if this is really log-normal" is one look.
    * Non-positive values drop and are COUNTED (n_dropped) — they are
    * evidence against the model, not noise. ln terms r6-pinned before
    * DECIMAL sums. Output per group: (by…, n, n_dropped, mu, sigma,
    * median_fit, p95_fit).
    */
  def logNormalFit(
      df: DataFrame,
      byCols: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val lx = log(v)
    val g = df
      .filter(v.isNotNull && !isnan(v))
      .groupBy(byCols.map(col): _*)
      .agg(
        count(when(v > 0, lit(1))).as("n"),
        count(when(v <= 0, lit(1))).as("n_dropped"),
        dsum(when(v > 0, r6(lx)).otherwise(lit(0.0))).as("__s"),
        dsum(when(v > 0, r6(lx * lx)).otherwise(lit(0.0))).as("__s2"))
    val nD = col("n").cast("double")
    val mu = col("__s") / nD
    val sd = sqrt(greatest(col("__s2") / nD - mu * mu, lit(0.0)))
    g.select((byCols.map(col) ++ Seq(col("n"), col("n_dropped"),
      r6(when(col("n") > 0, mu)).as("mu"),
      r6(when(col("n") > 0, sd)).as("sigma"),
      r6(when(col("n") > 0, exp(mu))).as("median_fit"),
      r6(when(col("n") > 0, exp(mu + lit(1.6449) * sd))).as("p95_fit"))): _*)
  }

  /** Gumbel (EV-I) fit over per-block MAXIMA — capacity planning's
    * question ("what value does a worst-of-T-blocks reach") answered
    * with the distribution that block maxima actually converge to, not
    * a normal tail. Method of moments on the block-max frame:
    * β = s·√6/π, μ = m − γ·β (γ = Euler–Mascheroni), plus the fitted
    * return level at `returnQ` (default the 99% quantile,
    * μ − β·ln(−ln q)). Blocks are fixed `blockUs` windows of the event
    * time — one corpus pass to the (group × block) maxima, moments on
    * that bounded frame. Constants are exact shared literals; the one
    * libm ln(−ln q) is r6-pinned at the output.
    *
    * Output per group: (by…, n_blocks, block_max_mean, mu, beta,
    * q_fit) — NULL fit when fewer than 2 blocks (no spread to fit).
    */
  def gumbelFit(
      df: DataFrame,
      byCols: Seq[String],
      timeCol: String,
      valueCol: String,
      blockUs: Long,
      returnQ: Double = 0.99): DataFrame = {
    require(blockUs > 0, s"blockUs must be positive, got $blockUs")
    require(returnQ > 0 && returnQ < 1, s"returnQ must be in (0,1), got $returnQ")
    val sqrt6OverPi = 0.7796968012336793 // √6/π as the shared double
    val gamma = 0.5772156649015329 // Euler–Mascheroni
    val v = col(valueCol).cast("double")
    val blocks = df
      .filter(v.isNotNull && !isnan(v) && col(timeCol).isNotNull)
      .groupBy((byCols.map(col) :+
        (unix_micros(col(timeCol)) - pmod(unix_micros(col(timeCol)), lit(blockUs)))
          .as("__blk")): _*)
      .agg(max(v).as("__mx"))
    val g = blocks
      .groupBy(byCols.map(col): _*)
      .agg(count(lit(1)).as("n_blocks"),
        dsum(r6(col("__mx"))).as("__s"),
        dsum(r6(col("__mx") * col("__mx"))).as("__s2"))
    val nD = col("n_blocks").cast("double")
    val m = col("__s") / nD
    val sd = sqrt(greatest(col("__s2") / nD - m * m, lit(0.0)))
    val beta = sd * lit(sqrt6OverPi)
    val mu = m - lit(gamma) * beta
    g.select((byCols.map(col) ++ Seq(col("n_blocks"),
      r6(m).as("block_max_mean"),
      when(col("n_blocks") >= 2, r6(mu)).as("mu"),
      when(col("n_blocks") >= 2, r6(beta)).as("beta"),
      when(col("n_blocks") >= 2,
        r6(mu - beta * log(-log(lit(returnQ))))).as("q_fit"))): _*)
  }

  /** Sample L-moments per group — the robust distribution-shape
    * summary built from ORDER statistics instead of powers: λ2 (scale),
    * L-CV λ2/λ1, L-skewness λ3/λ2, each bounded and orders of
    * magnitude less outlier-sensitive than variance/skewness (a single
    * 10⁹ row saturates classical skewness; it shifts t3 by ~1/n).
    * Probability-weighted moments via exact integer rank weights
    * (b1/b2 from row_number over a group-partitioned window): tie
    * order is irrelevant because equal values contribute the same term
    * multiset under any rank assignment.
    *
    * Output per group: (by…, n, l1, l2, l_cv, l_skew) — shape ratios
    * NULL when undefined (n < 3 or a zero denominator).
    */
  def lMoments(
      df: DataFrame,
      byCols: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(byCols.map(col): _*).orderBy(col("__v"))
    val ranked = df
      .filter(v.isNotNull && !isnan(v))
      .select((byCols.map(col) :+ v.as("__v")): _*)
      .withColumn("__r", row_number().over(w).cast("long"))
    val g = ranked
      .groupBy(byCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        dsum(r6(col("__v"))).as("__b0s"),
        dsum(r6((col("__r") - 1L).cast("double") * col("__v"))).as("__b1s"),
        dsum(r6(((col("__r") - 1L) * (col("__r") - 2L)).cast("double") * col("__v")))
          .as("__b2s"))
    val nD = col("n").cast("double")
    val b0 = col("__b0s") / nD
    val b1 = when(col("n") >= 2, col("__b1s") / (nD * (nD - 1.0)))
    val b2 = when(col("n") >= 3, col("__b2s") / (nD * (nD - 1.0) * (nD - 2.0)))
    val l1 = b0
    val l2 = lit(2.0) * b1 - b0
    val l3 = lit(6.0) * b2 - lit(6.0) * b1 + b0
    g.select((byCols.map(col) ++ Seq(col("n"),
      r6(l1).as("l1"),
      r6(l2).as("l2"),
      when(l1 =!= 0.0, r6(l2 / l1)).as("l_cv"),
      when(l2 =!= 0.0, r6(l3 / l2)).as("l_skew"))): _*)
  }

  /** Theil-T inequality with the exact within/between decomposition —
    * what #100's single Gini cannot say: HOW MUCH of the concentration
    * is "some groups are richer" (between — fixable by rebalancing
    * sources) vs "inequality inside each group" (within — not). For
    * positive values: T = (1/N)Σ(xᵢ/μ)ln(xᵢ/μ) =
    * Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ), s_g = the group's value share.
    * Non-positive values drop and are counted (Theil needs x > 0).
    * One pass to the group frame + a one-row broadcast of the totals;
    * the per-row entropy terms r6-pin before DECIMAL sums.
    *
    * Output ONE row: (n, n_dropped, k_groups, theil_total,
    * theil_between, theil_within).
    */
  def theilDecomposition(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df
      .filter(v.isNotNull && !isnan(v))
      .select(col(groupCol).as("__g"), v.as("__v"))
    val tot = base.agg(
      count(when(col("__v") > 0, lit(1))).as("__n"),
      count(when(col("__v") <= 0, lit(1))).as("__nd"),
      dsum(when(col("__v") > 0, r6(col("__v"))).otherwise(lit(0.0))).as("__s"))
    val pos = base.filter(col("__v") > 0)
      .crossJoin(broadcast(tot)) // one-row totals: lint-exempt
    val mu = col("__s") / col("__n").cast("double")
    val rows = pos
      .groupBy(col("__g"), col("__n"), col("__nd"), col("__s"))
      .agg(count(lit(1)).as("__ng"),
        dsum(r6(col("__v"))).as("__sg"),
        dsum(r6(col("__v") / mu * log(col("__v") / mu))).as("__tsum"))
    val muG = col("__sg") / col("__ng").cast("double")
    val shareG = col("__sg") / col("__s")
    val tg = col("__tsum") / col("__n").cast("double") // Σ over group of per-row terms / N
    val between = shareG * log(muG / mu)
    rows
      .groupBy(col("__n"), col("__nd"))
      .agg(count(lit(1)).as("k_groups"),
        dsum(r6(tg)).as("__tt"),
        dsum(r6(between)).as("__tb"))
      .select(col("__n").as("n"), col("__nd").as("n_dropped"), col("k_groups"),
        r6(col("__tt")).as("theil_total"),
        r6(col("__tb")).as("theil_between"),
        r6(col("__tt") - col("__tb")).as("theil_within"))
  }

  /** First-order partial correlation r_xy·z — "does x still track y
    * once z is held fixed", the one-line confounder check before
    * anyone reads a [[correlationMatrix]] cell causally (doc length
    * correlates with quality score? both ride the source): r_xy·z =
    * (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)). ONE aggregate carries
    * all nine moments (the correlationMatrix discipline: listwise
    * NaN-complete rows, r6 + DECIMAL sums); NULL when any marginal is
    * degenerate or a guard correlation is ±1.
    *
    * Output ONE row: (n, r_xy, r_xz, r_yz, r_xy_given_z).
    */
  def partialCorrelation(
      df: DataFrame,
      xCol: String,
      yCol: String,
      zCol: String): DataFrame = {
    val cols = Seq(xCol, yCol, zCol)
    val base = df
      .filter(cols.map(c =>
        col(c).isNotNull && !isnan(col(c).cast("double"))).reduce(_ && _))
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"), col(zCol).cast("double").as("__z"))
    val m = base.agg(
      count(lit(1)).as("n"),
      dsum(r6(col("__x"))).as("__sx"), dsum(r6(col("__y"))).as("__sy"),
      dsum(r6(col("__z"))).as("__sz"),
      dsum(r6(col("__x") * col("__x"))).as("__qx"),
      dsum(r6(col("__y") * col("__y"))).as("__qy"),
      dsum(r6(col("__z") * col("__z"))).as("__qz"),
      dsum(r6(col("__x") * col("__y"))).as("__pxy"),
      dsum(r6(col("__x") * col("__z"))).as("__pxz"),
      dsum(r6(col("__y") * col("__z"))).as("__pyz"))
    val nD = col("n").cast("double")
    def corrOf(p: Column, sa: Column, sb: Column, qa: Column, qb: Column): Column = {
      val cov = nD * p - sa * sb
      val va = nD * qa - sa * sa
      val vb = nD * qb - sb * sb
      when(col("n") > 1 && va > 0 && vb > 0, cov / (sqrt(va) * sqrt(vb)))
    }
    val rxy = corrOf(col("__pxy"), col("__sx"), col("__sy"), col("__qx"), col("__qy"))
    val rxz = corrOf(col("__pxz"), col("__sx"), col("__sz"), col("__qx"), col("__qz"))
    val ryz = corrOf(col("__pyz"), col("__sy"), col("__sz"), col("__qy"), col("__qz"))
    val den = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    m.select(col("n"),
      r6(rxy).as("r_xy"), r6(rxz).as("r_xz"), r6(ryz).as("r_yz"),
      when(den > 0, r6((rxy - rxz * ryz) / sqrt(den))).as("r_xy_given_z"))
  }
}
