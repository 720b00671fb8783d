package graft.pipeline

import graft.functions.Portable.{dsum, dsum0, r6}
import graft.text.TextFunctions.md5Hash32
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines.
  *
  * Membership depends ONLY on (seed, id) — not on partitioning, cluster
  * size, row order, or Spark's RNG — so a sample is reproducible across
  * runs and engines, composable (the same (seed, frac) always selects the
  * same documents for an incremental re-run), and auditable (any engine
  * with md5 can replay the decision). That is the property
  * `DataFrame.sample` lacks at 100 TB: its per-partition RNG reshuffles
  * membership whenever the scan parallelism changes.
  *
  * Both samplers are pure filters: no shuffle, no state, they fuse into
  * the scan.
  */
object Sampling {

  private val Scale = 1000000L

  /** Keep predicate: md5-derived hash of (seed | id) lands below
    * `frac` of the hash space (millionth-resolution).
    */
  def sampleHash(id: Column, frac: Double, seed: String): Column = {
    require(frac >= 0 && frac <= 1, s"frac $frac not in [0,1]")
    pmod(md5Hash32(concat_ws("|", lit(seed), id.cast("string"))), lit(Scale)) <
      math.round(frac * Scale)
  }

  /** Deterministic Bernoulli sample of ~`frac` of the rows. */
  def deterministicSample(df: DataFrame, idCol: String, frac: Double, seed: String): DataFrame =
    df.filter(sampleHash(col(idCol), frac, seed))

  /** Exactly-`n` deterministic sample: the n rows whose (seed, id) hash is
    * smallest (ties broken by id). Compiles to TakeOrderedAndProject —
    * each partition keeps its local n, the driver merges heaps; no global
    * sort, no RNG. The "give me exactly 10k eval docs, reproducibly" op.
    */
  def deterministicSampleN(df: DataFrame, idCol: String, n: Int, seed: String): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    df.withColumn("__h", md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))))
      .orderBy(col("__h"), col(idCol))
      .limit(n)
      .drop("__h")
  }

  /** Mixture sampling: hit target per-group PROPORTIONS under a global
    * row budget — the data-mixing step of LLM corpus assembly ("30%
    * web, 20% code, ..." over N training documents). Group g keeps a
    * deterministic ~min(1, budget·w_g / n_g) fraction, so expected
    * output composition matches `weights` up to groups that run out of
    * rows (frac caps at 1 — undersupplied groups deliver everything
    * they have rather than silently re-weighting the rest; callers
    * re-normalize if they want strict proportions).
    *
    * Pure plan, no driver loop: group counts are ONE vocab-sized agg,
    * weights ride a literal frame, and both broadcast-join onto the
    * corpus ahead of the same hash filter [[deterministicSample]] uses —
    * membership still depends only on (seed, id). Groups absent from
    * `weights` are dropped (weight 0).
    */
  def mixtureSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weights: Map[String, Double],
      totalBudget: Long,
      seed: String
  ): DataFrame = {
    require(weights.nonEmpty, "mixtureSample needs at least one weighted group")
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    require(totalBudget > 0, s"totalBudget must be positive, got $totalBudget")
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val w = weights.toSeq.toDF(groupCol, "__w")
    val frac = least(lit(1.0), lit(totalBudget.toDouble) * col("__w") / col("__n"))
    df.join(broadcast(n.join(w, groupCol)), groupCol)
      .filter(
        pmod(md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))), lit(Scale)) <
          round(frac * Scale).cast("long"))
      .drop("__n", "__w")
  }

  /** Exactly-`n` per group, deterministically: each group keeps the n
    * rows with the smallest (seed, id) hash (ties by id). A
    * group-partitioned window — one shuffle on the group key, each
    * partition sorts only its own groups; no global sort, no RNG. The
    * "cap every language / source / domain at n docs" op where the
    * stratified FRACTION sampler can't promise exact counts.
    */
  def deterministicNPerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      n: Int,
      seed: String
  ): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__h", "__rn")
  }

  /** Weighted sample of exactly n rows WITHOUT replacement, deterministic:
    * priority sampling (Duffield/Lund/Thorup) — each row draws a
    * deterministic uniform u in (0,1] from its (seed, id) hash and the n
    * rows with the largest weight/u survive. Inclusion probability is
    * proportional to weight (upweighted documents make the training mix
    * more often), yet membership still depends only on (seed, id, weight)
    * — reproducible, partitioning-independent, engine-replayable.
    *
    * weight/u is a single IEEE division of two exactly-representable
    * doubles, so every engine orders rows identically — no `ln`/`pow`
    * (the exponential-race formulation), whose libm rounding differs
    * across engines. Compiles to TakeOrderedAndProject: per-partition
    * bounded heaps, driver merge, no global sort.
    *
    * Non-positive / null weights are excluded (they can never win).
    */
  def weightedSampleN(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      n: Int,
      seed: String
  ): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val u = (pmod(md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))), lit(Scale)) +
      lit(1L)).cast("double") / lit((Scale + 1).toDouble)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__pri", col(weightCol).cast("double") / u)
      .orderBy(col("__pri").desc, col(idCol))
      .limit(n)
      .drop("__pri")
  }

  /** Stratified deterministic sample: per-stratum keep fractions (e.g.
    * language quotas — downsample English, keep all low-resource), strata
    * not listed fall back to `defaultFrac`. One CASE expression; still a
    * pure filter.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      fracs: Map[String, Double],
      defaultFrac: Double = 0.0,
      seed: String = "graft"
  ): DataFrame = {
    require((fracs.values.toSeq :+ defaultFrac).forall(f => f >= 0 && f <= 1), "fractions must be in [0,1]")
    val threshold = fracs.toSeq.sortBy(_._1).foldLeft(lit(math.round(defaultFrac * Scale))) {
      case (acc, (stratum, frac)) =>
        when(col(stratumCol) === stratum, lit(math.round(frac * Scale))).otherwise(acc)
    }
    df.filter(
      pmod(md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))), lit(Scale)) < threshold)
  }

  /** Temperature-scaled mixture weights: per-group sampling proportions
    * w_g ∝ size_g^α — the standard multilingual/multi-source rebalancing
    * (α=1 is proportional, α→0 uniform; α in [0.3, 0.7] is the usual
    * "up-sample the tail without drowning the head" band). Emits, per
    * group: `n_rows`, `size_total` (exact DECIMAL-summed), `weight`
    * (normalized), and `epochs` — how many passes over the group one
    * full-corpus-sized budget implies (weight·Σsize/size_g, the >1 ⇒
    * "this source repeats" alarm).
    *
    * One scan to a group-sized frame; the normalizer rides back on a
    * one-row broadcast (a BroadcastNestedLoopJoin over one row — the
    * allowed totals-frame shape). Portability: α=0.5 routes through
    * `sqrt` (correctly rounded IEEE everywhere); other α use `pow`,
    * whose last-ulp behavior is libm-specific — fine in production,
    * flagged here because the oracle check relies on bit-equal doubles.
    * Scaled sizes are r6-rounded in double space THEN DECIMAL-summed
    * (the §5 convention), so the normalizer is reduction-order-free.
    */
  def temperatureWeights(
      df: DataFrame,
      groupCol: String,
      sizeCol: String,
      alpha: Double = 0.5
  ): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val g = df
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        dsum0(col(sizeCol)).as("size_total"))
      .withColumn(
        "__sc",
        r6(
          if (alpha == 0.5) sqrt(col("size_total"))
          else pow(col("size_total"), lit(alpha))))
    val tot = g.agg(
      dsum(col("__sc")).as("__tot"),
      dsum(col("size_total")).as("__grand"))
    g.crossJoin(broadcast(tot))
      .select(
        col(groupCol),
        col("n_rows"),
        col("size_total"),
        (col("__sc") / nullif(col("__tot"), lit(0.0))).as("weight"),
        when(col("size_total") > 0.0,
          col("__sc") / nullif(col("__tot"), lit(0.0)) * col("__grand") / col("size_total"))
          .as("epochs"))
  }

  /** Token-budget epoch allocation under EXPLICIT target weights — the
    * Pile-style mixture plan: given per-source token counts, a target
    * mixture (config weights), a total training budget, and a repetition
    * cap, how many epochs of each source does the run take, and how much
    * of the budget can't be spent where the cap binds? The design-time
    * complement of [[mixtureSample]] (which EXECUTES a plan row-wise):
    * this op reads one summary row per source before any sampling runs.
    *
    * Weights are renormalized over the sources actually present with
    * tokens > 0 (an empty source can't absorb budget); sources missing
    * from the map get weight 0. epochs = min(maxEpochs, target/tokens);
    * `unspent` = target − allocated, > 0 exactly where the cap binds —
    * the signal to either raise the cap or re-weight. One fact pass to
    * source-sized totals; everything downstream is source-sized with the
    * one-row weight total cross-joined (broadcast).
    *
    * Output: (group, n_rows, tokens, weight, target_tokens, epochs,
    * alloc_tokens, unspent).
    */
  def epochAllocation(
      df: DataFrame,
      groupCol: String,
      sizeCol: String,
      weights: Map[String, Double],
      budget: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    require(weights.nonEmpty, "epochAllocation needs at least one weighted group")
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF(groupCol, "__w")
    val g = df
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        dsum0(col(sizeCol)).as("tokens"))
      .join(broadcast(wdf), Seq(groupCol), "left")
      .withColumn("__w", when(col("tokens") > 0.0, coalesce(col("__w"), lit(0.0)))
        .otherwise(lit(0.0)))
    val tot = g.agg(
      dsum(r6(col("__w"))).as("__wtot"))
    val weight = col("__w") / nullif(col("__wtot"), lit(0.0))
    val target = lit(budget.toDouble) * weight
    val epochs = when(col("tokens") > 0.0,
      least(lit(maxEpochs), target / col("tokens"))).otherwise(lit(0.0))
    g.crossJoin(broadcast(tot))
      .select(
        col(groupCol),
        col("n_rows"),
        col("tokens"),
        weight.as("weight"),
        target.as("target_tokens"),
        epochs.as("epochs"),
        (epochs * col("tokens")).as("alloc_tokens"),
        (coalesce(target, lit(0.0)) - epochs * col("tokens")).as("unspent"))
  }

  /** Survey raking (iterative proportional fitting) — weight a sample
    * so BOTH of two categorical marginals match a target population:
    * the standard post-stratification fix when a subsample (labeled
    * subset, survey respondents, an eval slice) is skewed on language
    * AND source at once, and plain per-cell reweighting has empty
    * cells. Fixed iteration count (the library's iterative-fit
    * determinism contract); each step scales every cell's weight by
    * target-share / current-weighted-share along one axis, then the
    * other — the classic IPF alternation, converging geometrically
    * when the table permits.
    *
    * Everything lives on the (\|A\|×\|B\|)-sized sample CELL frame
    * (weights are constant within a cell by construction): per step
    * two cell-frame aggregates + broadcast joins; the corpus and the
    * population are each scanned ONCE for marginal shares. Categories
    * with zero target mass get weight 0 — visibly unmatched, not
    * silently renormalized. All shares/factors r6-pinned with DECIMAL
    * sums.
    *
    * Output: one row per sample cell — (a, b, n, weight), Σ n·weight ≈
    * sample size with marginals matched to the target.
    */
  def rakeWeights(
      sample: DataFrame,
      population: DataFrame,
      colA: String,
      colB: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 32,
      s"rakeWeights is a fixed-step IPF contract: 1 <= iters <= 32, got $iters")
    def shares(df: DataFrame, c: String, out: String): DataFrame = {
      val g = df.groupBy(col(c).cast("string").as(out)).agg(count(lit(1)).as("__cnt"))
      val t = g.agg(sum(col("__cnt")).as("__tt"))
      g.crossJoin(broadcast(t))
        .select(col(out), r6(col("__cnt").cast("double") / col("__tt").cast("double"))
          .as(s"__t$out"))
    }
    val ta = shares(population, colA, "__a")
    val tb = shares(population, colB, "__b")
    val cells0 = sample
      .groupBy(col(colA).cast("string").as("__a"), col(colB).cast("string").as("__b"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(ta), Seq("__a"), "left")
      .join(broadcast(tb), Seq("__b"), "left")
      .withColumn("__ta", coalesce(col("__t__a"), lit(0.0)))
      .withColumn("__tb", coalesce(col("__t__b"), lit(0.0)))
      .drop("__t__a", "__t__b")
      .withColumn("weight", lit(1.0))
    def axisStep(cells: DataFrame, axis: String, target: String): DataFrame = {
      val mass = cells
        .groupBy(col(axis))
        .agg(dsum(r6(col("weight") * col("n").cast("double"))).as("__mass"))
      val tot = cells.agg(
        coalesce(dsum(r6(col("weight") * col("n").cast("double"))), lit(0.0)).as("__tm"))
      cells
        .join(broadcast(mass), Seq(axis))
        .crossJoin(broadcast(tot)) // one-row totals frame: lint-exempt
        .withColumn("__cur", r6(col("__mass") / col("__tm")))
        .withColumn("weight",
          when(col("__cur") > 0, r6(col("weight") * r6(col(target) / col("__cur"))))
            .otherwise(lit(0.0)))
        .drop("__mass", "__tm", "__cur")
    }
    // each axisStep references its input three times (mass, total,
    // join): pin the tiny cell frame once per iteration or the lazy
    // plan tree grows 3^(2·iters)
    import graft.plans.Materialize.PinOps
    val raked = (1 to iters).foldLeft(cells0.pin()) { (c, _) =>
      axisStep(axisStep(c, "__a", "__ta"), "__b", "__tb").pin()
    }
    raked.select(col("__a").as("a"), col("__b").as("b"), col("n"), col("weight"))
  }

  /** Neyman-optimal sample allocation: split a labeling/inspection
    * budget across strata ∝ N_h·σ_h — the variance-minimizing design
    * for estimating a population mean from a stratified sample, and
    * the principled answer to "we can afford to hand-label 1,000 docs;
    * how many from each source?" (proportional allocation over-samples
    * big homogeneous strata; Neyman sends budget where the VARIANCE
    * is). σ_h is the sample stdev of `valueCol`; strata with undefined
    * or zero spread (n_h < 2 or constant value) get weight 0 — nothing
    * to learn there under the model — visibly, via their zero
    * `alloc_frac`.
    *
    * Integer allocation is largest-remainder (floor everything, then
    * +1 by descending fractional part, stratum-name ties) CAPPED at
    * the stratum population; budget stranded by a cap is NOT silently
    * redistributed (a second pass would re-rank; callers re-run with
    * the residual if they want it spent) — `n_alloc` sums to ≤ budget
    * and the gap is auditable from the output. Moments use r6-pinned
    * terms + DECIMAL sums; the remainder rank runs over the
    * STRATA-sized frame (the q_bh tests-frame window contract).
    *
    * Output: (stratum, n, sigma, alloc_frac, n_alloc).
    */
  def neymanAllocation(
      df: DataFrame,
      stratumCol: String,
      valueCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val v = col(valueCol).cast("double")
    val nD = count(lit(1)).cast("double")
    val strata = df
      .filter(v.isNotNull && !isnan(v))
      .groupBy(col(stratumCol).as("stratum"))
      .agg(
        count(lit(1)).as("n"),
        when(count(lit(1)) > 1, sqrt(greatest(lit(0.0),
          (dsum(r6(v * v)) - dsum(r6(v)) * dsum(r6(v)) / nD) / (nD - lit(1.0)))))
          .otherwise(lit(0.0)).as("__sd"))
      .withColumn("sigma", r6(col("__sd")))
      .withColumn("__wt", r6(col("n").cast("double") * col("sigma")))
    val tot = strata.agg(dsum(col("__wt")).as("__W"))
    val alloc = strata
      .crossJoin(broadcast(tot)) // one-row totals frame: lint-exempt
      .withColumn("alloc_frac",
        when(col("__W") > 0, r6(col("__wt") / col("__W"))).otherwise(lit(0.0)))
      .withColumn("__raw", lit(budget.toDouble) * col("alloc_frac"))
      .withColumn("__base", floor(col("__raw")).cast("long"))
      .withColumn("__fracpart", r6(col("__raw") - col("__base").cast("double")))
    val byRemainder = org.apache.spark.sql.expressions.Window
      .orderBy(col("__fracpart").desc, col("stratum").asc)
    val spent = alloc.agg(sum(col("__base")).as("__spent"))
    alloc
      .crossJoin(broadcast(spent)) // one-row totals frame: lint-exempt
      .withColumn("__bonus",
        // alloc_frac > 0 gates the largest-remainder bonus: when EVERY
        // stratum is zero-spread (W = 0) the budget is deliberately not
        // spent — "zero-spread strata get weight 0, visibly" would
        // otherwise be contradicted by the tie-break handing n_alloc=1
        // to the first `budget` strata
        when(row_number().over(byRemainder) <= lit(budget) - col("__spent") &&
            col("alloc_frac") > 0, 1L)
          .otherwise(0L))
      .withColumn("n_alloc", least(col("n"), col("__base") + col("__bonus")))
      .select(col("stratum"), col("n"), col("sigma"), col("alloc_frac"), col("n_alloc"))
  }

  /** Balanced class downsampling: cap every class at the SMALLEST
    * class's size, keeping each class's rows with the lowest
    * md5(seed|id) — the deterministic version of the under-sampling
    * every imbalanced-label training run starts with (same
    * seeded-hash-rank discipline as [[deterministicSample]]: re-runs
    * and engines agree row-for-row, and changing the seed redraws).
    * One class-keyed rank window + a one-row min broadcast; classes
    * with NULL labels are dropped (they have no class to balance into).
    */
  def balanceClasses(
      df: DataFrame,
      classCol: String,
      idCol: String,
      seed: String): DataFrame = {
    val kept = df.filter(col(classCol).isNotNull)
    val nMin = kept.groupBy(col(classCol)).agg(count(lit(1)).as("__n"))
      .agg(min(col("__n")).as("__nmin"))
    val h = md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol)).orderBy(h, col(idCol))
    kept
      .withColumn("__rn", row_number().over(w))
      .crossJoin(broadcast(nMin)) // one-row frame: lint-exempt
      .filter(col("__rn") <= col("__nmin"))
      .drop("__rn", "__nmin")
  }
}
