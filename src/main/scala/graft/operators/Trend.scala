package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust trend detection over per-key series: Theil–Sen slope (the
  * median-of-pairwise-slopes regression a single outlier cannot move)
  * and the Mann–Kendall trend test (is there ANY monotone drift —
  * direction without a linearity assumption). The pair for metric
  * drift monitoring: [[Stats.linReg]] answers "how fast", these answer
  * it robustly and "is it real" — the standard combination in
  * environmental/SRE trend literature.
  *
  * Both are inherently pairwise (O(n²) pairs; the O(n log n)
  * formulations are sequential algorithms, not dataflows), so both
  * measure a DETERMINISTIC md5-ordered sample per group — the
  * [[Stats.kendallTau]] sampling discipline: config-bounded pairs,
  * engine-reproducible, unbiased w.r.t. any value ordering. At
  * sampleN = 200 the pair frame is ≤ 19 900 rows per group.
  */
object Trend {

  private def ok(c: Column): Column = c.isNotNull && !isnan(c)

  private def sampled(
      df: DataFrame,
      by: Seq[String],
      idCol: String,
      x: Column,
      y: Column,
      seed: String,
      sampleN: Int): DataFrame = {
    val byCols = by.map(col)
    val h = graft.text.TextFunctions.md5Hash32(
      concat_ws("|", (lit(seed) +: byCols :+ col("__id").cast("string")): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(byCols: _*).orderBy(h, col("__id"))
    df.filter(ok(x) && ok(y) && col(idCol).isNotNull)
      .select((byCols :+ col(idCol).as("__id") :+ x.as("__x") :+ y.as("__y")): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= sampleN)
      .drop("__rn")
  }

  /** Per-group Theil–Sen estimator: the MEDIAN of slopes
    * (y_j − y_i)/(x_j − x_i) over all sampled pairs with distinct x —
    * 29% breakdown point, so a corrupted minority of points cannot drag
    * the trend the way it drags OLS. Median of an even slope count is
    * the mean of the two middle values; rank ties are value-identical so
    * the median value is deterministic regardless of tie order.
    *
    * Scale shape: one hash-order window caps each group at `sampleN`;
    * the pair frame is a group-keyed self-join of ≤ sampleN-row groups
    * (config-bounded); one rank window over the slope frame (pair-sized,
    * never corpus-sized) extracts the middle. Groups where every sampled
    * pair shares an x (a vertical series) emit NULL slope.
    *
    * Output: (by..., n, n_slopes, slope).
    */
  def theilSen(
      df: DataFrame,
      by: Seq[String],
      idCol: String,
      xCol: String,
      yCol: String,
      sampleN: Int = 200): DataFrame = {
    require(sampleN >= 2, s"sampleN must be >= 2, got $sampleN")
    val byCols = by.map(col)
    val s = sampled(df, by, idCol, col(xCol).cast("double"), col(yCol).cast("double"),
      "theil", sampleN)
    val slopes = s.as("l")
      .join(s.as("r"),
        by.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) &&
          col("l.__id") < col("r.__id") && col("l.__x") =!= col("r.__x"))
      .select((by.map(c => col(s"l.$c").as(c)) :+
        ((col("r.__y") - col("l.__y")) / (col("r.__x") - col("l.__x"))).as("__s")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(byCols: _*).orderBy(col("__s"))
    val ranked = slopes
      .withColumn("__rk", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(byCols: _*)))
    // middle rank(s): floor((m+1)/2) and floor((m+2)/2) — one rank when m
    // is odd, the two middles when even (long division, not SQL's double /)
    val mid = ranked
      .filter(col("__rk") === ((col("__m") + 1) - pmod(col("__m") + 1, lit(2))) / 2 ||
        col("__rk") === ((col("__m") + 2) - pmod(col("__m") + 2, lit(2))) / 2)
      .groupBy(byCols: _*)
      .agg(max(col("__m")).as("n_slopes"),
        (sum(col("__s")) / count(lit(1))).as("slope"))
    val sizes = s.groupBy(byCols: _*).agg(count(lit(1)).as("n"))
    sizes.join(mid, by, "left")
      .select((byCols :+ col("n") :+
        coalesce(col("n_slopes"), lit(0L)).as("n_slopes") :+ col("slope")): _*)
  }

  /** Per-group Mann–Kendall trend test over the (time, tie)-ordered
    * sample: S = Σ_{i<j} sign(y_j − y_i), with the tie-corrected
    * variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 (t over
    * tied-value group sizes) and the continuity-corrected
    * z = (S ∓ 1)/√Var. |z| > 1.96 ≈ "the drift is real at 5%".
    *
    * S and the variance numerator are exact integers (order-free); the
    * single z division is one fixed IEEE sequence. Same-time rows are
    * totally ordered by the unique `idCol` (pairs are index pairs in
    * that order, the standard series treatment). Groups with Var ≤ 0
    * (n < 2 or everything tied) emit NULL z.
    *
    * Output: (by..., n, s, var_s, z).
    */
  def mannKendall(
      df: DataFrame,
      by: Seq[String],
      orderCol: String,
      idCol: String,
      valueCol: String,
      sampleN: Int = 200): DataFrame = {
    require(sampleN >= 2, s"sampleN must be >= 2, got $sampleN")
    val byCols = by.map(col)
    val v = col(valueCol).cast("double")
    val h = graft.text.TextFunctions.md5Hash32(
      concat_ws("|", (lit("mk") +: byCols :+ col("__id").cast("string")): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(byCols: _*).orderBy(h, col("__id"))
    val s = df
      .filter(ok(v) && col(orderCol).isNotNull && col(idCol).isNotNull)
      .select((byCols :+ col(idCol).as("__id") :+ col(orderCol).as("__o") :+
        v.as("__y")): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= sampleN)
      .drop("__rn")
    // pair orientation is (earlier, later) under (order, id): same-time
    // rows are totally ordered by the unique id, the standard index-pair
    // treatment for series with timestamp ties
    val pairs = s.as("l")
      .join(s.as("r"),
        by.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) &&
          (col("l.__o") < col("r.__o") ||
            (col("l.__o") === col("r.__o") && col("l.__id") < col("r.__id"))))
    val agg = pairs
      .groupBy(by.map(c => col(s"l.$c").as(c)): _*)
      .agg(sum(signum(col("r.__y") - col("l.__y")).cast("long")).as("s"))
    val ties = s.groupBy((byCols :+ col("__y")): _*).agg(count(lit(1)).as("__t"))
      .groupBy(byCols: _*)
      .agg(sum(col("__t") * (col("__t") - 1) * (lit(2) * col("__t") + 5)).as("__tsum"),
        sum(col("__t")).as("n"))
    val nL = col("n")
    val varNum = (nL * (nL - 1) * (lit(2) * nL + 5) - col("__tsum")).cast("double")
    val varS = varNum / 18.0
    ties.join(agg, by, "left")
      .select((byCols :+ col("n") :+ coalesce(col("s"), lit(0L)).as("s") :+
        varS.as("var_s") :+
        when(varS > 0.0,
          (col("s").cast("double") - signum(col("s").cast("double"))) / sqrt(varS))
          .as("z")): _*)
  }

  /** SAX — Symbolic Aggregate approXimation (Lin et al. 2003): each
    * key's series z-normalizes, averages into `nSegments` equal-width
    * Piecewise Aggregate Approximation segments, and each segment mean
    * maps to a letter by the N(0,1) quartile breakpoints
    * (−0.6745, 0, 0.6745 → a/b/c/d) — the discretization that turns a
    * numeric series into a WORD, unlocking the whole text toolbox
    * (exact dedup of shapes, n-gram motif counts, heavy-hitter shapes)
    * on telemetry. Fixed 4-letter alphabet: the standard cardinality,
    * and exact quartile breakpoints keep every engine bit-identical
    * (finer alphabets need erf⁻¹ tables).
    *
    * Scale shape: per-key moment aggregate (DECIMAL sums) joined back,
    * position ranks from KEY-partitioned windows, PAA means per
    * (key, segment) DECIMAL-summed, and the word assembled with an
    * in-group sorted fold — every frame key- or segment-sized. A
    * zero-variance series z-scores to 0 → all-'c' (flat word), by
    * convention. Output per key: (by…, n, sax).
    */
  def sax(
      df: DataFrame,
      byCols: Seq[String],
      timeCol: String,
      tieCol: String,
      valueCol: String,
      nSegments: Int = 8): DataFrame = {
    val paa = paaFrame(df, byCols, timeCol, tieCol, valueCol, nSegments)
      .withColumn("__sym",
        when(col("__pm") < -0.6745, lit("a"))
          .when(col("__pm") < 0.0, lit("b"))
          .when(col("__pm") < 0.6745, lit("c"))
          .otherwise(lit("d")))
    paa
      .groupBy(byCols.map(col): _*)
      .agg(first(col("__n")).as("n"),
        array_join(transform(
          array_sort(collect_list(struct(col("__seg"), col("__sym")))),
          x => x.getField("__sym")), "").as("sax"))
  }

  /** The shared z-normalized PAA frame behind [[sax]] and
    * [[paaVectors]]: per (key, segment), the r6-pinned mean z-score.
    */
  private def paaFrame(
      df: DataFrame,
      byCols: Seq[String],
      timeCol: String,
      tieCol: String,
      valueCol: String,
      nSegments: Int): DataFrame = {
    require(byCols.nonEmpty, "PAA needs at least one key column")
    require(nSegments >= 2 && nSegments <= 64,
      s"nSegments must be in [2, 64], got $nSegments")
    val by = byCols.map(col)
    val v = col(valueCol).cast("double")
    val base = df
      .filter(v.isNotNull && !isnan(v) && col(timeCol).isNotNull)
      .select((by ++ Seq(col(timeCol).as("__t"), col(tieCol).as("__tie"),
        v.as("__v"))): _*)
    val moments = base
      .groupBy(by: _*)
      .agg(count(lit(1)).as("__n"), dsum(r6(col("__v"))).as("__s"),
        dsum(r6(col("__v") * col("__v"))).as("__s2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by: _*).orderBy(col("__t"), col("__tie"))
    val seg = base
      .withColumn("__rn", row_number().over(w).cast("long") - 1L)
      .join(moments, byCols)
      // exact integer floor-div: Spark's `/` on longs is a DOUBLE divide;
      // subtract the remainder first so the division is exact, then cast
      .withColumn("__seg",
        ((col("__rn") * nSegments.toLong -
          pmod(col("__rn") * nSegments.toLong, col("__n"))) / col("__n"))
          .cast("long"))
    val mean = col("__s") / col("__n").cast("double")
    val sd = sqrt(greatest(
      col("__s2") / col("__n").cast("double") - mean * mean, lit(0.0)))
    seg
      .groupBy((by :+ col("__seg")): _*)
      .agg(dsum(r6(when(sd > 0, (col("__v") - mean) / sd).otherwise(lit(0.0))))
        .as("__zs"),
        count(lit(1)).as("__k"),
        first(col("__n")).as("__n"))
      .withColumn("__pm", col("__zs") / col("__k").cast("double"))
  }

  /** Per-key z-normalized PAA vector — [[sax]] without the letter
    * quantization: (by…, n, paa[nSegments]) with each segment mean
    * r6-pinned, segment-ordered. The numeric shape descriptor
    * [[dtwDistance]] compares.
    */
  def paaVectors(
      df: DataFrame,
      byCols: Seq[String],
      timeCol: String,
      tieCol: String,
      valueCol: String,
      nSegments: Int = 8): DataFrame = {
    paaFrame(df, byCols, timeCol, tieCol, valueCol, nSegments)
      .groupBy(byCols.map(col): _*)
      .agg(first(col("__n")).as("n"),
        transform(
          array_sort(collect_list(struct(col("__seg"), col("__pm")))),
          x => r6(x.getField("__pm"))).as("paa"))
  }

  /** Exact dynamic-time-warping distance between two DOUBLE arrays —
    * the alignment-tolerant series distance (Euclidean on PAA vectors
    * calls a 1-segment phase shift "far"; DTW warps it back). The
    * classic O(p·q) band-free DP as a pure fold: the outer aggregate
    * walks `a` carrying the previous DP row, the inner aggregate
    * builds each row left-to-right (the cell needs its LEFT neighbor,
    * so the row is an append-fold) — [[graft.text.Bpe.mergeOnce]]'s
    * accumulator discipline, twice. |a|·|b| work per ROW: meant for
    * bounded shape vectors (PAA segments, ≤ 64 by the paa contract),
    * not raw series — feed it [[paaVectors]].
    *
    * Empty inputs yield the 1e308 sentinel (no alignment exists) —
    * callers filter, the way NULL would hide the row. The guard is
    * explicit: with `b` empty, sequence(1, size(b)) = sequence(1, 0)
    * is a DESCENDING [1, 0] whose j = 0 step would evaluate
    * element_at(b, 0) — an ANSI INVALID_ARRAY_INDEX — so the fold only
    * runs when both sides are non-empty.
    */
  def dtwDistance(a: Column, b: Column): Column = {
    val inf = lit(1.0e308)
    val init = concat(array(lit(0.0)), transform(b, _ => inf))
    val folded = aggregate(
      a,
      init,
      (prev, ai) =>
        aggregate(
          sequence(lit(1), size(b)),
          array(inf),
          (row, j) => {
            val cost = abs(ai - element_at(b, j))
            val best = least(
              element_at(prev, j),          // D(i-1, j-1)
              element_at(prev, j + 1),      // D(i-1, j)
              element_at(row, size(row)))   // D(i,   j-1)
            concat(row, array(cost + best))
          }))
    when(size(a) === 0 || size(b) === 0, inf)
      .otherwise(element_at(folded, -1))
  }

  /** Rescaled-range Hurst exponent per key — long-memory detection for
    * telemetry: H ≈ 0.5 is a random walk (i.i.d.-assuming monitors are
    * fine), H → 1 means persistent trends (yesterday's drift predicts
    * today's — alert thresholds calibrated on i.i.d. noise will both
    * under- and over-fire), H < 0.5 means mean-reversion. Classic R/S:
    * for each block size m ∈ `blockSizes`, split the (time, tie)-ordered
    * series into FULL m-blocks, compute each block's range of cumulative
    * mean-deviations over its std, average R/S per m, and fit
    * ln(R/S) = H·ln(m) + c by OLS over the ≤|blockSizes| points.
    *
    * Shapes: one key-ordered rank window, a ×|blockSizes| melt, then
    * every window/aggregate is (key, m, block)-partitioned — block
    * state is ≤ max(blockSizes) rows by construction. Partial blocks
    * drop (an R/S over a short tail biases the fit). Output per key:
    * (by…, n, k_sizes, hurst) — NULL with fewer than 2 usable sizes.
    */
  def hurstExponent(
      df: DataFrame,
      byCols: Seq[String],
      timeCol: String,
      tieCol: String,
      valueCol: String,
      blockSizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(blockSizes.size >= 2 && blockSizes.forall(_ >= 4) &&
      blockSizes.distinct == blockSizes && blockSizes.max <= 4096,
      s"need >= 2 distinct block sizes in [4, 4096], got $blockSizes")
    val by = byCols.map(col)
    val v = col(valueCol).cast("double")
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(by: _*).orderBy(col("__t"), col("__tie"))
    val ranked = df
      .filter(v.isNotNull && !isnan(v) && col(timeCol).isNotNull)
      .select((by ++ Seq(col(timeCol).as("__t"), col(tieCol).as("__tie"),
        v.as("__v"))): _*)
      .withColumn("__rn", row_number().over(wk).cast("long") - 1L)
    val melted = ranked.select((by ++ Seq(col("__t"), col("__tie"), col("__v"),
      col("__rn"), explode(array(blockSizes.map(m => lit(m.toLong)): _*)).as("__m"))): _*)
      .withColumn("__blk",
        ((col("__rn") - pmod(col("__rn"), col("__m"))) / col("__m")).cast("long"))
    val blockKey = by ++ Seq(col("__m"), col("__blk"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(blockKey: _*)
    val wbo = org.apache.spark.sql.expressions.Window
      .partitionBy(blockKey: _*).orderBy(col("__t"), col("__tie"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val withDev = melted
      .withColumn("__bn", count(lit(1)).over(wb))
      .filter(col("__bn") === col("__m")) // full blocks only
      .withColumn("__mean",
        sum(col("__v").cast("decimal(38,6)")).over(wb).cast("double") /
          col("__m").cast("double"))
      .withColumn("__cum",
        sum(r6(col("__v") - col("__mean")).cast("decimal(38,6)")).over(wbo)
          .cast("double"))
    val perBlock = withDev
      .groupBy(blockKey: _*)
      .agg(
        (max(col("__cum")) - min(col("__cum"))).as("__r"),
        sqrt(greatest(
          dsum(r6((col("__v") - col("__mean")) * (col("__v") - col("__mean")))) /
            first(col("__m")).cast("double"), lit(0.0))).as("__s"))
      .filter(col("__s") > 0)
      .withColumn("__rs", col("__r") / col("__s"))
    val perSize = perBlock
      .groupBy((by :+ col("__m")): _*)
      .agg((dsum(r6(col("__rs"))) / count(lit(1)).cast("double")).as("__mrs"))
      .filter(col("__mrs") > 0)
      .select((by ++ Seq(log(col("__m").cast("double")).as("__x"),
        log(col("__mrs")).as("__y"))): _*)
    // OLS slope over the <= |blockSizes| (ln m, ln R/S) points
    val fit = perSize
      .groupBy(by: _*)
      .agg(count(lit(1)).as("k_sizes"),
        dsum(r6(col("__x"))).as("__sx"), dsum(r6(col("__y"))).as("__sy"),
        dsum(r6(col("__x") * col("__x"))).as("__qx"),
        dsum(r6(col("__x") * col("__y"))).as("__pxy"))
    val kD = col("k_sizes").cast("double")
    val den = kD * col("__qx") - col("__sx") * col("__sx")
    val totals = ranked.groupBy(by: _*).agg(count(lit(1)).as("n"))
    totals.join(fit, byCols)
      .select((by ++ Seq(col("n"), col("k_sizes"),
        when(col("k_sizes") >= 2 && den > 0,
          r6((kD * col("__pxy") - col("__sx") * col("__sy")) / den)).as("hurst"))): _*)
  }
}
