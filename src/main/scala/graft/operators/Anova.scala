package graft.operators

import graft.functions.Portable.{dsum0, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-way analysis of variance and its variance-homogeneity companion —
  * the parametric "did ANY arm shift the mean" complement to the
  * rank-based Kruskal–Wallis ([[Hypothesis.kruskalWallis]]), plus the
  * Brown–Forsythe test for "do the arms even have comparable variance"
  * (the precondition classical ANOVA assumes and experiments violate
  * constantly — a treatment that widens the spread without moving the
  * mean is invisible to F and glaring to BF).
  *
  * Scale shape: both tests are two hash aggregations — fact → (slice ×
  * arm) moment rows → slice rows. Nothing is windowed over raw data and
  * nothing is collected; the (slice × arm) frame is bounded by the
  * number of experiment cells, not the corpus. Brown–Forsythe adds one
  * per-arm median fit (through [[Quantiles.q]], so the cluster-wide
  * `spark.graft.approxQuantiles` switch applies at 100 TB) and one
  * broadcast-sized join back.
  *
  * Portability: raw sums pass through DECIMAL(38,6) (exact — inputs are
  * parquet doubles with ≤6 significant decimals in this corpus; the
  * general contract is §5 of SURVEY). The one inexact per-arm double,
  * S_a²/n_a, is r6-rounded before the cross-arm DECIMAL sum — the same
  * discipline as Kruskal's rank-sum term — so F is reduction-order-free
  * and bit-identical across engines.
  *
  * Reference analog: none (experiment-analytics extension per the build
  * brief; completes the q_ab_test / q_mwu / q_kruskal family).
  */
object Anova {

  private def okCol(c: Column): Column = c.isNotNull && !isnan(c)


  /** Shared tail: (by..., __arm, __x) rows → per-slice ANOVA frame
    * `(by..., n, k_arms, ss_between, ss_within, f)`. `f` is NULL when
    * k < 2, n ≤ k, or the within-variance is ~0 (constant arms).
    */
  private def fFromCells(cells: DataFrame, by: Seq[String]): DataFrame = {
    val byCols = by.map(col)
    val perArm = cells
      .groupBy((byCols :+ col("__arm")): _*)
      .agg(
        count(lit(1)).as("__na"),
        dsum0(col("__x")).as("__sa"),
        dsum0(col("__x") * col("__x")).as("__sxxa"))
    // S_a²/n_a is the one inexact double — r6 before the DECIMAL sum so
    // the cross-arm reduction is order-free and engine-portable
    val explained = col("__sa") * col("__sa") / col("__na").cast("double")
    val m = perArm
      .groupBy(byCols: _*)
      .agg(
        sum(col("__na")).as("n"),
        count(lit(1)).as("k_arms"),
        dsum0(col("__sa")).as("__s"),
        dsum0(col("__sxxa")).as("__sxx"),
        dsum0(r6(explained)).as("__expl"))
    val nD = col("n").cast("double")
    val kD = col("k_arms").cast("double")
    val ssb = col("__expl") - col("__s") * col("__s") / nD
    val ssw = col("__sxx") - col("__expl")
    m.withColumn("ss_between", ssb)
      .withColumn("ss_within", ssw)
      .withColumn(
        "f",
        when(
          col("k_arms") >= 2 && col("n") > col("k_arms") && ssw > 0.0,
          (ssb / (kD - 1.0)) / (ssw / (nD - kD))))
      .drop("__s", "__sxx", "__expl")
  }

  /** One-way ANOVA F per `by` slice across the levels of `armCol`.
    * NULL/NaN values and NULL arms are dropped (they have no portable
    * cell). Output: (by..., n, k_arms, ss_between, ss_within, f).
    */
  def anovaF(df: DataFrame, by: Seq[String], armCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val cells = df
      .filter(okCol(x) && col(armCol).isNotNull)
      .select((by.map(col) :+ col(armCol).as("__arm") :+ x.as("__x")): _*)
    fFromCells(cells, by)
  }

  /** Brown–Forsythe variance-homogeneity test per `by` slice: ANOVA F
    * over z = |x − median_arm(x)| — the robust (median-centred) Levene
    * variant, the standard choice because the mean-centred original is
    * itself fooled by the heavy tails it is supposed to detect. A large
    * F means the arms' SPREADS differ even if their centres agree.
    *
    * The per-arm median comes from [[Quantiles.q]] (exact R-7 by
    * default, sketch under the session switch) and joins back via a
    * broadcast — the median frame is experiment-cell-sized. Deviations
    * are r6-rounded before the moment sums (|x − m| is an inexact
    * double; the raw x path in [[anovaF]] needs no such pin).
    */
  def brownForsythe(
      df: DataFrame,
      by: Seq[String],
      armCol: String,
      valueCol: String): DataFrame = {
    val exact = Quantiles.resolveExact(df.sparkSession, exact = true)
    val x = col(valueCol).cast("double")
    val base = df
      .filter(okCol(x) && col(armCol).isNotNull)
      .select((by.map(col) :+ col(armCol).as("__arm") :+ x.as("__x0")): _*)
    val meds = base
      .groupBy((by.map(col) :+ col("__arm")): _*)
      .agg(Quantiles.q(col("__x0"), lit(0.5), exact).as("__med"))
    val cells = base
      .join(broadcast(meds), by :+ "__arm")
      .select((by.map(col) :+ col("__arm") :+
        r6(abs(col("__x0") - col("__med"))).as("__x")): _*)
    fFromCells(cells, by)
  }
}
