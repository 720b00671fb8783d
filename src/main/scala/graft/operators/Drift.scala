package graft.operators

import graft.functions.Portable.r6
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-table drift report — the one-call answer to "did THIS batch
  * move, on which features": per numeric column, the two-sample
  * Kolmogorov–Smirnov statistic ([[Hypothesis.ksTest]] — shape-
  * sensitive, binless) next to the Population Stability Index
  * ([[Stats.psi]] — the binned magnitude gauges alerting thresholds are
  * calibrated in). One instrument per failure mode; a column flagged by
  * both is drifting in shape AND mass.
  */
object Drift {

  /** Melt `cols` into a (feature, value) frame — ONE fact scan for the
    * whole report, melt factor = |cols| (loudly capped: a melt over
    * hundreds of columns multiplies the fact table by hundreds; audit
    * wide tables in batches) — then run KS and PSI grouped by feature
    * and join the two vocab-sized result frames. `inRef` marks the
    * reference rows (e.g. last week's partition).
    *
    * Output per feature: (feature, n_ref, n_cur, d, ks, psi).
    */
  def driftReport(
      df: DataFrame,
      cols: Seq[String],
      inRef: Column,
      psiBins: Int = 10): DataFrame = {
    require(cols.nonEmpty, "driftReport needs at least one column")
    require(cols.size <= 64,
      s"driftReport melts the fact table x|cols|; ${cols.size} columns " +
        "exceed the 64-column audit contract — run in batches")
    val melted = df
      .select(inRef.as("__ref"),
        explode(array(cols.map(c =>
          struct(lit(c).as("feature"), col(c).cast("double").as("v"))): _*)).as("__m"))
      .select(col("__ref"), col("__m.feature").as("feature"), col("__m.v").as("v"))
      .pin(false) // consumed by both the KS and the PSI pass
    val ks = Hypothesis.ksTest(melted, Seq("feature"), "v", col("__ref"))
      .select(col("feature"), col("n_a").as("n_ref"), col("n_b").as("n_cur"),
        col("d"), col("ks"))
    val psi = Stats.psi(melted, Seq("feature"), "v", col("__ref"), psiBins)
    ks.join(psi, Seq("feature"), "left")
  }

  /** Quantile–quantile drift table: exact R-7 quantiles of the
    * reference and current slices at each probe, side by side with the
    * gap — WHERE a shifted distribution moved ([[driftReport]] says THAT
    * it moved; the qq table says "the p90 gained 400 chars while the
    * median held", which decides whether a clamp or a filter responds).
    * One sliced quantile aggregate (pinned for its two filter
    * consumers), then a probe-count-sized join.
    *
    * Output per probe: (p, q_ref, q_cur, gap).
    */
  def qqDrift(
      df: DataFrame,
      valueCol: String,
      inRef: Column,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "qqDrift needs probe quantiles")
    val qs = Profile.quantileSummary(
      df.select(inRef.as("__slice"), col(valueCol).as("__v")),
      Seq("__slice"), "__v", ps)
      .pin(false) // the ref/cur filters both read the sliced aggregate
    val ref = qs.filter(col("__slice")).select(col("p"), col("q").as("__qr"))
    val cur = qs.filter(!col("__slice")).select(col("p"), col("q").as("__qc"))
    ref.join(cur, Seq("p"), "full")
      .select(col("p"),
        r6(col("__qr")).as("q_ref"), r6(col("__qc")).as("q_cur"),
        when(col("__qr").isNotNull && col("__qc").isNotNull,
          r6(col("__qc") - col("__qr"))).as("gap"))
  }

  /** Per-feature leakage screen: the single-feature ROC AUC of every
    * numeric column against a label, in one melted pass — a feature
    * whose lone AUC approaches 1 (or 0) predicts the label suspiciously
    * well BY ITSELF, the classic symptom of target leakage (the label
    * snuck into a feature) or of a proxy that will dominate training.
    * `separation` = 2·|AUC − ½| reads the same for both directions.
    * Same ≤64-column melt contract as [[driftReport]].
    */
  def featureAucScreen(
      df: DataFrame,
      cols: Seq[String],
      label: Column): DataFrame = {
    require(cols.nonEmpty, "featureAucScreen needs at least one column")
    require(cols.size <= 64,
      s"featureAucScreen melts the fact table x|cols|; ${cols.size} columns " +
        "exceed the 64-column audit contract — run in batches")
    val melted = df
      .select(label.as("__y"),
        explode(array(cols.map(c =>
          struct(lit(c).as("feature"), col(c).cast("double").as("v"))): _*)).as("__m"))
      .select(col("__y"), col("__m.feature").as("feature"), col("__m.v").as("v"))
    Evaluation.rocAuc(melted, Seq("feature"), "v", col("__y"))
      .select(col("feature"), col("n_pos"), col("n_neg"),
        r6(col("auc")).as("auc"),
        when(col("auc").isNotNull, r6(abs(col("auc") - 0.5) * 2.0)).as("separation"))
  }
}
