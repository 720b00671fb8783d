package graft.operators

import graft.functions.Portable.{dsum, r6}
import graft.text.TextFunctions.md5Hash32
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Delete-one-bucket jackknife for ratio-of-sums metrics — the
  * empirical standard error behind "revenue per click moved +2.3% ±?"
  * when the metric is a ratio whose numerator and denominator are both
  * random (a plain t-interval on per-row ratios is simply wrong, and
  * the delta method ([[Stats]]) assumes the covariances it plugs in).
  * Rows are hashed into B deterministic buckets; each leave-one-out
  * replicate r_b = (N−n_b)/(D−d_b) is a closed form of the one-row
  * totals and the bucket frame — the corpus is scanned ONCE, never B
  * times. se² = (B−1)/B · Σ(r_b − r̄)², CI = θ̂ ± z·se.
  *
  * The bucketing is the library's seed-keyed md5 split, so replicates
  * are reproducible across runs and engines. Buckets whose removal
  * zeroes or flips the denominator (D−d_b ≤ 0) make the replicate set
  * undefined: se/CI are NULL and `b_degenerate` says why — a metric
  * whose denominator one bucket can erase has no stable interval to
  * report. Replicates and their squares are r6-pinned before
  * DECIMAL(38,6) reductions (bucket-order-independent, cross-engine).
  *
  * Spark shape: one map-side-combined groupBy to the B-row bucket
  * frame; totals are a one-row aggregate OF that frame broadcast back.
  * Output ONE row: (n_rows, n_buckets, b_degenerate, ratio, se_jack,
  * ci_lo, ci_hi).
  */
object Jackknife {

  def ratioCi(
      data: DataFrame,
      idCol: String,
      numCol: Column,
      denCol: Column,
      buckets: Int = 20,
      seed: String = "jk",
      z: Double = 1.959964): DataFrame = {
    require(buckets >= 2 && buckets <= 10000,
      s"buckets must be in [2, 10000], got $buckets")
    val b = pmod(md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))),
      lit(buckets))
    val perBucket = data
      .select(b.as("__b"), numCol.cast("double").as("__num"),
        denCol.cast("double").as("__den"))
      .groupBy(col("__b"))
      .agg(
        count(lit(1)).as("__rows"),
        coalesce(dsum(r6(col("__num"))), lit(0.0)).as("__n"),
        coalesce(dsum(r6(col("__den"))), lit(0.0)).as("__d"))
    val totals = perBucket.agg(
      sum(col("__rows")).as("n_rows"),
      count(lit(1)).as("n_buckets"),
      coalesce(dsum(col("__n")), lit(0.0)).as("__tn"),
      coalesce(dsum(col("__d")), lit(0.0)).as("__td"))
    val reps = perBucket
      .crossJoin(broadcast(totals)) // one-row totals frame: lint-exempt
      .withColumn("__rep",
        when(col("__td") - col("__d") > 0,
          r6((col("__tn") - col("__n")) / (col("__td") - col("__d")))))
    val stats = reps.agg(
      count(when(col("__rep").isNull, lit(1))).as("b_degenerate"),
      count(lit(1)).cast("double").as("__bd"),
      coalesce(dsum(col("__rep")), lit(0.0)).as("__sr"),
      coalesce(dsum(r6(col("__rep") * col("__rep"))), lit(0.0)).as("__sr2"))
    totals
      .crossJoin(broadcast(stats))
      .select(
        col("n_rows"), col("n_buckets"), col("b_degenerate"),
        when(col("__td") > 0, r6(col("__tn") / col("__td"))).as("ratio"),
        when(col("b_degenerate") === 0 && col("__td") > 0,
          r6(sqrt(greatest(lit(0.0),
            (col("__bd") - lit(1.0)) / col("__bd") *
              (col("__sr2") - col("__sr") * col("__sr") / col("__bd"))))))
          .as("se_jack"))
      .withColumn("ci_lo",
        when(col("se_jack").isNotNull,
          r6(col("ratio") - lit(z) * col("se_jack"))))
      .withColumn("ci_hi",
        when(col("se_jack").isNotNull,
          r6(col("ratio") + lit(z) * col("se_jack"))))
  }
}
