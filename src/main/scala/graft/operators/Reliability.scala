package graft.operators

import graft.functions.Portable.{dsum, r6}
import graft.text.TextFunctions.md5Hash32
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Split-half reliability with the Spearman–Brown correction — is a
  * per-group metric a stable property of the groups or sampling noise?
  * Split each group's rows into deterministic md5 halves, compute the
  * metric per (group, half), correlate the two half-profiles across
  * groups (Pearson r), and step up to full-length reliability
  * 2r/(1+r). Reliability near 1 ⇒ the group ranking is real; near 0 ⇒
  * the "per-source quality score" everyone quotes is re-rolled dice.
  * The measurement-theory gate that belongs before any per-group
  * league table ships.
  *
  * One corpus pass to the (group × half) frame; both halves pivot on
  * the group-sized frame; the correlation is a closed form of
  * r6-pinned DECIMAL sums. Groups missing a half (too few rows) are
  * dropped and counted in `n_dropped` — a one-row group can't witness
  * its own stability. r (and the correction) NULL when fewer than 3
  * complete groups or a zero-variance half.
  *
  * Output ONE row: (n_groups, n_dropped, r_half, reliability).
  */
object Reliability {

  def splitHalf(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      metric: Column,
      seed: String = "sh"): DataFrame = {
    val m = metric.cast("double")
    val half = pmod(md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))), lit(2))
    val cells = df
      .filter(m.isNotNull && !isnan(m))
      .groupBy(col(groupCol).as("__g"), half.as("__h"))
      .agg(r6(dsum(r6(m)) / count(lit(1)).cast("double")).as("__m"))
    val wide = cells
      .groupBy(col("__g"))
      .agg(
        max(when(col("__h") === 0, col("__m"))).as("__m0"),
        max(when(col("__h") === 1, col("__m"))).as("__m1"))
    val complete = col("__m0").isNotNull && col("__m1").isNotNull
    val nD = count(when(complete, lit(1))).cast("double")
    val stats = wide.agg(
      count(when(complete, lit(1))).as("n_groups"),
      count(when(!complete, lit(1))).as("n_dropped"),
      coalesce(dsum(when(complete, col("__m0"))), lit(0.0)).as("__s0"),
      coalesce(dsum(when(complete, col("__m1"))), lit(0.0)).as("__s1"),
      coalesce(dsum(when(complete, r6(col("__m0") * col("__m1")))), lit(0.0)).as("__s01"),
      coalesce(dsum(when(complete, r6(col("__m0") * col("__m0")))), lit(0.0)).as("__s00"),
      coalesce(dsum(when(complete, r6(col("__m1") * col("__m1")))), lit(0.0)).as("__s11"),
      nD.as("__nd"))
    val cov = col("__s01") - col("__s0") * col("__s1") / col("__nd")
    val v0 = col("__s00") - col("__s0") * col("__s0") / col("__nd")
    val v1 = col("__s11") - col("__s1") * col("__s1") / col("__nd")
    val r = when(col("n_groups") >= 3 && v0 > 0 && v1 > 0,
      r6(cov / sqrt(v0 * v1)))
    stats.select(
      col("n_groups"), col("n_dropped"),
      r.as("r_half"),
      when(r.isNotNull && r > -1.0,
        r6(lit(2.0) * r / (lit(1.0) + r))).as("reliability"))
  }
}
