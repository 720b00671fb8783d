package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-portable numeric helpers for oracle-compared outputs.
  *
  * This is the one home of the convention: Spark code imports
  * `Portable.{dsum, dsum0, dsumIf, r6}`, oracle SQL uses [[graft.catalog.Shared]]'s
  * `dsum`/`dsum0`/`r6` (which forward to [[dsumSql]]/[[dsum0Sql]]/[[r6Sql]]),
  * and no other file spells the convention out. `PortableSpec` fails on a
  * local copy.
  */
object Portable {

  /** Round to 6 decimals the PORTABLE way: `floor(x·10⁶ + 0.5) / 10⁶`,
    * the same IEEE operation sequence in every engine, so two engines
    * holding the SAME double always emit the same rounded value.
    *
    * Why not `round(x, 6)`: Spark rounds the double's full decimal
    * expansion (BigDecimal HALF_UP) while DuckDB rounds the scaled
    * double — on boundary values like 0.7585055 whose binary form sits
    * a hair off the decimal .5, the two disagree by one ulp of the
    * sixth decimal. That is a 1-in-millions flake per emitted value:
    * invisible at sf0.01, a guaranteed eventual mismatch at scale.
    *
    * NaN passes through (Spark's floor would mangle it to 0 via the
    * long cast); NULL propagates naturally. Magnitudes must stay below
    * 2⁵³/10⁶ for the long↔double trip to be exact — true for every
    * ratio, cosine, z-score and day-delta this library emits.
    */
  def r6(c: Column): Column =
    when(isnan(c), c).otherwise(floor(c * 1000000.0 + 0.5) / 1000000.0)

  /** The DuckDB rendering of [[r6]] — keep the two in lockstep. */
  def r6Sql(e: String): String = s"floor(($e) * 1000000 + 0.5) / 1000000"

  /** Deterministic sum: the values go through DECIMAL(38,6), whose
    * addition is exact and associative, so the result is the same double
    * for any row order, partitioning or engine (a DOUBLE `sum` is not).
    * NULL on no rows, like `sum`. Inputs carry 6 decimals into the sum;
    * sum [[r6]]-rounded values (`dsum(r6(e))`) when the oracle does.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")

  /** [[dsum]] that gives 0.0 instead of NULL when no row contributes. */
  def dsum0(c: Column): Column =
    coalesce(sum(c.cast("decimal(38,6)")), lit(0).cast("decimal(38,6)")).cast("double")

  /** [[dsum0]] over the rows where `p` holds (0.0 when none do). */
  def dsumIf(p: Column, e: Column): Column =
    coalesce(sum(when(p, e.cast("decimal(38,6)"))), lit(0).cast("decimal(38,6)")).cast("double")

  /** The DuckDB rendering of [[dsum]] — keep the two in lockstep. */
  def dsumSql(e: String): String = s"CAST(sum(CAST(($e) AS DECIMAL(38,6))) AS DOUBLE)"

  /** The DuckDB rendering of [[dsum0]] — keep the two in lockstep. */
  def dsum0Sql(e: String): String = s"CAST(coalesce(sum(CAST(($e) AS DECIMAL(38,6))), 0) AS DOUBLE)"
}
