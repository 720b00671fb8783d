package graft.operators

import graft.meds.Meds
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Code-metadata aggregation: group MEDS measurements by code (plus any
  * modifier columns) and collect distribution statistics.
  *
  * Reference: src/MEDS_transforms/aggregate_code_metadata.py:104-116
  * defines nine aggregations as (per-shard mapper, cross-shard reducer)
  * pairs. In Spark the shard map IS partial aggregation and the reduce IS
  * the final aggregation after the exchange, so a single
  * `groupBy(code).agg(...)` expresses the whole map-reduce; Catalyst emits
  * map-side combine automatically and no manual sharding is needed.
  *
  * Sums are computed over DECIMAL(38,6)-cast inputs: decimal addition is
  * associative, so results are bit-identical regardless of partitioning —
  * important both for cross-engine verification and for deterministic
  * re-runs at cluster scale. They are returned as doubles.
  */
object CodeMetadata {
  private val v = col(Meds.NumericValue)
  /** Non-null, non-NaN (aggregate_code_metadata.py:100-101). */
  private val valPresent: Column = v.isNotNull && !isnan(v)
  /** Whole-number check (aggregate_code_metadata.py:102). */
  private val isInt: Column = round(v) === v
  private def dec(c: Column): Column = c.cast(DecimalType(38, 6))

  val CodeNPatients = "code/n_patients"
  val CodeNOccurrences = "code/n_occurrences"
  val ValuesNPatients = "values/n_patients"
  val ValuesNOccurrences = "values/n_occurrences"
  val ValuesNInts = "values/n_ints"
  val ValuesSum = "values/sum"
  val ValuesSumSqd = "values/sum_sqd"
  val ValuesMin = "values/min"
  val ValuesMax = "values/max"

  /** All supported aggregations, keyed by their reference names
    * (aggregate_code_metadata.py:65-73).
    */
  val aggregations: Seq[(String, Column)] = Seq(
    CodeNPatients -> countDistinct(col(Meds.PatientId)),
    CodeNOccurrences -> count(lit(1)),
    ValuesNPatients -> countDistinct(when(valPresent, col(Meds.PatientId))),
    ValuesNOccurrences -> count(when(valPresent, lit(1))),
    ValuesNInts -> count(when(valPresent && isInt, lit(1))),
    ValuesSum -> coalesce(sum(when(valPresent, dec(v))), lit(0)).cast("double"),
    ValuesSumSqd -> coalesce(sum(when(valPresent, dec(v * v))), lit(0)).cast("double"),
    ValuesMin -> min(when(valPresent, v)),
    ValuesMax -> max(when(valPresent, v))
  )

  val aggregationNames: Seq[String] = aggregations.map(_._1)

  /** Aggregate `df` by code (+ modifiers).
    *
    * @param summarizeOverAllCodes when true, also emit a single summary row
    *   aggregating across ALL codes, with null group keys — the
    *   `do_summarize_over_all_codes` behavior
    *   (aggregate_code_metadata.py:364-374). Implemented with `rollup` so
    *   per-code and grand-total rows come from ONE scan (the reference needs two
    *   passes); intermediate rollup levels are filtered out via
    *   `grouping_id` when there are modifier columns.
    */
  def aggregate(
      df: DataFrame,
      aggs: Seq[String] = aggregationNames,
      codeModifiers: Seq[String] = Nil,
      summarizeOverAllCodes: Boolean = false
  ): DataFrame = {
    val keys = (Meds.Code +: codeModifiers).map(col)
    val sel = aggregations.filter { case (n, _) => aggs.contains(n) }
    require(sel.nonEmpty, s"No valid aggregations among $aggs")
    val aggCols = sel.map { case (n, c) => c.as(n) }
    if (!summarizeOverAllCodes) {
      df.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
    } else {
      // rollup(code, m1, ..., mk): keep only grouping_id == 0 (full key)
      // and grouping_id == 2^(k+1)-1 (grand total). grouping_id() must be
      // computed inside the agg select list.
      val full = 0L
      val total = (1L << keys.length) - 1
      val withGid = aggCols :+ grouping_id().as("__gid")
      df.rollup(keys: _*)
        .agg(withGid.head, withGid.tail: _*)
        .filter(col("__gid") === full || col("__gid") === total)
        .drop("__gid")
    }
  }

  /** Cross-shard REDUCE over pre-aggregated code-metadata partials — the
    * reference's explicit reducer stage (aggregate_code_metadata.py maps
    * each shard, then folds shard outputs with sum/min/max reducers).
    * One `groupBy(code).agg` normally replaces both stages, but the
    * explicit reduce matters operationally: INCREMENTAL ingest (merge
    * yesterday's metadata with today's new shard without rescanning
    * history) and federated aggregation (per-site partials).
    *
    * CONTRACT: partials must come from PATIENT-DISJOINT inputs — the
    * MEDS sharding invariant. The patient-count aggregations reduce by
    * SUM, which is only a distinct-count when no patient spans two
    * partials (exactly why the reference shards by patient). Occurrence
    * counts, sums, min/max reduce correctly under any partitioning.
    *
    * Sums re-pass through DECIMAL(38,6): the partials' double sums are
    * decimal values rounded through binary, and the re-cast recovers
    * them exactly for magnitudes < ~2^46 (the 6-decimal grid outresolves
    * double ulp there), keeping merge output bit-identical to a direct
    * aggregation for cross-engine verification.
    */
  def mergePartials(partials: Seq[DataFrame], codeModifiers: Seq[String] = Nil): DataFrame = {
    require(partials.nonEmpty, "nothing to merge")
    val merged = partials.reduce(_.unionByName(_))
    val keys = (Meds.Code +: codeModifiers).map(col)
    val counts = Set(CodeNPatients, CodeNOccurrences, ValuesNPatients, ValuesNOccurrences, ValuesNInts)
    val present = merged.columns.filter(aggregationNames.contains)
    require(present.nonEmpty, "partials carry none of the known aggregation columns")
    val aggCols = present.map {
      case n if counts(n)                    => sum(col(n)).cast("long").as(n)
      case n @ (ValuesSum | ValuesSumSqd)    => sum(dec(col(n))).cast("double").as(n)
      case n @ ValuesMin                     => min(col(n)).as(n)
      case n @ ValuesMax                     => max(col(n)).as(n)
      case n => throw new IllegalStateException(s"no reducer for $n")
    }
    merged.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Derived per-code mean/std from sum, sum_sqd and n_occurrences
    * (occlude_outliers.py:71-72). Population std; NaN-guarded at 0.
    * Codes with NO numeric values (n = 0, e.g. generated categorical
    * events like time_of_day) get null mean/std instead of an ANSI
    * divide-by-zero — their rows then normalize/occlude to null values,
    * matching the reference's null-propagating arithmetic. A frame that
    * already has both `values/mean` and `values/std` is returned as is.
    */
  def withMeanStd(codeMetadata: DataFrame): DataFrame =
    if (Seq("values/mean", "values/std").forall(codeMetadata.columns.contains)) codeMetadata
    else {
      val n = col(ValuesNOccurrences).cast("double")
      val mean = when(n > 0, col(ValuesSum) / n)
      val variance = when(n > 0, col(ValuesSumSqd) / n - mean * mean)
      codeMetadata
        .withColumn("values/mean", mean)
        .withColumn("values/std", sqrt(greatest(variance, lit(0.0))))
    }
}
