package graft.operators

import graft.functions.Portable
import graft.meds.Meds
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Code-metadata aggregation: group MEDS measurements by code (plus any
  * modifier columns) and collect distribution statistics.
  *
  * Reference: src/MEDS_transforms/aggregate_code_metadata.py:104-116
  * defines nine aggregations as (per-shard mapper, cross-shard reducer)
  * pairs, and so does [[table]]. [[aggregate]] runs the mappers over
  * level-1 groups (code, modifiers and, when a patient count is asked
  * for, the patient) and folds them with the reducers per (code,
  * modifiers); [[mergePartials]] folds other runs' outputs with the same
  * reducers. A patient count is thus a sum of per-patient flags, not a
  * `count(DISTINCT)`, whose rewrite plans an `Expand` numbered in
  * expression-id hash order.
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
  private def present(c: Column): Column = when(valPresent, c)
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

  /** One aggregation: `mapper` aggregates a level-1 group, `reducer`
    * folds a column of partials; `perPatient` mappers need the patient in
    * the level-1 key.
    */
  private final case class Agg(name: String, mapper: Column, reducer: Column => Column,
      perPatient: Boolean = false)

  /** 1 for a level-1 group of a (non-null) patient with a row where `p` holds. */
  private def patientIf(p: Column): Column =
    max(when(col(Meds.PatientId).isNotNull && p, 1).otherwise(0))
  private def countSum(c: Column): Column = sum(c).cast("long")

  /** All supported aggregations, in output order, keyed by their reference
    * names (aggregate_code_metadata.py:65-73). Sums stay DECIMAL(38,6)
    * between the levels; a double partial re-casts to the same decimal.
    */
  private val table: Seq[Agg] = Seq(
    Agg(CodeNPatients, patientIf(lit(true)), countSum, perPatient = true),
    Agg(CodeNOccurrences, count(lit(1)), countSum),
    Agg(ValuesNPatients, patientIf(valPresent), countSum, perPatient = true),
    Agg(ValuesNOccurrences, count(present(lit(1))), countSum),
    Agg(ValuesNInts, count(when(valPresent && isInt, lit(1))), countSum),
    Agg(ValuesSum, sum(present(dec(v))), Portable.dsum0),
    Agg(ValuesSumSqd, sum(present(dec(v * v))), Portable.dsum0),
    Agg(ValuesMin, min(present(v)), min(_)),
    Agg(ValuesMax, max(present(v)), max(_)))

  val aggregationNames: Seq[String] = table.map(_.name)

  /** The aggregations [[withMeanStd]] derives mean and std from. */
  val meanStdAggregations: Seq[String] = Seq(ValuesNOccurrences, ValuesSum, ValuesSumSqd)

  /** Fold `partials` per `keys` with the reducers of `aggs`. */
  private def reduce(partials: DataFrame, keys: Seq[Column], aggs: Seq[Agg]): DataFrame = {
    val reduced = aggs.map(a => a.reducer(col(a.name)).as(a.name))
    partials.groupBy(keys: _*).agg(reduced.head, reduced.tail: _*)
  }

  /** Aggregate `df` by code (+ modifiers). Ask only for the aggregations
    * you read: a patient count puts the patient into the level-1 key, and
    * Catalyst can prune an unread aggregation but not a grouping key.
    *
    * @param summarizeOverAllCodes when true, also emit a single summary row
    *   aggregating across ALL codes, with null group keys — the
    *   `do_summarize_over_all_codes` behavior
    *   (aggregate_code_metadata.py:364-374). Level 1 adds the grouping set
    *   without code and modifiers, so per-code and grand-total rows come
    *   from ONE scan and the total counts each patient once; its grouping
    *   id stays in the level-2 key, apart from a real null code.
    */
  def aggregate(
      df: DataFrame,
      aggs: Seq[String] = aggregationNames,
      codeModifiers: Seq[String] = Nil,
      summarizeOverAllCodes: Boolean = false
  ): DataFrame = {
    val sel = table.filter(a => aggs.contains(a.name))
    require(sel.nonEmpty, s"No valid aggregations among $aggs")
    val keys = (Meds.Code +: codeModifiers).map(col)
    val patient = if (sel.exists(_.perPatient)) Seq(col(Meds.PatientId)) else Nil
    val level1 = patient ++ keys
    val mapped = sel.map(a => a.mapper.as(a.name))
    if (!summarizeOverAllCodes) reduce(df.groupBy(level1: _*).agg(mapped.head, mapped.tail: _*), keys, sel)
    else reduce(df.groupingSets(Seq(level1, patient), level1: _*)
      .agg(grouping_id().as("__gid"), mapped: _*), keys :+ col("__gid"), sel).drop("__gid")
  }

  /** Cross-shard REDUCE over pre-aggregated code-metadata partials — the
    * reference's explicit reducer stage, with the reducers [[aggregate]]
    * folds its own level-1 groups with. It matters operationally:
    * INCREMENTAL ingest (merge yesterday's metadata with today's new shard
    * without rescanning history) and federated aggregation (per-site
    * partials).
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
    val known = merged.columns.toSeq.flatMap(n => table.find(_.name == n))
    require(known.nonEmpty, "partials carry none of the known aggregation columns")
    reduce(merged, (Meds.Code +: codeModifiers).map(col), known)
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
