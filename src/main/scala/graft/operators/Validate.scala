package graft.operators

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations (Deequ/Great-Expectations
  * shape): each rule is a per-row predicate that must HOLD; the checker
  * reports how often it doesn't. This is the acceptance gate a 100 TB
  * ingest runs before publishing a snapshot — e.g. MEDS contract checks
  * (patient_id never null, numeric_value finite, codes in vocabulary).
  *
  * All rules evaluate in ONE aggregation over one scan (k rules cost
  * one pass, not k — same shape as [[Profile]]), partial-aggregated
  * map-side, then unpivot to one row per rule. `failingRows` returns
  * the offending rows themselves (predicate-pushdown-friendly disjunct
  * filter) for quarantine sinks.
  */
object Validate {

  /** A named expectation; `holds` is the per-row condition that should
    * be true. Rows where `holds` is false OR NULL count as violations
    * (a rule that cannot be evaluated is not satisfied).
    */
  final case class Expectation(name: String, holds: Column)

  /** One row per rule: (rule, n_rows, n_violations, violation_frac
    * rounded to 6). Rule order in the output follows the input list;
    * callers sort as needed.
    */
  def violations(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "no expectations given")
    require(rules.map(_.name).distinct.size == rules.size, "duplicate rule names")
    val aggs = rules.map(r =>
      count(when(!coalesce(r.holds, lit(false)), lit(1))).as(s"__v_${r.name}")
    ) :+ count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perRule = array(rules.map { r =>
      struct(
        lit(r.name).as("rule"),
        col("__n").as("n_rows"),
        col(s"__v_${r.name}").as("n_violations"),
        r6(col(s"__v_${r.name}") / greatest(col("__n"), lit(1L)))
          .as("violation_frac"))
    }: _*)
    row.select(explode(perRule).as("p")).select("p.*")
  }

  /** Rows violating ANY rule, tagged with the sorted comma-joined list
    * of failed rule names — the quarantine feed. One scan, plain
    * filter: the disjunction pushes into the parquet reader where the
    * predicates allow.
    */
  def failingRows(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "no expectations given")
    val failed = array_sort(
      filter(
        array(rules.map(r =>
          when(!coalesce(r.holds, lit(false)), lit(r.name))): _*),
        _.isNotNull))
    df.withColumn("failed_rules", failed)
      .filter(size(col("failed_rules")) > 0)
      .withColumn("failed_rules", array_join(col("failed_rules"), ","))
  }

  /** Per-group order-free content checksum: Σ over rows of the first
    * 15 md5 hex digits (60 bits) of the `|`-joined column values, summed
    * exactly through DECIMAL(38,0) — "did ANYTHING in this table/
    * partition change" as one number per group, comparable across
    * engines, snapshots and row orders (addition commutes, so shard
    * order, partitioning and merge order cannot move it — the property
    * a row-count or a head-sample check does not have). Values are
    * delimiter-escaped before the `|` join (`\` → `\\`, `|` → `\|`) and
    * NULL encodes as the un-escapable sentinel `\N` — without the
    * escaping, ('a|b','c') vs ('a','b|c'), or a literal " null" vs
    * NULL, would hash identically: exactly the class of change this
    * checksum exists to detect. The change-
    * detection companion to [[graft.operators.Diff]]: Diff says WHICH
    * rows changed (a full join), this says WHETHER, in one fact pass.
    *
    * Output: (by..., n_rows, checksum) — checksum as its decimal string.
    */
  def contentChecksum(df: DataFrame, by: Seq[String], cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "contentChecksum needs at least one column")
    val byCols = by.map(col)
    def enc(c: String): Column = {
      val s = col(c).cast("string")
      when(s.isNull, lit("\\N"))
        .otherwise(replace(replace(s, lit("\\"), lit("\\\\")), lit("|"), lit("\\|")))
    }
    val joined = concat_ws("|", cols.map(enc): _*)
    val h = conv(substring(md5(joined), 1, 15), 16, 10).cast("decimal(38,0)")
    df.groupBy(byCols: _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(h).cast("decimal(38,0)").cast("string").as("checksum"))
  }
}
