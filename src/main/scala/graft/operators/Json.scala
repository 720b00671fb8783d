package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema-on-read health for semi-structured string columns — the
  * first question about any `props`-style JSON payload at corpus scale
  * is not "what's in it" but "how often is it parseable, how often is
  * the field there, and is the type what the pipeline assumes". A
  * silent 2% unparseable slice becomes a silent 2% null feature.
  */
object Json {

  /** Typed numeric extraction: `get_json_object` path (e.g. "$.k") cast
    * to double — row-local, codegen'd, NULL on malformed JSON / missing
    * field / non-numeric value alike (the report below splits those).
    */
  def numericField(jsonCol: Column, path: String): Column =
    get_json_object(jsonCol, path).cast("double")

  /** Per-group field-health report for a numeric JSON field: row count,
    * NULL-payload count, parsed-field count, presence rate, and the
    * field's mean/min/max — one aggregate, everything row-local before
    * it. `isnan` guards keep a "NaN" string literal from poisoning the
    * DECIMAL mean. Output per group: (by…, n, n_null_payload,
    * n_field, present_rate, field_mean, field_min, field_max).
    */
  def fieldHealth(
      df: DataFrame,
      byCols: Seq[String],
      jsonCol: String,
      path: String): DataFrame = {
    val f = numericField(col(jsonCol), path)
    val okF = f.isNotNull && !isnan(f)
    val g = df
      .groupBy(byCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        count(when(col(jsonCol).isNull, lit(1))).as("n_null_payload"),
        count(when(okF, lit(1))).as("n_field"),
        dsum(when(okF, r6(f)).otherwise(lit(0.0))).as("__s"),
        min(when(okF, f)).as("__mn"),
        max(when(okF, f)).as("__mx"))
    g.select((byCols.map(col) ++ Seq(
      col("n"), col("n_null_payload"), col("n_field"),
      when(col("n") > 0,
        r6(col("n_field").cast("double") / col("n").cast("double")))
        .as("present_rate"),
      when(col("n_field") > 0, r6(col("__s") / col("n_field").cast("double")))
        .as("field_mean"),
      r6(col("__mn")).as("field_min"),
      r6(col("__mx")).as("field_max"))): _*)
  }
}
