package graft.operators

import graft.meds.Meds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Normalization: z-score numeric values per code and replace string codes
  * with integral vocabulary indices.
  *
  * Reference: src/MEDS_transforms/transforms/normalization.py:13-223.
  */
object Normalize {

  /** Inner-join semantics: rows whose (code, modifiers) are absent from
    * `codeMetadata` are DROPPED (normalization.py:42-45). Output carries
    * exactly (patient_id, time, code=vocab_index, numeric_value=z-score);
    * modifier columns are consumed by the join and discarded.
    *
    * `codeMetadata` must have `code/vocab_index` and either
    * (`values/mean`, `values/std`) or the sum/sum_sqd/n_occurrences triple.
    * Vocabulary-sized → broadcast join, no fact-side shuffle.
    */
  def normalize(
      df: DataFrame,
      codeMetadata: DataFrame,
      codeModifiers: Seq[String] = Nil
  ): DataFrame = {
    val joinCols = Meds.Code +: codeModifiers
    val meta = CodeMetadata.withMeanStd(codeMetadata).select(
      (joinCols.map(col) :+ col("code/vocab_index") :+ col("values/mean") :+ col("values/std")): _*
    )
    df.join(broadcast(meta), joinCols, "inner")
      .select(
        col(Meds.PatientId),
        col(Meds.Time),
        col("code/vocab_index").as(Meds.Code),
        ((col(Meds.NumericValue) - col("values/mean")) / col("values/std"))
          .as(Meds.NumericValue)
      )
  }
}
