package graft.pipeline

import graft.functions.Portable.dsum0
import graft.plans.Materialize.PinOps
import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-source corpus data card — the one-frame report a dataset release
  * ships with: volume, quality, language concentration, and exact-dup
  * contamination per source, composed from the repo's own signals
  * (quality score #29, language ID #28, fingerprint dedup #21,
  * entropy #89) exactly the way `q_curation`/`q_meds_pipeline` compose
  * their stages.
  *
  * Shape: ONE corpus projection computes every per-doc signal (score,
  * language, fingerprint — all pure column expressions fused into the
  * scan) and is pinned; the three consumers — per-source stats, the
  * (source, lang) entropy cells, the corpus-wide dup-victim window —
  * read the pinned frame instead of rescanning text. Everything after
  * is source- or (source × lang)-sized and broadcast-joined.
  */
object CorpusReport {

  /** (source, n_docs, mean_chars, mean_quality, lang_entropy,
    * dup_rate): `lang_entropy` is the natural-log entropy of the
    * per-doc language-ID distribution within the source
    * (0 = monolingual, ln k = uniform over k languages); `dup_rate` is
    * the fraction of the source's docs that are exact-dup victims
    * CORPUS-wide (first occurrence anywhere keeps, even in another
    * source).
    */
  def report(
      docs: DataFrame,
      sourceCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs
      .select(
        col(sourceCol).as("source"),
        col(idCol).as("id"),
        length(col(textCol)).cast("long").as("n_chars"),
        TextFunctions.qualityScore(col(textCol)).as("q"),
        TextFunctions.langId(col(textCol)).as("lang"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
      .pin(false)
    val stats = base
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        (dsum0(col("n_chars")) / count(lit(1)).cast("double")).as("mean_chars"),
        (dsum0(col("q")) / count(lit(1)).cast("double")).as("mean_quality"))
    // H = ln N − (Σ n·ln n)/N over the language cells, DECIMAL-summed
    // so reduction order can't wiggle low bits (the word-entropy form)
    val entropy = base
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        sum(col("c")).as("__n"),
        sum((col("c").cast("double") * log(col("c").cast("double")))
          .cast("decimal(38,12)")).as("__nlogn"))
      .select(col("source"),
        (log(col("__n").cast("double")) -
          col("__nlogn").cast("double") / col("__n").cast("double")).as("lang_entropy"))
    val dup = base
      .withColumn("__vict",
        when(col("id") =!= min(col("id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))), lit(1L))
          .otherwise(lit(0L)))
      .groupBy("source")
      .agg((sum(col("__vict")).cast("double") / count(lit(1)).cast("double")).as("dup_rate"))
    stats
      .join(broadcast(entropy), "source")
      .join(broadcast(dup), "source")
  }
}
