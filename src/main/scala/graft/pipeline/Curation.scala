package graft.pipeline

import graft.functions.Portable.r6
import graft.plans.Materialize.PinOps
import graft.dedup.Dedup
import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composed pass a training-data pipeline
  * runs over raw documents before tokenization. Each stage is one of the
  * library's oracle-tested operators; this module only sequences them in
  * the cost-correct order.
  *
  * Stage order matters at 100 TB: the cheap pure-filter stages (quality,
  * language) run FIRST so the expensive shuffling stages (near-dup
  * candidate joins) see the smallest possible corpus, and sampling runs
  * LAST so dedup decisions are made on the full retained population (a
  * sample-then-dedup order would under-detect duplicates).
  */
object Curation {

  final case class CurationConfig(
      minQuality: Double = 0.5,
      keepLanguages: Set[String] = Set.empty, // empty = keep all
      dedupThreshold: Double = 0.8,
      shingleSize: Int = 5,
      sampleFrac: Double = 1.0,
      sampleSeed: String = "graft",
      clusteredDedup: Boolean = false
  )

  /** Apply quality filter → language filter → near-dup removal →
    * deterministic sample. Returns the surviving rows of `docs`
    * unchanged in schema (plus nothing — all scoring is internal).
    */
  def curate(
      docs: DataFrame,
      config: CurationConfig = CurationConfig(),
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val quality = docs.filter(TextFunctions.qualityScore(col(textCol)) >= config.minQuality)
    val filtered =
      if (config.keepLanguages.isEmpty) quality
      else quality.filter(TextFunctions.langId(col(textCol)).isInCollection(config.keepLanguages))
    // the dedup stage references the filtered corpus from three branches
    // (exact victims, jaccard pairs, the anti-join base); a LAZY local
    // checkpoint materializes the retained subset once at first action so
    // the tokenize-heavy quality/language filters don't run three times
    val langed = filtered.pin(false)
    val deduped =
      if (config.clusteredDedup)
        Dedup.dropNearDuplicatesClustered(langed, config.dedupThreshold, config.shingleSize, idCol, textCol)
      else
        Dedup.dropNearDuplicates(langed, config.dedupThreshold, config.shingleSize, idCol, textCol)
    if (config.sampleFrac >= 1.0) deduped
    else Sampling.deterministicSample(deduped, idCol, config.sampleFrac, config.sampleSeed)
  }

  /** Targeted selection: score the corpus against a target slice (DSIR
    * importance, [[graft.text.Importance.importanceScore]]), keep
    * target-like documents (llr > `minLlr`), then fill a per-source
    * cost budget best-score-first ([[Selection.selectUnderBudget]]) —
    * the "make the mix look like the target, balanced across sources,
    * under a token budget" assembly step, composed as ONE lazy plan.
    *
    * The scores join back to the corpus on the doc id — both sides are
    * doc-keyed, one co-partitioned shuffle join; everything after
    * operates on the filtered survivor frame.
    */
  def selectTargetLike(
      docs: DataFrame,
      targetPred: org.apache.spark.sql.Column,
      minLlr: Double,
      budgetPerSource: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      costCol: String = "n_chars"
  ): DataFrame = {
    // The llr comes out of ln(); filter and budget-window on an r6-rounded
    // value (with the doc-id tiebreak) so a 1-ulp libm difference can't flip
    // a document at the threshold or the budget boundary across engines.
    val scores = graft.text.Importance
      .importanceScore(docs, idCol, textCol, targetPred)
      .withColumnRenamed("id", idCol)
      .withColumn("llr", r6(col("llr")))
      .filter(col("llr") > minLlr)
    Selection.selectUnderBudget(
      docs.join(scores.select(col(idCol), col("llr")), idCol),
      Seq(sourceCol), "llr", costCol, budgetPerSource, idCol)
  }
}
