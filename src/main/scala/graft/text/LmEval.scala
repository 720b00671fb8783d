package graft.text

import graft.functions.Portable.{dsum, r6}
import graft.text.TextFunctions.md5Hash32
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Held-out perplexity of an add-k-smoothed unigram LM — the honest
  * version of the in-sample LM quality score (q_unigram_lm trains and
  * scores on the same corpus, which rewards memorization): fit on a
  * deterministic train split, evaluate negative log-likelihood per
  * token on the held-out split, report perplexity. The number that
  * decides whether an LM-based quality filter has actually learned the
  * corpus distribution or just its own training slice.
  *
  * Smoothing: p(w) = (c_w + k)/(N + k·(V+1)) with V = train vocabulary
  * size and one extra slot for the unseen event — every held-out OOV
  * token scores the k/(N + k·(V+1)) floor instead of −∞, and the model
  * is a proper distribution over V+1 outcomes. Token NLLs are
  * r6-pinned before DECIMAL sums, so avg_nll (and ppl = e^{avg_nll})
  * is reduction-order- and engine-independent.
  *
  * Spark shape: one pass per split (train → vocab-sized count frame;
  * test tokens join it broadcast-left), one-row model constants
  * (N, V) broadcast into the scoring pass. Output ONE row:
  * (n_train_tokens, vocab_size, n_test_tokens, n_oov, avg_nll, ppl).
  */
object LmEval {

  def heldoutUnigramPerplexity(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      smoothing: Double = 1.0,
      trainPct: Int = 70,
      seed: String = "lm"): DataFrame = {
    require(smoothing > 0, s"add-k smoothing needs k > 0, got $smoothing")
    require(trainPct > 0 && trainPct < 100, s"trainPct must be in (0,100), got $trainPct")
    val h = pmod(md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))), lit(100))
    val toks = docs
      .select((h < trainPct).as("__train"),
        explode(TextFunctions.wordTokens(col(textCol))).as("__w"))
    val counts = toks.filter(col("__train"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val consts = counts.agg(
      coalesce(sum(col("__c")), lit(0L)).as("__N"),
      count(lit(1)).as("__V"))
    val denom = col("__N").cast("double") +
      lit(smoothing) * (col("__V") + lit(1L)).cast("double")
    val nll = r6(-log((coalesce(col("__c"), lit(0L)).cast("double") + lit(smoothing)) / denom))
    toks.filter(!col("__train"))
      .join(broadcast(counts), Seq("__w"), "left")
      .crossJoin(broadcast(consts)) // one-row model constants: lint-exempt
      .agg(
        first(col("__N")).as("n_train_tokens"),
        first(col("__V")).as("vocab_size"),
        count(lit(1)).as("n_test_tokens"),
        count(when(col("__c").isNull, lit(1))).as("n_oov"),
        r6(coalesce(dsum(nll), lit(0.0)) / count(lit(1)).cast("double")).as("avg_nll"))
      .withColumn("ppl", r6(exp(col("avg_nll"))))
  }
}
