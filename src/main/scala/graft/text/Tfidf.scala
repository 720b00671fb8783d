package graft.text

import graft.functions.Portable.{dsum, r6}
import graft.plans.Materialize.PinOps
import graft.text.TextFunctions.wordTokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF term scoring over a document corpus.
  *
  * Shuffle budget at corpus scale: one groupBy (doc, term) for term
  * frequencies, one groupBy (term) for document frequencies (vocabulary-
  * sized output), one equi-join on term to attach idf. The corpus size N
  * rides along as a broadcast single-row frame — no driver-side count
  * action, the whole thing stays one lazy plan.
  */
object Tfidf {

  /** Per-(doc, term) frequency table: (id, term, tf). */
  def termFrequencies(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("id"), explode(wordTokens(col(textCol))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))

  /** (id, term, tf, tfidf) with the smooth idf variant
    * `idf = ln((N + 1) / (df + 1)) + 1` (df = #docs containing the term),
    * which never divides by zero and keeps corpus-wide terms at weight ~1.
    *
    * df comes from a count window PARTITIONED BY term over the aggregated
    * tf table — NOT a second aggregation from the raw corpus: referencing
    * the tf subtree twice would tokenize and shuffle the whole corpus
    * twice (column pruning makes the two subtrees differ, so the exchange
    * is not reused). The window shuffles the (doc, term)-sized tf table
    * once on term, which the join it replaces would have done anyway. N
    * is a metadata-cheap count scan (no tokenization) broadcast as one
    * row.
    */
  def tfidf(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(n))
      .select(
        col("id"),
        col("term"),
        col("tf"),
        (col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1)).as("tfidf")
      )
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram distribution — the cheap perplexity-style quality signal
    * (very low scores = gibberish / OCR noise / wrong-language text;
    * CCNet-style filtering thresholds on exactly this).
    *
    * Same shuffle shape as [[tfidf]]: one (doc, term) aggregation, term
    * totals via a term-partitioned window (no second corpus pass), corpus
    * token total as a broadcast row. score = Σ_t tf_t·ln(ct_t/N) / Σ_t tf_t.
    */
  /** Per-document mean bigram CONDITIONAL log-probability:
    * mean over bigrams of ln(count(w₁w₂) / count(w₁·)) where the
    * denominator is w₁'s count as a bigram PREFIX — so no corpus-total
    * scalar is needed and the whole thing is one pass over the bigram
    * table plus two partitioned count windows. Sharper than the unigram
    * score at catching shuffled/templated text (tokens common, but
    * transitions improbable).
    */
  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = col("__toks")
    val bigramStructs = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2), i =>
        struct(element_at(toks, i + 1).as("prefix"),
          concat_ws(" ", slice(toks, i + 1, lit(2))).as("bg"))))
      .otherwise(array().cast("array<struct<prefix:string,bg:string>>"))
    // Both corpus totals ride ONE exchange: hash-partitioning by prefix
    // already co-locates every (prefix, bg) group (bg starts with its
    // prefix), so Spark satisfies the (prefix, bg) window's clustering
    // from the prefix partitioning — two WindowExecs, one shuffle, where
    // partitioning the windows by bg and prefix separately would shuffle
    // the bigram frame twice.
    docs
      .select(col(idCol).as("id"), wordTokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(bigramStructs).as("b"))
      .groupBy(col("id"), col("b.bg").as("bg"))
      .agg(first(col("b.prefix")).as("prefix"), count(lit(1)).as("tf"))
      .withColumn("ct_bg", sum("tf").over(Window.partitionBy("prefix", "bg")))
      .withColumn("ct_prefix", sum("tf").over(Window.partitionBy("prefix")))
      .groupBy("id")
      .agg((sum(col("tf") * log(col("ct_bg").cast("double") / col("ct_prefix"))) / sum("tf"))
        .as("mean_log_prob"))
  }

  def unigramLogProb(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
      .withColumn("ct", sum("tf").over(Window.partitionBy("term")))
    // ln(ct/N) separates into ln(ct) − ln(N): fold the per-term part in ONE
    // pass over tf, lazily checkpoint the doc-sized stats so the scalar
    // total doesn't re-evaluate the corpus pipeline, subtract ln(N) at the end
    val docStats = tf
      .groupBy("id")
      .agg(sum(col("tf") * log(col("ct").cast("double"))).as("__a"), sum("tf").as("__t"))
      .pin(false)
    val total = docStats.agg(sum("__t").as("n_tokens"))
    docStats
      .crossJoin(broadcast(total))
      .select(col("id"),
        (col("__a") / col("__t") - log(col("n_tokens").cast("double"))).as("mean_log_prob"))
  }

  /** CCNet-style LM quality bucketing: per group (language), rank docs
    * by their corpus-LM score ([[unigramLogProb]], higher = more
    * natural) and cut the ranking into `nBuckets` equal tiles — bucket 1
    * is the "head" (keep for pretraining), the last is the "tail"
    * (downweight or drop). THE standard perplexity-tercile recipe from
    * CCNet/RedPajama, per-language so a low-resource language is never
    * graded against English fluency.
    *
    * Output is the bucket SUMMARY frame (group, bucket, n_docs,
    * mean_lp, min_lp, max_lp) — group×nBuckets-sized; callers wanting
    * per-doc assignments re-join on the cut points. The ntile window
    * sorts each group's doc-sized score frame (one exchange on the
    * group; the same global-per-group allowance as the vocabulary
    * ranks); score terms are r6'd then DECIMAL-summed in the bucket
    * means. Docs with no tokens have no score and are absent (they are
    * a quality-FILTER concern, not an LM-ranking one).
    */
  def lmQualityBuckets(
      docs: DataFrame,
      groupCol: String,
      nBuckets: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val scores = unigramLogProb(docs, idCol, textCol)
    val withGroup = docs
      .select(col(idCol).as("id"), col(groupCol).as("group"))
      .join(scores, "id")
    val w = Window.partitionBy(col("group"))
      .orderBy(col("mean_log_prob").desc, col("id"))
    withGroup
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .groupBy("group", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        (dsum(r6(col("mean_log_prob"))) / count(lit(1)).cast("double")).as("mean_lp"),
        min(col("mean_log_prob")).as("min_lp"),
        max(col("mean_log_prob")).as("max_lp"))
  }
}
