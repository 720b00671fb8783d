package graft.text

import graft.functions.Portable.{dsum, r6}
import graft.text.TextFunctions.wordTokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 keyword relevance over a document corpus — the ranking half of a
  * keyword-search / retrieval pass (e.g. mining training documents that
  * match a topic query).
  *
  * Same shuffle shape as [[Tfidf]]: a (doc, term) aggregation, a
  * vocabulary-sized (term, df) aggregation, equi-joins to attach stats,
  * and the corpus-wide scalars (N, avgdl) riding a broadcast single-row
  * frame. Restricting to the query's terms happens BEFORE the first
  * aggregation, so the whole pipeline only ever shuffles rows containing
  * query terms.
  */
object Bm25 {

  /** Per-document BM25 scores for a bag of query terms:
    * `sum_t idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))` with the
    * Lucene-style non-negative idf `ln(1 + (N - df + 0.5)/(df + 0.5))`.
    * Documents matching no query term are absent (score 0).
    */
  def score(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val dl = docs.select(
      col(idCol).as("id"),
      size(wordTokens(col(textCol))).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    // df via a term-partitioned window over the aggregated tf table — a
    // second aggregation from the raw corpus would re-tokenize and
    // re-shuffle everything (see the same note in [[Tfidf.tfidf]])
    val tf = docs
      .select(col(idCol).as("id"), explode(wordTokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("term")))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm =
      col("tf") / (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    tf
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .select(col("id"), (idf * tfNorm).as("__s"))
      .groupBy("id")
      .agg(sum("__s").as("bm25"))
  }

  /** Top-`n` documents for the query, ranked by BM25 descending (ties by
    * ascending id). orderBy+limit → TakeOrderedAndProject, no global sort.
    */
  def topN(
      docs: DataFrame,
      queryTerms: Seq[String],
      n: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    score(docs, queryTerms, k1, b, idCol, textCol)
      .orderBy(col("bm25").desc, col("id").asc)
      .limit(n)

  /** Batch retrieval: top-`k` documents for EACH of many queries in one
    * corpus pass — the shape of RAG-index evaluation or topic-targeted
    * data mining, where thousands of probe queries hit the same corpus.
    *
    * One (doc, term) aggregation covers every query: the tf table is
    * filtered to the UNION of all query terms before its groupBy, the
    * tiny (query, term) frame broadcasts onto it, and per-(query, doc)
    * scores aggregate from there. Per-query ranking is a window over
    * frames already partitioned by query — corpus rows not matching any
    * query's terms never shuffle at all.
    *
    * Ranking uses the r6-rounded score (ties by ascending doc id): a
    * 1-ulp libm difference in `ln` must not reorder a result list across
    * engines (same convention as Curation.selectTargetLike).
    */
  def retrieveTopK(
      docs: DataFrame,
      queries: Seq[(String, Seq[String])],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty), "each query needs terms")
    require(k > 0, s"k must be positive, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val dl = docs.select(
      col(idCol).as("id"),
      size(wordTokens(col(textCol))).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = docs
      .select(col(idCol).as("id"), explode(wordTokens(col(textCol))).as("term"))
      .filter(col("term").isin(allTerms: _*))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("term")))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm =
      col("tf") / (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(qt), "term")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("id"), (idf * tfNorm).as("__s"))
      .groupBy("query_id", "id")
      .agg(r6(sum("__s")).as("bm25"))
    graft.pipeline.Selection
      .topKPerGroup(scored, Seq("query_id"), "bm25", k, tieBreakCol = "id")
  }

  /** Minimum token span between occurrences of two DIFFERENT query
    * terms per document — the proximity evidence bag-of-words BM25
    * throws away ("new" and "york" adjacent vs 500 tokens apart).
    * Min-distance pairs are always CONSECUTIVE in position order once
    * same-term runs collapse (any closer cross-term pair would contain
    * one), so one doc-partitioned lag window over the filtered
    * positions suffices — no position self-join. Documents containing
    * fewer than two distinct query terms are absent.
    */
  def minPairSpan(
      docs: DataFrame,
      queryTerms: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(queryTerms.nonEmpty, "minPairSpan needs query terms")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    docs
      .select(col(idCol).as("id"),
        posexplode(wordTokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isin(queryTerms: _*))
      .withColumn("__pt", lag(col("term"), 1).over(w))
      .withColumn("__pp", lag(col("pos"), 1).over(w))
      .filter(col("__pt").isNotNull && col("__pt") =!= col("term"))
      .groupBy(col("id"))
      .agg(min(col("pos") - col("__pp")).cast("long").as("min_span"))
  }

  /** Pseudo-relevance feedback expansion terms (RM1 with uniform doc
    * prior, the core of RM3): take the top `fbDocs` documents by
    * r6-rounded BM25 (rounded ranking so a 1-ulp ln() difference cannot
    * flip the feedback set across engines — the retrieveTopK
    * convention), weight every term in them by Σ_docs tf/|doc|, drop
    * the original query terms, return the top `fbTerms` — the terms a
    * retrieval pipeline ADDS to the query. Both rankings are
    * TakeOrdered (limit k), never a global sort; the feedback-doc frame
    * is fbDocs-sized and broadcasts onto its own token scan.
    *
    * Output: (term, n_docs, weight) — weight r6 + DECIMAL-summed.
    */
  def expansionTerms(
      docs: DataFrame,
      queryTerms: Seq[String],
      fbDocs: Int = 10,
      fbTerms: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(fbDocs > 0 && fbTerms > 0, "need positive feedback sizes")
    val top = score(docs, queryTerms, k1, b, idCol, textCol)
      .select(col("id"), r6(col("bm25")).as("__s"))
      .orderBy(col("__s").desc, col("id").asc)
      .limit(fbDocs)
    val fb = docs.join(broadcast(top), docs(idCol) === top("id"), "left_semi")
    fb
      .select(col(idCol).as("id"), wordTokens(col(textCol)).as("__toks"))
      .select(col("id"), size(col("__toks")).cast("double").as("__dl"),
        explode(col("__toks")).as("term"))
      .filter(!col("term").isin(queryTerms: _*) && col("__dl") > 0)
      .groupBy(col("id"), col("term"), col("__dl"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs"),
        r6(dsum(r6(col("__tf").cast("double") / col("__dl")))).as("weight"))
      .orderBy(col("weight").desc, col("term").asc)
      .limit(fbTerms)
  }

  /** BM25 with a proximity boost: score + lambda/(1 + min_span) when at
    * least two distinct query terms co-occur, plain BM25 otherwise —
    * the classic cheap reranker between bag-of-words and positional
    * indexes. Composes [[score]] and [[minPairSpan]] with one doc-keyed
    * join; both sides are already doc-partitioned aggregates.
    */
  def scoreWithProximity(
      docs: DataFrame,
      queryTerms: Seq[String],
      lambda: Double = 1.0,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    score(docs, queryTerms, k1, b, idCol, textCol)
      .join(minPairSpan(docs, queryTerms, idCol, textCol), Seq("id"), "left")
      .select(col("id"), r6(col("bm25")).as("bm25"), col("min_span"),
        r6(when(col("min_span").isNotNull,
          col("bm25") + lit(lambda) / (lit(1.0) + col("min_span").cast("double")))
          .otherwise(col("bm25"))).as("bm25_prox"))
  }
}
