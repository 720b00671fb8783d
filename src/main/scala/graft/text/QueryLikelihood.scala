package graft.text

import graft.functions.Portable.{dsum, r6}
import graft.text.TextFunctions.wordTokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query-likelihood retrieval with Dirichlet smoothing (Zhai & Lafferty
  * 2001) — the language-modeling twin of [[Bm25.retrieveTopK]]: ranks
  * documents by ln P(query | doc LM) with the doc LM shrunk toward the
  * collection LM by pseudo-count μ. Where BM25's idf is a heuristic, QL's
  * smoothing term is the probabilistic version of the same signal — the
  * two together are the standard lexical-retrieval ensemble (and disagree
  * exactly where reranking effort should go).
  *
  * score(q, d) = Σ_{t∈q} ln((tf_td + μ·p(t|C)) / (dl_d + μ)), computed in
  * the sum-decomposed form
  * Σ_{t∈q, tf>0} ln(1 + tf_td/(μ·p(t|C))) + |q|·ln(μ/(dl_d + μ))
  * so only MATCHED (doc, term) pairs are ever materialized — the
  * unmatched mass is a closed form of the doc length.
  *
  * Execution shape = [[Bm25.retrieveTopK]]'s: ONE (doc, term) aggregation
  * filtered to the union of all query terms; collection term frequencies
  * re-aggregate from that frame (window per term, never a second corpus
  * pass); the (query, term) frame and collection totals broadcast. Query
  * terms absent from the collection are dropped from |q| (their smoothed
  * probability is 0 — the standard convention), so a typo'd probe term
  * cannot −∞ every document. Per-term lns are r6-pinned then
  * DECIMAL-summed; ranking uses the r6-rounded score with ascending-id
  * ties (the library-wide cross-engine ranking convention).
  */
object QueryLikelihood {

  def retrieveTopK(
      docs: DataFrame,
      queries: Seq[(String, Seq[String])],
      k: Int,
      mu: Double = 1000.0,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty), "each query needs terms")
    require(k > 0, s"k must be positive, got $k")
    require(mu > 0, s"Dirichlet mu must be positive, got $mu")
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val dl = docs.select(
      col(idCol).as("id"),
      size(wordTokens(col(textCol))).cast("double").as("dl"))
    // ONE row: total collection token count (the p(t|C) denominator)
    val coll = docs
      .select(size(wordTokens(col(textCol))).cast("long").as("__l"))
      .agg(sum("__l").cast("double").as("c_tokens"))
    val tf = docs
      .select(col(idCol).as("id"), explode(wordTokens(col(textCol))).as("term"))
      .filter(col("term").isin(allTerms: _*))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("cf",
        sum(col("tf")).over(org.apache.spark.sql.expressions.Window.partitionBy("term")))
    // |q| counts only collection-present terms: join the query frame to
    // the (tiny) per-term cf frame
    val termCf = tf.groupBy("term").agg(first(col("cf")).as("cf"))
    val qlen = qt.join(termCf, "term")
      .groupBy("query_id").agg(count(lit(1)).cast("double").as("qlen"))
    // matched part: ln(1 + tf·C / (μ·cf)) per (query, doc, term)
    val term = log(lit(1.0) +
      col("tf").cast("double") * col("c_tokens") / (lit(mu) * col("cf").cast("double")))
    val matched = tf
      .join(broadcast(qt), "term")
      .crossJoin(broadcast(coll))
      .select(col("query_id"), col("id"), r6(term).as("__t"))
      .groupBy("query_id", "id")
      .agg(dsum(col("__t")).as("__m"))
    val scored = matched
      .join(dl, "id")
      .join(broadcast(qlen), "query_id")
      .select(col("query_id"), col("id"),
        r6(col("__m") + col("qlen") * log(lit(mu) / (col("dl") + lit(mu)))).as("qlm"))
    graft.pipeline.Selection.topKPerGroup(scored, Seq("query_id"), "qlm", k, tieBreakCol = "id")
  }
}
