package graft.pipeline

import graft.functions.Portable.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the standard
  * way to combine rankings from incomparable scorers (BM25 + embedding
  * similarity + recency prior) without calibrating scores against each
  * other: each list contributes 1/(k + rank) and the fused score is the
  * sum, so a document needs only to rank WELL somewhere, not to win a
  * score-scale fight. k (default 60, the paper's constant) damps the
  * head so one list's #1 cannot drown broad agreement.
  *
  * Shape: each input is a (query, doc, rank) frame — top-k sized, i.e.
  * queries×k rows, NEVER corpus-sized. The fusion is an n-way full
  * outer join on (query, doc) over those small frames followed by one
  * window rank per query; at 100 TB the expensive part is producing
  * the input rankings (each already bounded by its own top-k), not
  * this join. Deterministic: fused scores are r6-rounded before the
  * rank (sums of 1/(k+r) sit on no representable boundary an engine
  * could disagree on, but the discipline is free) with a doc-id tie
  * break.
  */
object Fusion {

  /** Fuse (query_id, doc_id, rank) frames: (query_id, doc_id, rrf,
    * rank) for the top `topK` per query. Documents absent from a list
    * simply contribute nothing for it (the RRF convention).
    */
  def reciprocalRankFusion(
      rankings: Seq[DataFrame],
      k: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1, s"rrf constant k must be >= 1, got $k")
    val contribs = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("doc_id"),
        (lit(1.0) / (lit(k).cast("double") + col("rank").cast("double"))).as(s"__c$i"))
    }
    val joined = contribs.reduce((a, b) => a.join(b, Seq("query_id", "doc_id"), "full_outer"))
    // fixed left-to-right addition order over the list index: portable
    val rrf = r6(
      (0 until rankings.size).map(i => coalesce(col(s"__c$i"), lit(0.0))).reduce(_ + _))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
    joined
      .withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rrf"), col("rank"))
  }
}
