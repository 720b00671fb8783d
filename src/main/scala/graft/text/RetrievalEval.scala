package graft.text

import graft.functions.Portable.{dsum, dsum0, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation — MRR, recall@k, nDCG@k per query for a
  * ranking against a relevance predicate. The measurement half of the
  * retrieval stack ([[Bm25]], ANN, [[graft.pipeline.Fusion]]): a
  * retriever you can't score is a retriever you can't tune.
  *
  * Relevance here is binary contains-ALL-query-terms (the exact-match
  * labels you can compute without human judgments — the standard
  * weak-supervision eval for lexical retrievers); the machinery takes
  * any (query_id, doc_id) relevance frame, so judged qrels drop in
  * unchanged.
  *
  * Shape: the ranking is top-k-sized (queries×k) and relevance
  * judgement of RANKED docs is a join of that small frame back to the
  * corpus row-locally; the corpus-wide relevant-count is one
  * conditional aggregate per query over a single scan. Metric sums run
  * over r6-rounded DECIMAL terms (order-free); the ideal-DCG fold runs
  * ascending over a bounded sequence — all engine-portable.
  */
object RetrievalEval {

  private def log2(c: Column): Column = log(c) / log(lit(2.0))

  /** Binary AND-of-terms relevance for `queries` over the corpus:
    * (query_id, id) — one row per (query, relevant doc). One corpus
    * scan; the per-query term checks are row-local array_contains.
    */
  def containsAllRelevance(
      docs: DataFrame,
      queries: Seq[(String, Seq[String])],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    val toks = col("__toks")
    val flags = queries.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        terms.map(t => array_contains(toks, t)).reduce(_ && _).as("rel"))
    }
    docs
      .select(col(idCol).as("id"), TextFunctions.wordTokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(array(flags: _*)).as("q"))
      .filter(col("q.rel"))
      .select(col("q.query_id").as("query_id"), col("id"))
  }

  /** Per-query metrics of `ranking` (query_id, doc_id, rank — rank
    * 1-based, ≤ k) against `relevance` (query_id, id):
    * (query_id, n_relevant, mrr, recall_at_k, ndcg_at_k). Queries with
    * no relevant documents score 0 across the board (not NULL — a
    * retriever finding nothing findable is a 0, not a missing value).
    */
  def evaluate(
      ranking: DataFrame,
      relevance: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // qrels are a SET: judged qrel exports routinely carry duplicate
    // (query_id, id) rows, and without the distinct they would fan out
    // the ranked-doc join and inflate n_relevant, hits, and DCG
    val relDistinct = relevance.select(col("query_id"), col("id")).distinct()
    val rel = relDistinct.select(col("query_id"), col("id").as("doc_id"), lit(true).as("__rel"))
    val nRel = relDistinct.groupBy("query_id").agg(count(lit(1)).as("n_relevant"))
    val judged = ranking
      .join(rel, Seq("query_id", "doc_id"), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(false)))
    // per-rank gain, r6'd then DECIMAL-summed so frame order is free
    val gain = when(col("__rel"),
      r6(lit(1.0) / log2(col("rank").cast("double") + 1.0)))
      .cast("decimal(38,6)")
    val perQuery = judged
      .groupBy("query_id")
      .agg(
        min(when(col("__rel"), col("rank"))).as("__first_rel"),
        count(when(col("__rel"), lit(1))).as("__hits"),
        coalesce(sum(gain), lit(0).cast("decimal(38,6)")).cast("double").as("__dcg"))
    // ideal DCG: ascending fold over the best min(n_relevant, k) ranks
    val idcg = aggregate(
      transform(sequence(lit(1), least(col("n_relevant"), lit(k)).cast("int")),
        i => r6(lit(1.0) / log2(i.cast("double") + 1.0))),
      lit(0.0),
      (acc, x) => acc + x)
    perQuery
      .join(broadcast(nRel), Seq("query_id"), "left")
      .withColumn("n_relevant", coalesce(col("n_relevant"), lit(0L)))
      .withColumn("__idcg", when(col("n_relevant") > 0, idcg).otherwise(lit(0.0)))
      .select(
        col("query_id"),
        col("n_relevant"),
        coalesce(
          when(col("__first_rel").isNotNull,
            lit(1.0) / col("__first_rel").cast("double")), lit(0.0)).as("mrr"),
        when(col("n_relevant") > 0,
          col("__hits").cast("double") / col("n_relevant").cast("double"))
          .otherwise(lit(0.0)).as("recall_at_k"),
        when(col("__idcg") > 0, col("__dcg") / col("__idcg"))
          .otherwise(lit(0.0)).as("ndcg_at_k"))
  }

  /** Graded term-coverage relevance for `queries` over the corpus:
    * (query_id, id, grade) with grade = number of DISTINCT query terms
    * the document contains (1 … |terms|) — the deterministic judged-
    * qrels stand-in ([[containsAllRelevance]] is its all-or-nothing
    * grade = |terms| cut). One corpus scan; per-query term checks are
    * row-local array_contains sums. Docs matching no term are absent
    * (unjudged), matching real qrel exports where only judged pairs
    * appear.
    */
  def gradedTermRelevance(
      docs: DataFrame,
      queries: Seq[(String, Seq[String])],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(queries.forall { case (_, ts) => ts.nonEmpty && ts.distinct == ts },
      "query terms must be non-empty and distinct (grade = matched-term count)")
    val toks = col("__toks")
    val flags = queries.map { case (qid, terms) =>
      struct(lit(qid).as("query_id"),
        terms.map(t => when(array_contains(toks, t), 1L).otherwise(0L))
          .reduce(_ + _).as("grade"))
    }
    docs
      .select(col(idCol).as("id"), TextFunctions.wordTokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(array(flags: _*)).as("q"))
      .filter(col("q.grade") >= 1L)
      .select(col("q.query_id").as("query_id"), col("id"), col("q.grade").as("grade"))
  }

  /** Graded-relevance evaluation — the judged-qrels variant of
    * [[evaluate]]: graded nDCG@k (gain 2^g − 1, the TREC/web-search
    * convention that rewards a highly-relevant hit ~2× a fair one at
    * the same rank) and graded ERR@k (cascade stop-probability
    * R = (2^g − 1)/2^maxGrade, Chapelle et al. 2009 — [[errAtK]] is
    * this at binary grades). Takes any (query_id, id, grade) frame;
    * duplicate judgments collapse to the MAX grade (qrel exports carry
    * dupes; max is the conservative union of assessors).
    *
    * Shapes, all k- or qrels-bounded: DCG/ERR run over the ≤ k ranked
    * rows per query; the cascade continuation Π(1−Rᵢ) is
    * exp(Σ ln(1−Rᵢ)) over a rank-ordered window of those same ≤ k rows
    * (no running-product primitive needed; R < 1 always since
    * g ≤ maxGrade); ideal DCG takes the top-min(n_judged, k) grades via
    * a qrels-side window. Per-term r6 + DECIMAL sums keep both engines
    * hash-identical. Queries with no judged-relevant docs score 0
    * (the [[evaluate]] convention).
    *
    * Output per query: (query_id, n_judged, ndcg_graded_at_k,
    * err_graded_at_k).
    */
  def evaluateGraded(
      ranking: DataFrame,
      qrels: DataFrame,
      k: Int,
      maxGrade: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxGrade >= 1 && maxGrade <= 16,
      s"maxGrade must be in [1, 16], got $maxGrade — 2^g must stay exact")
    // a qrel grade above maxGrade would make the cascade stop-probability
    // R > 1, so log(1 - R) goes NULL and the window sum silently DROPS
    // that term from the continuation — ERR would come out quietly wrong.
    // Fail loudly instead (the module convention; round-11 ADVICE).
    val rel = qrels
      .filter(col("grade").isNotNull && col("grade") >= 1L)
      .select(col("query_id"), col("id"),
        when(col("grade").cast("long") <= maxGrade, col("grade").cast("long"))
          .otherwise(raise_error(concat(
            lit(s"evaluateGraded: qrel grade exceeds maxGrade=$maxGrade: got "),
            col("grade").cast("string")))).as("grade"))
      .groupBy(col("query_id"), col("id"))
      .agg(max(col("grade")).as("grade"))
    val nRel = rel.groupBy("query_id").agg(count(lit(1)).as("n_judged"))
    val judged = ranking
      .filter(col("rank") <= k)
      .join(rel.select(col("query_id"), col("id").as("doc_id"), col("grade")),
        Seq("query_id", "doc_id"), "left")
      .withColumn("grade", coalesce(col("grade"), lit(0L)))
    def gain(g: Column, rank: Column): Column =
      (pow(lit(2.0), g.cast("double")) - 1.0) / log2(rank.cast("double") + 1.0)
    val stopP = (pow(lit(2.0), col("grade").cast("double")) - 1.0) /
      lit(math.pow(2.0, maxGrade))
    val wPrev = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perQuery = judged
      .withColumn("__logc", log(lit(1.0) - stopP))
      .withColumn("__cont", exp(coalesce(sum(col("__logc")).over(wPrev), lit(0.0))))
      .groupBy("query_id")
      .agg(
        dsum0(r6(gain(col("grade"), col("rank")))).as("__dcg"),
        dsum0(r6(stopP / col("rank").cast("double") * col("__cont"))).as("__err"))
    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(col("grade").desc, col("id").asc)
    val ideal = rel
      .withColumn("__ir", row_number().over(wIdeal))
      .filter(col("__ir") <= k)
      .groupBy("query_id")
      .agg(dsum0(r6(gain(col("grade"), col("__ir")))).as("__idcg"))
    ranking.select(col("query_id")).distinct()
      .join(perQuery, Seq("query_id"), "left")
      .join(broadcast(nRel), Seq("query_id"), "left")
      .join(broadcast(ideal), Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_judged"), lit(0L)).as("n_judged"),
        r6(when(col("__idcg") > 0, col("__dcg") / col("__idcg"))
          .otherwise(lit(0.0))).as("ndcg_graded_at_k"),
        r6(coalesce(col("__err"), lit(0.0))).as("err_graded_at_k"))
  }

  /** Expected Reciprocal Rank (Chapelle et al. 2009) — the cascade-model
    * metric [[evaluate]]'s nDCG is blind to: a user scans down, stops at
    * the first satisfying result with probability R, so a SECOND
    * relevant hit after a first is worth little. With binary relevance
    * R = 1/2, the j-th relevant doc at rank r contributes (1/2)ʲ / r:
    * ERR = Σ (Rᵣ/r)·Π_{i<r}(1 − Rᵢ) collapses to a per-relevant-row
    * power term — no running product, just the count of relevant docs
    * at-or-before each rank (one window per query over ≤ k rows, the
    * bounded ranking frame). Queries in `ranking` with no relevant docs
    * score 0, matching [[evaluate]]'s convention.
    *
    * Output per query: (query_id, n_relevant, err_at_k).
    */
  def errAtK(ranking: DataFrame, relevance: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val relDistinct = relevance.select(col("query_id"), col("id")).distinct()
    val nRel = relDistinct.groupBy("query_id").agg(count(lit(1)).as("n_relevant"))
    val judged = ranking
      .filter(col("rank") <= k)
      .join(relDistinct.select(col("query_id"), col("id").as("doc_id"),
        lit(true).as("__rel")), Seq("query_id", "doc_id"), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(false)))
    val wq = Window
      .partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQuery = judged
      .withColumn("__j", count(when(col("__rel"), lit(1))).over(wq))
      .filter(col("__rel"))
      .groupBy("query_id")
      .agg(dsum0(r6(
          pow(lit(0.5), col("__j").cast("double")) / col("rank").cast("double"))).as("__err"))
    ranking.select(col("query_id")).distinct()
      .join(perQuery, Seq("query_id"), "left")
      .join(broadcast(nRel), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_relevant"), lit(0L)).as("n_relevant"),
        r6(coalesce(col("__err"), lit(0.0))).as("err_at_k"))
  }

  /** Rank-biased overlap (truncated RBO_min, Webber et al. 2010)
    * between two per-query top-k rankings:
    * RBO = ((1−p)/p)·Σ_{d=1..k} p^d·X_d/d, where X_d is the overlap of
    * the two depth-d prefixes — THE ranking-similarity measure for
    * search/retrieval A/B comparisons (Kendall/Spearman need identical
    * item sets; RBO is top-weighted and handles disjoint tails).
    *
    * Scale shape: rankings arrive pre-truncated (rank ≤ k enforced
    * here), so the join, the (query × depth) grid (literal-sequence
    * explode — the psi discipline) and the cumulative-overlap window
    * are all k-bounded per query. The geometric weights p^d are
    * computed ONCE driver-side and ride the plan as an array literal —
    * engine-portable to the bit. Overlap counts are exact integers;
    * per-depth terms are r6'd then DECIMAL-summed.
    *
    * Output: (queryCol, n_a, n_b, overlap_k, rbo).
    */
  def rbo(
      a: DataFrame,
      b: DataFrame,
      queryCol: String,
      idCol: String,
      rankCol: String,
      k: Int,
      p: Double = 0.9): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    def side(df: DataFrame, rn: String): DataFrame = df
      .filter(col(rankCol) <= k)
      .select(col(queryCol).as("q"), col(idCol).as("id"), col(rankCol).cast("long").as(rn))
    val sa = side(a, "ra")
    val sb = side(b, "rb")
    val common = sa.join(sb, Seq("q", "id"))
      .groupBy(col("q"), greatest(col("ra"), col("rb")).as("m"))
      .agg(count(lit(1)).as("c"))
    // coalesce to 0 after the full join: a query present in only one
    // ranking must report (n, 0), not (n, NULL) — this is also what the
    // DuckDB oracle computes, so leaving the NULL would be a latent
    // cross-engine divergence waiting for one-sided data
    val sizes = sa.groupBy(col("q")).agg(count(lit(1)).as("n_a"))
      .join(sb.groupBy(col("q")).agg(count(lit(1)).as("n_b")), Seq("q"), "full")
      .select(col("q"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val grid = sizes.select(col("q"))
      .select(col("q"), explode(sequence(lit(1L), lit(k.toLong))).as("d"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val weights = typedlit((1 to k).map(d => math.pow(p, d)))
    val terms = grid
      .join(common.withColumnRenamed("m", "d"), Seq("q", "d"), "left")
      .withColumn("__x", sum(coalesce(col("c"), lit(0L))).over(wCum))
      .withColumn("__t",
        element_at(weights, col("d").cast("int")) *
          col("__x").cast("double") / col("d").cast("double"))
    terms
      .groupBy(col("q"))
      .agg(
        max(when(col("d") === k, col("__x"))).as("__xk"),
        dsum(r6(col("__t"))).as("__s"))
      .join(sizes, "q")
      .select(col("q").as(queryCol), col("n_a"), col("n_b"),
        (col("__xk").cast("double") / k.toDouble).as("overlap_k"),
        ((lit(1.0) - p) / p * col("__s")).as("rbo"))
  }
}
