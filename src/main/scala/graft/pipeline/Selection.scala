package graft.pipeline

import graft.functions.Portable.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quota selection: the "keep the best k documents per group" pass of a
  * training-data pipeline (per-language quality quotas, per-domain caps,
  * per-source balancing).
  */
object Selection {

  /** Top `k` rows of each group by `scoreCol` (descending), ties broken by
    * ascending `tieBreakCol` for determinism. The window is PARTITIONED by
    * the group — one shuffle on the group key, each group ranked
    * independently in parallel; nothing global, so group cardinality and
    * corpus size scale freely. (Contrast with a global top-k, which uses
    * [[graft.functions.TopKByScore]]'s bounded heap instead.)
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      k: Int,
      tieBreakCol: String
  ): DataFrame = {
    require(groupCols.nonEmpty, "topKPerGroup needs at least one group column")
    require(k > 0, s"k must be positive, got $k")
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(scoreCol).desc, col(tieBreakCol).asc)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Greedy selection under a per-group COST budget: walk each group
    * best-score-first and keep rows while the running cost (including
    * the current row) stays within `budget` — "the best documents from
    * every source up to N tokens each", the budgeted refinement of
    * [[topKPerGroup]]'s count quota. Prefix semantics: the first row
    * that overflows the budget cuts the group there (no skip-and-keep-
    * scanning — that's a knapsack policy, order-sensitive and not
    * portable as one window expression). One group-partitioned window;
    * the running sum is a ROWS frame over longs, O(n) per group.
    */
  def selectUnderBudget(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      costCol: String,
      budget: Long,
      tieBreakCol: String
  ): DataFrame = {
    require(groupCols.nonEmpty, "selectUnderBudget needs at least one group column")
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(scoreCol).desc, col(tieBreakCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(costCol).cast("long")).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Per-group quantile bins: `ntile(n)` of `valueCol` within each group
    * (bin 1 = lowest values), ties broken by `tieBreakCol` so the
    * assignment is deterministic and engine-portable (ntile's
    * equal-size-with-remainder-to-early-buckets rule is the same in
    * Spark and DuckDB, but only the ORDER makes it reproducible; NULLs
    * sort LAST explicitly — Spark's ascending default is nulls-first,
    * DuckDB's is nulls-last, and leaving it implicit silently shifts
    * every bin in groups containing NULLs).
    * The standard discretization for quality scores — "drop the bottom
    * decile per language" composes this with a bin filter. One shuffle
    * on the group key, like [[topKPerGroup]]; no global window.
    */
  def ntilePerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      n: Int,
      tieBreakCol: String
  ): DataFrame = {
    require(groupCols.nonEmpty, "ntilePerGroup needs at least one group column")
    require(n > 0, s"n must be positive, got $n")
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol).asc_nulls_last, col(tieBreakCol).asc_nulls_last)
    df.withColumn("bin", ntile(n).over(w).cast("long"))
  }

  /** 2-D Pareto frontier (skyline): the rows no other row dominates,
    * where a dominates b iff a.cost ≤ b.cost AND a.quality ≥ b.quality
    * with at least one strict — the quality-vs-cost efficient set a
    * budgeted curation step actually chooses from ([[selectUnderBudget]]
    * walks ONE ordering; the frontier is every rational trade-off at
    * once). Exact-tie rows (same cost AND same quality as a frontier
    * point) are all kept: neither dominates the other.
    *
    * Execution shape: collapse to the per-distinct-cost max quality
    * (one shuffle, corpus → ≤ |cost domain| rows), then one running
    * strict-max window ordered by cost over that collapsed frame — a
    * single-partition window, but over the COST-DOMAIN-sized frame,
    * never the corpus (the q_benford/equi-depth discipline); the
    * frontier keys then semi-join back against the corpus (broadcast —
    * frontier ≤ cost domain). Rows with NULL cost or quality cannot sit
    * on a frontier and are dropped.
    *
    * The bounded-domain contract is ENFORCED, not advisory: if the
    * distinct-cost frame exceeds `maxDistinctCosts`, the plan raises at
    * runtime (the [[graft.operators.RangeJoin]] loud-failure
    * discipline) instead of silently funnelling a corpus-sized frame
    * through one window task. A continuous (e.g. double-valued) cost
    * column must be quantized by the caller first — `floor(cost/width)`
    * or [[ntilePerGroup]] — or passed through `costBuckets`, which
    * buckets cost to `floor(cost / costBuckets)` before the collapse
    * (frontier semantics then hold at bucket granularity: one
    * representative cost domain of ≤ maxDistinctCosts values).
    *
    * Output: the surviving input rows (original columns).
    */
  def paretoFrontier(
      df: DataFrame,
      costCol: String,
      qualityCol: String,
      maxDistinctCosts: Int = 1 << 20,
      costBuckets: Option[Double] = None
  ): DataFrame = {
    require(maxDistinctCosts > 0, s"maxDistinctCosts must be positive, got $maxDistinctCosts")
    costBuckets.foreach(w => require(w > 0, s"costBuckets width must be positive, got $w"))
    val rawC = col(costCol).cast("double")
    val c = costBuckets.fold(rawC)(w => floor(rawC / w) * w)
    val q = col(qualityCol).cast("double")
    val okRows = df.filter(rawC.isNotNull && !isnan(rawC) && q.isNotNull && !isnan(q))
    val perCost = okRows
      .groupBy(c.as("__c"))
      .agg(max(q).as("__q"))
    val globalByCost = Window.orderBy(col("__c"))
    val prevMax = max(col("__q")).over(
      globalByCost.rowsBetween(Window.unboundedPreceding, -1))
    val frontier = perCost
      .withColumn("__pm", prevMax)
      // the guard shares the running-max window (no extra pass): the
      // first row past the cap poisons the whole job, loudly
      .withColumn("__rn", row_number().over(globalByCost))
      // strictly better than everything cheaper; ties-in-quality at a
      // HIGHER cost are dominated (strict in cost), so require >
      .filter(
        when(col("__rn") <= maxDistinctCosts,
          col("__pm").isNull || col("__q") > col("__pm"))
          .otherwise(raise_error(lit(
            s"paretoFrontier: more than $maxDistinctCosts distinct cost values — " +
              "the frontier window is bounded by the cost domain, not the corpus; " +
              "quantize the cost column (costBuckets=...) or raise maxDistinctCosts"))))
      .select(col("__c"), col("__q"))
    okRows.join(
      broadcast(frontier),
      c === col("__c") && q === col("__q"),
      "left_semi")
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` items per query maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    * diversity-aware re-rank between retrieval and a training batch (or
    * a RAG context window), where plain top-k returns k near-copies of
    * the same best document.
    *
    * Greedy selection is inherently sequential in k, so the operator is
    * built for the two-stage shape every MMR deployment has: a SCALABLE
    * candidate generator (brute-force / IVF top-N per query — the
    * corpus-sized work) followed by this BOUNDED re-rank. The contract
    * is enforced, not assumed: more than `maxCandidates` candidates for
    * any query raise_errors (folded into the id column so pruning can't
    * skip it — the paretoFrontier discipline). Execution: k−1 joins of
    * the (queries × ≤maxCandidates) candidate frame against the
    * (queries × <k) picked frame, each step pinned, the corpus never
    * rescanned. Per-step similarity is max of r6-pinned cosines and the
    * MMR score is r6-pinned with ascending-id ties — deterministic
    * cross-engine ranking (the retrieveTopK convention). Queries with
    * fewer than k candidates simply stop early.
    *
    * `candidates`: (queryCol, idCol, relCol) — relCol should already be
    * r6-rounded by the retrieval stage. `vectors`: (idCol, vecCol).
    * Output: (queryCol, step 1..k, idCol, relCol, max_sim, mmr).
    */
  def mmrSelect(
      candidates: DataFrame,
      vectors: DataFrame,
      queryCol: String,
      idCol: String,
      relCol: String,
      k: Int,
      lambda: Double,
      vecCol: String = "embedding",
      maxCandidates: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    import graft.plans.Materialize.PinOps
    val wc = Window.partitionBy(col(queryCol))
    val guarded = candidates
      .withColumn("__nc", count(lit(1)).over(wc))
      .withColumn(idCol,
        when(col("__nc") > maxCandidates,
          raise_error(concat(
            lit(s"mmrSelect: more than maxCandidates=$maxCandidates candidates for query "),
            col(queryCol).cast("string"),
            lit(" — MMR is the bounded re-rank stage; cut candidates in the retrieval stage"))))
          .otherwise(col(idCol)))
      .drop("__nc")
    val cand = guarded
      .join(vectors.select(col(idCol), col(vecCol)), idCol)
      .select(col(queryCol).as("__q"), col(idCol).as("__id"),
        col(relCol).as("__rel"), col(vecCol).as("__vec"))
      .pin()
    val w1 = Window.partitionBy("__q").orderBy(col("__rel").desc, col("__id").asc)
    var sel = cand
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") === 1)
      .select(col("__q"), lit(1L).as("step"), col("__id"), col("__rel"),
        lit(null).cast("double").as("max_sim"),
        r6(lit(lambda) * col("__rel")).as("mmr"), col("__vec"))
      .pin()
    for (j <- 2 to k) {
      val selected = sel.select(
        col("__q").as("__qs"), col("__id").as("__ids"), col("__vec").as("__vecs"))
      val rem = cand.join(
        selected.select(col("__qs").as("__q"), col("__ids").as("__id")),
        Seq("__q", "__id"), "left_anti")
      val wj = Window.partitionBy("__q").orderBy(col("__mmr0").desc, col("__id").asc)
      val pick = rem
        .join(broadcast(selected), col("__q") === col("__qs"))
        .groupBy(col("__q"), col("__id"))
        .agg(
          first(col("__rel")).as("__rel"),
          first(col("__vec")).as("__vec"),
          max(r6(graft.ann.Similarity.cosine(col("__vec"), col("__vecs")))).as("__ms"))
        .withColumn("__mmr0",
          r6(lit(lambda) * col("__rel") - lit(1.0 - lambda) * col("__ms")))
        .withColumn("__rn", row_number().over(wj))
        .filter(col("__rn") === 1)
        .select(col("__q"), lit(j.toLong).as("step"), col("__id"), col("__rel"),
          col("__ms").as("max_sim"), col("__mmr0").as("mmr"), col("__vec"))
      sel = sel.unionByName(pick).pin()
    }
    sel.select(col("__q").as(queryCol), col("step"), col("__id").as(idCol),
      col("__rel").as(relCol), col("max_sim"), col("mmr"))
  }

  /** Curriculum interleave: a GLOBAL training order that is (a) easy →
    * hard by `scoreCol` and (b) round-robin across `groupCol` (no
    * source monopolizes an epoch segment) — WITHOUT a global sort or a
    * partition-less rank. The trick: global_pos = rank_in_group ×
    * n_groups + group_index is a closed-form total order (sparse where
    * a group has run out of rows — positions are ORDER, not offsets,
    * by contract), so the only shuffles are the group-keyed rank
    * window and a vocab-sized group-index frame broadcast back on.
    * The group index itself ranks the GROUPS frame (vocab-sized by
    * the q_neyman/q_bh global-window contract).
    *
    * Output: input id + group + rank_in_group + global_pos. Ties on
    * score break by `idCol` so the order is deterministic.
    */
  def curriculumInterleave(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String): DataFrame = {
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol), col(idCol))
    val groups = df.select(col(groupCol)).distinct()
      .withColumn("__gi",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col(groupCol))).cast("long") - 1L)
    val nG = groups.agg(count(lit(1)).as("__ng"))
    df
      .select(col(idCol), col(groupCol), col(scoreCol))
      .withColumn("rank_in_group", row_number().over(wg).cast("long") - 1L)
      .join(broadcast(groups), Seq(groupCol))
      .crossJoin(broadcast(nG)) // one-row frame: lint-exempt
      .withColumn("global_pos",
        col("rank_in_group") * col("__ng") + col("__gi"))
      .select(col(idCol), col(groupCol), col(scoreCol),
        col("rank_in_group"), col("global_pos"))
  }
}
