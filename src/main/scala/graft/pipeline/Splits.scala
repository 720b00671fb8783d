package graft.pipeline

import graft.functions.Portable.{dsum, r6}
import graft.text.TextFunctions.md5Hash32
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Leakage-proof train/val/test split assignment.
  *
  * The naive per-document hash split puts two near-duplicate documents in
  * different splits about `1 - sum(w_i^2)` of the time — which is exactly
  * the train→test contamination that inflates eval scores (the failure
  * mode the reference guards against for patients: its
  * `split_and_shard_patients` splits by SUBJECT so one person's events
  * can never straddle splits —
  * reference: src/MEDS_transforms/extract/split_and_shard_patients.py).
  * This operator generalizes that idea to any grouping: hash the GROUP
  * REPRESENTATIVE (e.g. the near-dup cluster label from
  * [[graft.dedup.Dedup.connectedComponents]]), so every member of a
  * cluster rides the same die roll.
  *
  * Scale: the clusters frame is pair-graph-sized (only docs that HAVE a
  * near-dup appear), orders of magnitude smaller than the corpus, so the
  * join broadcasts; the corpus never shuffles. The md5-derived hash is
  * the repo's portable-decision convention (any engine can replay it).
  */
object Splits {

  /** Assign each row a split name from `weights` (name → integer weight)
    * by hashing the group representative: `cluster_id` from `clusters`
    * when the row is clustered, the row's own id otherwise (a singleton
    * is its own group).
    */
  def groupAwareSplit(
      df: DataFrame,
      clusters: DataFrame,
      weights: Seq[(String, Int)],
      idCol: String = "doc_id",
      seed: String = "split"
  ): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val c = clusters.select(col("id").as("__sp_id"), col("cluster_id").as("__sp_rep"))
    val rep = coalesce(col("__sp_rep"), col(idCol).cast("long"))
    val h = pmod(md5Hash32(concat_ws("|", lit(seed), rep.cast("string"))), lit(total))
    // cumulative-weight CASE cascade: h < w1 -> s1, h < w1+w2 -> s2, ...
    val cascade = weights
      .scanLeft(("", 0)) { case ((_, acc), (name, w)) => (name, acc + w) }
      .tail
    val splitCol = cascade.init.foldRight(lit(cascade.last._1): Column) {
      case ((name, ub), rest) => when(h < ub, name).otherwise(rest)
    }
    df.join(broadcast(c), df(idCol) === col("__sp_id"), "left")
      .withColumn("split", splitCol)
      .drop("__sp_id", "__sp_rep")
  }

  /** k-fold cross-validated error of the per-group-mean predictor —
    * the point-error companion to [[graft.operators.Conformal]]'s
    * bands: "how well does 'predict the group mean' actually do on
    * held-out rows", fold by fold, before anyone ships that baseline
    * (or claims a model beats it). Folds are the seed-keyed md5 hash of
    * the id (reproducible; same discipline as every split here).
    *
    * The leave-fold-out fit needs NO per-fold retrain pass: the fold-f
    * prediction for group g is the closed form
    * (S_g − s_fg)/(N_g − n_fg) over one (fold × group) aggregate — the
    * delete-one-block trick ([[graft.operators.Jackknife]]). Rows whose
    * group exists ONLY in their own fold have no out-of-fold predictor:
    * dropped from scoring, counted in `n_skipped` (the honest "cannot
    * cross-validate a group this rare").
    *
    * One corpus pass to the (fold × group) frame (windowed to group
    * totals — group-partitioned), one broadcast join back, one
    * per-fold aggregate; errors r6-pinned before DECIMAL sums.
    *
    * Output: one row per fold — (fold, n_test, n_skipped, mae, rmse).
    */
  def kFoldGroupMeanCv(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      yCol: String,
      k: Int = 5,
      seed: String = "cv"): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2, 1000], got $k")
    val y = col(yCol).cast("double")
    val fold = pmod(md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))), lit(k))
    val rows = df
      .filter(y.isNotNull && !isnan(y))
      .select(col(groupCol).as("__g"), fold.as("fold"), y.as("__y"))
    val cells = rows
      .groupBy(col("__g"), col("fold"))
      .agg(count(lit(1)).as("__n"), dsum(r6(col("__y"))).as("__s"))
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
    // distinct-modulo-case names: resolution is case-insensitive, so
    // "__N" would silently REPLACE "__n" instead of adding a column
    val preds = cells
      .withColumn("__totn", sum(col("__n")).over(wg))
      .withColumn("__tots", sum(col("__s").cast("decimal(38,6)")).over(wg).cast("double"))
      .withColumn("__yhat",
        when(col("__totn") > col("__n"),
          r6((col("__tots") - col("__s")) / (col("__totn") - col("__n")).cast("double"))))
      .select(col("__g"), col("fold"), col("__yhat"))
    // no broadcast hint: preds is (groups x k)-sized — small for
    // categorical groups (AQE broadcasts it), unbounded for
    // high-cardinality ones (AQE keeps the shuffle join)
    rows
      .join(preds, Seq("__g", "fold"))
      .groupBy(col("fold"))
      .agg(
        count(when(col("__yhat").isNotNull, lit(1))).as("n_test"),
        count(when(col("__yhat").isNull, lit(1))).as("n_skipped"),
        r6(dsum(when(col("__yhat").isNotNull, r6(abs(col("__y") - col("__yhat"))))) /
          count(when(col("__yhat").isNotNull, lit(1))).cast("double")).as("mae"),
        r6(sqrt(dsum(when(col("__yhat").isNotNull,
          r6((col("__y") - col("__yhat")) * (col("__y") - col("__yhat"))))) /
          count(when(col("__yhat").isNotNull, lit(1))).cast("double"))).as("rmse"))
  }
}
