package graft.operators

import graft.functions.Portable.{dsum, r6}
import graft.text.TextFunctions.md5Hash32
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mondrian (group-conditional) split-conformal calibration — wrap ANY
  * point predictor in finite-sample prediction intervals, per group:
  * fit on a train split, take each calibration example's nonconformity
  * s = |y − ŷ|, and publish q̂_g = the ⌈(n_g+1)(1−α)⌉-th smallest
  * calibration score of group g. Then P(|y − ŷ| ≤ q̂_g) ≥ 1−α for a
  * fresh example of g, distribution-free — the audit every "model
  * predicts X ± ?" pipeline needs before anyone trusts the ±. The
  * Mondrian (per-group) form both gives group-conditional coverage and
  * keeps every window PARTITIONED — no global sort exists in the plan.
  *
  * Splitting is the library's deterministic md5 discipline
  * (seed-keyed hash of the id, train/cal/test by fixed percent bands —
  * re-runs and engines agree). The predictor here is the group mean of
  * y on the TRAIN split (the method is predictor-agnostic; the mean
  * keeps the oracle exact). The k-th order statistic is selected by
  * row_number over (score, id) per group — the id tiebreak pins the
  * pick even with duplicated scores. When ⌈(n_g+1)(1−α)⌉ > n_g (too
  * few calibration rows for the level), q̂_g is NULL and coverage is
  * reported NULL — the honest "not enough data for this α", never a
  * fake-infinite interval.
  *
  * Spark shape: one groupBy for train means (group-sized, broadcast
  * back), one partitioned window over the calibration slice for the
  * order statistic, one aggregate over the test slice for coverage —
  * the corpus shuffles once on the group key.
  *
  * Output: one row per group with a train-split prediction —
  * (group, n_train, n_cal, n_test, y_hat, q_hat, coverage, target).
  *
  * Reference analog: none (evaluation/monitoring extension; the
  * distribution-free counterpart to [[graft.operators.Stats]]'
  * parametric intervals).
  */
object Conformal {

  def splitConformal(
      data: DataFrame,
      idCol: String,
      groupCol: String,
      yCol: String,
      alpha: Double = 0.1,
      seed: String = "conformal",
      trainPct: Int = 50,
      calPct: Int = 25): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(trainPct > 0 && calPct > 0 && trainPct + calPct < 100,
      s"need three non-empty bands, got train=$trainPct cal=$calPct")
    val h = pmod(md5Hash32(concat_ws("|", lit(seed), col(idCol).cast("string"))), lit(100))
    val rows = data.select(
      col(idCol).as("__id"),
      col(groupCol).as("group"),
      col(yCol).cast("double").as("__y"),
      when(h < trainPct, lit("train"))
        .when(h < trainPct + calPct, lit("cal"))
        .otherwise(lit("test")).as("__split"))
    val trainMeans = rows
      .filter(col("__split") === "train")
      .groupBy(col("group"))
      .agg(
        count(lit(1)).as("n_train"),
        r6(dsum(col("__y")) / count(lit(1)).cast("double")).as("y_hat"))
    // groups with no train rows have no predictor: inner join drops them
    val scored = rows
      .filter(col("__split") =!= "train")
      .join(broadcast(trainMeans), Seq("group"))
      .withColumn("__s", r6(abs(col("__y") - col("y_hat"))))
    val byScore = Window.partitionBy(col("group"))
      .orderBy(col("__s").asc, col("__id").asc)
    val cal = scored
      .filter(col("__split") === "cal")
      .withColumn("__rn", row_number().over(byScore))
      .withColumn("__ncal", count(lit(1)).over(Window.partitionBy(col("group"))))
      .withColumn("__k", ceil((col("__ncal") + lit(1)).cast("double") * lit(1.0 - alpha)))
    val qhat = cal
      .groupBy(col("group"))
      .agg(
        first(col("__ncal")).as("n_cal"),
        // NULL when k > n_cal: the level is unreachable at this n
        max(when(col("__rn") === col("__k"), col("__s"))).as("q_hat"))
    val test = scored
      .filter(col("__split") === "test")
      .join(broadcast(qhat), Seq("group"))
      .groupBy(col("group"))
      .agg(
        count(lit(1)).as("n_test"),
        when(first(col("q_hat")).isNotNull,
          r6(count(when(col("__s") <= col("q_hat"), lit(1))).cast("double") /
            count(lit(1)).cast("double"))).as("coverage"))
    trainMeans
      .join(qhat, Seq("group"), "left")
      .join(test, Seq("group"), "left")
      .select(col("group"), col("n_train"),
        coalesce(col("n_cal"), lit(0L)).as("n_cal"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        col("y_hat"), col("q_hat"), col("coverage"),
        lit(1.0 - alpha).as("target"))
  }
}
