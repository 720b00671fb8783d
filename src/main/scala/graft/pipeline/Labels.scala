package graft.pipeline

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Supervised-label engineering over an event stream — the
  * observation-window / outcome-window split every churn or conversion
  * model needs, done ONCE, correctly, instead of re-invented with
  * off-by-one leakage in every notebook: features may only read
  * [cutoff − obs, cutoff), labels only [cutoff, cutoff + horizon).
  * Nothing from the label window can leak into a feature BY
  * CONSTRUCTION — each column's window predicate is part of this
  * operator, not caller discipline.
  *
  * Emits one row per user ACTIVE in the observation window (users with
  * zero observed events have no feature row — a model can't score
  * them; the population definition is explicit, not an accident of a
  * join). Features: event count, target-event count, distinct active
  * days, hours from last observed event to the cutoff (recency).
  * Labels: any activity in the horizon, any target event in the
  * horizon.
  *
  * One groupBy on the user key; every window predicate is a pushdown-
  * friendly timestamp range on the same scan.
  */
object Labels {

  def activityLabels(
      events: DataFrame,
      userCol: String,
      timeCol: String,
      typeCol: String,
      targetType: String,
      cutoffUs: Long,
      obsDays: Int,
      horizonDays: Int): DataFrame = {
    require(obsDays > 0 && horizonDays > 0, "both windows must be positive")
    val dayUs = 86400000000L
    val t = unix_micros(col(timeCol))
    val obsStart = cutoffUs - obsDays * dayUs
    val horizonEnd = cutoffUs + horizonDays * dayUs
    val inObs = t >= obsStart && t < cutoffUs
    val inHorizon = t >= cutoffUs && t < horizonEnd
    events
      .filter(col(timeCol).isNotNull)
      .groupBy(col(userCol))
      .agg(
        count(when(inObs, lit(1))).as("n_obs_events"),
        count(when(inObs && col(typeCol) === targetType, lit(1))).as("n_obs_target"),
        countDistinct(when(inObs, floor((t - lit(obsStart)) / dayUs))).as("n_active_days"),
        max(when(inObs, t)).as("__last"),
        (count(when(inHorizon, lit(1))) > 0).as("label_active"),
        (count(when(inHorizon && col(typeCol) === targetType, lit(1))) > 0)
          .as("label_target"))
      .filter(col("n_obs_events") > 0)
      .withColumn("recency_hours",
        r6(
          (lit(cutoffUs) - col("__last")).cast("double") / 3600000000.0))
      .select(col(userCol), col("n_obs_events"), col("n_obs_target"),
        col("n_active_days"), col("recency_hours"),
        col("label_active"), col("label_target"))
  }
}
