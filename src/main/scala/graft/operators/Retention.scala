package graft.operators

import graft.functions.Portable.{dsum, r6}
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cohort retention: bucket each key by its FIRST event ("the week-12
  * signup cohort") and count how many distinct keys from each cohort
  * are still active 0, 1, 2, … buckets later. The standard activity-
  * retention triangle, and for corpus work the "how long do crawled
  * domains keep producing documents" decay curve.
  *
  * Shape at scale: the first-event time is a `min` window over the key
  * partition — ONE shuffle on the key, reused by nothing else — then
  * the (cohort, offset) roll-up partial-aggregates map-side to a frame
  * of at most cohorts × offsets rows. `count_distinct` in the final
  * agg re-shuffles (cohort, offset, key) triples, but those are already
  * deduplicated per partition by the partial aggregate, so what crosses
  * the wire is bounded by active (cohort, offset, key) combinations —
  * the retention triangle's own cells times cohort sizes, not the raw
  * event count.
  */
object Retention {

  /** (cohort, offset, n_active): cohort and offset are bucket indexes
    * (floor of epoch-micros / bucketUs); n_active counts distinct keys
    * from that cohort with ≥1 event at that offset. Null-time rows are
    * ignored (they carry no activity date).
    */
  def cohortRetention(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    events
      .filter(col(timeCol).isNotNull)
      .select(
        col(keyCol).as("key"),
        floorDiv(unix_micros(col(timeCol)), bucketUs).as("bucket"))
      .withColumn("cohort", min(col("bucket")).over(w))
      .groupBy(col("cohort"), (col("bucket") - col("cohort")).as("offset"))
      .agg(count_distinct(col("key")).as("n_active"))
  }

  /** Period-over-period actives: per bucket the distinct-key count, the
    * previous bucket's count, and the relative change — the WoW/MoM
    * health metric. The bucket frame is tiny (weeks, not rows), so the
    * previous-period lookup is a broadcast self-join on bucket−1 rather
    * than a partition-less lag window (which would funnel the frame —
    * however small — through one task and trip the plan linter's
    * global-window rule for no benefit).
    */
  def periodOverPeriod(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    // localCheckpoint (lazy): the bucket frame self-joins, so without it the
    // full event scan + distinct-count runs twice for a weeks-sized result.
    val weekly = events
      .filter(col(timeCol).isNotNull)
      .groupBy(floorDiv(unix_micros(col(timeCol)), bucketUs).as("bucket"))
      .agg(count_distinct(col(keyCol)).as("n_active"))
      .pin(false)
    weekly
      .join(
        broadcast(weekly.select((col("bucket") + 1).as("bucket"),
          col("n_active").as("prev_active"))),
        Seq("bucket"), "left")
      .withColumn("pct_change",
        when(col("prev_active").isNotNull,
          (col("n_active").cast("double") - col("prev_active").cast("double")) /
            col("prev_active").cast("double")))
  }

  /** Growth accounting (the Social-Capital "quick ratio" decomposition):
    * every active (user, period) is exactly one of NEW (first-ever
    * period), RETAINED (also active the previous period) or RESURRECTED
    * (active before, but not the previous period); users active in p−1
    * and silent in p are CHURNED into p. The decomposition explains a
    * flat actives curve ([[periodOverPeriod]] says "unchanged"; this
    * says "heavy churn masked by resurrection") — the first chart any
    * growth review asks for.
    *
    * One distinct pass to the (user, period) activity frame, one
    * user-keyed window for first/previous period, then a period rollup —
    * churn is derived from the SAME window (a gap after p or
    * stream-end churns the user into p+1), bounded by the global max
    * period so the unknown future never reports churn. quick_ratio =
    * (new + resurrected)/churned, NULL when churned = 0.
    *
    * Output per period: (period, n_active, n_new, n_retained,
    * n_resurrected, n_churned, quick_ratio).
    */
  def growthAccounting(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val act = events
      .filter(col(timeCol).isNotNull)
      .select(col(keyCol).as("key"),
        floorDiv(unix_micros(col(timeCol)), bucketUs).as("period"))
      .distinct()
      .pin(false) // window classification + churn + max-period all read it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("period"))
    val wk = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val classified = act
      .withColumn("__first", min(col("period")).over(wk))
      .withColumn("__prev", lag(col("period"), 1).over(w))
      .withColumn("__next", lead(col("period"), 1).over(w))
    val states = classified.select(
      col("period"),
      when(col("period") === col("__first"), lit("new"))
        .when(col("__prev") === col("period") - 1, lit("retained"))
        .otherwise(lit("resurrected")).as("state"))
    // the one-row global horizon: churn into p+1 only exists if some
    // activity anywhere reaches p+1 (the future is unknown, not churned)
    val maxP = act.agg(max(col("period")).as("__maxp"))
    val churn = classified
      .filter(col("__next").isNull || col("__next") > col("period") + 1)
      .crossJoin(broadcast(maxP)) // one-row frame: lint-exempt
      .filter(col("period") + 1 <= col("__maxp"))
      .select((col("period") + 1).as("period"), lit("churned").as("state"))
    states.unionByName(churn)
      .groupBy(col("period"))
      .agg(
        count(when(col("state") =!= "churned", lit(1))).as("n_active"),
        count(when(col("state") === "new", lit(1))).as("n_new"),
        count(when(col("state") === "retained", lit(1))).as("n_retained"),
        count(when(col("state") === "resurrected", lit(1))).as("n_resurrected"),
        count(when(col("state") === "churned", lit(1))).as("n_churned"))
      .withColumn("quick_ratio",
        when(col("n_churned") > 0,
          r6((col("n_new") + col("n_resurrected")).cast("double") /
            col("n_churned").cast("double"))))
  }

  /** Rolling actives (DAU/WAU + stickiness): per calendar day the
    * distinct-key daily actives next to the trailing `windowDays`
    * actives and their ratio — the engagement staple
    * ([[growthAccounting]] says WHO moved; stickiness says how often
    * the stayers show up). The trailing-distinct is computed WITHOUT a
    * window-distinct (unsupported) or a per-day range self-join: each
    * active (key, day) contributes itself to the `windowDays` window
    * END days it falls inside (a bounded explode), and one distinct +
    * groupBy counts window actives — cost = activity × windowDays
    * pairs, all map-side combinable. Only days with ≥1 daily active
    * emit (the trailing window is defined for them by construction).
    *
    * Output per day: (day, dau, wau, stickiness = dau/wau).
    */
  def rollingActives(
      events: DataFrame,
      keyCol: String,
      timeCol: String,
      windowDays: Int = 7,
      dayUs: Long = 86400000000L): DataFrame = {
    require(windowDays >= 1 && windowDays <= 90,
      s"windowDays must be in [1, 90], got $windowDays — the explode factor IS windowDays")
    val act = events
      .filter(col(timeCol).isNotNull)
      .select(col(keyCol).as("key"),
        floorDiv(unix_micros(col(timeCol)), dayUs).as("day"))
      .distinct()
      .pin(false) // read by the daily rollup and the window contribution
    val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("key"),
        explode(sequence(col("day"), col("day") + lit((windowDays - 1).toLong))).as("wday"))
      .distinct()
      .groupBy(col("wday")).agg(count(lit(1)).as("wau"))
    dau.join(wau, dau("day") === wau("wday"))
      .select(col("day"), col("dau"), col("wau"),
        r6(col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  /** Exact integer floor division (negative-safe: -1 us lands in bucket
    * -1, not 0 — long `/` truncates toward zero). Pure integer math so
    * any engine computes the identical bucket.
    */
  private def floorDiv(c: org.apache.spark.sql.Column, d: Long) =
    ((c - pmod(c, lit(d))) / d).cast("long")

  /** Cohort LTV curve — cumulative value per cohort member by cohort
    * age: the revenue companion of [[cohortRetention]] ("week-3
    * retention is 40%" says nothing about whether the retained users
    * are the paying ones). Cohort = the user's first-event period;
    * age = periods since; the curve is cumulative Σ value / cohort
    * size, so flat tails mean monetization stopped even if activity
    * did not.
    *
    * Scale shape: one groupBy to per-user cohort assignment, one
    * fact-table join + groupBy to the (cohort × age) frame, then the
    * cumulative as a window over that period-count-sized frame —
    * exactly [[cohortRetention]]'s shape plus a DECIMAL value sum.
    * Events before a user's cohort cannot exist by construction;
    * NULL values count as 0 revenue, NULL times drop.
    *
    * Output per (cohort, age): (cohort_week, age_weeks, n_users,
    * n_active, revenue, cum_revenue_per_user) — cohort_week as
    * epoch-micros BIGINT (§5 convention).
    */
  def ltvCurve(
      events: DataFrame,
      userCol: String,
      timeCol: String,
      valueCol: String): DataFrame = {
    val base = events
      .filter(col(timeCol).isNotNull)
      .select(col(userCol).as("__u"),
        unix_micros(date_trunc("week", col(timeCol))).as("__wk"),
        coalesce(col(valueCol).cast("double"), lit(0.0)).as("__v"))
      .filter(!isnan(col("__v")))
    val cohorts = base.groupBy(col("__u")).agg(min(col("__wk")).as("__cw"))
    val sizes = cohorts.groupBy(col("__cw")).agg(count(lit(1)).as("n_users"))
    val weekUs = 7L * 24L * 3600L * 1000000L
    val cells = base
      .join(cohorts, Seq("__u"))
      .groupBy(col("__cw"), floorDiv(col("__wk") - col("__cw"), weekUs).as("age_weeks"))
      .agg(countDistinct(col("__u")).as("n_active"), dsum(r6(col("__v"))).as("__rev"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cw")).orderBy(col("age_weeks"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    cells
      .join(sizes, Seq("__cw"))
      .withColumn("__cum", sum(col("__rev").cast("decimal(38,6)")).over(wc).cast("double"))
      .select(col("__cw").as("cohort_week"), col("age_weeks"), col("n_users"),
        col("n_active"), r6(col("__rev")).as("revenue"),
        when(col("n_users") > 0, r6(col("__cum") / col("n_users").cast("double")))
          .as("cum_revenue_per_user"))
  }
}
