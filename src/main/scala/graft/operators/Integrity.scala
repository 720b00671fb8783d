package graft.operators

import graft.functions.Portable.{dsum, r6}
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Referential-integrity audit — the data-quality gate a multi-table
  * ingest runs before joins are trusted (the relational twin of the
  * reference's per-stage input validation, e.g.
  * `extract/shard_events.py:1`'s schema checks).
  *
  * For each declared FK relation it reports row count, NULL-FK count,
  * orphan count (child FK value absent from the parent key set) and the
  * orphan fraction. Execution shape per relation: one left join from the
  * child onto the DISTINCT parent keys followed by a single partial
  * aggregation — the parent side is key-only (and broadcast by AQE when
  * small), so the child table is scanned exactly once per relation and
  * only its FK column crosses the wire.
  */
object Integrity {

  /** One audit row for `child.fkCol → parent.pkCol`. */
  def fkAudit(
      relation: String,
      child: DataFrame,
      fkCol: String,
      parent: DataFrame,
      pkCol: String
  ): DataFrame = {
    val keys = parent.select(col(pkCol).as("__pk")).distinct()
    child
      .select(col(fkCol).as("__fk"))
      .join(keys, col("__fk") === col("__pk"), "left")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
        sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans")
      )
      .select(
        lit(relation).as("relation"),
        col("n_rows"),
        col("n_null_fk"),
        col("n_orphans"),
        graft.functions.Portable
          .r6(col("n_orphans").cast("double") / greatest(col("n_rows"), lit(1L)).cast("double"))
          .as("orphan_frac"))
  }

  /** Audit several relations into one report frame. */
  def fkAuditAll(relations: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    relations
      .map { case (name, child, fk, parent, pk) => fkAudit(name, child, fk, parent, pk) }
      .reduce(_ unionByName _)

  /** k-anonymity audit over a quasi-identifier column set: how many rows
    * sit in equivalence classes smaller than `k` — the re-identification
    * risk screen a training-data release runs before shipping anything
    * derived from user records (a (zip, age, gender) class of size 1 IS
    * a person, whatever the column names say). One groupBy to the
    * class-size frame, one aggregation over it; the report is a single
    * row: total rows, class count, singleton classes, rows below k with
    * their fraction, and the minimum class size (the dataset's actual
    * anonymity level).
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val classes = df
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    classes.agg(
      lit(k).as("k"),
      sum(col("__n")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      count(when(col("__n") === 1L, lit(1))).as("n_singletons"),
      coalesce(sum(when(col("__n") < k, col("__n"))), lit(0L)).as("n_rows_at_risk"),
      min(col("__n")).as("min_class_size"))
      .withColumn("frac_at_risk",
        col("n_rows_at_risk").cast("double") / col("n_rows").cast("double"))
  }

  /** t-closeness audit — the distribution-disclosure companion to
    * [[lDiversity]]: a class can be l-diverse yet still leak ("this
    * (zip, age) cell is 98% one diagnosis vs 10% globally" — skew the
    * distinct-count cannot see). Per quasi-identifier class the total
    * variation distance between the class's sensitive-value distribution
    * and the GLOBAL one must stay ≤ t (TVD is the standard choice for
    * nominal attributes; for ordered ones feed [[Stats.emd1d]] the class
    * pairs instead).
    *
    * Execution shape: one groupBy to the (class × value) count frame,
    * class totals and the global value distribution both derive from it
    * (value-sized, broadcast). The absent-value mass is closed-form —
    * TVD = ½·(1 + Σ_{v∈class}(|p_cv − q_v| − q_v)) — so no class×value
    * grid is ever materialized: a class only joins the values it
    * actually contains. Per-class terms are r6'd then DECIMAL-summed
    * (order-free); NULL sensitive values count as a real category (a
    * class that is 100% missing IS a disclosure about missingness).
    *
    * Output: one row — (t, n_rows, n_classes, n_classes_above_t,
    * n_rows_at_risk, frac_at_risk, max_distance).
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String, t: Double): DataFrame = {
    require(t > 0 && t < 1, s"t must be in (0,1), got $t")
    // NULL folds to a marker so it survives the value equi-join as a
    // real category instead of dropping (null never equals null there).
    // Un-spoofable encoding (the contentChecksum discipline): every real
    // value gets a "v" prefix, NULL gets the distinct "n" marker — a
    // sensitive value literally equal to any sentinel string can never
    // merge with the NULL category.
    val sv = col(sensitiveCol).cast("string")
    val cv = df
      .groupBy((quasiCols.map(col) :+
        when(sv.isNull, lit("n")).otherwise(concat(lit("v"), sv)).as("__v")): _*)
      .agg(count(lit(1)).as("__n"))
      .pin(false) // consumed by the global distribution, its total, and the class pass
    val global = cv.groupBy(col("__v")).agg(sum(col("__n")).as("__gn"))
    // one-row totals broadcast (not a global window) for the denominator
    val total = cv.agg(sum(col("__n")).as("__tot"))
    val q = (col("__gn").cast("double") / col("__tot").cast("double")).as("__q")
    val globalDist = global
      .crossJoin(broadcast(total))
      .select(col("__v"), q)
    // class totals via a partitioned window over the (class × value)
    // frame, not an equi-join back — NULL quasi values form real classes
    // under partitionBy, where a join would silently drop them
    val classW = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val p = col("__n").cast("double") / col("__cn").cast("double")
    val perClass = cv
      .withColumn("__cn", sum(col("__n")).over(classW))
      .join(broadcast(globalDist), Seq("__v"))
      .groupBy(quasiCols.map(col): _*)
      .agg(
        max(col("__cn")).as("__cn"),
        dsum(r6(abs(p - col("__q")) - col("__q"))).as("__s"))
      .select(col("__cn"), r6((lit(1.0) + col("__s")) / 2.0).as("__d"))
    perClass.agg(
      lit(t).as("t"),
      sum(col("__cn")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      count(when(col("__d") > t, lit(1))).as("n_classes_above_t"),
      coalesce(sum(when(col("__d") > t, col("__cn"))), lit(0L)).as("n_rows_at_risk"),
      max(col("__d")).as("max_distance"))
      .withColumn("frac_at_risk",
        r6(col("n_rows_at_risk").cast("double") / col("n_rows").cast("double")))
      .select(col("t"), col("n_rows"), col("n_classes"), col("n_classes_above_t"),
        col("n_rows_at_risk"), col("frac_at_risk"), col("max_distance"))
  }

  /** l-diversity audit — the attribute-disclosure companion to
    * [[kAnonymity]]: a class can be k-large yet still leak ("all 50
    * people in this (zip, age) cell share the same diagnosis" — the
    * homogeneity attack k-anonymity cannot see). Per quasi-identifier
    * class the DISTINCT count of `sensitiveCol` values must reach `l`;
    * the report is one row: classes/rows below l, the minimum diversity
    * actually achieved, and the at-risk fraction.
    *
    * Same two-aggregation shape as [[kAnonymity]] (class frame then one
    * row); the distinct count is exact (count_distinct, two-level
    * partial agg), NULL sensitive values are excluded from diversity —
    * missingness is not a disclosure-protecting value.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String, l: Long): DataFrame = {
    require(l >= 2, s"l must be >= 2, got $l")
    val classes = df
      .groupBy(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("__n"),
        countDistinct(col(sensitiveCol)).as("__ndv"))
    classes.agg(
      lit(l).as("l"),
      sum(col("__n")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      count(when(col("__ndv") < l, lit(1))).as("n_classes_below_l"),
      coalesce(sum(when(col("__ndv") < l, col("__n"))), lit(0L)).as("n_rows_at_risk"),
      min(col("__ndv")).as("min_diversity"))
      .withColumn("frac_at_risk",
        col("n_rows_at_risk").cast("double") / col("n_rows").cast("double"))
  }

  /** Differentially-private count release (ε-DP Laplace mechanism) —
    * the publishable version of `groupBy().count()`: per-group counts
    * get Laplace(1/ε) noise so no single row's presence is inferable
    * from the released frame (count sensitivity = 1). The corpus-stats
    * companion to the audits above: [[kAnonymity]] says whether the raw
    * frame is safe to ship; this ships a frame that is safe by
    * construction.
    *
    * The noise is DETERMINISTIC — derived from md5(seed, group key) via
    * inverse-CDF sampling: u = (h32 + ½)/2³² − ½ ∈ (−½, ½),
    * noise = −(1/ε)·sgn(u)·ln(1 − 2|u|). Determinism is what makes the
    * release idempotent (re-running the pipeline cannot leak a fresh
    * noise draw for the same group — the classic averaging attack
    * against rerun-happy schedulers) and cross-engine verifiable. The
    * seed must stay private alongside the raw data.
    *
    * Group-key hashing is delimiter-proof: each key column is md5'd
    * individually (fixed-width hex) before concatenation, with a
    * non-hex NULL marker, so no value spelling can collide two groups'
    * noise (the contentChecksum discipline). Execution: one
    * map-side-combined groupBy; the noise is a row-local projection on
    * the group-sized frame.
    */
  def dpCounts(
      df: DataFrame,
      by: Seq[String],
      epsilon: Double,
      seed: String): DataFrame = {
    require(by.nonEmpty, "dpCounts needs at least one group column")
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    val keyHash = concat(
      lit(seed) +: by.map(c => coalesce(md5(col(c).cast("string")), lit("N"))): _*)
    val h = graft.text.TextFunctions.md5Hash32(keyHash).cast("double")
    val u = (h + lit(0.5)) / lit(4294967296.0) - lit(0.5)
    val noise = -signum(u) * log(lit(1.0) - lit(2.0) * abs(u)) / lit(epsilon)
    df.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("epsilon", lit(epsilon))
      .withColumn("noisy_count",
        r6(col("__n").cast("double") + noise))
      .select(by.map(col) :+ col("epsilon") :+ col("noisy_count"): _*)
  }

  /** USER-level ε-DP mean release — [[dpCounts]]' big sibling for the
    * statistic pipelines actually publish (mean doc length per source,
    * mean spend per cohort), with the unit of privacy being a USER, not
    * a row: a user with 10 000 rows must still be hidden by the noise.
    * Contribution bounding does that the standard way — clip each value
    * to [lo, hi], collapse each user to ONE number (their clipped
    * per-group mean), so adding/removing any user moves the group sum
    * by at most max(|lo|, |hi|) and the user count by exactly 1. The
    * budget splits ε/2 to the sum (Laplace 2·max(|lo|,|hi|)/ε) and ε/2
    * to the count (Laplace 2/ε); the released mean is their ratio with
    * the count floored at 1 (a tiny group's noisy count can go ≤ 0 —
    * flooring biases but never divides by nothing, visibly via the
    * released noisy_count).
    *
    * Noise is DETERMINISTIC (inverse-CDF from md5(seed, group, tag) —
    * the [[dpCounts]] idempotence/averaging-attack rationale); group-key
    * hashing is the same delimiter-proof per-column md5.
    *
    * Execution: (group × user) mean aggregate, then the group rollup —
    * two map-side-combined exchanges, noise row-local on the group
    * frame. Per-user means and the sum are r6 + DECIMAL(38,6) so both
    * reductions are order-free.
    */
  def dpMeans(
      df: DataFrame,
      by: Seq[String],
      userCol: String,
      valueCol: String,
      lo: Double,
      hi: Double,
      epsilon: Double,
      seed: String): DataFrame = {
    require(by.nonEmpty, "dpMeans needs at least one group column")
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    def lap(tag: String, scale: Double): Column = {
      val keyHash = concat(
        lit(seed) +: by.map(c => coalesce(md5(col(c).cast("string")), lit("N")))
          :+ lit(tag): _*)
      val h = graft.text.TextFunctions.md5Hash32(keyHash).cast("double")
      val u = (h + lit(0.5)) / lit(4294967296.0) - lit(0.5)
      -signum(u) * log(lit(1.0) - lit(2.0) * abs(u)) * lit(scale)
    }
    val clipped = least(lit(hi), greatest(lit(lo), col(valueCol).cast("double")))
    val perUser = df
      .filter(col(valueCol).isNotNull)
      .groupBy((by.map(col) :+ col(userCol).as("__user")): _*)
      .agg((dsum(r6(clipped)) / count(lit(1)).cast("double")).as("__m"))
    val sens = math.max(math.abs(lo), math.abs(hi))
    perUser
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_users"), dsum(r6(col("__m"))).as("__s"))
      .withColumn("epsilon", lit(epsilon))
      .withColumn("noisy_sum", r6(col("__s") + lap("S", 2.0 * sens / epsilon)))
      .withColumn("noisy_count",
        r6(col("n_users").cast("double") + lap("C", 2.0 / epsilon)))
      .withColumn("noisy_mean",
        r6(col("noisy_sum") / greatest(col("noisy_count"), lit(1.0))))
      // the EXACT n_users never leaves: releasing it next to the noisy
      // pair would spend privacy the ε accounting didn't pay for
      .select(by.map(col) :+ col("epsilon") :+
        col("noisy_sum") :+ col("noisy_count") :+ col("noisy_mean"): _*)
  }
}
