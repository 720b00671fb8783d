package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ecological diversity indices over a categorical column — the
  * "how concentrated is this corpus" report a mixture designer reads
  * before setting sampling weights: per group (e.g. per language, per
  * shard), how many distinct categories (domains, sources, templates)
  * appear, and how evenly. Richness counts kinds; Shannon H weights by
  * log-surprise; Simpson λ is the collision probability of two draws;
  * the Hill numbers e^H and 1/λ convert both onto the same "effective
  * number of equally-common categories" scale (Hill 1973 — the unified
  * family; q=0 richness, q=1 exp Shannon, q=2 inverse Simpson), so
  * "source X has 900 domains but effectively 12" is one row.
  *
  * Scale shape: one fact-pass partial aggregation to the
  * (group × category) count frame, then ONE aggregation over it — no
  * totals join, no window, no second fact pass. The moments are
  * count-based so they stay exact: H = ln n − (Σ k·ln k)/n needs only
  * the non-negative k·ln k terms (r6'd then DECIMAL-summed), and
  * λ = Σk²/n² divides two exact integers once — rounding p² per
  * category would zero out every small p at corpus scale.
  */
object Diversity {

  /** Per-group diversity report. NULL categories are excluded (they are
    * missingness, not a kind). Output: (by..., n, richness, shannon,
    * simpson, hill1, hill2); single-category groups score H = 0,
    * λ = 1, both effective numbers 1.
    */
  def indices(df: DataFrame, by: Seq[String], catCol: String): DataFrame = {
    val byCols = by.map(col)
    val counts = df
      .filter(col(catCol).isNotNull)
      .groupBy((byCols :+ col(catCol).as("__c")): _*)
      .agg(count(lit(1)).as("__k"))
    val kD = col("__k").cast("double")
    val g = counts.groupBy(byCols: _*)
      .agg(
        sum(col("__k")).as("n"),
        count(lit(1)).as("richness"),
        // Σ k² exact through DECIMAL(38,0) (a long would overflow once
        // group sizes pass ~3e9); Σ k·ln k r6'd then DECIMAL-summed
        sum(col("__k").cast("decimal(38,0)") * col("__k")).cast("double").as("__sk2"),
        dsum(r6(kD * log(kD))).as("__skl"))
    val nD = col("n").cast("double")
    val shannon = log(nD) - col("__skl") / nD
    g.select((byCols :+ col("n") :+ col("richness") :+
      shannon.as("shannon") :+
      (col("__sk2") / (nD * nD)).as("simpson") :+
      exp(shannon).as("hill1") :+
      (nD * nD / col("__sk2")).as("hill2")): _*)
  }

  /** Per-group unseen-mass report: Good–Turing missing mass
    * P(next draw is a NEW category) ≈ n₁/N (singleton fraction) and the
    * Chao1 richness floor V + n₁²/(2n₂) — "how much vocabulary /
    * how many domains have we NOT seen yet", the corpus-planning
    * question [[indices]]'s observed numbers can't answer: a source
    * with 20% missing mass needs more crawling, not more epochs.
    *
    * Same scale shape as [[indices]]: one fact pass to the count frame,
    * ONE aggregation after (singleton/doubleton counts are exact
    * integers; two IEEE divides). Chao1 is NULL when n₂ = 0 (the
    * classic estimator is undefined; the bias-corrected variant would
    * silently change semantics — callers wanting it can derive it from
    * the emitted n₁/n₂).
    *
    * Output: (by..., n, richness, n1, n2, missing_mass, chao1).
    */
  def unseenMass(df: DataFrame, by: Seq[String], catCol: String): DataFrame = {
    val byCols = by.map(col)
    val counts = df
      .filter(col(catCol).isNotNull)
      .groupBy((byCols :+ col(catCol).as("__c")): _*)
      .agg(count(lit(1)).as("__k"))
    val g = counts.groupBy(byCols: _*)
      .agg(
        sum(col("__k")).as("n"),
        count(lit(1)).as("richness"),
        count(when(col("__k") === 1L, lit(1))).as("n1"),
        count(when(col("__k") === 2L, lit(1))).as("n2"))
    g.select((byCols :+ col("n") :+ col("richness") :+ col("n1") :+ col("n2") :+
      (col("n1").cast("double") / col("n").cast("double")).as("missing_mass") :+
      when(col("n2") > 0L,
        col("richness").cast("double") +
          col("n1").cast("double") * col("n1").cast("double") /
            (lit(2.0) * col("n2").cast("double"))).as("chao1")): _*)
  }
}
