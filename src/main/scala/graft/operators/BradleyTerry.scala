package graft.operators

import graft.functions.Portable.{dsum, r6}
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bradley–Terry preference-strength fit — turn a pile of pairwise
  * comparisons ("annotator preferred completion A over B", "doc i beat
  * doc j in the quality tournament") into per-item strengths θ with
  * P(i beats j) = θ_i/(θ_i+θ_j). The workhorse model behind preference
  * data curation and RLHF reward-model sanity checks: is the win graph
  * consistent, which sources actually win head-to-heads, how strong is
  * the ordering.
  *
  * Fit by Hunter's MM algorithm with a FIXED iteration count from
  * θ = 1 (the library's determinism contract for iterative fits —
  * [[Logistic]]/[[Survival.coxPh]] discipline): per step
  * θ'_i = w_i / Σ_j g_ij/(θ_i+θ_j) over i's opponents, then θ is
  * rescaled to mean 1 (the BT likelihood is scale-free; without the
  * rescale the iterates drift and cross-engine comparison is
  * meaningless). Per-opponent terms are r6-pinned before DECIMAL(38,6)
  * sums; θ is r6-pinned after each rescale.
  *
  * Items that never win have θ → 0 (the MM fixed point; the MLE does
  * not exist when the win graph isn't strongly connected — fixed
  * iterations still return finite, reproducible estimates, which is
  * the point). Items with no games at all are absent from the output.
  *
  * Spark shape: ONE pass over the comparisons to the item-sized win
  * frame and the (≤ items²)-sized symmetric game frame, both pinned;
  * each MM step is two broadcast (item-frame) joins + one
  * map-side-combined groupBy over the game frame + a one-row rescale —
  * the comparison stream is never rescanned. The per-step item frame is
  * PINNED: θ feeds the next step twice (both join sides) and the raw
  * frame feeds both the rescale aggregate and the output select, so an
  * unpinned chain grows the logical plan ~4^iters (Spark does not dedup
  * common subplans — at iters=3 that executed up to 64 redundant
  * join+aggregate passes; measured q_bradley_terry 4.7 s at sf0.1).
  * Pinning cuts the lineage so each step's plan is constant-size and
  * its joins run once.
  *
  * Output: (item, n_wins, n_games, theta).
  */
object BradleyTerry {

  def fit(
      comparisons: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 32,
      s"fit is a fixed-step MM contract: 1 <= iters <= 32, got $iters")
    val pairs = comparisons.select(
      col(winnerCol).cast("string").as("__w"),
      col(loserCol).cast("string").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull && col("__w") =!= col("__l"))
    // directed win counts -> symmetric game frame (both orientations);
    // pinned: consumed by the game frame (twice) AND the item frame, and
    // each unpinned read re-ran the caller's comparison-producing plan
    // (measured: the q_bradley_terry doc self-join ran twice, ~1.2 s/pass
    // at sf0.1)
    val winCounts = pairs.groupBy(col("__w"), col("__l")).agg(count(lit(1)).as("__n"))
      .pin()
    val games = winCounts.select(col("__w").as("__a"), col("__l").as("__b"), col("__n"))
      .unionByName(winCounts.select(col("__l").as("__a"), col("__w").as("__b"), col("__n")))
      .groupBy(col("__a"), col("__b"))
      .agg(sum(col("__n")).as("__g"))
      .pin()
    val items = games
      .groupBy(col("__a").as("item"))
      .agg(sum(col("__g")).as("n_games"))
      .join(
        winCounts.groupBy(col("__w").as("item")).agg(sum(col("__n")).as("n_wins")),
        Seq("item"), "left")
      .withColumn("n_wins", coalesce(col("n_wins"), lit(0L)))
      .pin()
    val theta0 = items.select(col("item"), lit(1.0).as("theta"))
    def step(theta: DataFrame): DataFrame = {
      val ti = broadcast(theta.select(col("item").as("__a"), col("theta").as("__ta")))
      val tj = broadcast(theta.select(col("item").as("__b"), col("theta").as("__tb")))
      val denom = games
        .join(ti, Seq("__a")).join(tj, Seq("__b"))
        .groupBy(col("__a").as("item"))
        .agg(dsum(r6(col("__g").cast("double") / (col("__ta") + col("__tb")))).as("__den"))
      val raw = items
        .join(denom, Seq("item"))
        .select(col("item"),
          when(col("__den") > 0, col("n_wins").cast("double") / col("__den"))
            .otherwise(lit(0.0)).as("__raw"))
        .pin() // consumed twice (rescale agg + select) and twice again next step
      val scale = raw.agg(
        (count(lit(1)).cast("double") / dsum(r6(col("__raw")))).as("__k"))
      raw
        .crossJoin(broadcast(scale)) // one-row rescale frame: lint-exempt
        .select(col("item"), r6(col("__raw") * col("__k")).as("theta"))
    }
    val fitted = (1 to iters).foldLeft(theta0)((t, _) => step(t))
    items.join(fitted, Seq("item"))
      .select(col("item"), col("n_wins"), col("n_games"), col("theta"))
  }
}
