package graft.operators

import graft.plans.Materialize.PinOps
import graft.functions.Pairs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules over an (entity, item) stream:
  * support / confidence / lift for every co-occurring item pair
  * ("users who trigger `error` also trigger `purchase`"). The classic
  * co-occurrence miner, here as the event-vocabulary analog — which
  * codes travel together across patients / which event types co-occur
  * within users.
  *
  * Shape at scale: the stream shuffles ONCE — straight into the
  * per-entity `collect_set`, which dedups map-side (the distinct IS the
  * set-union partial agg, no separate distinct pass). Each entity's
  * item set is vocabulary-bounded (≤ distinct items, NOT event count),
  * so the in-group pair explosion via [[Pairs.pairs]] is
  * |vocab|² worst-case per entity and typically tiny — uncapped on
  * purpose, not [[Pairs.bucketPairs]]: a capped entity would drop its
  * pairs from the support counts and skew every rule; pair counts then
  * partial-aggregate to a ≤ vocab² frame. Item marginals and the
  * entity total derive from the materialized entity-set frame — the
  * facts are scanned once and never shuffle again.
  */
object Assoc {

  /** (antecedent, consequent, n_both, support, confidence, lift), both
    * directions of every pair with `n_both >= minCount`.
    *
    *   support    = n_both / n_entities
    *   confidence = n_both / n_antecedent
    *   lift       = n_both · n_entities / (n_antecedent · n_consequent)
    */
  def rules(df: DataFrame, entityCol: String, itemCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // ONE corpus scan: distinct (e, i) folds into the per-entity set agg
    // (collect_set dedups map-side), so the stream shuffles exactly once.
    // Pairs, item marginals, and the entity total all branch off `sets` —
    // materialized once (entity-sized, the smallest frame in the op) so
    // the branches don't re-scan the stream (persist on a cluster; same
    // reasoning as PageRank's per-round frames).
    val sets = df
      .filter(col(itemCol).isNotNull)
      .select(col(entityCol).as("e"), col(itemCol).as("i"))
      .groupBy("e")
      .agg(sort_array(collect_set(col("i"))).as("is"))
      .pin(true)

    val pairCounts = Pairs.pairs(sets, col("is"), "a", "b")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minCount)

    val singles = sets.select(explode(col("is")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("n1"))
    val total = sets.select(count(lit(1)).as("n_entities"))

    val directed = pairCounts.select(col("a").as("ante"), col("b").as("cons"), col("n_both"))
      .unionAll(pairCounts.select(col("b").as("ante"), col("a").as("cons"), col("n_both")))

    directed
      .join(broadcast(singles.withColumnRenamed("i", "ante").withColumnRenamed("n1", "n_ante")), "ante")
      .join(broadcast(singles.withColumnRenamed("i", "cons").withColumnRenamed("n1", "n_cons")), "cons")
      .crossJoin(broadcast(total))
      .select(
        col("ante"), col("cons"), col("n_both"),
        (col("n_both").cast("double") / col("n_entities").cast("double")).as("support"),
        (col("n_both").cast("double") / col("n_ante").cast("double")).as("confidence"),
        (col("n_both").cast("double") * col("n_entities").cast("double") /
          (col("n_ante").cast("double") * col("n_cons").cast("double"))).as("lift"))
  }
}
