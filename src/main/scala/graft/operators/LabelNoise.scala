package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Confident-learning label-noise audit (Northcutt et al. 2021) — the
  * "which labels are wrong" screen that runs before anyone trains on a
  * labeled corpus. Given per-(example, class) predicted probabilities
  * and the given labels, it estimates the CONFIDENT JOINT: the count
  * matrix C[given label][confident class], where an example counts
  * toward class j only if its p_j clears that class's self-confidence
  * threshold t_j = mean(p_j | given label = j). Off-diagonal mass IS the
  * estimated label noise — "200 docs labeled 'es' that the model is
  * confident are 'en'".
  *
  * Execution: thresholds are one conditional-mean aggregation over the
  * (examples × classes) scored frame (r6→DECIMAL, so t_j is
  * partitioning-independent and the ≥-threshold cut cannot flake
  * cross-engine); the candidate cut is a broadcast class-sized join; the
  * confident class is one per-example window (argmax p, class-name
  * ties); the matrix is a final class²-sized aggregation. Examples
  * clearing NO threshold are dropped from the joint (the CL convention:
  * no confident evidence, no vote) but counted in `n_unconfident` via
  * the label totals so the drop is visible, not silent.
  *
  * Output: (label, confident_class, n, frac_of_label, n_label,
  * n_unconfident) — one row per OBSERVED (label, confident) pair.
  */
object LabelNoise {

  def confidentJoint(
      scored: DataFrame,
      idCol: String,
      labelCol: String,
      classCol: String,
      probCol: String): DataFrame = {
    val p = col(probCol)
    // t_j: mean posterior of class j over examples GIVEN label j
    val thresholds = scored
      .filter(col(labelCol) === col(classCol))
      .groupBy(col(classCol))
      .agg((dsum(r6(p)) /
        count(lit(1)).cast("double")).as("__t0"))
      .select(col(classCol), r6(col("__t0")).as("__t"))
    val candidates = scored
      .join(broadcast(thresholds), classCol)
      .filter(p >= col("__t"))
    val byExample = Window.partitionBy(col(idCol))
      .orderBy(p.desc, col(classCol).asc)
    val confident = candidates
      .withColumn("__rn", row_number().over(byExample))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(labelCol), col(classCol).as("confident_class"))
    val labelTotals = scored
      .select(col(idCol), col(labelCol)).distinct()
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_label"))
    confident
      .groupBy(col(labelCol), col("confident_class"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(labelTotals), labelCol)
      .withColumn("frac_of_label",
        r6(col("n").cast("double") / col("n_label").cast("double")))
      .withColumn("n_unconfident",
        col("n_label") - sum(col("n")).over(Window.partitionBy(col(labelCol))))
      .select(col(labelCol).as("label"), col("confident_class"), col("n"),
        col("frac_of_label"), col("n_label"), col("n_unconfident"))
  }
}
