package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Leave-one-out target encoding of a categorical column — the
  * feature-engineering staple for high-cardinality categories (domain,
  * source, code): replace each category with the mean target of its
  * OTHER members, optionally shrunk toward the global mean, so the
  * encoding carries signal without leaking the row's own label (the
  * naive category mean memorizes singletons — exactly the leakage a
  * [[graft.pipeline.Splits]] audit would flag).
  *
  *   enc_i = (Σ_cat y − y_i + m·ȳ) / (n_cat − 1 + m)
  *
  * with smoothing weight m (m = 0: pure LOO; larger m: shrinkage —
  * singleton categories fall back to the global mean instead of NULL).
  *
  * Scale shape: one fact pass to the category-sized (sum, count) frame
  * (r6→DECIMAL sums), a one-row global-mean frame, both BROADCAST back
  * onto the facts — the fact table itself never shuffles, the plan a
  * 100 TB feature pipeline needs. The per-row encode is one fixed IEEE
  * sequence. Rows with NULL category or target emit NULL enc.
  */
object TargetEncode {

  /** Output: input columns + `enc`. */
  def leaveOneOut(
      df: DataFrame,
      catCol: String,
      targetCol: String,
      smoothing: Double = 0.0): DataFrame = {
    require(smoothing >= 0, s"smoothing must be >= 0, got $smoothing")
    val y = col(targetCol).cast("double")
    val ok = col(catCol).isNotNull && y.isNotNull && !isnan(y)
    val cat = df.filter(ok)
      .groupBy(col(catCol).as("__c"))
      .agg(dsum(r6(y)).as("__s"), count(lit(1)).as("__n"))
    val glob = df.filter(ok)
      .agg((dsum(r6(y)) / count(lit(1)).cast("double")).as("__gmean"))
    val denom = col("__n").cast("double") - 1.0 + smoothing
    val enc = when(ok && denom > 0.0,
      (col("__s") - r6(y) + lit(smoothing) * col("__gmean")) / denom)
    df.join(broadcast(cat), df(catCol) === col("__c"), "left")
      .crossJoin(broadcast(glob))
      .withColumn("enc", enc)
      .drop("__c", "__s", "__n", "__gmean")
  }
}
