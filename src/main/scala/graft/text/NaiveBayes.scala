package graft.text

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bernoulli naive-Bayes text classifier, trained and applied in one
  * relational plan — the classic corpus quality/domain classifier shape
  * (GPT-3's quality filter was exactly this: a cheap linear model over
  * sparse text features gating a 100 TB corpus). Bernoulli (word
  * PRESENCE) rather than multinomial: presence profiles separate
  * classes even when per-token distributions match, and the model table
  * stays vocab×classes-sized.
  *
  * Train: p(w|c) = (docs_in_c_containing_w + α) / (docs_in_c + 2α)
  * (Laplace, so unseen (w, c) cells stay finite). Score:
  * ln P(c|d) ∝ ln prior_c + Σ_vocab ln(1−p_wc) + Σ_{w∈d} [ln p_wc −
  * ln(1−p_wc)] — the absent-word mass is folded into a per-class
  * CONSTANT (Σ_vocab ln(1−p_wc)), so scoring joins only the doc's
  * PRESENT words against the model: one token-level equi-join, never a
  * doc×vocab grid.
  *
  * Execution: one pass to the distinct-word doc frame; the model is a
  * (vocab × classes) grid built from vocab-sized aggregates (zero cells
  * from a broadcast class cross-join); scoring is the token join +
  * map-side-combined per-(doc, class) aggregation; posteriors are a
  * max-shifted softmax under per-doc windows (the q_softmax overflow
  * discipline). Every floating sum is r6→DECIMAL — partitioning- and
  * engine-independent.
  *
  * Self-training on a derived label (length bucket, heuristic rule) and
  * reading the confident-joint off the posteriors is the
  * [[graft.operators.LabelNoise]] composition.
  *
  * Output: one row per (doc, class) — (idCol, label, class, log_post,
  * posterior). Docs with zero tokens emit no rows (no evidence, no
  * score — NULL-posterior rows would just poison downstream argmaxes).
  */
object NaiveBayes {

  def bernoulliNb(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"Laplace alpha must be > 0, got $alpha")
    val base = docs.select(
      col(idCol).as("__id"),
      col(labelCol).cast("string").as("__label"),
      array_distinct(TextFunctions.wordTokens(col(textCol))).as("__ws"))
    val present = base
      .select(col("__id"), col("__label"), explode(col("__ws")).as("__w"))
    val classes = base.groupBy("__label").agg(count(lit(1)).as("__nc"))
    val total = base.agg(count(lit(1)).as("__n"))
    val vocab = present.select("__w").distinct()
    val wc = present
      .groupBy(col("__w"), col("__label"))
      .agg(count(lit(1)).as("__dw"))
    // full vocab × class grid so absent (w, c) cells get the Laplace floor
    val grid = vocab
      .crossJoin(broadcast(classes))
      .join(wc, Seq("__w", "__label"), "left")
      .withColumn("__p",
        (coalesce(col("__dw"), lit(0L)).cast("double") + lit(alpha)) /
          (col("__nc").cast("double") + lit(2.0 * alpha)))
    val model = grid.select(
      col("__w"), col("__label").as("__class"),
      r6(log(col("__p")) - log(lit(1.0) - col("__p"))).as("__wt"),
      r6(log(lit(1.0) - col("__p"))).as("__ln1p"))
    // per-class constant: ln prior + Σ_vocab ln(1−p)
    val classConst = model
      .groupBy("__class")
      .agg(dsum(col("__ln1p")).as("__s"))
      .join(broadcast(classes.withColumnRenamed("__label", "__class")), "__class")
      .crossJoin(broadcast(total))
      .select(col("__class"),
        (col("__s") + log(col("__nc").cast("double") / col("__n").cast("double"))).as("__const"))
    val docClass = present
      .select(col("__id"), col("__label"), col("__w"))
      .join(model.select(col("__w"), col("__class"), col("__wt")), "__w")
      .groupBy(col("__id"), col("__label"), col("__class"))
      .agg(dsum(col("__wt")).as("__m"))
      .join(broadcast(classConst), "__class")
      .withColumn("log_post", r6(col("__const") + col("__m")))
    // max-shifted softmax per doc (classes-per-doc is class-count-sized)
    val byDoc = Window.partitionBy(col("__id"))
    val shifted = docClass
      .withColumn("__mx", max(col("log_post")).over(byDoc))
      .withColumn("__e", r6(exp(col("log_post") - col("__mx"))))
      .withColumn("__den", sum(col("__e").cast("decimal(38,6)")).over(byDoc).cast("double"))
    shifted.select(
      col("__id").as(idCol),
      col("__label").as("label"),
      col("__class").as("class"),
      col("log_post"),
      r6(col("__e") / col("__den")).as("posterior"))
  }
}
