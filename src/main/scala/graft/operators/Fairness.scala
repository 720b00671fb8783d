package graft.operators

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Group-fairness audit of a binary decision against a protected
  * attribute — the pre-deployment sheet for any classifier that gates
  * content or people: selection rate, TPR, and FPR per group, each next
  * to its disparity against a REFERENCE group, covering the three
  * standard criteria in one pass (demographic parity = selection-rate
  * ratio, equal opportunity = TPR gap, equalized odds = TPR and FPR
  * gaps together). The four-fifths flag is the classic EEOC screen
  * (selection ratio < 0.8).
  *
  * No fairness metric is computable without a label, and label bias is
  * out of scope by construction — this audits the DECISION against the
  * given ground truth, which is exactly what it claims.
  */
object Fairness {

  /** One corpus aggregate to the group-sized (group × confusion) frame,
    * then a one-row broadcast of the reference group's rates. The
    * reference is the LARGEST group (ties by group name ascending) —
    * deterministic and the usual audit convention (disparity against
    * the majority), overridable with `refGroup`.
    *
    * Rates are NULL where undefined (a group with no positives has no
    * TPR) and so are their disparities — a group too small to measure
    * is a visible finding, not a silent 0. Output per group:
    * (group, n, n_selected, selection_rate, tpr, fpr,
    * selection_ratio, tpr_gap, fpr_gap, four_fifths_flag).
    */
  def fairnessAudit(
      df: DataFrame,
      groupCol: String,
      selected: Column,
      label: Column,
      refGroup: Option[String] = None): DataFrame = {
    val g = df
      .select(coalesce(col(groupCol).cast("string"), lit("(null)")).as("group"),
        selected.as("__s"), label.as("__y"))
      .groupBy(col("group"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("__s"), lit(1))).as("n_selected"),
        count(when(col("__y"), lit(1))).as("__np"),
        count(when(!col("__y"), lit(1))).as("__nn"),
        count(when(col("__s") && col("__y"), lit(1))).as("__tp"),
        count(when(col("__s") && !col("__y"), lit(1))).as("__fp"))
    val sel = when(col("n") > 0,
      col("n_selected").cast("double") / col("n").cast("double"))
    val tpr = when(col("__np") > 0,
      col("__tp").cast("double") / col("__np").cast("double"))
    val fpr = when(col("__nn") > 0,
      col("__fp").cast("double") / col("__nn").cast("double"))
    val rates = g.select(col("group"), col("n"), col("n_selected"),
      r6(sel).as("selection_rate"), r6(tpr).as("tpr"), r6(fpr).as("fpr"))
    val ref = refGroup match {
      case Some(name) =>
        // a misspelled reference group would otherwise yield an empty
        // reference frame and the crossJoin would silently erase the
        // whole report — fail loudly instead (kendallW / friedman
        // convention): aggregate to exactly one row and raise when no
        // group matched
        rates.filter(col("group") === name)
          .groupBy()
          .agg(count(lit(1)).as("__c"),
            first(col("selection_rate")).as("selection_rate"),
            first(col("tpr")).as("tpr"), first(col("fpr")).as("fpr"))
          .select(
            when(col("__c") >= 1, col("selection_rate"))
              .otherwise(raise_error(concat(
                lit(s"fairnessAudit: reference group '$name' not found in "),
                lit(s"column '$groupCol'")))).as("selection_rate"),
            col("tpr"), col("fpr"))
      case None => rates
        .orderBy(col("n").desc, col("group").asc)
        .limit(1)
    }
    val refRow = ref.select(
      col("selection_rate").as("__rsel"),
      col("tpr").as("__rtpr"), col("fpr").as("__rfpr"))
    rates
      .crossJoin(broadcast(refRow)) // one-row reference: lint-exempt
      .select(
        col("group"), col("n"), col("n_selected"),
        col("selection_rate"), col("tpr"), col("fpr"),
        when(col("__rsel") > 0,
          r6(col("selection_rate") / col("__rsel"))).as("selection_ratio"),
        r6(col("tpr") - col("__rtpr")).as("tpr_gap"),
        r6(col("fpr") - col("__rfpr")).as("fpr_gap"),
        when(col("__rsel") > 0,
          col("selection_rate") / col("__rsel") < 0.8).as("four_fifths_flag"))
  }
}
