package graft.operators

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RFM (recency / frequency / monetary) segmentation — the classic
  * customer-value coding: per entity, when did it last act, how often,
  * and how much, each quantile-binned 1..nBins, concatenated into a
  * segment code (e.g. 555 = recent + frequent + big). The behavioral
  * cousin of [[graft.pipeline.Selection]]'s quota scoring: one code
  * per entity that downstream campaigns / retention cuts key on.
  *
  * Scale shape: ONE fact pass partial-aggregates to the per-entity
  * (recency, frequency, monetary) frame; the three ntile windows run
  * per PARTITION column (e.g. market segment) over that entity-sized
  * frame — never over facts. Monetary sums go through r6 → DECIMAL so
  * the totals are reduction-order-free; ntile ties break by the entity
  * id, so bucket assignment is deterministic and engine-reproducible.
  * At 100 TB the exact ntile swaps for approx-quantile thresholds the
  * same way [[Quantiles]] documents (conf-switched there).
  */
object Rfm {

  /** Per-entity RFM codes within each `segCol` partition. Output:
    * (seg, entity, recency, frequency, monetary, r, f, m, rfm) with
    * recency the max event time (most recent = highest r bin),
    * r/f/m ∈ 1..nBins and rfm = r·100 + f·10 + m for nBins ≤ 9.
    */
  def rfm(
      df: DataFrame,
      segCol: String,
      custCol: String,
      timeCol: String,
      amountCol: String,
      nBins: Int = 5): DataFrame = {
    require(nBins >= 2 && nBins <= 9, s"nBins must be in 2..9, got $nBins")
    def dec(c: Column): Column =
      r6(c.cast("double")).cast("decimal(38,6)")
    val base = df
      .filter(col(custCol).isNotNull && col(timeCol).isNotNull)
      .groupBy(col(segCol).as("seg"), col(custCol).as("entity"))
      .agg(
        max(col(timeCol)).as("recency"),
        count(lit(1)).as("frequency"),
        sum(dec(col(amountCol))).cast("double").as("monetary"))
    def binW(order: Column) = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(order, col("entity"))
    base
      .withColumn("r", ntile(nBins).over(binW(col("recency"))).cast("long"))
      .withColumn("f", ntile(nBins).over(binW(col("frequency"))).cast("long"))
      .withColumn("m", ntile(nBins).over(binW(col("monetary"))).cast("long"))
      .withColumn("rfm", col("r") * 100 + col("f") * 10 + col("m"))
  }
}
