package graft.operators

import graft.functions.Portable.r6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches (Apache DataSketches HLL, built
  * into Spark): the approximate, O(1)-state twin of the exact patient
  * counts that [[CodeMetadata]]'s reducers sum over patient-disjoint
  * partials — for the counts a
  * 100 TB pipeline cannot afford exactly (distinct patients per code
  * across federated sites, distinct documents per shingle across
  * ingest increments).
  *
  * The contract that matters at scale: partials computed per shard /
  * site / day are BINARY columns that union in any topology — merging
  * yesterday's rollup with today's delta estimates within the sketch's
  * error bounds of a one-shot merge over all history, so incremental
  * ingest never re-scans history. (Estimates are NOT bit-identical
  * across merge topologies: sparse→dense mode promotion points differ.
  * Both the topology tolerance and the accuracy-vs-exact bound are
  * spec-pinned. DuckDB's approx_distinct is a different estimator, so
  * `q_hll` ships rows-only rather than oracle-hashed.)
  */
object Sketches {

  /** Per-key sketch partials: (keys..., sketch BINARY). `lgK` trades
    * state (2^lgK bytes-ish) for accuracy (~1.04/√2^lgK).
    */
  def distinctSketchPartials(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      lgK: Int = 12
  ): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Reduce partial sketch tables (patient-disjoint or not — HLL union
    * is idempotent for repeated items) to one sketch per key.
    */
  def mergeSketchPartials(partials: DataFrame, keyCols: Seq[String]): DataFrame =
    partials
      .groupBy(keyCols.map(col): _*)
      .agg(hll_union_agg(col("sketch")).as("sketch"))

  /** Replace the binary sketch with its distinct-count estimate. */
  def estimate(sketches: DataFrame): DataFrame =
    sketches.withColumn("n_distinct_est", hll_sketch_estimate(col("sketch"))).drop("sketch")

  // ------------------------------------------------------------ count-min

  /** Count-min sketch as a relational frame: `depth` independent
    * md5-derived hash rows × `width` buckets of ADDITIVE counts —
    * (j, b, n). Partial-aggregates map-side to at most depth×width rows
    * per partition, and two sketch tables MERGE by summing matching
    * cells (the CDC/federated increment property [[mergeSketchPartials]]
    * has for distinct counts, here for frequencies). Estimates
    * overcount, never undercount.
    *
    * Unlike HLL's binary blobs this sketch is pure integer arithmetic on
    * md5, so any engine reproduces it bit-for-bit — the estimate itself
    * is oracle-verifiable.
    */
  def countMinTable(df: DataFrame, itemCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch dims $depth x $width")
    df.select(col(itemCol).cast("string").as("i"))
      .filter(col("i").isNotNull)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"), col("i"))
      .groupBy(col("j"),
        pmod(graft.text.TextFunctions.md5Hash32(concat_ws("#", col("j"), col("i"))),
          lit(width.toLong)).as("b"))
      .agg(count(lit(1)).as("n"))
  }

  /** Merge count-min partials built with the SAME (depth, width): cells
    * add. */
  def countMinMerge(partials: DataFrame): DataFrame =
    partials.groupBy("j", "b").agg(sum(col("n")).as("n"))

  /** Point-estimate the frequency of each row's `itemCol`: min over the
    * sketch's depth rows of the item's bucket count. The sketch is
    * depth×width — always broadcast; the probe side never shuffles.
    */
  def countMinEstimate(sketch: DataFrame, items: DataFrame, itemCol: String, depth: Int, width: Int): DataFrame =
    items
      .select(col(itemCol).cast("string").as("i")).distinct()
      .select(col("i"), explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .withColumn("b",
        pmod(graft.text.TextFunctions.md5Hash32(concat_ws("#", col("j"), col("i"))),
          lit(width.toLong)))
      .join(broadcast(sketch), Seq("j", "b"), "left")
      .groupBy("i")
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))

  // ----------------------------------------------------------------- KMV

  /** The normalized (0,1] hash position of a 32-bit md5 value — the
    * order statistic every KMV estimate is built on.
    */
  private def kmvU(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (h.cast("double") + lit(1.0)) / lit(4294967296.0)

  /** Per-group KMV sketch of `itemCol`'s distinct-value set, plus the
    * distinct-count estimate (k−1)/u₍ₖ₎ — exact (= sketch size) when the
    * group has fewer than k distinct values. The sketch column is kept:
    * unlike HLL, downstream set algebra ([[kmvOverlap]]) runs on it
    * row-locally. md5-derived hashing makes every estimate
    * deterministically reproducible in any engine (the [[countMinTable]]
    * discipline — the estimate itself is oracle-verifiable).
    *
    * Execution: ONE map-side-bounded aggregation ([[graft.functions.KmvSketch]]
    * keeps ≤ k distinct longs per group per partition before the
    * exchange) — no distinct shuffle of the full value set, ever.
    */
  def kmvDistinct(df: DataFrame, by: Seq[String], itemCol: String, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2 (the estimate is (k-1)/u_k), got $k")
    df.groupBy(by.map(col): _*)
      .agg(graft.functions.KmvSketch.kmv(
        graft.text.TextFunctions.md5Hash32(col(itemCol).cast("string")), k).as("kmv"))
      .withColumn("est_distinct",
        r6(
          when(size(col("kmv")) < k, size(col("kmv")).cast("double"))
            .otherwise(lit(k - 1.0) / kmvU(element_at(col("kmv"), k)))))
  }

  /** Pairwise set-overlap estimates between groups' KMV sketches
    * (Beyer et al. 2007): for each group pair the two k-sketches combine
    * ROW-LOCALLY — L = the k smallest of the sketch union,
    * J = |L ∩ Sa ∩ Sb| / |L|, union = (k−1)/u₍ₖ₎(L) (exact when the
    * union sketch holds fewer than k values), intersection = J · union.
    * The fact table is long gone: this joins the GROUP-sized sketch
    * frame with itself (a < b), so "vocabulary overlap between every
    * pair of 50 sources" costs 1225 array operations, not 1225 distinct
    * joins over the corpus.
    */
  def kmvOverlap(sketches: DataFrame, keyCol: String, k: Int): DataFrame = {
    val a = sketches.select(col(keyCol).as("key_a"), col("kmv").as("__sa"),
      col("est_distinct").as("est_a"))
    val b = sketches.select(col(keyCol).as("key_b"), col("kmv").as("__sb"),
      col("est_distinct").as("est_b"))
    val u = array_sort(array_union(col("__sa"), col("__sb")))
    val pairs = a.join(broadcast(b), col("key_a") < col("key_b"))
      .withColumn("__u", u)
      .withColumn("__l", slice(col("__u"), 1, k))
    val lSize = size(col("__l")).cast("double")
    val nCommonInL = size(array_intersect(col("__l"), array_intersect(col("__sa"), col("__sb"))))
    val jac = when(lSize > 0, nCommonInL.cast("double") / lSize)
    val estUnion = when(size(col("__u")) < k, size(col("__u")).cast("double"))
      .otherwise(lit(k - 1.0) / kmvU(element_at(col("__l"), k)))
    pairs
      .withColumn("est_union", r6(estUnion))
      .withColumn("est_jaccard", r6(jac))
      .withColumn("est_intersection", r6(jac * estUnion))
      .select("key_a", "key_b", "est_a", "est_b", "est_union", "est_jaccard", "est_intersection")
  }
}
