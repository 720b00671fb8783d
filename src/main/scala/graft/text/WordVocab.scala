package graft.text

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus word-vocabulary fitting + encoding — the word-level analog of
  * `fit_vocabulary_indices` (reference ranks the code dimension; a
  * training-data pipeline also ranks the token dimension to build a
  * fixed-size tokenizer vocabulary with an OOV bucket).
  *
  * Shapes: the count table is vocab-sized after one map-side-combined
  * groupBy; the top-`maxSize` cut compiles to TakeOrderedAndProject
  * (per-partition heaps, no global sort), and the id-assigning window
  * runs below that limit, so it is bounded by `maxSize` — the only
  * global window family the plan specs allow. Encoding is a
  * broadcast join of the (small) vocabulary against exploded token
  * positions; unknown words map to id 0 (reserved, same convention as
  * the code vocabulary).
  */
object WordVocab {

  private def toks(textCol: String) =
    graft.text.TextFunctions.wordTokens(col(textCol)) // native kernel, same fields

  /** (word, n, word_id): ids 1..maxSize by (count desc, word asc); 0 is
    * reserved for OOV.
    */
  def fit(docs: DataFrame, textCol: String, maxSize: Int, minCount: Long = 1L): DataFrame = {
    require(maxSize > 0, "maxSize must be positive")
    require(minCount >= 1, "minCount must be >= 1")
    docs
      .select(explode(toks(textCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("word"))
      .limit(maxSize)
      .withColumn("word_id",
        row_number().over(Window.orderBy(col("n").desc, col("word"))).cast("long"))
  }

  /** Exploded encoding: (id, pos, word_id) per token position, OOV = 0.
    * `vocab` is a [[fit]] result (or any (word, word_id) frame).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String, vocab: DataFrame): DataFrame =
    docs
      .select(col(idCol).as("id"), posexplode(toks(textCol)).as(Seq("pos", "word")))
      .join(broadcast(vocab.select(col("word"), col("word_id"))), Seq("word"), "left")
      .select(
        col("id"), col("pos").cast("long").as("pos"),
        coalesce(col("word_id"), lit(0L)).as("word_id"))

  /** Per-document vocabulary coverage: (id, n_tokens, n_oov, oov_rate)
    * against a [[fit]]-shaped vocabulary — the tokenizer-fit health check
    * ("which documents does this vocabulary not speak?"). A high OOV rate
    * flags the docs a fixed vocab would shred into unknowns: wrong
    * language for the vocab, mojibake, code in a prose vocab.
    *
    * Same broadcast-join shape as [[encode]] but collapsed per document
    * — the exploded positions never leave the map side (partial count
    * before the id exchange). Documents with ZERO tokens don't explode
    * any rows and are absent from the output; absence means "no tokens
    * to cover", not coverage 0 (callers left-join if they need the
    * empty-doc rows).
    */
  def coverage(docs: DataFrame, idCol: String, textCol: String, vocab: DataFrame): DataFrame =
    docs
      .select(col(idCol).as("id"), explode(toks(textCol)).as("word"))
      .join(broadcast(vocab.select(col("word"), col("word_id"))), Seq("word"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        coalesce(sum(when(col("word_id").isNull, 1L)), lit(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens").cast("double"))

  /** Heaps'-law fit of vocabulary growth — V(N) ≈ K·N^β over the
    * corpus read in id order: β near 1 means the vocabulary never
    * saturates (heavy duplication of structure, OCR noise, or id-like
    * tokens — dedup/cleaning signal), β in the classic 0.4–0.7 band
    * means natural text. Measured WITHOUT any corpus-sized ordered
    * window: each word's FIRST document and each document's token
    * count collapse to per-CHECKPOINT conditional aggregates
    * (V_c = |{w : first_doc(w) < c}|, N_c = Σ_{id<c} tokens — one
    * pass, |checkpoints| counters), then log-log OLS over the ≤
    * |checkpoints| surviving points is a closed form of r6-pinned
    * sums. Checkpoints with V < 2 or N < 2 are dropped (a log-log fit
    * through the origin is noise).
    *
    * Output ONE row: (n_points, heaps_beta, heaps_k, r2) — NULL fit
    * when fewer than 3 points survive.
    */
  def heapsLaw(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty && checkpoints.size <= 64,
      s"need 1..64 checkpoints, got ${checkpoints.size}")
    require(checkpoints == checkpoints.sorted && checkpoints.distinct == checkpoints,
      "checkpoints must be strictly increasing")
    val firstDoc = docs
      .select(col(idCol).cast("long").as("__id"), explode(toks(textCol)).as("word"))
      .groupBy(col("word")).agg(min(col("__id")).as("__fd"))
    val docTokens = docs.select(col(idCol).cast("long").as("__id"),
      size(toks(textCol)).cast("long").as("__nt"))
    val vCols = checkpoints.zipWithIndex.map { case (c, i) =>
      count(when(col("__fd") < c, lit(1))).as(s"__v$i")
    }
    val nCols = checkpoints.zipWithIndex.map { case (c, i) =>
      coalesce(sum(when(col("__id") < c, col("__nt"))), lit(0L)).as(s"__cn$i")
    }
    val vRow = firstDoc.agg(vCols.head, vCols.tail: _*)
    val nRow = docTokens.agg(nCols.head, nCols.tail: _*)
    val points = vRow.crossJoin(broadcast(nRow)) // one-row frames: lint-exempt
      .select(explode(array(checkpoints.indices.map(i =>
        struct(col(s"__cn$i").as("nn"), col(s"__v$i").as("vv"))): _*)).as("__p"))
      .select(col("__p.nn").as("__nn"), col("__p.vv").as("__vv"))
      .filter(col("__nn") >= 2 && col("__vv") >= 2)
      .select(
        r6(log(col("__nn").cast("double"))).as("__x"),
        r6(log(col("__vv").cast("double"))).as("__y"))
    // log-log OLS closed form over the checkpoint frame
    val nD = count(lit(1)).cast("double")
    val fit = points.agg(
      count(lit(1)).as("n_points"),
      dsum(col("__x")).as("__sx"), dsum(col("__y")).as("__sy"),
      dsum(r6(col("__x") * col("__y"))).as("__sxy"),
      dsum(r6(col("__x") * col("__x"))).as("__sxx"),
      dsum(r6(col("__y") * col("__y"))).as("__syy"),
      nD.as("__n"))
    val det = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val beta = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / det
    val sstot = col("__syy") - col("__sy") * col("__sy") / col("__n")
    val ssres = sstot - beta * (col("__sxy") - col("__sx") * col("__sy") / col("__n"))
    fit.select(
      col("n_points"),
      when(col("n_points") >= 3 && det > 0, r6(beta)).as("heaps_beta"),
      when(col("n_points") >= 3 && det > 0,
        r6(exp((col("__sy") - beta * col("__sx")) / col("__n")))).as("heaps_k"),
      when(col("n_points") >= 3 && det > 0 && sstot > 0,
        r6(lit(1.0) - ssres / sstot)).as("r2"))
  }

  /** word2vec-style negative-sampling table: each vocabulary word gets
    * probability ∝ count^power (0.75 is the canonical smoothing — raw
    * frequency over-samples stopwords, uniform over-samples typos) and
    * a half-open cumulative range [cum_lo, cum_hi) so a sampler can
    * map a uniform u ∈ [0,1) to a word by range lookup (range-join or
    * broadcast binary search downstream). The standard prep step for
    * negative sampling / candidate sampling losses.
    *
    * One corpus pass to the vocab-sized count frame; the smoothed
    * weights and the cumulative window run ON that frame — the
    * cumulative ordering (count desc, word) is the [[fit]] vocabulary
    * rank, the same bounded-by-contract global window as
    * fit_vocabulary_indices. Weights are r6-pinned before the
    * DECIMAL(38,6) normalizing sum and the running total, so ranges
    * are engine-independent; cum_hi of the last word is the total
    * pinned mass, not exactly 1.0 — callers sample u < max(cum_hi)
    * (documented rather than hidden with a lossy renormalize).
    *
    * Output: (word, n, weight, prob, cum_lo, cum_hi) ordered by rank.
    */
  def samplingTable(
      docs: DataFrame,
      textCol: String,
      power: Double = 0.75,
      minCount: Long = 1L): DataFrame = {
    require(power > 0 && power <= 1.0, s"power must be in (0, 1], got $power")
    val counts = docs
      .select(explode(toks(textCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .withColumn("weight", r6(pow(col("n").cast("double"), lit(power))))
    val total = counts.agg(
      dsum(col("weight")).as("__tw"))
    val byRank = Window.orderBy(col("n").desc, col("word"))
    val run = byRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .crossJoin(broadcast(total)) // one-row totals frame: lint-exempt
      .withColumn("prob", r6(col("weight") / col("__tw")))
      .withColumn("cum_hi",
        sum(col("prob").cast("decimal(38,6)")).over(run).cast("double"))
      .withColumn("cum_lo", r6(col("cum_hi") - col("prob")))
      .select(col("word"), col("n"), col("weight"), col("prob"),
        col("cum_lo"), col("cum_hi"))
  }
}
