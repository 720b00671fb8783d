package graft.text

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency-spectrum lexical statistics — corpus-level richness
  * measures built on the (group, word, count) frame. Complements the
  * per-document [[TextFunctions.lexicalDiversity]] (TTR-family, length-
  * sensitive) and the corpus-level Heaps fit (#299, growth-curve): the
  * spectrum statistics here are LENGTH-INVARIANT by construction, which
  * is what makes sources of different sizes comparable in one table.
  */
object Lexical {

  /** Yule's characteristic K per group:
    * K = 10⁴ · (Σ_m m²·V_m − N) / N², where V_m = number of word types
    * occurring exactly m times and N = token count — the classic
    * repetitiveness constant (higher = more repetitive vocabulary use),
    * famously stable under document length, unlike TTR. Template-farm
    * sources and boilerplate-heavy crawls stand out high; diverse
    * editorial sources sit low.
    *
    * Scale shape: one corpus tokenize+groupBy to the (group, word, cnt)
    * vocabulary frame, one groupBy to the (group, m, V_m) SPECTRUM
    * frame (≤ max-frequency rows per group), one aggregate. Σ m²·V_m
    * as exact BIGINTs — no doubles until the final ratio.
    *
    * Output per group: (by…, n_tokens, n_types, yule_k) — K NULL for
    * an empty group (no tokens, nothing to measure).
    */
  def yuleK(
      df: DataFrame,
      byCols: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(byCols.nonEmpty, "yuleK needs at least one grouping column")
    val by = byCols.map(col)
    val vocab = df
      .select((by :+ explode(TextFunctions.wordTokens(col(textCol))).as("__w")): _*)
      .groupBy((by :+ col("__w")): _*)
      .agg(count(lit(1)).as("__m"))
    val spectrum = vocab
      .groupBy((by :+ col("__m")): _*)
      .agg(count(lit(1)).as("__vm"))
    spectrum
      .groupBy(by: _*)
      .agg(
        sum(col("__m") * col("__vm")).as("n_tokens"),
        sum(col("__vm")).as("n_types"),
        sum(col("__m") * col("__m") * col("__vm")).as("__s2"))
      .select((by ++ Seq(col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0,
          r6(lit(10000.0) * (col("__s2") - col("n_tokens")).cast("double") /
            (col("n_tokens").cast("double") * col("n_tokens").cast("double"))))
          .as("yule_k"))): _*)
  }

  /** Luhn checksum over a digit-string column — the mod-10 test every
    * payment-card number passes, as pure integer arithmetic (1-based
    * positions over the REVERSED string; even positions double,
    * minus 9 past 9). Any engine reproduces it from the same fold.
    */
  def luhnValid(digits: Column): Column = {
    val rev = reverse(digits)
    val total = aggregate(
      sequence(lit(1), length(digits)),
      lit(0L),
      (acc, i) => {
        val d = rev.substr(i, lit(1)).cast("long")
        val dbl = d * 2L
        acc + when(i % 2 === 0, when(dbl > 9L, dbl - 9L).otherwise(dbl)).otherwise(d)
      })
    length(digits) > 0 && total % 10L === 0L
  }

  /** Card-number candidate scan — the VERIFIED layer above
    * [[TextFunctions.redactPii]]'s pattern redaction: digit runs of
    * plausible PAN length (13–19, full runs only — a 20-digit id is NOT
    * a candidate, which a bare `[0-9]{13,19}` match would get wrong)
    * checked against [[luhnValid]]. A random digit run passes Luhn 10%
    * of the time; a corpus slice where HALF the candidates validate is
    * leaking real card numbers — that base-rate comparison is the
    * detector, hence counts, not booleans.
    *
    * Row-local (regexp + integer fold per row, no shuffle at all before
    * the caller's aggregation). Output per doc with ≥1 candidate:
    * (id, n_candidates, n_luhn_valid).
    */
  def luhnScan(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val runs = filter(
      split(col(textCol), "[^0-9]+"),
      s => length(s) >= 13 && length(s) <= 19)
    docs
      .select(col(idCol).as("id"), runs.as("__runs"))
      .filter(size(col("__runs")) > 0)
      .select(col("id"),
        size(col("__runs")).cast("long").as("n_candidates"),
        size(filter(col("__runs"), s => luhnValid(s))).cast("long").as("n_luhn_valid"))
  }

  /** Burrows' Delta — the classic stylometric distance between
    * sources: over the corpus's top-`nWords` words, z-score each
    * source's RELATIVE frequency against the across-source
    * distribution, then Delta(a, b) = mean_w |z_a − z_b|. Small Delta
    * = same "stylistic fingerprint" (function-word habits), the
    * signal that survives topic changes — the authorship/template-farm
    * complement to content dedup: near-zero pairs that exact/minhash
    * dedup does NOT join are one writer publishing under two names.
    *
    * Shapes: corpus top-N by total count via orderBy+limit
    * (TakeOrdered, never a global window); everything after lives on
    * (source × N)-sized frames; the pair join is the group-sized
    * [[graft.operators.Sketches]] KMV pair contract. Words a source
    * never uses count as frequency 0 (the grid is completed
    * explicitly — absence IS style). σ = 0 words (identical use
    * everywhere) contribute 0, not NaN.
    *
    * Output per unordered source pair: (source_a, source_b, n_words,
    * delta).
    */
  def burrowsDelta(
      df: DataFrame,
      sourceCol: String,
      textCol: String = "text",
      nWords: Int = 50): DataFrame = {
    require(nWords >= 5 && nWords <= 500, s"nWords must be in [5, 500], got $nWords")
    val toks = df
      .select(col(sourceCol).as("__s"),
        explode(TextFunctions.wordTokens(col(textCol))).as("__w"))
    val counts = toks.groupBy(col("__s"), col("__w")).agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col("__s")).agg(sum(col("__c")).as("__tot"))
    val top = counts.groupBy(col("__w")).agg(sum(col("__c")).as("__cw"))
      .orderBy(col("__cw").desc, col("__w")).limit(nWords)
      .select(col("__w"))
    // complete the (source × top-word) grid: absence is a 0 frequency
    val grid = totals.join(top) // source-count × nWords rows: bounded both sides
      .join(counts, Seq("__s", "__w"), "left")
      .select(col("__s"), col("__w"),
        (coalesce(col("__c"), lit(0L)).cast("double") /
          col("__tot").cast("double")).as("__f"))
    val stats = grid.groupBy(col("__w"))
      .agg(count(lit(1)).as("__k"),
        dsum(r6(col("__f"))).as("__sf"),
        dsum(r6(col("__f") * col("__f"))).as("__qf"))
    val kD = col("__k").cast("double")
    val mu = col("__sf") / kD
    val sd = sqrt(greatest(col("__qf") / kD - mu * mu, lit(0.0)))
    val z = grid.join(stats, Seq("__w"))
      .select(col("__s"), col("__w"),
        when(sd > 0, r6((col("__f") - mu) / sd)).otherwise(lit(0.0)).as("__z"))
    z.as("a")
      .join(z.as("b"),
        col("a.__w") === col("b.__w") && col("a.__s") < col("b.__s"))
      .groupBy(col("a.__s").as("source_a"), col("b.__s").as("source_b"))
      .agg(count(lit(1)).as("n_words"),
        r6(dsum(r6(abs(col("a.__z") - col("b.__z")))) /
          count(lit(1)).cast("double")).as("delta"))
  }
}
