package graft.text

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-BLEU evaluation over a (candidate, reference) text-pair table —
  * the standard n-gram-overlap quality score for any generate/compress/
  * translate stage of a data pipeline (e.g. "how much of the original
  * does the cleaned/decompressed/back-translated text retain"). Papineni
  * et al. 2002 semantics: per n ∈ 1..4 the CLIPPED n-gram matches are
  * summed over all pairs before the precision ratio is taken (corpus
  * BLEU, not averaged sentence BLEU), and the brevity penalty uses the
  * corpus-total candidate/reference token counts.
  *
  * Execution shape: tokenization and n-gram expansion are row-local (one
  * flattened (n, gram) explode per side — no re-tokenization per n);
  * per-(pair, n, gram) counts are map-side-combined groupBys; the clip
  * join is an equi-join of the two count frames on (id, n, gram); and
  * everything downstream of the first aggregation is group×4-sized.
  * Every sum is an exact integer until the final ratio row, so the
  * result is partitioning-independent with no DECIMAL plumbing.
  *
  * BLEU = BP · exp(Σₙ ln pₙ / 4); BP = min(1, exp(1 − ref/cand));
  * any pₙ = 0 ⇒ BLEU = 0 (the corpus-BLEU convention — smoothing is a
  * sentence-level concern); a group with zero candidate 4-grams emits
  * NULL precisions and NULL bleu rather than fake zeros.
  */
object Bleu {

  private val MaxN = 4

  /** N-gram string arrays for n = 1..4 as one flattened (n, gram) array —
    * row-local, computed from a single tokenization.
    */
  private def gramStructs(toks: Column): Column = {
    val perN = (1 to MaxN).map { n =>
      if (n == 1) transform(toks, t => struct(lit(n).as("n"), t.as("gram")))
      else
        // sequence(1, len−n+1) would be the DESCENDING [1, 0] when the
        // text is shorter than n (Spark infers step −1) — guard to empty
        when(size(toks) >= n,
          transform(
            sequence(lit(1), size(toks) - (n - 1)),
            i => struct(lit(n).as("n"), array_join(slice(toks, i, lit(n)), " ").as("gram"))))
          .otherwise(array().cast("array<struct<n:int,gram:string>>"))
    }
    flatten(array(perN: _*))
  }

  /** Per-(id, n, gram) counts of one side. `by` is carried (id → group is
    * functionally dependent, so it rides the same groupBy for free).
    */
  private def gramCounts(
      df: DataFrame,
      by: Seq[String],
      idCol: String,
      textCol: String,
      out: String): DataFrame =
    df.select((by.map(col) :+ col(idCol).as("__id") :+
        explode(gramStructs(TextFunctions.wordTokens(col(textCol)))).as("__g")): _*)
      .groupBy(by.map(col) :+ col("__id") :+ col("__g.n").as("__n") :+ col("__g.gram").as("__gram"): _*)
      .agg(count(lit(1)).as(out))

  /** One row per `by` group: pair/token totals, BP, p₁..p₄, corpus BLEU.
    * With `by = Nil`, one global row.
    */
  def corpusBleu(
      pairs: DataFrame,
      by: Seq[String],
      idCol: String,
      candCol: String,
      refCol: String): DataFrame = {
    val cand = gramCounts(pairs, by, idCol, candCol, "__cc")
    val ref = gramCounts(pairs, Seq.empty, idCol, refCol, "__rc")
    // clipped matches: only grams present on BOTH sides contribute
    val clip = cand
      .join(ref, Seq("__id", "__n", "__gram"))
      .groupBy(by.map(col) :+ col("__n"): _*)
      .agg(sum(least(col("__cc"), col("__rc"))).as("__clip"))
    // candidate totals per n are a closed form of the token length —
    // no second explode: tot_n = Σ_pairs max(len − n + 1, 0)
    val lens = pairs.select(
      (by.map(col) :+
        size(TextFunctions.wordTokens(col(candCol))).cast("long").as("__lc") :+
        size(TextFunctions.wordTokens(col(refCol))).cast("long").as("__lr")): _*)
    val totAggs = Seq(
      count(lit(1)).as("n_pairs"),
      sum(col("__lc")).as("cand_tokens"),
      sum(col("__lr")).as("ref_tokens")) ++
      (1 to MaxN).map(n => sum(greatest(col("__lc") - (n - 1), lit(0L))).as(s"__tot$n"))
    val tots = lens.groupBy(by.map(col): _*).agg(totAggs.head, totAggs.tail: _*)
    val clipAggs = (1 to MaxN).map(n =>
      coalesce(sum(when(col("__n") === n, col("__clip"))), lit(0L)).as(s"__clip$n"))
    val clipWide = clip
      .groupBy(by.map(col): _*)
      .agg(clipAggs.head, clipAggs.tail: _*)
    val joined =
      if (by.isEmpty) tots.crossJoin(broadcast(clipWide))
      else tots.join(clipWide, by, "left")
    val withP = (1 to MaxN).foldLeft(joined) { (df, n) =>
      df.withColumn(s"p$n",
        when(col(s"__tot$n") > 0,
          coalesce(col(s"__clip$n"), lit(0L)).cast("double") / col(s"__tot$n").cast("double")))
    }
    val bp = when(col("cand_tokens") >= col("ref_tokens"), lit(1.0))
      .otherwise(when(col("cand_tokens") > 0,
        exp(lit(1.0) - col("ref_tokens").cast("double") / col("cand_tokens").cast("double"))))
    val lnSum = (1 to MaxN).map(n => log(col(s"p$n"))).reduce(_ + _)
    val anyZero = (1 to MaxN).map(n => col(s"p$n") === 0.0).reduce(_ || _)
    val bleu = when(anyZero, lit(0.0)).otherwise(col("bp") * exp(lnSum / MaxN))
    withP
      .withColumn("bp", r6(bp))
      .withColumn("bleu", r6(bleu))
      .select((by.map(col) :+ col("n_pairs") :+ col("cand_tokens") :+ col("ref_tokens") :+
        col("bp")) ++ (1 to MaxN).map(n => r6(col(s"p$n")).as(s"p$n")) :+ col("bleu"): _*)
  }
}
