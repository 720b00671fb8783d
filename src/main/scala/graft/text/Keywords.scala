package graft.text

import graft.functions.Portable.{dsum, r6}
import graft.plans.Materialize.PinOps
import graft.text.TextFunctions.wordTokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distinctive-term extraction: which terms are over-represented in a
  * group relative to the whole corpus — the "what is this source/
  * language/cluster actually about" analysis (and a cheap topic-leak
  * detector when the groups are train/eval splits).
  *
  * lift(g, t) = P(t | g) / P(t): > 1 means the group uses the term more
  * than the corpus does. One corpus-sized shuffle — the (group, term)
  * count table — and every marginal (per-group totals, per-term totals,
  * corpus total) is derived FROM that vocab-sized table, not by
  * re-scanning the corpus; they ride broadcast joins back on.
  */
object Keywords {

  /** (group, term, n, lift) for terms with in-group count ≥ `minCount`
    * (the tail is noise and vocabulary-sized output is the point).
    * Lift is computed in doubles; callers round for cross-engine
    * comparison.
    */
  def termLift(
      docs: DataFrame,
      groupCol: String,
      textCol: String = "text",
      minCount: Long = 10L
  ): DataFrame = {
    // materialize the one corpus pass: four consumers below would
    // otherwise each re-run the explode+groupBy (the repo's standing
    // double-evaluation trap); the table is vocab-sized, so the
    // checkpoint is cheap
    val lt = docs
      .select(col(groupCol).as("group"), explode(wordTokens(col(textCol))).as("term"))
      .groupBy("group", "term")
      .agg(count(lit(1)).as("n"))
      .pin(true)
    val perGroup = lt.groupBy("group").agg(sum(col("n")).as("__ng"))
    val perTerm = lt.groupBy("term").agg(sum(col("n")).as("__nt"))
    val total = lt.agg(sum(col("n")).as("__nn"))
    lt
      .join(broadcast(perGroup), "group")
      .join(broadcast(perTerm), "term")
      .crossJoin(broadcast(total))
      .filter(col("n") >= minCount)
      .select(
        col("group"), col("term"), col("n"),
        ((col("n").cast("double") / col("__ng").cast("double")) /
          (col("__nt").cast("double") / col("__nn").cast("double"))).as("lift"))
  }

  /** Per-group KL divergence from the corpus unigram distribution:
    * KL(P_g ‖ P) = Σ_t P_g(t) · ln(P_g(t) / P(t)) — the scalar "how far
    * has this slice drifted from the whole" signal (source skew, split
    * leakage, crawl-batch drift). Zero-count terms contribute nothing
    * (0·ln0 = 0 by continuity), and P(t) > 0 whenever P_g(t) > 0 since
    * the corpus contains the group, so the sum is always finite.
    *
    * Same execution shape as [[termLift]]: the (group, term) table is
    * the one corpus pass; the divergence is a vocab-sized aggregation
    * over it, with sums in DECIMAL(38,12) so the reduction order cannot
    * wiggle low bits across engines or partitionings.
    */
  def groupDivergence(
      docs: DataFrame,
      groupCol: String,
      textCol: String = "text"
  ): DataFrame = {
    val lt = docs
      .select(col(groupCol).as("group"), explode(wordTokens(col(textCol))).as("term"))
      .groupBy("group", "term")
      .agg(count(lit(1)).as("n"))
      .pin(true)
    val perGroup = lt.groupBy("group").agg(sum(col("n")).as("__ng"))
    val perTerm = lt.groupBy("term").agg(sum(col("n")).as("__nt"))
    val total = lt.agg(sum(col("n")).as("__nn"))
    val pg = col("n").cast("double") / col("__ng").cast("double")
    val p = col("__nt").cast("double") / col("__nn").cast("double")
    lt
      .join(broadcast(perGroup), "group")
      .join(broadcast(perTerm), "term")
      .crossJoin(broadcast(total))
      .select(col("group"), (pg * log(pg / p)).cast("decimal(38,12)").as("__kl"))
      .groupBy("group")
      .agg(sum(col("__kl")).cast("double").as("kl"))
  }

  /** Per-group Jensen–Shannon divergence between the group's unigram
    * distribution P and the REST of the corpus Q (corpus minus the
    * group — comparing against a mixture that contains the group, as
    * [[groupDivergence]] does, dilutes the signal for large groups).
    * JS = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q): symmetric, bounded by ln 2,
    * and finite even on disjoint vocabularies — the pairwise corpus
    * comparison KL can't give.
    *
    * The term grid never materializes: terms ABSENT from the group
    * contribute exactly ½·Q(t)·ln 2 each (their M is Q/2), so their whole
    * mass folds into the closed form ½·ln 2·(1 − Σ_{t∈g} Q(t)) computed
    * from the group's OWN terms. One corpus pass to the (group, term)
    * count table, vocab-sized joins after — the [[termLift]] shape.
    * Groups covering the whole corpus (Q empty) emit NULL.
    */
  def jsDivergence(
      docs: DataFrame,
      groupCol: String,
      textCol: String = "text"
  ): DataFrame = {
    val lt = docs
      .select(col(groupCol).as("group"), explode(wordTokens(col(textCol))).as("term"))
      .groupBy("group", "term")
      .agg(count(lit(1)).as("n"))
      .pin(true)
    val perGroup = lt.groupBy("group").agg(sum(col("n")).as("__ng"))
    val perTerm = lt.groupBy("term").agg(sum(col("n")).as("__nt"))
    val total = lt.agg(sum(col("n")).as("__nn"))
    val nRest = col("__nn") - col("__ng") // rest-of-corpus token count
    val pg = col("n").cast("double") / col("__ng").cast("double")
    // rest-of-corpus probability of this term (0 when the term is
    // group-exclusive; nt >= n always since the corpus contains the
    // group). Guarded: a group that IS the corpus has nRest = 0, and
    // ANSI mode raises on the division rather than emitting NaN.
    val q = when(nRest > 0, (col("__nt") - col("n")).cast("double") / nRest.cast("double"))
      .otherwise(lit(0.0))
    val mm = (pg + q) / 2.0
    val ln2 = math.log(2.0)
    // in-vocabulary terms: ½P ln(P/M) + ½Q ln(Q/M) (Q term vanishes at Q=0)
    val term =
      pg / 2.0 * log(pg / mm) +
        when(q > 0.0, q / 2.0 * log(q / mm)).otherwise(lit(0.0))
    lt
      .join(broadcast(perGroup), "group")
      .join(broadcast(perTerm), "term")
      .crossJoin(broadcast(total))
      .select(
        col("group"), col("__ng"), nRest.as("__nr"),
        term.cast("decimal(38,12)").as("__js"),
        // Q-mass of the group's own terms — the complement feeds the
        // absent-term closed form
        when(nRest > 0, q).otherwise(lit(0.0)).cast("decimal(38,12)").as("__qin"))
      .groupBy("group")
      .agg(
        max(col("__nr")).as("__nr"),
        sum(col("__js")).cast("double").as("__s"),
        sum(col("__qin")).cast("double").as("__qi"))
      .select(
        col("group"),
        when(col("__nr") > 0, col("__s") + lit(ln2 / 2.0) * (lit(1.0) - col("__qi")))
          .as("js"))
  }

  /** Per-group Zipf fit: the OLS slope of ln(freq) on ln(rank) over the
    * top `topN` terms — natural language sits near −1; templated,
    * machine-generated, or keyword-stuffed text bends the line (flat
    * head = boilerplate rotation, steep head = tiny effective
    * vocabulary). A naturalness audit that needs no reference model.
    *
    * One corpus pass to the (group, term) counts; rank is a window on
    * the vocab-sized frame ((freq desc, term) tie-break so the rank —
    * and the fit — is deterministic); the regression runs on ≤ topN
    * rows per group via [[graft.operators.Stats.groupedLinReg]]. ln
    * values are r6'd before the moment sums (§5: pin the one libm call
    * before any decimal cast). Groups with < 3 distinct terms emit a
    * NULL slope — two points always fit perfectly.
    */
  def zipfFit(
      docs: DataFrame,
      groupCol: String,
      topN: Int = 500,
      textCol: String = "text"
  ): DataFrame = {
    require(topN >= 3, s"topN must be >= 3, got $topN")
    val lt = docs
      .select(col(groupCol).as("group"), explode(wordTokens(col(textCol))).as("term"))
      .groupBy("group", "term")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("n").desc, col("term"))
    val ranked = lt
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
      .withColumn("__x", r6(log(col("rank").cast("double"))))
      .withColumn("__y", r6(log(col("n").cast("double"))))
    val fit = graft.operators.Stats.groupedLinReg(ranked, Seq("group"), "__x", "__y")
    fit.select(
      col("group"), col("n").as("n_terms"),
      when(col("n") >= 3, col("slope")).as("slope"),
      when(col("n") >= 3, col("intercept")).as("intercept"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) per group: candidate
    * phrases are the maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) over the group's phrase table (freq = phrase
    * occurrences containing w, deg = Σ of those phrases' lengths — long
    * co-occurring phrases boost their words); a phrase scores the sum
    * over its word positions. [[termLift]] asks which single TERMS mark
    * a group; this surfaces multi-word PHRASES ("neural machine
    * translation", not three unigrams) with zero model or training.
    *
    * Execution shape: tokens explode once; runs come from the classic
    * gaps-and-islands rank difference under a per-document window (a
    * document is the partition — bounded); phrase words re-aggregate to
    * the vocab-sized (group, word) stat table which joins back onto the
    * DISTINCT-phrase table (both vocab-scale, never corpus-scale). Runs
    * longer than `maxLen` tokens are dropped whole (stopword-free walls
    * of text are extraction garbage, and unbounded phrase keys would be
    * a skew hazard). Word order inside a phrase is pinned by sorting
    * each run's (pos, word) pairs — never collect order. Per-word score
    * terms are r6'd then DECIMAL-summed; ranking uses the ROUNDED score
    * (ties → phrase asc) so ranks are engine-stable.
    *
    * Output: (group, phrase, n_words, n_occurrences, score, rk ≤ topN).
    */
  def rake(
      docs: DataFrame,
      groupCol: String,
      idCol: String,
      stopwords: Seq[String],
      topN: Int = 10,
      maxLen: Int = 4,
      textCol: String = "text"
  ): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    require(stopwords.nonEmpty, "rake needs a stopword list")
    val toks = docs
      .select(col(groupCol).as("group"), col(idCol).as("__doc"),
        posexplode(wordTokens(col(textCol))).as(Seq("pos", "w")))
      .filter(!col("w").isInCollection(stopwords))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"), col("__doc")).orderBy(col("pos"))
    val phrases = toks
      .withColumn("__run", col("pos") - row_number().over(wDoc))
      .groupBy(col("group"), col("__doc"), col("__run"))
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("__ps"))
      .select(col("group"),
        concat_ws(" ", transform(col("__ps"), p => p.getField("w"))).as("phrase"),
        size(col("__ps")).as("__len"))
      .filter(col("__len") <= maxLen)
      .pin(false) // feeds both the word-stat table and the phrase table
    val wordStats = phrases
      .select(col("group"), col("__len"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("group"), col("w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
    val distinctPhrases = phrases
      .groupBy(col("group"), col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), max(col("__len")).as("n_words"))
    val scored = distinctPhrases
      .select(col("group"), col("phrase"), col("n_occurrences"), col("n_words"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordStats, Seq("group", "w"))
      .groupBy(col("group"), col("phrase"))
      .agg(
        max(col("n_occurrences")).as("n_occurrences"),
        max(col("n_words")).cast("long").as("n_words"),
        r6(dsum(r6(col("__deg").cast("double") / col("__freq").cast("double")))).as("score"))
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("group")).orderBy(col("score").desc, col("phrase")))
        .cast("long"))
      .filter(col("rk") <= topN)
      .select(col("group"), col("phrase"), col("n_words"), col("n_occurrences"),
        col("score"), col("rk"))
  }

  /** Term burstiness — Church–Gale's "content words clump, function
    * words spread": for each term, burstiness = cf/df (mean occurrences
    * PER DOCUMENT THAT HAS IT) and the variance-to-mean ratio over ALL
    * documents (Poisson ⇒ VMR ≈ 1; topical terms ≫ 1). The signal that
    * separates topic-bearing vocabulary from glue without any stopword
    * list — feeds keyword extraction and the "is this term a template
    * artifact" triage that df alone can't answer.
    *
    * One explode pass to the vocab-sized (term, cf, df, Σtf²) frame;
    * VMR's zero-count docs enter through the closed form
    * var = Σtf²/N − (cf/N)² — no term×doc grid materializes. r6-pinned
    * ratios; the one-row corpus doc count broadcasts.
    *
    * Output per term with df ≥ minDf: (term, cf, df, burstiness, vmr).
    */
  def termBurstiness(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Long = 2L): DataFrame = {
    val tf = docs
      .select(col(idCol).as("__id"),
        explode(TextFunctions.wordTokens(col(textCol))).as("__w"))
      .groupBy(col("__id"), col("__w"))
      .agg(count(lit(1)).as("__tf"))
    val terms = tf
      .groupBy(col("__w").as("term"))
      .agg(
        sum(col("__tf")).as("cf"),
        count(lit(1)).as("df"),
        sum(col("__tf") * col("__tf")).as("__sq"))
      .filter(col("df") >= minDf)
    val total = docs.agg(count(lit(1)).as("__nd"))
    val mean = col("cf").cast("double") / col("__nd").cast("double")
    terms
      .crossJoin(broadcast(total)) // one-row doc count: lint-exempt
      .select(
        col("term"), col("cf"), col("df"),
        r6(col("cf").cast("double") / col("df").cast("double")).as("burstiness"),
        when(mean > 0, r6(
          (col("__sq").cast("double") / col("__nd").cast("double") - mean * mean) / mean))
          .as("vmr"))
  }
}
