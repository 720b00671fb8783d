package graft.text

import graft.functions.Portable.r6
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * All are pure column expressions (whole-stage-codegen friendly, no UDFs)
  * so they fuse into the scan and cost one pass over the corpus.
  */
object TextFunctions {

  /** Lowercase word tokens: split on non-letter runs, dropping empties.
    * Native one-pass kernel ([[graft.functions.WordTokens]]); token-array
    * parity with the previous `filter(split(lower(text), "[^a-z]+"),
    * _ =!= "")` form is pinned by WordTokensSpec (guide §4: the regex
    * engine + interpreted filter lambda dominated every tokenizing
    * query's per-row cost).
    */
  def wordTokens(text: Column): Column =
    graft.functions.WordTokens.wordTokens(text)

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * language-ID heuristic. Deliberately small: language ID at corpus scale
    * is a ratio game, not a dictionary game.
    */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "por"),
    "de" -> Seq("der", "die", "und", "das", "von", "mit", "ist", "den", "im", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "une", "dans", "que"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you", "zai", "ta", "men", "zhe")
  )

  /** Count of tokens that appear in `words`. Native set filter
    * ([[graft.functions.FilterInSet]]) under the unchanged `size` — the
    * interpreted per-token lambda ran 5× per row in [[langId]];
    * WordTokensSpec pins parity.
    */
  def stopwordHits(tokens: Column, words: Seq[String]): Column =
    size(graft.functions.WordTokens.filterInSet(tokens, words))

  /** Language-ID: argmax over per-language stopword hit counts; ties and
    * zero-hit docs resolve to "und" (undetermined). Deterministic: on equal
    * counts the earlier language in [[Stopwords]] wins.
    */
  def langId(text: Column): Column = {
    val toks = wordTokens(text)
    val hits = Stopwords.map { case (lang, words) => lang -> stopwordHits(toks, words) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = hits.foldRight(lit("und"): Column) { case ((lang, h), acc) =>
      when(h === best && best > 0, lit(lang)).otherwise(acc)
    }
    // foldRight means the FIRST matching language in order wins: each
    // earlier when(...) shadows later ones.
    pick
  }

  /** Whitespace token count: runs of non-whitespace. Native byte-scan
    * twin of `size(filter(split(text, "\\s+"), t => t =!= ""))` —
    * pinned in WordTokensSpec (guide §4: no regex pass per row).
    */
  def whitespaceTokenCount(text: Column): Column =
    graft.functions.WordTokens.asciiTokenCount(text, bpeish = false)

  /** BPE-ish token count: letter runs, single digits, and single
    * non-alphanumeric glyphs each count as one token — an upper-bound proxy
    * for byte-pair-encoded token counts without a vocabulary. Native
    * byte-scan twin of
    * `size(regexp_extract_all(text, "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]", 0))`
    * — pinned in WordTokensSpec.
    */
  def bpeishTokenCount(text: Column): Column =
    graft.functions.WordTokens.asciiTokenCount(text, bpeish = true)

  /** Quality features: doc length, word count, mean word length,
    * punctuation ratio, stopword ratio (any language), all as one struct so
    * a single projection computes them.
    */
  def qualityFeatures(text: Column): Column = {
    val toks = wordTokens(text)
    val nChars = length(text)
    val nWords = size(toks)
    // native byte-scan counters (graft.functions.AsciiCharCount) — each
    // replaced a full regex-engine pass per row; codepoint counts are
    // identical (pinned in WordTokensSpec)
    val alphaChars = graft.functions.WordTokens.asciiCharCount(
      text, "abcdefghijklmnopqrstuvwxyz", negate = false, lowercase = true)
    val punct = graft.functions.WordTokens.asciiCharCount(text, ".!?,;:")
    val allStop = Stopwords.flatMap(_._2).distinct
    val stopHits = stopwordHits(toks, allStop)
    struct(
      nChars.as("n_chars"),
      nWords.as("n_words"),
      r6(alphaChars.cast("double") / greatest(nWords, lit(1))).as("mean_word_len"),
      r6(punct.cast("double") / greatest(nChars, lit(1))).as("punct_ratio"),
      r6(stopHits.cast("double") / greatest(nWords, lit(1))).as("stopword_ratio")
    )
  }

  /** Composite [0,1] quality score from the features: rewards stopword
    * presence and sane word lengths, penalizes punctuation soup and
    * ultra-short docs.
    */
  /** Gopher/MassiveText-style repetition signals, pure column
    * expressions: the duplicate-line fraction (1 − distinct/total lines)
    * and the duplicate-token fraction (1 − distinct/total tokens). High
    * values mean boilerplate / navigation junk / degenerate generation —
    * the standard repetition filters threshold on these.
    */
  def repetitionSignals(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val toks = wordTokens(text)
    def dupFrac(xs: Column): Column =
      when(size(xs) > 0,
        lit(1.0) - size(array_distinct(xs)).cast("double") / size(xs)).otherwise(0.0)
    struct(
      r6(dupFrac(lines)).as("dup_line_frac"),
      r6(dupFrac(toks)).as("dup_token_frac")
    )
  }

  /** Most-frequent-bigram fraction (the other Gopher repetition rule):
    * occurrences of the doc's top 2-gram over all its 2-grams. Needs a
    * per-doc mode, so it is a groupBy pass rather than a pure projection:
    * explode bigrams → count per (doc, bigram) → max/sum per doc. Docs
    * with < 2 tokens get 0.
    */
  def topBigramFraction(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // tokens projected into their OWN column first: higher-order functions
    // are interpreted, and inlining wordTokens into the lambda would re-run
    // the regex split once per bigram position (same pitfall as
    // Dedup.shingleExpr — measured ~4x slower inline)
    val toks = col("__toks")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2), i => concat_ws(" ", slice(toks, i + 1, lit(2)))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col(idCol).as("id"), wordTokens(col(textCol)).as("__toks"))
      .select(col("id"), explode_outer(bigrams).as("bg"))
      .groupBy("id", "bg")
      .agg(count(when(col("bg").isNotNull, lit(1))).as("c"))
      .groupBy("id")
      .agg(round(
        when(sum(col("c")) > 0, max(col("c")).cast("double") / sum(col("c"))).otherwise(lit(0.0)),
        6).as("top_bigram_frac"))
  }

  /** Deflate compression ratio (compressed bytes / raw UTF-8 bytes) — the
    * repetitiveness signal the dup-fraction heuristics approximate:
    * boilerplate-heavy and template-generated text compresses far below
    * natural prose (ratios ≲ 0.3 are a standard drop rule). Uses the
    * JDK's zlib Deflater, so it must be a (deterministic, non-null-safe-
    * wrapped) Scala UDF — compression is native code, not expressible as
    * column algebra; same trade as the multimodal pixel decode. Fixed
    * level 6, raw deflate (no gzip header) so the ratio is stable across
    * JDKs. Empty/null text → ratio 1.0.
    */
  lazy val deflateRatio: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null || s.isEmpty) 1.0
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(6, true)
        try {
          d.setInput(bytes)
          d.finish()
          val buf = new Array[Byte](8192)
          var total = 0L
          while (!d.finished()) total += d.deflate(buf)
          total.toDouble / bytes.length
        } finally d.end()
      }
    } // UDFs are deterministic by default, which this one is

  /** PII pattern counts (emails, IPv4s, long digit runs) — the redaction
    * pre-scan. Conservative portable regexes (RE2-safe, same semantics in
    * DuckDB for cross-engine verification).
    */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0)))
      .cast("long").as("n_emails"),
    size(regexp_extract_all(text, lit("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"), lit(0)))
      .cast("long").as("n_ipv4"),
    size(regexp_extract_all(text, lit("[0-9]{9,}"), lit(0)))
      .cast("long").as("n_long_digit_runs")
  )

  /** Sentence segmentation stats as pure row-local column expressions
    * (zero shuffle, fuses into the scan): sentences split on [.!?]+
    * runs, words per sentence via the same [a-z]+ tokenizer as
    * [[wordTokens]]. Returns a struct (n_sentences, n_words,
    * avg_sentence_len) — NULL average for sentence-less text. The
    * readability / fragment-detection signal ("avg 2-word sentences"
    * = menu/list scrape, "80-word sentences" = OCR run-on).
    */
  def sentenceStats(text: Column): Column = {
    val sents = filter(transform(split(text, "[.!?]+"), s => trim(s)), s => s =!= "")
    val wps = transform(sents, s => size(wordTokens(s))) // native kernel, same fields
    val nSent = size(sents).cast("long")
    // NULL text => NULL sents => the aggregate yields NULL; coalesce to 0 so
    // n_words means "words counted" in every engine (DuckDB's list_sum needs
    // the same coalesce for the empty-sentence case).
    val nWords = coalesce(aggregate(wps, lit(0L), (acc, x) => acc + x), lit(0L))
    struct(
      nSent.as("n_sentences"),
      nWords.as("n_words"),
      when(nSent > 0, nWords.cast("double") / nSent.cast("double")).as("avg_sentence_len"))
  }

  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenScore = least(f("n_words").cast("double") / 100.0, lit(1.0))
    val stopScore = least(f("stopword_ratio") * 5.0, lit(1.0))
    val punctPenalty = least(f("punct_ratio") * 5.0, lit(1.0))
    val wordLenOk = when(f("mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.0)
    r6(lit(0.4) * lenScore + lit(0.3) * stopScore + lit(0.2) * wordLenOk
      + lit(0.1) * (lit(1.0) - punctPenalty))
  }

  /** Canonical text normalization for fingerprinting: lowercase, strip
    * non-alphanumerics to single spaces, trim.
    */
  def normalizeForFingerprint(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Content fingerprint: md5 of the normalized text — identical across
    * engines, robust to whitespace/punctuation/case variation.
    */
  def fingerprint(text: Column): Column = md5(normalizeForFingerprint(text))

  /** First-8-hex-chars of md5 as a long — the portable numeric hash used by
    * minhash/simhash (same value computable in any engine with md5).
    */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Polynomial rolling hash of the normalized text (base 31 mod 1e9+7),
    * via the native codegen'd [[graft.functions.RollingHash]] expression.
    * Normalization first ⇒ ASCII-only input ⇒ the value equals the
    * ascii-code-point fold any engine computes.
    */
  def rollingFingerprint(text: Column): Column =
    graft.functions.RollingHash.rollingHash(normalizeForFingerprint(text))

  /** Gopher's tiny high-frequency English word list (MassiveText quality
    * rule 7: "contains at least 2 of ..."). Public list from Rae et al.
    * 2021, appendix A1.1.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/MassiveText-style rule-based quality measures + composite
    * pass flag (Rae et al. 2021 §A1.1; the reference has no equivalent —
    * this is part of the LLM-pipeline extension surface, like
    * [[qualityFeatures]]). One pure-column struct so the whole filter is a
    * single projection fused into the scan:
    *
    *   1. 50 <= n_words <= 100000          (whitespace words)
    *   2. 3 <= mean_word_len <= 10         (non-ws chars / words)
    *   3. symbol_ratio < 0.1               (# and ellipsis per word)
    *   4. bullet_frac  < 0.9               (lines starting with a bullet)
    *   5. ellipsis_frac < 0.3              (lines ending with an ellipsis)
    *   6. alpha_word_frac > 0.8            (words containing a letter)
    *   7. n_stopwords >= 2                 ([[GopherStopwords]] hits)
    *
    * Ratios are r6-rounded BEFORE thresholding so the pass flag is
    * ULP-insensitive across engines (§5 convention).
    */
  def gopherRules(text: Column): Column = {
    val words = filter(split(text, "\\s+"), t => t =!= "")
    val nWords = size(words).cast("long")
    val wDen = greatest(nWords, lit(1L)).cast("double")
    // sum(len(word)) == count of non-whitespace chars: one regexp, no fold
    val meanWordLen = r6(graft.functions.WordTokens.asciiCharCount(
      text, " \t\n\u000b\f\r", negate = true).cast("double") / wDen)
    val symbolRatio = r6((regexp_count(text, lit("#")) +
      regexp_count(text, lit("\\.\\.\\.|…"))).cast("double") / wDen)
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    val lDen = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = r6(size(filter(lines, l => trim(l).rlike("^[-*•]"))).cast("double") / lDen)
    val ellipsisFrac = r6(size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") / lDen)
    val alphaWordFrac = r6(size(filter(words, t => t.rlike("[A-Za-z]"))).cast("double") / wDen)
    val nStop = stopwordHits(wordTokens(text), GopherStopwords).cast("long")
    val passes = nWords.between(50L, 100000L) &&
      meanWordLen.between(3.0, 10.0) &&
      symbolRatio < 0.1 &&
      bulletFrac < 0.9 &&
      ellipsisFrac < 0.3 &&
      alphaWordFrac > 0.8 &&
      nStop >= 2L
    struct(
      nWords.as("n_words"),
      meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      alphaWordFrac.as("alpha_word_frac"),
      nStop.as("n_stopwords"),
      passes.as("passes"))
  }

  /** C4-style line-level cleaning stats (Raffel et al. 2020, the T5/C4
    * heuristics; cf. the quality-filter stage family the reference's
    * `filters/` module plays for MEDS data — `filters/filter_measurements.py:1`).
    * A line is KEPT when it ends in terminal punctuation and has ≥ 3
    * whitespace tokens; a doc `passes` when it keeps ≥ 5 lines and
    * contains neither "lorem ipsum" nor a curly brace (the code/boiler-
    * plate markers C4 blocklists). Pure column expressions — fuses into
    * the scan, zero shuffle.
    */
  def c4Rules(text: Column): Column = {
    // \r is stripped BEFORE splitting: Java's unanchored `$` also matches
    // before a final \r (RE2's does not), so lines must hold no terminator
    // for the end-punctuation test to agree across engines.
    val lines =
      filter(transform(split(regexp_replace(text, "\r", ""), "\n"), l => trim(l)), l => l =!= "")
    val kept = filter(
      lines,
      l =>
        l.rlike("[.!?\"]$") &&
          size(filter(split(l, "\\s+"), w => w =!= "")) >= 3)
    val nLines = size(lines).cast("long")
    val nKept = size(kept).cast("long")
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasBrace = text.contains("{")
    struct(
      nLines.as("n_lines"),
      nKept.as("n_kept"),
      r6(nKept.cast("double") / greatest(nLines, lit(1L)).cast("double")).as("kept_frac"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      (nKept >= 5L && !hasLorem && !hasBrace).as("passes"))
  }

  /** PII regexes shared by detection ([[piiCounts]]) and redaction
    * ([[redactPii]]) — RE2-safe so the DuckDB oracle runs the SAME
    * patterns.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val LongDigitRe = "[0-9]{9,}"

  /** PII redaction: emails → `<EMAIL>`, IPv4s → `<IP>`, 9+-digit runs →
    * `<NUM>`, applied in that order (emails can contain digit runs; each
    * count is taken on the text AS THE STAGE SEES IT so `n_redacted` is
    * exactly the number of replacements performed). Returns a struct
    * (redacted, n_redacted). One projection, zero shuffle.
    */
  def redactPii(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    val afterNum = regexp_replace(afterIp, LongDigitRe, "<NUM>")
    val n = regexp_count(text, lit(EmailRe)) +
      regexp_count(afterEmail, lit(Ipv4Re)) +
      regexp_count(afterIp, lit(LongDigitRe))
    struct(afterNum.as("redacted"), n.cast("long").as("n_redacted"))
  }

  /** Encoding-artifact stats — the mojibake / binary-junk pre-filter a
    * web corpus needs before tokenization: U+FFFD replacement chars,
    * C0 control chars (excluding \t \n \r), and classic UTF-8-read-as-
    * Latin-1 sequences ("Ã©", "â€™", …). `artifact_frac` is per-char;
    * `is_clean` flags docs safe to tokenize. Pure expressions, zero
    * shuffle.
    */
  def encodingArtifacts(text: Column): Column = {
    val nRepl = regexp_count(text, lit("�")).cast("long")
    val nCtrl = regexp_count(text, lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")).cast("long")
    val nMoji = regexp_count(text, lit("Ã[©¨¤¶¼±‰]|â€|Â[«»]")).cast("long")
    val total = nRepl + nCtrl + nMoji
    struct(
      nRepl.as("n_replacement"),
      nCtrl.as("n_ctrl"),
      nMoji.as("n_mojibake"),
      r6(total.cast("double") / greatest(length(text), lit(1)).cast("double")).as("artifact_frac"),
      (total === 0L).as("is_clean"))
  }

  /** Word n-gram shingles of `n` tokens joined by single spaces; empty
    * array when the doc has fewer than `n` tokens (sequence(0, negative)
    * would count DOWN in Spark, so short docs are guarded explicitly).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = wordTokens(text)
    when(
      size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))
      )
    ).otherwise(array().cast("array<string>"))
  }

  /** Flesch reading-ease readability: struct (n_sentences, n_words,
    * n_syllables, flesch). Sentences and words use the same conventions
    * as [[sentenceStats]]/[[wordTokens]]; syllables are approximated as
    * vowel-group runs (`[aeiouy]+` in the lowercased text) — the standard
    * dictionary-free heuristic, and since vowel runs can only occur
    * inside `[a-z]+` word runs, one corpus-wide regex count needs no
    * per-word loop. flesch = 206.835 − 1.015·(W/S) − 84.6·(Syl/W), NULL
    * when either denominator is zero (the caller thresholds it; a
    * sentence-less scrape has no defined grade). Pure column
    * expressions: zero shuffle, fuses into the scan.
    */
  def readability(text: Column): Column = {
    val sents = filter(transform(split(text, "[.!?]+"), s => trim(s)), s => s =!= "")
    val nS = size(sents).cast("long")
    val nW = size(wordTokens(text)).cast("long")
    val nSyl = size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0))).cast("long")
    val flesch = when(nS > 0 && nW > 0,
      lit(206.835)
        - lit(1.015) * (nW.cast("double") / nS.cast("double"))
        - lit(84.6) * (nSyl.cast("double") / nW.cast("double")))
    struct(
      nS.as("n_sentences"),
      nW.as("n_words"),
      nSyl.as("n_syllables"),
      flesch.as("flesch"))
  }

  /** Lexical-diversity signals: struct (n_tokens, n_types, ttr,
    * n_bigram_types, bigram_ttr). `ttr` is the type-token ratio
    * (distinct words / words) — the low-cost repetition complement to
    * [[repetitionSignals]]'s dup fractions; `bigram_ttr` is the same
    * over adjacent word pairs, which catches "the cat the cat the cat"
    * (unigram TTR ≈ legitimate prose, bigram TTR collapses). NULL
    * ratios for token-less text. Row-local, zero shuffle.
    */
  def lexicalDiversity(text: Column): Column = {
    val toks = wordTokens(text)
    val nTok = size(toks).cast("long")
    val nTyp = size(array_distinct(toks)).cast("long")
    val bigrams = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))
    ).otherwise(array().cast("array<string>"))
    val nBg = greatest(nTok - 1L, lit(0L))
    val nBgTyp = size(array_distinct(bigrams)).cast("long")
    struct(
      nTok.as("n_tokens"),
      nTyp.as("n_types"),
      when(nTok > 0, nTyp.cast("double") / nTok.cast("double")).as("ttr"),
      nBgTyp.as("n_bigram_types"),
      when(nBg > 0, nBgTyp.cast("double") / nBg.cast("double")).as("bigram_ttr"))
  }

  /** Per-group tokenizer fertility report: corpus-level subword tokens
    * per word ([[bpeishTokenCount]] / [[wordTokens]] count) and bytes
    * per subword token — the "how expensive is this slice to tokenize"
    * health check a multilingual corpus needs BEFORE training (a lang
    * whose fertility is 2× pays 2× the context budget per word; a
    * byte-heavy slice signals script/encoding mismatch with the
    * tokenizer). Ratios are of exact BIGINT sums (corpus-level, robust
    * to per-doc length skew — a mean of per-doc ratios would weight a
    * tweet like a book); one partial-aggregated scan to a group-sized
    * frame. NULL ratios for groups with zero denominators.
    */
  /** Markup/boilerplate signals for raw-crawl text: struct (n_tags,
    * n_links, markup_chars, stripped_len, text_ratio) where `text_ratio`
    * = non-markup chars / total chars — the jusText-style "is this page
    * mostly chrome" screen, and `stripped_len` the length after removing
    * `<...>` runs (the pre-tokenization strip). Pure column expressions
    * (one scan-fused projection); the tag pattern `<[^>]*>` reads
    * identically in Java and RE2 regex dialects, which is what keeps the
    * oracle portable. NULL text_ratio for empty text.
    */
  def markupSignals(text: Column): Column = {
    val tags = regexp_extract_all(text, lit("<[^>]*>"), lit(0))
    val nTags = size(tags).cast("long")
    val markupChars = length(concat_ws("", tags)).cast("long")
    val links = size(regexp_extract_all(text, lit("<[aA][\\s>]"), lit(0))).cast("long")
    val stripped = length(regexp_replace(text, "<[^>]*>", "")).cast("long")
    val total = length(text).cast("long")
    struct(
      nTags.as("n_tags"),
      links.as("n_links"),
      markupChars.as("markup_chars"),
      stripped.as("stripped_len"),
      when(total > 0, stripped.cast("double") / total.cast("double")).as("text_ratio"))
  }

  def fertilityStats(docs: DataFrame, groupCol: String, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val g = docs
      .select(
        col(groupCol).as("group"),
        size(wordTokens(t)).cast("long").as("__w"),
        bpeishTokenCount(t).cast("long").as("__t"),
        octet_length(t).cast("long").as("__b"))
      .groupBy("group")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__b")).as("n_bytes"))
    g.select(
      col("group"), col("n_docs"), col("n_words"), col("n_tokens"), col("n_bytes"),
      when(col("n_words") > 0,
        col("n_tokens").cast("double") / col("n_words").cast("double")).as("fertility"),
      when(col("n_tokens") > 0,
        col("n_bytes").cast("double") / col("n_tokens").cast("double")).as("bytes_per_token"))
  }

  /** Remove REPEATED lines within one document, keeping the first
    * occurrence in order — the in-document half of line dedup: [[graft
    * .text.LineDedup]] kills boilerplate ACROSS the corpus; this kills
    * the nav-bar/footer stutter a scraper pastes several times into ONE
    * page (C4-family cleaning rewrites, not just flags). `\r` is
    * stripped and blank lines dropped (they are formatting, not
    * content, and "first occurrence of the empty line" is meaningless).
    *
    * DataFrame-shaped so the line array is hoisted into its own
    * projected column: an interpreted HOF re-evaluates its argument
    * subtree per element, so inlining the split into the filter lambda
    * would re-split the document L times (the [[graft.dedup.Dedup
    * .withMinhashSig]] trap). Row-local — zero shuffle, O(L²) string
    * compares per doc (the L of a web page is tens, not thousands).
    * NULL text yields NULL; emits `outCol` plus `${outCol}_n_before` /
    * `${outCol}_n_after` line counts so the stutter rate is free.
    */
  def withDedupedLines(df: DataFrame, text: Column, outCol: String): DataFrame = {
    val lines = filter(
      transform(split(regexp_replace(text, "\r", ""), "\n"), l => trim(l)),
      l => l =!= "")
    val arr = col(s"__${outCol}_lines")
    val kept = filter(arr, (l, i) => !array_contains(slice(arr, lit(1), i), l))
    df.withColumn(s"__${outCol}_lines", lines)
      .withColumn(outCol, when(text.isNotNull, array_join(kept, "\n")))
      .withColumn(s"${outCol}_n_before", when(text.isNotNull, size(arr).cast("long")))
      .withColumn(s"${outCol}_n_after",
        when(text.isNotNull, size(filter(arr, (l, i) =>
          !array_contains(slice(arr, lit(1), i), l))).cast("long")))
      .drop(s"__${outCol}_lines")
  }

  /** Harman S-stemmer — the three-rule English plural collapse that
    * gets most of stemming's vocabulary reduction with none of
    * Porter's over-stemming ("ponies"→"pony", "glasses"→"glasse"→no:
    * "es" keeps the e, "classes"→"classe"? no — see rules): ies→y
    * (unless eies/aies), es→e (drop only the s, unless aes/ees/oes),
    * s→∅ (unless ss/us). Pure suffix CASE chain — codegen-friendly,
    * engine-mirrorable, no lookup table.
    */
  def sStem(w: Column): Column =
    // first matching SUFFIX pattern decides; an exception TERMINATES
    // (Harman's rules are mutually exclusive — "goes" matches the es
    // pattern, its oes exception keeps it whole, the s rule never sees it)
    when(w.endsWith("ies"),
      when(w.endsWith("eies") || w.endsWith("aies"), w)
        .otherwise(concat(w.substr(lit(1), length(w) - 3), lit("y"))))
      .when(w.endsWith("es"),
        when(w.endsWith("aes") || w.endsWith("ees") || w.endsWith("oes"), w)
          .otherwise(w.substr(lit(1), length(w) - 1)))
      .when(w.endsWith("s"),
        when(w.endsWith("ss") || w.endsWith("us"), w)
          .otherwise(w.substr(lit(1), length(w) - 1)))
      .otherwise(w)

  /** Structural fingerprint: md5 over the sequence of per-line
    * length BUCKETS (⌊len/10⌋ capped at 50) — two documents filled
    * from the same TEMPLATE share it even when every word differs,
    * which is exactly what content fingerprints ([[fingerprint]]) and
    * shingle dedup cannot see. Blank lines collapse out (formatting);
    * NULL text yields NULL. Row-local.
    */
  def structureHash(text: Column): Column = {
    val buckets = transform(
      filter(transform(split(regexp_replace(text, "\r", ""), "\n"), l => trim(l)),
        l => l =!= ""),
      l => least(lit(50), floor(length(l) / lit(10)).cast("int")))
    when(text.isNotNull, md5(array_join(buckets, ",")))
  }
}
