package graft.operators

import graft.functions.Portable.r6
import graft.plans.Materialize.PinOps
import graft.functions.Pairs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy string matching (record linkage): find pairs of values within
  * a Levenshtein distance budget WITHOUT the all-pairs cross join —
  * token blocking generates candidates (only pairs sharing ≥1 word are
  * compared), and the expensive edit distance runs on candidates only.
  *
  * Scale shape, in order:
  *   1. dedupe to the DISTINCT value dictionary first — record tables
  *      repeat names heavily, and linkage is a property of the value,
  *      not the row (dictionary ≪ corpus; match once, broadcast back);
  *   2. block on tokens, with a document-frequency cap dropping
  *      stopword-grade tokens whose buckets would explode (same
  *      hot-shingle cap the Jaccard dedup uses);
  *   3. `levenshtein()` (codegen'd) only inside blocks.
  *
  * Blocking is recall-lossy by construction: pairs sharing no token are
  * never compared (at distance ≤ a few edits, real-world name pairs
  * almost always share a token). The df cap adds a second, tunable
  * recall cut — set `maxTokenDf` to corpus size to disable.
  */
object FuzzyJoin {

  /** Distinct unordered candidate pairs (a_name < b_name) sharing at
    * least one token with document frequency ≤ `maxTokenDf`.
    *
    * One shuffle: tokens groupBy-collect into per-token sorted buckets
    * (bucket size == token df, since names are distinct), over-cap
    * buckets drop whole, and [[graft.functions.Pairs.pairs]] streams the
    * in-bucket pairs — no self-join, no double evaluation of
    * the tokenizer. Not [[graft.functions.Pairs.bucketPairs]]: these
    * buckets hold strings, and there is no string bounded collect.
    */
  def candidatePairs(df: DataFrame, nameCol: String, maxTokenDf: Long): DataFrame = {
    require(maxTokenDf > 0, "maxTokenDf must be positive")
    val names = df.select(lower(col(nameCol)).as("name")).filter(col("name") =!= "").distinct()
    // native one-pass tokenizer ([[graft.functions.WordTokens]]): `name`
    // is already lowercased, and the kernel's lower() is idempotent, so
    // the runs it extracts are exactly the old split/filter fields
    val toks = names
      .select(col("name"), explode(graft.text.TextFunctions.wordTokens(col("name"))).as("tk"))
      .distinct()
    val capped = toks
      .groupBy("tk")
      .agg(sort_array(collect_list(col("name"))).as("ns"))
      .filter(size(col("ns")).between(2, maxTokenDf))
    Pairs.pairs(capped, col("ns"), "a_name", "b_name")
      .distinct()
  }

  /** Candidate pairs within `maxDist` edits, with the distance. */
  def fuzzyPairs(df: DataFrame, nameCol: String, maxDist: Int, maxTokenDf: Long = Long.MaxValue): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    candidatePairs(df, nameCol, maxTokenDf)
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** Candidate pairs scored by native Jaro-Winkler (see
    * [[graft.functions.JaroWinkler]]) at or above `minSim` — the
    * similarity that forgives transpositions and rewards shared
    * prefixes, usually the better linkage scorer for names. Identical
    * blocking; only the in-block scorer changes.
    */
  def fuzzyPairsJaroWinkler(
      df: DataFrame,
      nameCol: String,
      minSim: Double,
      maxTokenDf: Long = Long.MaxValue): DataFrame = {
    require(minSim >= 0 && minSim <= 1, s"minSim $minSim not in [0,1]")
    candidatePairs(df, nameCol, maxTokenDf)
      .withColumn("sim",
        graft.functions.JaroWinkler.jaroWinkler(col("a_name"), col("b_name")))
      .filter(col("sim") >= minSim)
  }

  /** Entity resolution: collapse records whose values fuzzy-match into
    * entities — the transitive closure over the fuzzy-match graph
    * ("Jon Smith" ↔ "John Smith" ↔ "John Smyth" are one entity even
    * though the ends don't match each other directly). Records linked
    * to nothing are their own entity. Output: (id, entity_id) for EVERY
    * input record, entity_id = the smallest record id in the component.
    *
    * The closure runs on the NAME graph, never the record graph: each
    * distinct value becomes one node (keyed by the min record id that
    * carries it), fuzzy pairs become dictionary-sized edges, and
    * [[graft.dedup.Dedup.connectedComponents]] labels that tiny graph.
    * Expanding to record-level edges first would be quadratic in each
    * value's duplicate count (a value shared by 300 records → 45k
    * same-name edges, a fuzzy pair of two such values → 90k cross
    * edges) for an identical clustering — same-name records are fully
    * connected through their shared node by construction, so the record
    * component IS the name component's record set and the min record id
    * is the min over member names' min ids.
    */
  def resolveEntities(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxDist: Int,
      maxTokenDf: Long = Long.MaxValue
  ): DataFrame = {
    val rows = df.select(col(idCol).cast("long").as("id"), lower(col(nameCol)).as("name"))
    // one row-level shuffle: each distinct value's node id = its min record id
    val nameMin = rows
      .filter(col("name").isNotNull && col("name") =!= "")
      .groupBy("name")
      .agg(min(col("id")).as("nid"))
      .pin(false)
    val edges = fuzzyPairs(df, nameCol, maxDist, maxTokenDf)
      .join(nameMin.select(col("name").as("a_name"), col("nid").as("ia")), "a_name")
      .join(nameMin.select(col("name").as("b_name"), col("nid").as("ib")), "b_name")
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
    val labels = graft.dedup.Dedup.connectedComponents(edges)
    rows
      .join(broadcast(nameMin), Seq("name"), "left")
      .join(broadcast(labels.withColumnRenamed("id", "nid")), Seq("nid"), "left")
      .select(col("id"), coalesce(col("label"), col("nid"), col("id")).as("entity_id"))
  }

  /** Record-level linkage: every (a_id, b_id) pair of rows whose values
    * fuzzy-match — INCLUDING rows with identical values (distance 0,
    * the most common linkage case), which the distinct dictionary
    * collapses and the a_name < b_name candidate shape would otherwise
    * never pair. Same-name row pairs come from
    * [[graft.functions.Pairs.bucketPairs]] on the value (one shuffle,
    * in-bucket pair explosion — no self-join), so ids are BIGINT;
    * cross-name pairs from the dictionary-level fuzzy table joined back
    * to the id mapping twice, each a fact⋈small join that AQE
    * broadcasts when the pair table fits. Within a pair a_id < b_id for
    * same-name rows; cross-name pairs keep a_name < b_name.
    *
    * Same-name pairing is inherently quadratic in a value's duplicate
    * count, so `maxSameNameRows` caps it the way every other in-bucket
    * pipeline here does: a name with more duplicate rows than the cap is
    * dropped from SAME-NAME pairing whole (its rows still cross-name
    * link) — a hot junk value ("unknown", "") must not materialize 10^12
    * pairs from one group.
    */
  def linkRecords(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxDist: Int,
      maxTokenDf: Long = Long.MaxValue,
      maxSameNameRows: Int = 10000
  ): DataFrame = {
    val pairs = fuzzyPairs(df, nameCol, maxDist, maxTokenDf)
    val ids = df.select(col(idCol).as("id"), lower(col(nameCol)).as("name"))
    val crossName = pairs
      .join(ids.withColumnRenamed("id", "a_id"), col("a_name") === col("name"))
      .drop("name")
      .join(ids.withColumnRenamed("id", "b_id"), col("b_name") === col("name"))
      .drop("name")
      .select(col("a_id"), col("b_id"), col("a_name"), col("b_name"), col("dist"))
    val sameName = Pairs.bucketPairs(ids.filter(col("name").isNotNull && col("name") =!= ""),
      Seq("name"), col("id"), maxSameNameRows, "a_id", "b_id", keep = Seq(col("name")))
      .select(col("a_id"), col("b_id"), col("name").as("a_name"),
        col("name").as("b_name"), lit(0L).as("dist"))
    crossName.unionByName(sameName)
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo): rank the DISTINCT
    * values within a prefix block and pair each with its next
    * `windowSize − 1` sort neighbors, then score candidates exactly —
    * the classic alternative to token blocking (`candidatePairs`) that
    * catches SUFFIX typos sharing no token ("smith co" / "smith co.")
    * and misses prefix typos token blocking catches; production linkage
    * runs both and unions.
    *
    * Shape: values dedup once; ranking windows partition on the 2-char
    * prefix block (bounded cardinality — documented skew trade: a
    * pathological single-prefix dataset serializes that block's sort,
    * the same contract as any blocked linkage); neighbor pairing is an
    * equi-join of the ranked frame onto itself on (block, rank+offset)
    * with the tiny offset list exploded row-locally. The expensive
    * distance runs on candidate pairs only.
    */
  def sortedNeighborPairs(
      df: DataFrame,
      nameCol: String,
      maxDist: Int,
      windowSize: Int = 3): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    require(maxDist >= 0, "maxDist must be >= 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block")).orderBy(col("name"))
    val ranked = df
      .select(lower(col(nameCol)).as("name"))
      .filter(col("name").isNotNull && col("name") =!= "")
      .distinct()
      .withColumn("block", substring(col("name"), 1, 2))
      .withColumn("rnk", row_number().over(w).cast("long"))
    val probes = ranked
      .select(col("block"), col("name").as("a_name"),
        explode(sequence(lit(1), lit(windowSize - 1))).as("off"),
        col("rnk"))
      .withColumn("rnk", col("rnk") + col("off"))
      .drop("off")
    probes
      .join(ranked.withColumnRenamed("name", "b_name"), Seq("block", "rnk"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a_name"), col("b_name"), col("dist"))
  }

  /** Blocking-quality audit for [[sortedNeighborPairs]] — the two
    * numbers every blocking scheme is judged by, MEASURED instead of
    * assumed: pair completeness (of the true within-block matches, how
    * many does the ±window scan still see) and reduction ratio (what
    * fraction of the within-block pair work the window avoids). Run at
    * sample scale before committing a window size to a 100 TB linkage —
    * PC < 1 quantifies exactly what the cheaper window loses.
    *
    * The gold standard is the within-block EXACT pair set (every a<b
    * pair in a block, Levenshtein ≤ maxDist) — quadratic per block BY
    * DEFINITION, which is why blocks are loudly capped at
    * `maxBlockSize` (an audit, like [[graft.ann.Lof.lof]]'s brute
    * contract, not a production path). Candidates are the window scan's
    * pre-distance probes; covered = gold pairs the window emits.
    *
    * Output (one row): n_names, n_blocks, n_block_pairs, n_candidates,
    * n_gold, n_covered, pair_completeness, reduction_ratio.
    */
  def blockingQuality(
      df: DataFrame,
      nameCol: String,
      maxDist: Int,
      windowSize: Int = 3,
      maxBlockSize: Long = 10000L): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    require(maxDist >= 0, "maxDist must be >= 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block")).orderBy(col("name"))
    val ranked = df
      .select(lower(col(nameCol)).as("name"))
      .filter(col("name").isNotNull && col("name") =!= "")
      .distinct()
      .withColumn("block", substring(col("name"), 1, 2))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .pin(false) // both pair generators + the size audit read it
    val sizes = ranked.groupBy(col("block")).agg(count(lit(1)).as("__bs"))
      .withColumn("__bs",
        when(col("__bs") <= maxBlockSize, col("__bs"))
          .otherwise(raise_error(concat(
            lit(s"blockingQuality: block '"), col("block"),
            lit(s"' holds more than $maxBlockSize names — the exact gold " +
              "pair set is quadratic per block; audit a sample instead")))))
    // Route the quadratic self-join THROUGH the audited block list:
    // `audited` only emits a block after its size passed the raise_error
    // in `sizes`, so an oversized block aborts the job before the O(s²)
    // pair scan it documents guarding against can execute.
    // (the filter CONSUMES __bs so column pruning cannot drop the
    // raise_error projection; it is vacuously true for any valid size)
    val audited = ranked
      .join(sizes.select(col("block"), col("__bs")), Seq("block"))
      .filter(col("__bs") >= 1L)
      .drop("__bs")
    val gold = audited.as("a")
      .join(audited.as("b"),
        col("a.block") === col("b.block") && col("a.rnk") < col("b.rnk"))
      .filter(levenshtein(col("a.name"), col("b.name")) <= maxDist)
      .select(col("a.name").as("a_name"), col("b.name").as("b_name"))
    val cand = sortedNeighborPairs(df, nameCol, maxDist, windowSize)
      .select(col("a_name"), col("b_name"))
    val covered = gold.join(cand, Seq("a_name", "b_name"), "left_semi")
    // per block of size s with half-window w1 = windowSize-1:
    // all pairs = C(s,2); window probes Σ_r min(w1, s-r) = C(s,2) when
    // s <= windowSize, else w1·s − w1·(w1+1)/2 (both branches meet at
    // s = windowSize). Exact integer arithmetic throughout.
    val w1 = (windowSize - 1).toLong
    // even product: the double division is exact for any capped block
    val cpairs = ((col("__bs") * (col("__bs") - 1)) / 2).cast("long")
    val candPerBlock = when(col("__bs") <= windowSize.toLong, cpairs)
      .otherwise(lit(w1) * col("__bs") - lit(w1 * windowSize / 2))
    val counts = sizes.agg(
      sum(col("__bs")).as("n_names"),
      count(lit(1)).as("n_blocks"),
      sum(cpairs).cast("long").as("n_block_pairs"),
      sum(candPerBlock).cast("long").as("n_candidates"))
    counts
      .crossJoin(broadcast(gold.agg(count(lit(1)).as("n_gold")))) // one-row
      .crossJoin(broadcast(covered.agg(count(lit(1)).as("n_covered")))) // one-row
      .select(col("n_names"), col("n_blocks"), col("n_block_pairs"),
        col("n_candidates"), col("n_gold"), col("n_covered"),
        when(col("n_gold") > 0,
          r6(col("n_covered").cast("double") / col("n_gold").cast("double")))
          .as("pair_completeness"),
        when(col("n_block_pairs") > 0,
          r6(lit(1.0) - col("n_candidates").cast("double") /
            col("n_block_pairs").cast("double"))).as("reduction_ratio"))
  }

  /** Golden-record survivorship: resolve fuzzy name entities
    * ([[resolveEntities]] — name-graph connected components) and emit
    * ONE canonical row per entity — the master-data step after linkage:
    * "these 7 spellings are one vendor; this is its record".
    *
    * Canonical name policy: the longest (then lexicographically
    * greatest) lowercased member name, picked with a max-struct
    * aggregate — one candidate per (partition × entity) crosses the
    * wire, not every member (the CDC-compaction argument vs a window
    * rank). `extraAggs` appends caller survivorship rules for other
    * fields (max balance, newest timestamp, …). Deterministic
    * throughout; the records frame shuffles once on entity_id.
    */
  def goldenRecords(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxDist: Int,
      maxTokenDf: Long = Long.MaxValue,
      extraAggs: Seq[org.apache.spark.sql.Column] = Nil
  ): DataFrame = {
    val ents = resolveEntities(df, idCol, nameCol, maxDist, maxTokenDf)
    val base = Seq(
      count(lit(1)).as("n_members"),
      min(col("id")).as("first_id"),
      max(struct(length(lower(col(nameCol))).as("l"), lower(col(nameCol)).as("n")))
        .getField("n").as("canonical_name"))
    df
      .withColumn("id", col(idCol).cast("long"))
      .join(ents, "id")
      .groupBy(col("entity_id"))
      .agg(base.head, (base.tail ++ extraAggs): _*)
  }

  /** Fellegi–Sunter match weights over candidate pairs: score each pair
    * by Σ_fields log₂(m/u) on agreement, log₂((1−m)/(1−u)) on
    * disagreement — the probabilistic-record-linkage standard that
    * makes "3 of 4 fields agree" quantitative: agreeing on a RARE field
    * (low u) earns far more weight than agreeing on a 5-value one.
    *
    * u-probabilities (chance agreement between NON-matches) are
    * estimated exactly from the data per field: u_f = Σ_v n_v² / N² —
    * the collision probability of two random draws, an exact integer
    * moment (DECIMAL Σn_v², two integer squares, one divide).
    * m-probabilities (agreement among true matches) are the caller's
    * prior (default 0.9 — the classic starting point; EM refinement
    * needs labeled matches the pipeline doesn't have). Fields where
    * either side is NULL contribute 0 (no evidence either way).
    *
    * Scale shape: one aggregation per field over the records frame for
    * u (field-count bounded, value-distinct sized, then a driver-side
    * scalar each — bounded by |fields|); scoring is the candidate-pair
    * frame joined twice against the id-keyed records projection, a
    * per-pair PROJECTION with field-order-fixed IEEE sums. Candidate
    * generation stays the caller's (blocking / LSH / sorted-neighbor),
    * so nothing here is all-pairs.
    *
    * Output: (id_a, id_b, n_agree, weight).
    */
  def fellegiSunter(
      records: DataFrame,
      idCol: String,
      pairs: DataFrame,
      fields: Seq[String],
      m: Double = 0.9): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter needs at least one field")
    require(m > 0 && m < 1, s"m must be in (0,1), got $m")
    val n = records.filter(col(idCol).isNotNull).count()
    require(n >= 2, s"fellegiSunter needs at least 2 records, got $n")
    // exact per-field collision probability u_f = Σ n_v² / N²
    val us: Map[String, Double] = fields.map { f =>
      val s2 = records
        .filter(col(idCol).isNotNull && col(f).isNotNull)
        .groupBy(col(f)).agg(count(lit(1)).as("__n"))
        .agg(coalesce(sum(col("__n").cast("decimal(38,0)") * col("__n")),
          lit(0).cast("decimal(38,0)")).cast("double"))
        .head().getDouble(0)
      f -> s2 / (n.toDouble * n.toDouble)
    }.toMap
    val rec = records
      .filter(col(idCol).isNotNull)
      .select((col(idCol).cast("long").as("__id") +: fields.map(col)): _*)
    def sided(tag: String): DataFrame =
      rec.select((col("__id").as(s"id_$tag") +:
        fields.map(f => col(f).as(s"${tag}_$f"))): _*)
    val ln2 = math.log(2.0)
    val scored = pairs
      .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
      .join(sided("a"), "id_a")
      .join(sided("b"), "id_b")
    val agreeF = fields.map(f =>
      when(col(s"a_$f").isNotNull && col(s"b_$f").isNotNull && col(s"a_$f") === col(s"b_$f"), 1L)
        .otherwise(0L))
    val weightF = fields.map { f =>
      val u = us(f)
      val wAgree = math.log(m / u) / ln2
      val wDis = math.log((1.0 - m) / (1.0 - u)) / ln2
      when(col(s"a_$f").isNull || col(s"b_$f").isNull, lit(0.0))
        .when(col(s"a_$f") === col(s"b_$f"), lit(wAgree))
        .otherwise(lit(wDis))
    }
    scored.select(
      col("id_a"), col("id_b"),
      agreeF.reduce(_ + _).as("n_agree"),
      weightF.reduce(_ + _).as("weight"))
  }
}
