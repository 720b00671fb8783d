package graft.dedup

import graft.functions.Pairs
import graft.functions.Portable.r6
import graft.plans.Materialize.PinOps
import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: nothing here is all-pairs. Candidate generation always
  * goes through a bucket join (equal shingle / band signature / hamming
  * block / coarse cell), so the shuffle key space is content-derived and
  * the quadratic blowup is confined to within-bucket comparisons. All
  * hashes are md5-derived (portable across engines for verification).
  */
object Dedup {

  /** Exact dedup by normalized-content fingerprint: one row per distinct
    * fingerprint with the canonical (minimum) id and the duplicate count.
    * A single hash-groupBy — the textbook 100 TB dedup pass.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct (id, sh) pairs where sh = md5-derived 32-bit hash of the
    * shingle (requires `idCol` unique per row, which every corpus frame
    * here satisfies).
    *
    * The whole shingle step — window join, md5, per-doc dedup — runs
    * row-locally in the native codegen'd
    * [[graft.functions.ShingleHashes]] expression + `array_distinct`,
    * so this is a ZERO-SHUFFLE projection: the old explode→hash→distinct
    * shape paid a corpus-sized exchange and interpreted per-shingle
    * lambdas for the same output (the dominant cost of every text-dedup
    * query at bench scale).
    */
  def shingleHashTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), wordTokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(array_distinct(
        graft.functions.ShingleHashes.shingleHashes(col("__toks"), n))).as("sh"))

  /** Span-level substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"; the reference has no equivalent —
    * LLM-pipeline extension surface): every `w`-token span whose hashed
    * content occurs MORE THAN ONCE corpus-wide (including twice in one
    * document) is marked duplicated; overlapping/adjacent duplicated spans
    * within a document merge into maximal islands; the result is one row
    * per document that contains at least one duplicated span:
    * `(doc_id, n_spans, dup_tokens, n_tokens, dup_frac)`.
    *
    * Shape at scale: span hashes come from the row-local codegen'd
    * [[graft.functions.ShingleHashes]] (zero shuffle to produce), the
    * occurrence count is ONE partial-aggregated groupBy on the 8-byte
    * hash, and positions rejoin the `count > 1` set by hash equi-join.
    * The island merge is a per-document window (doc-sized partitions).
    * The position frame is a pure projection of the scan, so its two
    * consumers (count + join) recompute it rather than materialize a
    * corpus-sized cache — scan + row-local hashing is cheaper than
    * writing the frame out at 100 TB.
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 10
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .select(col(idCol).as("id"), wordTokens(col(textCol)).as("__toks"))
      .select(
        col("id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        posexplode(graft.functions.ShingleHashes.shingleHashes(col("__toks"), w)))
      .select(col("id"), col("n_tokens"), (col("pos") + 1).cast("long").as("pos"), col("col").as("sh"))
    val hot = pos.groupBy("sh").agg(count(lit(1)).as("__df")).filter(col("__df") > 1)
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val islands = pos
      .join(hot, "sh")
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= w, lit(0)).otherwise(lit(1)))
      .withColumn("__isl", sum(col("__brk")).over(byDoc))
    islands
      .groupBy(col("id"), col("__isl"))
      .agg(
        first(col("n_tokens")).as("n_tokens"),
        min(col("pos")).as("__s"),
        (max(col("pos")) + (w - 1)).as("__e"))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s") + 1).cast("long").as("dup_tokens"),
        first(col("n_tokens")).as("n_tokens"))
      .withColumn("dup_frac",
        r6(col("dup_tokens").cast("double") / col("n_tokens").cast("double")))
  }

  /** Universal-hash family params (a_j, b_j) for minhash: h_j(x) =
    * (a_j*x + b_j) mod MinhashPrime. One md5 per shingle, k cheap affine
    * re-hashes — instead of k md5s. a_j < 2^30 keeps a_j*x < 2^63 (no
    * overflow for 32-bit x); constants are primes, fixed so any engine
    * can replay the signatures.
    */
  val MinhashPrime: Long = 4294967311L
  val MinhashParams: Seq[(Long, Long)] = Seq(
    (1000000007L, 15485863L), (998244353L, 32452843L), (805306457L, 49979687L),
    (402653189L, 67867967L), (201326611L, 86028121L), (100663319L, 104395301L),
    (50331653L, 122949823L), (25165843L, 141650939L), (12582917L, 160481183L),
    (6291469L, 179424673L), (3145739L, 198491317L), (1572869L, 217645177L),
    (786433L, 236887691L), (393241L, 256203161L), (196613L, 275604541L),
    (98317L, 295075147L)
  )

  /** Bits reserved for the per-doc shingle count when (id, n_sh) rides one
    * long through the bucket aggregation: ids < 2^36 (68 billion docs),
    * counts < 2^27 (134M shingles/doc). Violations raise, never corrupt.
    */
  private val PackShift = 27

  /** Shared candidate generator: (id_a, id_b, n_a, n_b, n_common) for
    * every doc pair sharing ≥1 shingle. [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]] are projections of this one pipeline.
    *
    * Candidates come from per-shingle buckets (never a cross join).
    * Shingle strings are md5-hashed to longs before any shuffle (8-byte
    * keys), and hot shingles (appearing in > maxDocFreq docs) are
    * dropped — they generate O(df²) candidate pairs while carrying no
    * discriminative signal. The cap is enforced INSIDE the aggregation
    * of [[graft.functions.Pairs.bucketPairs]], so a boilerplate
    * shingle in millions of docs costs O(1) buffer memory, not O(df).
    *
    * The shingle pipeline (scan + tokenize + explode + md5 + distinct) is
    * evaluated ONCE: each doc's shingle count is computed with an
    * id-partitioned window and packed into the id long itself
    * (`id << 27 | n_sh`), so bucket rows carry both values through the
    * pair explosion and the final similarity needs NO joins back to a
    * per-doc count table — the naive formulation evaluates the corpus
    * pipeline three times (bucket side + one per join side). Packed
    * values sort like ids (id in the high bits), which the in-bucket
    * combination explosion relies on.
    */
  def commonShinglePairs(
      docs: DataFrame,
      n: Int,
      idCol: String,
      textCol: String,
      maxDocFreq: Long,
      minSizeRatio: Double = 0.0
  ): DataFrame = {
    require(minSizeRatio >= 0.0 && minSizeRatio <= 1.0,
      s"minSizeRatio must be in [0,1], got $minSizeRatio")
    // per-doc distinct shingle hashes as ONE row-local array (native
    // ShingleHashes + array_distinct): the shingle count is just size(),
    // so the pack needs neither the old id-partitioned count window nor
    // shingleHashTable's distinct — the whole candidate input is a
    // ZERO-SHUFFLE projection and the groupBy(sh) below is the
    // pipeline's first (and only corpus-sized) exchange.
    val packed = docs
      .select(col(idCol).as("id"), wordTokens(col(textCol)).as("__toks"))
      .select(col("id"), array_distinct(
        graft.functions.ShingleHashes.shingleHashes(col("__toks"), n)).as("__shs"))
      .select(col("id"), size(col("__shs")).cast("long").as("__n"), explode(col("__shs")).as("sh"))
      .select(
        col("sh"),
        when(col("id") >= (1L << (63 - PackShift)) || col("id") < 0 || col("__n") >= (1L << PackShift),
          raise_error(concat(lit("ngramJaccardPairs: id/count out of packable range for id "), col("id"))))
          .otherwise(shiftleft(col("id"), PackShift) + col("__n"))
          .as("pid")
      )
    val mask = (1L << PackShift) - 1
    val rawPairs = Pairs.bucketPairs(packed, Seq("sh"), col("pid"), maxDocFreq.toInt, "pa", "pb")
    // size-ratio prune BEFORE the pair-count exchange: jaccard(a,b) <=
    // n_min/n_max, so when the caller only keeps jaccard >= t, any pair
    // with n_min < t*n_max can never pass — dropping it here (map-side,
    // same stage as the generate) shrinks the groupBy(pa,pb) shuffle.
    // n rides the packed low bits, so the test is two bit-ands per pair.
    // minSizeRatio = 0 keeps every pair (the containment path: cont can
    // reach 1 at ANY size ratio, so no size-based prune is sound there).
    // DIVISION form, not n_min >= t*n_max: at the binding case
    // c = n_min the caller's jaccard evaluates the same n_min/n_max
    // double division, so the boundary rounds identically and no
    // exactly-at-threshold pair can be pruned by a 1-ulp multiply skew.
    val pruned =
      if (minSizeRatio <= 0.0) rawPairs
      else {
        val na = col("pa").bitwiseAND(mask).cast("double")
        val nb = col("pb").bitwiseAND(mask).cast("double")
        rawPairs.filter(least(na, nb) / greatest(na, nb) >= lit(minSizeRatio))
      }
    pruned
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_common"))
      .select(
        shiftright(col("pa"), PackShift).as("id_a"),
        shiftright(col("pb"), PackShift).as("id_b"),
        col("pa").bitwiseAND(mask).as("n_a"),
        col("pb").bitwiseAND(mask).as("n_b"),
        col("n_common"))
  }

  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Long = 1000
  ): DataFrame =
    // minSizeRatio = threshold: jaccard <= n_min/n_max, so the pruned
    // pairs are exactly those that could never pass this filter
    commonShinglePairs(docs, n, idCol, textCol, maxDocFreq, minSizeRatio = threshold)
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Corpus-RELATIVE df cap for the shingle-pair family:
    * max(floorCap, frac·N) with N counted once driver-side (a bounded
    * scalar, the [[graft.operators.FuzzyJoin.fellegiSunter]]
    * discipline). The absolute `maxDocFreq` knob is right when the
    * caller knows the corpus; this is right when the PIPELINE must hold
    * as the corpus grows 100×: a shingle in more than `frac` of all
    * documents is boilerplate, not duplication evidence, and under a
    * FIXED absolute cap the in-bucket pair mass of common-phrase
    * shingles grows ~quadratically with corpus size until the cap
    * finally binds (measured sf1→sf10: candidates ×100 for data ×10 —
    * SURVEY §4). With a relative cap the dropped-shingle set stays the
    * same FRACTION of the df distribution at every scale, so candidate
    * volume tracks the corpus's true near-dup structure instead of its
    * phrase book.
    */
  def relativeDocFreqCap(
      docs: DataFrame,
      frac: Double = 0.002,
      floorCap: Long = 50L): Long = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    require(floorCap >= 2, s"floorCap must be >= 2, got $floorCap")
    math.max(floorCap, (docs.count() * frac).toLong)
  }

  /** Asymmetric n-gram CONTAINMENT pairs: how much of the SMALLER doc's
    * shingle set lives inside the other — the quote/subset/boilerplate-
    * wrapper detector Jaccard misses (a paragraph quoted inside a long
    * page has tiny Jaccard but containment ≈ 1). Emits both directions'
    * scores; keeps pairs where either direction reaches `threshold`.
    * Same one-pass bucketed pipeline as [[ngramJaccardPairs]].
    */
  def ngramContainmentPairs(
      docs: DataFrame,
      threshold: Double,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Long = 1000
  ): DataFrame =
    commonShinglePairs(docs, n, idCol, textCol, maxDocFreq)
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") / col("n_a")).as("cont_a"),
        (col("n_common").cast("double") / col("n_b")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)

  /** End-to-end near-duplicate removal: drop every document that pairs
    * with a LOWER-id near-duplicate (exact-normalized duplicates always;
    * n-gram Jaccard >= threshold). Greedy min-id-survivor policy: within
    * any duplicate cluster the smallest id survives; no driver-side
    * connected components — the victim set is (id_b of pairs) ∪ (non-
    * canonical exact copies), removed with a single ANTI join.
    */
  def dropNearDuplicates(
      docs: DataFrame,
      threshold: Double = 0.8,
      n: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val exactVictims = docs
      .select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"))
      .withColumn("__canon", min(col("id")).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("id") =!= col("__canon"))
      .select(col("id"))
    val jaccardVictims = ngramJaccardPairs(docs, threshold, n, idCol, textCol)
      .select(col("id_b").as("id"))
    val victims = exactVictims.union(jaccardVictims).distinct()
    docs.join(victims, docs(idCol) === victims("id"), "left_anti")
  }

  /** Cross-corpus exact deduplication: drop every document of `docs`
    * whose normalized text already appears in `reference` — the "new
    * crawl minus everything we already have" incremental-ingest step
    * (and the exact-match big sibling of [[contaminationFlags]]'s n-gram
    * overlap check).
    *
    * Both sides reduce to their md5 fingerprint BEFORE the anti-join, so
    * the shuffle carries (id, 32-char digest) / (digest) — never text.
    * No broadcast assumption: the reference corpus is typically
    * fact-sized too (yesterday's crawl), so this is a plain shuffled
    * LEFT ANTI on the digest; when the reference IS small, AQE
    * broadcasts it at runtime. Unlike in-corpus dedup, `docs`-internal
    * duplicates are all kept — compose with [[exact]]-based dedup for
    * that.
    */
  def dedupAgainst(
      docs: DataFrame,
      reference: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val refFp = reference.select(fingerprint(col(textCol)).as("__fp")).distinct()
    docs
      .withColumn("__fp", fingerprint(col(textCol)))
      .join(refFp, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Benchmark decontamination: count each corpus document's n-gram
    * overlap with a benchmark/eval set and flag documents sharing at
    * least `minCommon` shingles — the standard "did eval data leak into
    * the training corpus" check.
    *
    * The benchmark side is small by nature (an eval set), so its hashed
    * shingle table rides a BROADCAST semi-ish join against the corpus
    * shingle table — the corpus shuffles zero bytes for candidate
    * generation; the only shuffle is the per-doc overlap count. Output:
    * every corpus doc with ≥ 1 shared shingle: (id, n_common,
    * contaminated).
    */
  def contaminationFlags(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      minCommon: Long = 1,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val corpusSh = shingleHashTable(corpus, idCol, textCol, n)
    val benchSh = shingleHashTable(benchmark, idCol, textCol, n).select(col("sh")).distinct()
    corpusSh
      .join(broadcast(benchSh), "sh")
      .groupBy("id")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("contaminated", col("n_common") >= minCommon)
  }

  /** Train/eval split-leakage audit: the near-duplicate pairs that CROSS
    * a split boundary — eval docs whose near-twin sits in train, the
    * leak [[contaminationFlags]] can't see because both sides live in
    * the same corpus. Runs the same bucketed candidate generator as
    * [[ngramJaccardPairs]] (one pipeline, no second corpus pass), then
    * keeps only pairs whose docs carry different `splitCol` values.
    * Output: (id_a, id_b, split_a, split_b, jaccard) — row-level
    * evidence to quarantine, not a score.
    *
    * The split labels join back by id AFTER pair generation: the pair
    * frame is victim-sized, so the two id-keyed label joins touch
    * orders less data than tagging every shingle would.
    */
  def crossSplitLeakage(
      docs: DataFrame,
      splitCol: String,
      threshold: Double,
      n: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Long = 1000
  ): DataFrame = {
    val pairs = ngramJaccardPairs(docs, threshold, n, idCol, textCol, maxDocFreq)
    val labels = docs.select(col(idCol).as("__lid"), col(splitCol).as("__split"))
    pairs
      .join(labels.withColumnRenamed("__lid", "id_a").withColumnRenamed("__split", "split_a"), "id_a")
      .join(labels.withColumnRenamed("__lid", "id_b").withColumnRenamed("__split", "split_b"), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"), col("jaccard"))
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation: every node repeatedly adopts the smallest
    * label among itself and its neighbors until fixpoint. Output: (id,
    * cluster_id) where cluster_id is the minimum id reachable from `id`.
    *
    * Rounds = graph diameter; near-duplicate clusters are dense and
    * shallow (a doc family all pairing with each other), so convergence
    * is a handful of rounds in practice. Every round is one equi-join +
    * groupBy on node id — fully distributed, no driver-side graph. Each
    * round's result is eagerly localCheckpoint'ed so the loop's lineage
    * stays flat (no exponential plan growth). Throws if `maxIter` rounds
    * don't converge rather than returning a partially-merged clustering.
    *
    * Size-adaptive: the pair graph is victim-sized (orders smaller than
    * the corpus that produced it), and when it has at most
    * `maxDriverEdges` edges the multi-round distributed loop is pure
    * scheduling overhead — a driver-side union-find labels it in
    * milliseconds. A count of the pinned edge list picks the path; above
    * the cap, the distributed loop carries arbitrarily large graphs. It
    * is a plain count, not a bounded `limit(n+1).count()`: Spark names
    * each `LocalLimitExec`'s row counter with a JVM-wide serial number,
    * so a limit under whole-stage codegen is new code — a codegen cache
    * miss — on every run of the query.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 25,
      maxDriverEdges: Int = 1000000
  ): DataFrame = {
    // materialize the (possibly expensive) upstream pipeline ONCE before the
    // self-referencing union — otherwise both union branches re-evaluate it
    val e = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .pin(true)
    if (e.count() <= maxDriverEdges)
      return unionFindLocal(e)
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .pin(true)
    var labels = sym
      .select(col("src").as("id"))
      .distinct()
      .select(col("id"), col("id").as("label"))
      .pin(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src").as("nid"))
        .agg(min(col("label")).as("nbr_min"))
      val next = labels
        .join(nbrMin, col("id") === col("nid"), "left")
        .select(
          col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
          (coalesce(col("nbr_min"), col("label")) < col("label")).as("__changed")
        )
        .pin(true)
      converged = next.filter(col("__changed")).limit(1).isEmpty
      labels = next.select("id", "label")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Driver-side union-find over a collected edge list (path-halving +
    * union-by-min so every root is its component's minimum id — the same
    * labels the distributed loop converges to).
    */
  private def unionFindLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edges.as[(Long, Long)].collect().foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "label")
  }

  /** [[dropNearDuplicates]] with proper cluster semantics: victims are
    * every non-minimum member of each CONNECTED COMPONENT of the near-dup
    * graph (exact-copy edges ∪ Jaccard edges), so transitive chains
    * A~B~C keep exactly one survivor even when A and C never pair
    * directly — the clustering the greedy min-id policy approximates.
    */
  def dropNearDuplicatesClustered(
      docs: DataFrame,
      threshold: Double = 0.8,
      n: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val exactPairs = docs
      .select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"))
      .withColumn("__canon", min(col("id")).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("id") =!= col("__canon"))
      .select(col("__canon").as("id_a"), col("id").as("id_b"))
    val jaccardPairs = ngramJaccardPairs(docs, threshold, n, idCol, textCol)
      .select(col("id_a"), col("id_b"))
    val victims = connectedComponents(exactPairs.union(jaccardPairs))
      .filter(col("label") =!= col("id"))
      .select(col("id"))
    docs.join(victims, docs(idCol) === victims("id"), "left_anti")
  }

  /** Retention policy over near-dup clusters: keep the BEST-scoring
    * document per cluster (highest `scoreCol`, ties to the smallest id)
    * instead of the smallest-id canonical — "keep the longest / highest-
    * quality copy" is what curation pipelines actually want when near
    * duplicates differ in completeness. Documents in no cluster are
    * their own singleton (survive unconditionally).
    *
    * `scored` is (id, score...); `clusters` is a [[connectedComponents]]
    * result (id, label). The arg-max is a cluster-partitioned window —
    * cluster sizes are bounded by the candidate generator's bucket caps,
    * so no degenerate partitions.
    */
  def keepBestPerCluster(
      scored: DataFrame,
      clusters: DataFrame,
      scoreCol: String,
      idCol: String = "id"
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol))
    scored
      .join(clusters.select(col("id").as(idCol), col("label")), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("label"), col(idCol)))
      .drop("label")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** MinHash signature columns: for each of `numHashes` universal-hash
    * params, the minimum of (a_j*sh + b_j) mod p over the doc's shingle
    * hashes. Output: (id, minhash_0..minhash_{k-1}).
    *
    * Per-ROW signatures come from the row-local zero-shuffle
    * [[withMinhashSig]] kernel (the same one streaming uses); a final
    * groupBy(id) min-MERGE folds rows sharing an id (minhash
    * mergeability: min of per-row mins = min over the union of their
    * shingle sets — how [[groupMinhashSimilarity]] unions a whole
    * source into one sketch). The former shape exploded and shuffled
    * one row per (doc, distinct shingle) — ~100x the document count,
    * measured at 21x cost for 10x data at the 100x bench scale; the
    * merge shuffle here carries k+1 longs per ROW instead. Caveat: a
    * pathological multi-hundred-MB document holds its distinct-shingle
    * set in one row during the projection; chunk giant documents
    * upstream ([[graft.text.Chunker]]), which a 100 TB corpus does
    * anyway. Rows with no shingles (shorter than `n` tokens) are
    * dropped, matching the explode form.
    */
  def minhashSignatures(
      docs: DataFrame,
      numHashes: Int,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(numHashes <= MinhashParams.length, s"at most ${MinhashParams.length} hashes supported")
    val sig = withMinhashSig(
      docs.select(col(idCol).as("id"), col(textCol).as("__mh_text")),
      col("__mh_text"), "__sig", numHashes, n)
      .filter(col("__sig").isNotNull)
    val aggs = (0 until numHashes).map(j =>
      min(element_at(col("__sig"), j + 1)).as(s"minhash_$j"))
    sig.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group duplication report: how much of each source/domain/
    * language is exact-duplicate content — the triage number that
    * decides which source needs the expensive near-dup pass (a 40%-dup
    * crawl source is a different problem than a 0.1% one). A doc is a
    * victim when a LOWER-id doc carries the same normalized
    * fingerprint, corpus-WIDE (cross-source copies count against the
    * source holding the later copy). One fingerprint-partitioned
    * window + a groups-sized roll-up — two shuffles, no joins.
    */
  def duplicationStats(
      docs: DataFrame,
      groupCol: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
    docs
      .select(col(groupCol).as("g"), col(idCol).as("id"), fingerprint(col(textCol)).as("__fp"))
      .withColumn("__vict", when(col("id") =!= min(col("id")).over(w), lit(1L)).otherwise(lit(0L)))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__vict")).as("n_dups"))
      .withColumn("dup_rate", col("n_dups").cast("double") / col("n_docs").cast("double"))
  }

  /** GROUP-level similarity matrix from merged minhash sketches: treat
    * each group (source, domain, language) as the UNION of its
    * documents' shingle sets and estimate pairwise Jaccard between
    * groups — "which crawl sources overlap", the source-dedup /
    * mixture-design signal. The union costs nothing extra: min over the
    * group's shingles IS the minhash merge (the same mergeability
    * [[graft.operators.Sketches]] leans on for HLL/count-min), so the
    * per-group signature is one vocabulary-sized aggregate away.
    *
    * Pairs come from a (j, sig-value) equi-join on the groups×k long
    * frame — never a cross join — so only hash positions that AGREE
    * generate join rows; group pairs sharing no position (est 0) are
    * absent from the output by construction. A join, not
    * [[graft.functions.Pairs.bucketPairs]]: the members are group keys
    * of any type, and the bounded collects hold longs only.
    */
  def groupMinhashSimilarity(
      docs: DataFrame,
      groupCol: String,
      numHashes: Int,
      n: Int = 3,
      textCol: String = "text"
  ): DataFrame = {
    val sigs = minhashSignatures(docs, numHashes, n, idCol = groupCol, textCol = textCol)
    // localCheckpoint (lazy): `long` is self-joined, so without it the whole
    // corpus-scan + minhash aggregation runs twice for a groups-sized frame.
    val long = sigs.select(col("id").as("g"),
      posexplode(array((0 until numHashes).map(j => col(s"minhash_$j")): _*)).as(Seq("j", "v")))
      .pin(false)
    long.as("a")
      .join(long.as("b"),
        col("a.j") === col("b.j") && col("a.v") === col("b.v") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("g_a"), col("b.g").as("g_b"))
      .agg(count(lit(1)).as("n_agree"))
      .withColumn("est_jaccard", col("n_agree").cast("double") / numHashes)
  }

  /** Projects `outCol` = the per-ROW minhash signature (array<long>,
    * length `numHashes`; null when the document has no `n`-shingles).
    * Same hash family as [[minhashSignatures]] (which delegates here),
    * computed entirely row-locally — no explode, no shuffle — usable as
    * a stateless map in streaming and as the batch kernel alike.
    *
    * Takes and returns a DataFrame (not a Column) so the token array
    * and hashed shingle set can be hoisted into their own projected
    * columns: interpreted higher-order functions re-evaluate their
    * lambda bodies per element, so inlining the shingle subtree into
    * the `numHashes` min-lambdas would re-tokenize the document
    * numHashes × positions times (the measured 4-10× trap of the
    * interpreted shingle form that `ShingleHashesSpec` keeps inline as
    * its reference).
    */
  def withMinhashSig(df: DataFrame, text: Column, outCol: String, numHashes: Int, n: Int): DataFrame = {
    require(numHashes <= MinhashParams.length, s"at most ${MinhashParams.length} hashes supported")
    // the k mins come from the codegen'd one-pass MinhashMins kernel —
    // the k × array_min(transform(...)) form paid k interpreted lambda
    // passes per row (the dominant signature cost at 100x bench scale)
    val (as, bs) = (0 until numHashes).map(MinhashParams).toArray.unzip
    df.withColumn("__mh_toks", wordTokens(text))
      .withColumn("__mh_shs",
        array_distinct(graft.functions.ShingleHashes.shingleHashes(col("__mh_toks"), n)))
      .withColumn(outCol,
        graft.functions.MinhashMins.minhashMins(col("__mh_shs"), as, bs, MinhashPrime))
      .drop("__mh_toks", "__mh_shs")
  }

  /** LSH band keys from a per-row signature: array of (band, md5-of-band)
    * structs, matching [[minhashCandidatePairs]]'s banding.
    */
  def bandKeysColumn(sig: Column, numHashes: Int, numBands: Int): Column = {
    require(numHashes % numBands == 0, "numHashes must divide into numBands evenly")
    val rowsPerBand = numHashes / numBands
    array((0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("sig"))
    }: _*)
  }

  /** LSH candidate pairs: signatures banded into `numBands` groups; docs
    * sharing any band bucket become candidates.
    *
    * Buckets are built with ONE groupBy on (band, md5-of-band-signature) +
    * bounded in-group collect and an in-bucket combination explosion — not
    * a self-join, which would (a) evaluate the whole upstream signature
    * pipeline twice and (b) blow up O(n²) on a degenerate bucket (e.g.
    * a boilerplate band value shared by millions of docs). Buckets larger
    * than `maxBucketSize` are dropped whole: past the cap they are
    * degenerate near-identical families better handled by exact dedup,
    * and every other band still votes for the pair.
    */
  def minhashCandidatePairs(
      signatures: DataFrame,
      numHashes: Int,
      numBands: Int,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into numBands evenly")
    val rowsPerBand = numHashes / numBands
    val bandCols = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"minhash_${b * rowsPerBand + r}").cast("string"))
      md5(concat_ws("|", parts: _*)).as(s"band_$b")
    }
    val banded = signatures.select(col("id") +: bandCols: _*)
    val buckets = banded.select(
      col("id"),
      explode(array((0 until numBands).map(b => struct(lit(b).as("band"), col(s"band_$b").as("sig"))): _*))
        .as("bk")
    ).select(col("id"), col("bk.band"), col("bk.sig"))
    Pairs.bucketPairs(buckets, Seq("band", "sig"), col("id"), maxBucketSize, "id_a", "id_b")
      .distinct()
  }

  /** SimHash signatures: per token-bit vote (+1 if the md5-derived token
    * hash has bit b set, else −1), signature bit b = 1 iff the
    * frequency-weighted vote is positive. `bits` ≤ 32.
    *
    * ONE groupBy(id): voting ±1 per token OCCURRENCE is identical to
    * voting ±count per distinct token, so no (id, token) pre-aggregation
    * is needed — that formulation shuffles the whole token table, while
    * this one's only exchange carries one 32-sum partial row per (id,
    * map partition) thanks to map-side combine. The md5 runs per
    * occurrence instead of per distinct token: compute local to the
    * scan, traded for a corpus-sized shuffle — the right direction at
    * any scale.
    */
  def simhash(
      docs: DataFrame,
      bits: Int = 32,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(bits >= 1 && bits <= 32, "bits must be in [1,32]")
    // fully row-local: ShingleHashes(toks, 1) IS md5Hash32 per token
    // occurrence, SimhashSig folds the +-1 bit votes in one native loop —
    // bit-exact vs the old explode + corpus-wide 32-sum aggregate
    // (integer votes are order-free), with ZERO shuffle. Token-less docs
    // are excluded, matching the groupBy formulation (no rows, no group).
    docs
      .select(col(idCol).as("id"), wordTokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("id"),
        graft.functions.SimhashSig.simhashSig(
          graft.functions.ShingleHashes.shingleHashes(col("__toks"), 1), bits).as("simhash"))
  }

  /** Pigeonhole buckets for a Hamming radius: the low `bits` bits of
    * `sig` cut into maxHamming+1 contiguous blocks, as an array of
    * (blk, v) structs to explode. Any two signatures within the radius
    * agree exactly on at least one block.
    *
    * Block i covers bits [i·bits/k, (i+1)·bits/k) of k = maxHamming+1 —
    * an even floor/ceil split, so every block gets ≥ 1 bit. (A
    * ceil(bits/k)-wide cut leaves trailing blocks of width ≤ 0 for most
    * radii — e.g. 32 bits at radius 8 — and every row then shares one
    * degenerate bucket that the size cap drops whole, losing pairs
    * within the radius.) The arithmetic shift is exact because each
    * mask keeps only bits below 64.
    */
  def hammingBlocks(sig: Column, bits: Int, maxHamming: Int): Column = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"need maxHamming in [0, bits-1] so each of the maxHamming+1 blocks gets >= 1 of $bits bits, " +
        s"got $maxHamming")
    val nBlocks = maxHamming + 1
    array((0 until nBlocks).map { i =>
      val lo = i * bits / nBlocks
      val width = (i + 1) * bits / nBlocks - lo
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(i).as("blk"), shiftright(sig, lo).bitwiseAND(mask).as("v"))
    }: _*)
  }

  /** Near-dup pairs among simhash signatures with hamming distance <=
    * `maxHamming`, using block-permutation candidate buckets
    * ([[hammingBlocks]]): by pigeonhole, any pair within distance
    * shares at least one exact block — so candidates come from
    * per-(block_idx, block_value) buckets, never all-pairs.
    *
    * Single-pass like [[ngramJaccardPairs]]: each bucket element packs
    * `id << bits | simhash` into one long (hence the `bits <= 32` /
    * id < 2^(63-bits) contract, range-checked), so one bounded groupBy
    * replaces the self-join — the upstream signature pipeline evaluates
    * once and `maxBucketSize` caps degenerate buckets (a common block
    * value cannot explode O(n²)).
    */
  def simhashNearDupPairs(
      signatures: DataFrame,
      bits: Int = 32,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    require(bits >= 1 && bits <= 32, "bits must be in [1,32]")
    val idCap = 1L << (63 - bits)
    val sigMask = if (bits == 32) 0xffffffffL else (1L << bits) - 1
    val packed = signatures.select(
      when(col("id") >= idCap || col("id") < 0,
        raise_error(concat(lit(s"simhashNearDupPairs: id out of packable range for bits=$bits: "), col("id"))))
        .otherwise(shiftleft(col("id"), bits) + col("simhash").bitwiseAND(sigMask))
        .as("pid"),
      col("simhash"),
      explode(hammingBlocks(col("simhash"), bits, maxHamming)).as("b")
    ).select(col("pid"), col("b.blk"), col("b.v"))
    val sigA = col("pa").bitwiseAND(sigMask)
    val sigB = col("pb").bitwiseAND(sigMask)
    Pairs.bucketPairs(packed, Seq("blk", "v"), col("pid"), maxBucketSize, "pa", "pb")
      .select(
        shiftright(col("pa"), bits).as("id_a"),
        shiftright(col("pb"), bits).as("id_b"),
        bit_count(sigA.bitwiseXOR(sigB)).as("hamming")
      )
      // hamming filter BEFORE the distinct: most bucket-mates are NOT
      // within the radius, so filtering first shrinks the dedup shuffle
      // from all candidate pairs to true near-dups only
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Duplicate-influx monitor: exact-duplicate rate per arrival bucket
    * — "is the crawler suddenly re-fetching the same pages", read as a
    * time series instead of one corpus-wide number ([[duplicationStats]]
    * says HOW MUCH duplication; this says WHEN it started). A document
    * is a duplicate iff an EARLIER document (by `orderCol`, the
    * arrival/id order) carries the same content fingerprint; rates are
    * reported per fixed-width bucket of that order.
    *
    * No ordered scan: each fingerprint's first arrival is a groupBy
    * min; membership is one equi-join back on the fingerprint (both
    * sides corpus-sized — a plain shuffle join, no broadcast
    * assumption); the bucket rollup is a second map-side-combined
    * groupBy. Output per bucket: (bucket, n_docs, n_dups, dup_rate).
    */
  def duplicateInflux(
      docs: DataFrame,
      orderCol: String,
      textCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val fp = docs.select(
      col(orderCol).cast("long").as("__o"),
      graft.text.TextFunctions.rollingFingerprint(col(textCol)).as("__fp"))
    val first = fp.groupBy(col("__fp")).agg(min(col("__o")).as("__first"))
    fp
      .join(first, Seq("__fp"))
      // exact long floor-division: pmod makes the numerator an exact
      // multiple of the width, so integer `div` equals floor for any
      // sign — a double cast would misbucket order values above 2^53
      .select(expr(s"(__o - pmod(__o, ${bucketWidth}L)) div ${bucketWidth}L")
        .as("bucket"),
        (col("__o") > col("__first")).as("__dup"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("__dup"), lit(1))).as("n_dups"))
      .withColumn("dup_rate",
        r6(col("n_dups").cast("double") / col("n_docs").cast("double")))
  }
}
