package graft.ann

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level embedding utilities shared by the similarity / ANN
  * pipelines: per-group centroids and L2 normalization.
  *
  * Two centroid strategies exist in this codebase, by design:
  *   - [[graft.functions.VectorSum]] (used by [[KMeans]]): one native
  *     map-side-combined vector aggregate, no row explosion — the
  *     throughput path for iterative training;
  *   - `labelCentroids` here: posexplode → (group, pos) aggregate over
  *     DECIMAL(38,6). The explode is transient (partial aggregation
  *     collapses each upstream partition to groups×dims rows before the
  *     exchange), and decimal summation is associative — bit-identical
  *     under any partitioning, which is what an engine-neutral oracle
  *     needs. Use it for one-shot, auditable statistics.
  */
object Embeddings {

  /** Per-(group, dimension) centroid: (group, pos, centroid ROUND 6).
    * Shuffled bytes per upstream partition = groups × dims, independent
    * of corpus size.
    */
  def labelCentroids(emb: DataFrame, groupCol: String, vecCol: String): DataFrame =
    emb
      .select(col(groupCol).as("group"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("group"), col("pos").cast("long").as("pos"))
      .agg(
        // float → double (exact) → decimal: both engines round the same
        // double; a direct float→decimal cast is engine-dependent
        sum(col("v").cast("double").cast("decimal(38,6)")).as("__s"),
        count(lit(1)).as("__n"))
      .select(
        col("group"), col("pos"),
        r6(col("__s").cast("double") / col("__n")).as("centroid"))

  /** Per-group embedding health report — the pre-flight check before
    * pointing ANN / cosine-dedup at a vector column: (group, n,
    * mean_norm, std_norm, mean_cos) where `mean_cos` is the mean cosine
    * to the CORPUS centroid. A healthy isotropic space sits near 0; a
    * collapsed or anisotropic one (bad pooling, dead encoder, mixed
    * checkpoints — all of which silently wreck cosine retrieval) shows
    * mean_cos pushing 1 and/or a norm distribution split.
    *
    * Scale shape: the corpus centroid is the [[labelCentroids]]
    * decimal-exact per-dim aggregate (dims-sized), reassembled into ONE
    * broadcast array row; per-row norms/cosines ride the codegen'd
    * [[graft.functions.DotProduct]] fold (bit-identical left-to-right);
    * group stats are r6'd-term DECIMAL sums. Nothing but the dims frame
    * ever leaves the executors twice.
    */
  def healthReport(
      emb: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame = {
    val cent = labelCentroids(emb.withColumn("__g", lit(1)), "__g", vecCol)
      .select(sort_array(collect_list(struct(col("pos"), col("centroid")))).as("cs"))
      .select(transform(col("cs"), c => c.getField("centroid")).as("__c"))
    val dot = (a: Column, b: Column) => graft.functions.GraftFunctions.dotProduct(a, b)
    val v = col(vecCol)
    val norm = sqrt(dot(v, v))
    val cnorm = sqrt(dot(col("__c"), col("__c")))
    val cos = when(norm > 0 && cnorm > 0, dot(v, col("__c")) / (norm * cnorm))
    emb
      .crossJoin(broadcast(cent))
      .select(col(groupCol).as("group"), norm.as("__n"), cos.as("__cos"))
      .groupBy("group")
      .agg(
        count(lit(1)).as("n"),
        dsum(r6(col("__n"))).as("__sn"),
        dsum(r6(col("__n") * col("__n"))).as("__sn2"),
        dsum(r6(coalesce(col("__cos"), lit(0.0)))).as("__sc"))
      .select(
        col("group"), col("n"),
        (col("__sn") / col("n").cast("double")).as("mean_norm"),
        sqrt(greatest(
          col("__sn2") / col("n").cast("double") -
            (col("__sn") / col("n").cast("double")) * (col("__sn") / col("n").cast("double")),
          lit(0.0))).as("std_norm"),
        (col("__sc") / col("n").cast("double")).as("mean_cos"))
  }

  /** Appends `outCol` = the L2-normalized copy of `vecCol` (unchanged
    * zero vector when the norm is 0 — no NaN poisoning).
    *
    * The norm is hoisted into its own projected column before the
    * per-element transform: interpreted higher-order functions
    * re-evaluate their lambda body per element, so an inlined norm
    * would cost O(dim²) per row.
    */
  def l2Normalize(df: DataFrame, vecCol: String, outCol: String): DataFrame = {
    val norm = sqrt(aggregate(
      col(vecCol), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    df.withColumn("__l2norm", norm)
      .withColumn(
        outCol,
        when(col("__l2norm") > 0,
          transform(col(vecCol), x => x.cast("double") / col("__l2norm")))
          .otherwise(transform(col(vecCol), x => x.cast("double"))))
      .drop("__l2norm")
  }

  /** Per-dimension min/max bounds for scalar quantization: ONE
    * map-side-combined aggregate; output is dims rows — broadcast-sized
    * however large the corpus.
    */
  def dimensionBounds(emb: DataFrame, vecCol: String, idCol: String): DataFrame =
    emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))

  /** Scalar (uint8) quantization: code = floor((v − lo_d)/(hi_d − lo_d)
    * · 255), clamped to [0, 255]; constant dimensions code to 0. 4× the
    * compression of float32 with none of PQ's training — the first rung
    * of the quantization ladder ([[ProductQuantizer]] is the next).
    * The bounds table broadcasts; the corpus is a pure projection over
    * it — zero corpus shuffle. Output: (id, pos, code) exploded (callers
    * re-pack with collect_list when they want the array form).
    */
  def scalarQuantize(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bounds = dimensionBounds(emb, vecCol, idCol)
    emb
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("v").cast("double").as("v"))
      .join(broadcast(bounds), "pos")
      .select(
        col(idCol), col("pos"),
        when(col("hi") > col("lo"),
          least(lit(255L), greatest(lit(0L),
            floor((col("v") - col("lo")) / (col("hi") - col("lo")) * 255.0))))
          .otherwise(lit(0L)).as("code"))
  }

  /** Truncation fidelity (the Matryoshka-embedding eval): for each
    * candidate prefix length d, how much of the FULL-dimension cosine
    * top-k does a search over only the first d dimensions recover?
    * recall@k per query = |topk_d ∩ topk_full| / |topk_full|. The
    * measurement that decides whether a 4× cheaper truncated index is
    * safe to ship — dimension count is the #1 cost driver of every ANN
    * structure downstream ([[IvfIO]], [[ProductQuantizer]]).
    *
    * Execution shape: one exact [[Similarity.bruteForceTopK]] for the
    * full dimension (pinned — every d reuses it), one per candidate d
    * over the PREFIX-SLICED vectors (a projection; the corpus is never
    * copied), each the broadcast-queries / bounded-heap shape. The
    * overlap join and the recall aggregation run on (queries × k)-sized
    * frames. Queries-sized work × |dims| total; corpus scans = |dims|+1.
    *
    * Output: one row per d — (dim, n_queries, mean_recall, min_recall,
    * n_corpus, floats_per_query), recalls r6'd (mean via DECIMAL sum,
    * order-free). The last two columns are the COST side of the
    * trade-off the recall columns price: a prefix-d scan multiplies d
    * floats against every corpus vector, so floats_per_query =
    * d × n_corpus — the "4× cheaper at dim/4" claim read off the same
    * row as its recall. Zero queries ⇒ zero output rows (the grouping
    * is per-dim, never a global aggregate, so Spark and a SQL GROUP BY
    * oracle agree on empty input). Every d must be ≤ the embedding
    * dimension — a longer prefix raises at runtime (slice() would
    * silently return the full vector, faking perfect recall).
    */
  def truncationFidelity(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dims: Seq[Int],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(dims.nonEmpty && dims.forall(_ >= 1), s"bad prefix list $dims")
    import graft.plans.Materialize.PinOps
    val full = Similarity.bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
      .pin(false) // reused by every candidate dimension
    val fullN = full.groupBy("query_id").agg(count(lit(1)).as("__nf"))
    // one-row corpus count, broadcast onto each per-dim summary row —
    // the per-query scan cost denominator
    val corpusN = corpus.agg(count(lit(1)).as("n_corpus"))
    dims.map { d =>
      def trunc(df: DataFrame) = df.withColumn(vecCol,
        when(size(col(vecCol)) >= d, slice(col(vecCol), 1, d))
          .otherwise(raise_error(lit(
            s"truncationFidelity: prefix dim $d exceeds the embedding dimension — " +
              "slice() would silently search the full vector"))))
      val topd = Similarity.bruteForceTopK(trunc(corpus), trunc(queries), k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"))
      val hits = full.join(topd, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("__hits"))
      fullN
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__hits"), lit(0L)).cast("double") /
            col("__nf").cast("double")).as("__r"))
        // group by the literal dim (not a global agg) so zero queries
        // emit zero rows, matching GROUP BY semantics cross-engine
        .groupBy(lit(d).cast("long").as("dim"))
        .agg(
          count(lit(1)).as("n_queries"),
          (dsum(r6(col("__r"))) /
            count(lit(1)).cast("double")).as("mean_recall"),
          min(r6(col("__r"))).as("min_recall"))
        .crossJoin(broadcast(corpusN))
        .withColumn("floats_per_query", col("dim") * col("n_corpus"))
    }.reduce(_ unionByName _)
  }

  /** Embedding isotropy from ONE closed form — the mean pairwise
    * cosine of the (L2-normalized) corpus without a single pair
    * materializing: Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖Σv̂‖² − Σ‖v̂ᵢ‖², so
    * mean_cos = (‖Σv̂‖² − Σ‖v̂ᵢ‖²) / (n(n−1)). Anisotropic/collapsed
    * embedding spaces (the classic "all my embeddings point the same
    * way" failure that silently inflates every cosine threshold in
    * [[SemDedup]]/[[Similarity]]) show up as mean_cos ≫ 0; a healthy
    * spread sits near 0. The O(n·d) two-pass answer to a question that
    * reads like it needs n²/2 dot products.
    *
    * Zero-norm vectors have no direction: dropped from the sums,
    * counted in `n_zero`. Components and squares r6-pinned before
    * DECIMAL reductions (so ‖Σv̂‖² is dimension- and engine-exact);
    * the dim frame (d rows) carries the centroid sums.
    *
    * Output ONE row: (n, n_zero, dim, centroid_norm, mean_offdiag_cos)
    * — centroid_norm = ‖Σv̂‖/n, the drift direction's strength.
    */
  def isotropy(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.plans.Materialize.PinOps
    def rowFold(arr: Column): Column =
      aggregate(arr, lit(0).cast("decimal(38,6)"),
        (acc, x) => acc + x.cast("decimal(38,6)")).cast("double")
    // pinned: three consumers (dims, rowsq, zeros) would otherwise each
    // re-run the per-element norm fold over the whole corpus — at 100 TB
    // that is two redundant full scans for a one-row answer
    val withNorm = emb.select(
      col(idCol),
      col(vecCol).as("__v"),
      sqrt(rowFold(transform(col(vecCol),
        v => r6(v.cast("double") * v.cast("double"))))).as("__norm"))
      .pin(false)
    val unit = withNorm
      .filter(col("__norm") > 0)
      // the norm>0 guard OUTSIDE the lambda too: past the checkpoint
      // boundary the filter no longer provably precedes the projection
      // for ANSI's divide-by-zero check (observed via the pinned frame).
      // CaseWhen evaluates lazily, so a zero-norm row never reaches the
      // division; hoisted above transform it costs one check per ROW
      // (in-lambda it doubled the per-element tree — measured 2x).
      .select(col(idCol),
        when(col("__norm") > 0,
          transform(col("__v"), v => r6(v.cast("double") / col("__norm")))).as("__u"))
    val dims = unit
      .select(posexplode(col("__u")).as(Seq("pos", "u")))
      .groupBy(col("pos"))
      .agg(dsum(col("u")).as("__s"))
    val centroid = dims.agg(
      coalesce(dsum(r6(col("__s") * col("__s"))), lit(0.0)).as("__ss"),
      count(lit(1)).as("dim"))
    val rowsq = unit.agg(
      count(lit(1)).as("n"),
      coalesce(dsum(rowFold(transform(col("__u"), u => r6(u * u)))), lit(0.0)).as("__rq"))
    val zeros = withNorm.agg(
      count(when(!(col("__norm") > 0), lit(1))).as("n_zero"))
    rowsq
      .crossJoin(broadcast(centroid)) // one-row frames: lint-exempt
      .crossJoin(broadcast(zeros))
      .select(
        col("n"), col("n_zero"), col("dim"),
        when(col("n") > 0, r6(sqrt(col("__ss")) / col("n").cast("double")))
          .as("centroid_norm"),
        when(col("n") > 1, r6((col("__ss") - col("__rq")) /
          (col("n").cast("double") * (col("n") - lit(1L)).cast("double"))))
          .as("mean_offdiag_cos"))
  }

  /** Diagonal-covariance Mahalanobis distance per vector — the
    * embedding-space outlier score: how many per-dimension standard
    * deviations a vector sits from the corpus centroid, summed in
    * quadrature. The screen that catches broken embeddings (zeroed
    * rows, wrong-model mixes, fp-overflow spikes) BEFORE they poison an
    * ANN index or a [[SemDedup]] pass — [[healthReport]] says the
    * corpus drifted; this says WHICH vectors.
    *
    * Diagonal (per-dim variance), not full covariance: the full Σ⁻¹
    * needs a d×d inverse (the [[Pca]] whitening path, spec-only); the
    * diagonal form is exactly the z-score sum, stays a closed form of
    * two corpus moments, and is what embedding-QA pipelines actually
    * run. Zero-variance dimensions carry no information and contribute
    * 0 (their count is reported once in `n_dims_used`, corpus-constant
    * by construction).
    *
    * Spark shape: one posexplode pass to the DIM-sized moment frame
    * (sample variance via the sum-of-squares identity on r6-pinned
    * values — partition-order-free); the (mean, var) arrays fold back
    * into ONE row that broadcasts, and the per-vector score is a pure
    * row-local zip_with/aggregate projection — the corpus never
    * shuffles. Per-dim z² terms are r6-pinned before a DECIMAL(38,6)
    * fold, so m2 is dimension-order- and engine-independent.
    *
    * Output: (idCol, m2, maha = r6(√m2), n_dims_used).
    */
  def mahalanobisDiag(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val nD = count(lit(1)).cast("double")
    val moments = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("pos"), r6(col("v").cast("double")).as("v"))
      .groupBy(col("pos"))
      .agg(
        (dsum(col("v")) / nD).as("mean"),
        when(count(lit(1)) > 1,
          (dsum(r6(col("v") * col("v"))) - dsum(col("v")) * dsum(col("v")) / nD) /
            (nD - lit(1.0)))
          .otherwise(lit(0.0)).as("variance"))
    // fold the dim frame into one broadcastable row of ordered arrays
    val statsRow = moments
      .agg(sort_array(collect_list(struct(col("pos"), col("mean"), col("variance"))))
        .as("__s"))
      .select(
        transform(col("__s"), s => s.getField("mean")).as("__means"),
        transform(col("__s"), s => s.getField("variance")).as("__vars"))
    emb
      .crossJoin(broadcast(statsRow)) // one-row stats frame: lint-exempt
      .select(
        col(idCol),
        aggregate(
          zip_with(
            zip_with(transform(col(vecCol), v => r6(v.cast("double"))),
              col("__means"), (v, m) => v - m),
            col("__vars"),
            (d, s) => when(s > 0, r6(d * d / s)).otherwise(lit(0.0))),
          lit(0).cast("decimal(38,6)"),
          (acc, x) => acc + x.cast("decimal(38,6)")).cast("double").as("m2"),
        size(filter(col("__vars"), s => s > 0)).cast("long").as("n_dims_used"))
      .withColumn("maha", r6(sqrt(col("m2"))))
      .select(col(idCol), col("m2"), col("maha"), col("n_dims_used"))
  }

  /** Embedding centroid DRIFT across arrival buckets — did the corpus's
    * embedding distribution move, and when: per id-bucket of
    * `bucketWidth` vectors, the unit-vector centroid, its norm (how
    * concentrated the bucket is), and the cosine to the PREVIOUS
    * bucket's centroid. The embedding-space twin of
    * [[graft.dedup.Dedup.duplicateInflux]] (same exact long floor-div
    * bucketing): a drop in consecutive-bucket cosine marks the batch
    * where a new source/modality/encoder started landing, which a
    * whole-corpus [[healthReport]] averages away.
    *
    * Execution: one corpus scan to the (bucket × dim) mean frame
    * (posexplode collapses map-side to buckets×dims partial sums);
    * the drift join is consecutive-bucket on that bounded frame, pinned
    * once for its two consumers. Unit components and per-dim means are
    * r6 + DECIMAL(38,6) — order-free.
    *
    * Output: (bucket, n_vecs, centroid_norm, drift_cos) ordered-free;
    * the first bucket and buckets after a gap have NULL drift_cos
    * (nothing adjacent to compare), zero-norm vectors are excluded.
    */
  def centroidDrift(
      emb: DataFrame,
      bucketWidth: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    import graft.plans.Materialize.PinOps
    def rowFold(arr: Column): Column =
      aggregate(arr, lit(0).cast("decimal(38,6)"),
        (acc, x) => acc + x.cast("decimal(38,6)")).cast("double")
    // pinned like isotropy's: unpinned, CollapseProject substitutes the
    // whole norm FOLD into the per-element division lambda — the row
    // norm re-evaluates dim× per row (measured 20× slower at sf0.1)
    val withNorm = emb.select(
      col(idCol).cast("long").as("__id"),
      col(vecCol).as("__v"),
      sqrt(rowFold(transform(col(vecCol),
        v => r6(v.cast("double") * v.cast("double"))))).as("__norm"))
      .pin(false)
    val unit = withNorm
      .filter(col("__norm") > 0)
      // same hoisted norm>0 guard as isotropy: ANSI divide-by-zero must
      // not depend on filter/projection evaluation order, at one check
      // per row instead of per element
      .select(
        expr(s"(__id - pmod(__id, ${bucketWidth}L)) div ${bucketWidth}L").as("bucket"),
        when(col("__norm") > 0,
          transform(col("__v"), v => r6(v.cast("double") / col("__norm")))).as("__u"))
    val dims = unit
      .select(col("bucket"), posexplode(col("__u")).as(Seq("pos", "u")))
      .groupBy(col("bucket"), col("pos"))
      .agg(count(lit(1)).as("__n"), r6(dsum(col("u")) / count(lit(1)).cast("double")).as("__c"))
      .pin(false) // consumed as both sides of the consecutive-bucket join
    val cur = dims.groupBy(col("bucket")).agg(
      max(col("__n")).as("n_vecs"),
      dsum(r6(col("__c") * col("__c"))).as("__ss"))
    val dot = dims.alias("a")
      .join(dims.alias("b"), col("a.bucket") === col("b.bucket") + lit(1L) &&
        col("a.pos") === col("b.pos"))
      .groupBy(col("a.bucket").as("bucket"))
      .agg(
        dsum(r6(col("a.__c") * col("b.__c"))).as("__dot"),
        dsum(r6(col("b.__c") * col("b.__c"))).as("__pss"))
    cur.join(dot, Seq("bucket"), "left")
      .select(
        col("bucket"), col("n_vecs"),
        r6(sqrt(col("__ss"))).as("centroid_norm"),
        when(col("__dot").isNotNull && col("__ss") > 0 && col("__pss") > 0,
          r6(col("__dot") / (sqrt(col("__ss")) * sqrt(col("__pss")))))
          .as("drift_cos"))
  }

  /** Geometric median per group — the ROBUST centroid (the point
    * minimizing Σ‖x − m‖, vs the mean's Σ‖x − m‖²): a 1% cluster of
    * corrupt embeddings drags a mean centroid 1% of their distance,
    * but the geometric median barely moves — the right anchor for
    * drift baselines (#318) and semantic-dedup seeds. Fixed
    * `iterations` of Weiszfeld's algorithm from the mean: m' =
    * Σ(xᵢ/dᵢ) / Σ(1/dᵢ), dᵢ = max(‖xᵢ − m‖, ε) — each iteration ONE
    * corpus pass (broadcast-join of the group-sized median frame,
    * codegen'd [[graft.functions.SqDist]] for the distances), pinned
    * so the lazy plan stays flat. Accumulation is per-dimension
    * r6 + DECIMAL sums over a posexplode — the §5 engine-exact path;
    * `VectorSum`'s raw-double partials would leave the hash at the
    * mercy of partition-order low bits COMPOUNDED across iterations
    * (a one-shot centroid tolerates that; a 5-round fixed point does
    * not). 64× more (tiny) shuffle rows than VectorSum, bought as
    * bit-exactness.
    *
    * Output per group: (group, n, median[dim], mean_dist) — mean_dist
    * the average distance to the FINAL median (the robust spread).
    */
  def geometricMedian(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      iterations: Int = 5,
      eps: Double = 1e-9): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations must be in [1, 16], got $iterations — each is a corpus pass")
    import graft.plans.Materialize.PinOps
    val vecs = df
      .filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"), col(vecCol).cast("array<double>").as("__x"))
      .pin(false) // re-read once per iteration
    // assemble the per-dim frame back into the ordered median vector
    def assemble(perDim: DataFrame): DataFrame = perDim
      .groupBy(col("__g"))
      .agg(transform(
        array_sort(collect_list(struct(col("__d"), col("__mv")))),
        e => e.getField("__mv")).as("__m"))
    var med = assemble(vecs
      .select(col("__g"), posexplode(col("__x")).as(Seq("__d", "__val")))
      .groupBy(col("__g"), col("__d"))
      .agg(r6(dsum(r6(col("__val"))) / count(lit(1)).cast("double")).as("__mv")))
      .pin(true)
    for (_ <- 1 to iterations) {
      val joined = vecs.join(broadcast(med), "__g")
        .withColumn("__dd",
          greatest(sqrt(graft.functions.GraftFunctions.sqDist(col("__x"), col("__m"))),
            lit(eps)))
      val w = joined.groupBy(col("__g"))
        .agg(sum(r6(lit(1.0) / col("__dd")).cast("decimal(38,18)"))
          .cast("double").as("__w"))
      med = assemble(joined
        .select(col("__g"), col("__dd"), posexplode(col("__x")).as(Seq("__d", "__val")))
        .groupBy(col("__g"), col("__d"))
        .agg(dsum(r6(col("__val") / col("__dd"))).as("__ws"))
        .join(w, "__g")
        .select(col("__g"), col("__d"), r6(col("__ws") / col("__w")).as("__mv")))
        .pin(true)
    }
    vecs.join(broadcast(med), "__g")
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), first(col("__m")).as("median"),
        (dsum(r6(sqrt(graft.functions.GraftFunctions.sqDist(col("__x"), col("__m"))))) /
          count(lit(1)).cast("double")).as("__md"))
      .select(col("__g").as("group"), col("n"), col("median"),
        r6(col("__md")).as("mean_dist"))
  }
}
