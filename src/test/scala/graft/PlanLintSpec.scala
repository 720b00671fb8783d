package graft

import graft.plans.PlanLint
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PlanLintSpec extends SparkSpec {
  import spark.implicits._

  private val df = (1L to 100L).map(i => (i, i % 5, i * 1.0)).toDF("id", "k", "v")

  test("flags a partition-less window, accepts the partitioned one") {
    val global = df.withColumn("rn", row_number().over(Window.orderBy("v")))
    assert(PlanLint.lint(global).exists(_.rule == "global-window"))
    val keyed = df.withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
    assert(!PlanLint.lint(keyed).exists(_.rule == "global-window"))
  }

  test("a global window below a limit is top-k postprocessing, not a finding") {
    val topk = df.orderBy(desc("v")).limit(5)
      .withColumn("rn", row_number().over(Window.orderBy(desc("v"))))
    assert(!PlanLint.lint(topk).exists(_.rule == "global-window"))
  }

  test("flags cartesian products and single-partition exchanges") {
    val cross = df.crossJoin(df.select(col("id").as("id2")))
    assert(PlanLint.lint(cross).exists(f => f.rule == "cartesian" || f.rule == "nested-loop-join"))
    assert(PlanLint.lint(df.repartition(1).groupBy("k").count())
      .exists(_.rule == "single-partition-exchange"))
  }

  test("a broadcast loop join over a one-row totals frame is not a finding") {
    val tot = df.agg(sum("v").as("tv"))
    assert(!PlanLint.lint(df.crossJoin(broadcast(tot))).exists(_.rule == "nested-loop-join"))
    // 1x1 join of totals is still <=1 row through the outer cross join
    val tot2 = tot.crossJoin(broadcast(df.agg(count(lit(1)).as("n"))))
    assert(!PlanLint.lint(df.crossJoin(broadcast(tot2))).exists(_.rule == "nested-loop-join"))
    // a multi-row broadcast build side IS a finding (non-equi condition)
    val multi = df.select(col("id").as("id2"), col("v").as("v2"))
    assert(PlanLint.lint(df.join(broadcast(multi), col("v") < col("v2")))
      .exists(_.rule == "nested-loop-join"))
  }

  test("every SparkEntry query stays lint-clean on EVERY rule (modulo documented allowances)") {
    val sf = "/root/testdata/sf0.001"
    // Per-query ALLOWED rules — each entry bounded by contract, not by luck:
    //  - global-window: the rank runs over the distinct-code VOCABULARY
    //    (q_fit_vocab and its consumer q_normalize), never over
    //    measurement rows. q_meds_pipeline / q_pipeline_config rank their
    //    fitted vocabulary in a job of its own, so neither plan may hold
    //    a global window.
    //  - nested-loop-join: a broadcast of a k-row frame (k-means centroids /
    //    the ANN query set / the chi-square |B| category marginals) against
    //    the corpus — the build side is parameter- or cardinality-bounded,
    //    and the scan per probe row is the algorithm (argmin over k), not
    //    an accident. One-row totals broadcasts auto-pass in the linter.
    //  - q_km_survival's windows run over the DAY-granularity KM curve —
    //    bounded by the observation horizon (days), never by keys or rows.
    //  - q_bh's windows order the TESTS frame (one row per hypothesis,
    //    m = |lang| x |source|) — BH fundamentally ranks the test list;
    //    the raw data never reaches a global window.
    //  - q_logrank shares q_km_survival's contract: its cumulative
    //    at-risk windows run over the same day-granularity curve frame.
    //  - q_cramers_v is q_chi2's cell machinery: the |A|x|B| marginal
    //    grid cross-join is level-sized (categorical cardinalities).
    val allowed: Map[String, Set[String]] = Map(
      "q_km_survival"    -> Set("global-window"),
      "q_nelson_aalen"   -> Set("global-window"), // same day-curve contract
      "q_logrank"        -> Set("global-window"),
      // Cox's per-step reverse-cumulative risk sums run over the same
      // day-granularity curve frame as q_km_survival
      "q_cox"            -> Set("global-window"),
      "q_rmst"           -> Set("global-window"), // same day-curve contract
      "q_cif"            -> Set("global-window"), // same day-curve contract
      // the sampling-table cumulative ranges run over the VOCABULARY
      // rank — the q_fit_vocab bounded-frame contract
      "q_sampling_table" -> Set("global-window"),
      // Neyman's largest-remainder rank orders the STRATA frame —
      // one row per stratum, the q_bh tests-frame contract
      "q_neyman"         -> Set("global-window"),
      "q_cramers_v"      -> Set("nested-loop-join"),
      "q_bh"             -> Set("global-window"),
      "q_fit_vocab"      -> Set("global-window"),
      "q_tensorize"      -> Set("global-window"), // vocab indexing, the q_fit_vocab contract
      "q_normalize"      -> Set("global-window"),
      "q_kmeans_assign"  -> Set("nested-loop-join"),
      // cluster quality shares q_kmeans_assign's broadcast-centroid scan;
      // Davies-Bouldin adds the k x k centroid-pair frame (k-bounded twice)
      "q_silhouette"      -> Set("nested-loop-join"),
      "q_davies_bouldin"  -> Set("nested-loop-join"),
      "q_ann_ivf_kmeans" -> Set("nested-loop-join"),
      // IVF-PQ probe: queries crossJoin the 8-row coarse-centroid
      // broadcast (k-bounded, the q_kmeans_assign contract)
      "q_ann_ivfpq_adc"  -> Set("nested-loop-join"),
      "q_ann_topk"       -> Set("nested-loop-join"),
      "q_hard_negatives" -> Set("nested-loop-join"), // same broadcast query-set scan as q_ann_topk
      "q_trunc_recall"   -> Set("nested-loop-join"), // q_ann_topk's scan, once per prefix length
      "q_chi2"           -> Set("nested-loop-join"),
      // the control frame is one row BY CONTRACT (arm = controlArm over
      // the arm-aggregated frame) — filtered, so the linter's one-row
      // totals auto-pass can't prove it
      "q_mvc"            -> Set("nested-loop-join"),
      // the frontier's running strict-max orders the DISTINCT-COST frame
      // (value-domain-sized after the per-cost collapse, like
      // q_fit_vocab's vocabulary rank) — the corpus never reaches the
      // window; continuous costs should be bucketed by the caller
      "q_pareto"         -> Set("global-window"),
      // the pairwise sketch-overlap join is over the GROUP-sized KMV
      // sketch frame (one row per source) — both sides are group-count-
      // bounded by construction; the pair scan IS the operator (set
      // algebra on sketches, the corpus is long gone)
      "q_kmv"            -> Set("nested-loop-join"),
      // the NB vocab x class grid crossJoin broadcasts the CLASS frame
      // (|C| rows, 2 here) — class-cardinality-bounded, the q_chi2
      // marginal contract; the per-class constant and threshold frames
      // it also broadcasts are |C|-sized aggregates of the model.
      // q_label_noise composes the same NB plan.
      "q_nb"             -> Set("nested-loop-join"),
      "q_label_noise"    -> Set("nested-loop-join"),
      // the group-index rank orders the DISTINCT-SOURCE frame — vocab-
      // sized by the q_neyman/q_bh contract; the corpus itself only
      // sees the group-keyed rank window
      "q_curriculum"     -> Set("global-window"),
      // the Lorenz cumulative is a triangular join on the BIN frame —
      // ≤ 100 rows by the nBins require, never the corpus
      "q_lorenz"         -> Set("nested-loop-join"),
      // Holm's rank/prefix-max windows order the TESTS frame — one row
      // per hypothesis, the q_bh contract; the corpus collapsed in the
      // upstream per-slice aggregate
      "q_holm"           -> Set("global-window"),
      // the reference-group frame is limit(1) — one row by
      // construction, but the limit sits below a select so the
      // linter's one-row auto-pass can't prove it
      "q_fair_audit"     -> Set("nested-loop-join"),
      // the PAA-vector pair join runs on the GROUP-sized shape frame
      // (one row per event type) — the q_kmv sketch-pair contract
      "q_dtw"            -> Set("nested-loop-join"),
      // BH over the per-source SRM tests frame — the q_bh contract
      "q_srm_sweep"      -> Set("global-window"),
      // Storey pi0/q windows order the same TESTS frame — q_bh contract
      "q_storey"         -> Set("global-window"),
      // the JL distortion probe pairs: both sides bounded by the
      // maxId <= 128 require (the q_ann_topk probe contract)
      "q_jl"             -> Set("nested-loop-join"),
      // rbo's one-row-per-side size frames under a constant-folded
      // literal query key (20-row top-k lists, k-bounded)
      "q_top_terms_drift" -> Set("nested-loop-join"),
      // the (source-count × top-50-words) grid completion and the
      // source-pair z join — both sides source/nWords-bounded (the
      // q_kmv pair contract)
      "q_burrows"        -> Set("nested-loop-join"),
      // block-design joins on the (blocks × treatments) cells frame
      // (50 rows by registration) under a constant-folded literal
      // group key — design-sized, never the corpus
      "q_friedman"       -> Set("nested-loop-join"),
      "q_cochran_q"      -> Set("nested-loop-join")
    )
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      PlanLint.lint(fn(spark, sf))
        .filterNot(f => allowed.getOrElse(name, Set.empty).contains(f.rule))
        .map(f => s"$name: $f")
    }
    assert(bad.isEmpty, s"lint findings:\n${bad.mkString("\n")}")
  }
}
