package graft.operators

import graft.functions.Portable.r6
import graft.plans.Materialize.PinOps
import graft.meds.Meds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Patient split & shard assignment.
  *
  * Reference: src/MEDS_transforms/extract/split_and_shard_patients.py
  * (seeded random assignment of patients to train/tuning/held_out splits,
  * then fixed-size shards within splits). The reference's
  * extract/shard_events.py (row-chunking raw input files) maps to
  * [[graft.sources.MedsIO.writeRowChunked]] — in Spark, ingest chunks are
  * output files, not in-memory partitions.
  */
object Shard {

  /** Assign each patient a split label from `fractions` (name -> fraction,
    * must sum to ~1) and a shard id within the split.
    *
    * The reference shuffles patient ids with a seeded RNG and slices
    * (split_and_shard_patients.py:16-153). Distributed analog: a seeded
    * 64-bit hash (xxhash64 — stable across Spark versions and cluster
    * layouts) maps each patient to a uniform point in [0,1); the
    * cumulative-fraction intervals of that unit line are the splits. This
    * is embarrassingly parallel — no global sort, no window, no shuffle
    * beyond the patient-distinct — and deterministic given (seed, patient
    * id). Split sizes are binomially concentrated around the requested
    * fractions (exact-fraction slicing would need a global rank, which at
    * hundreds of millions of patients funnels the whole table through one
    * task for zero semantic gain — the reference's seeded shuffle is just
    * as approximate in spirit).
    *
    * Small-cohort guard: binomial assignment can leave a low-fraction
    * split EMPTY when the cohort is tiny (P(empty tune at frac 0.1,
    * n=20) ≈ 12%), silently breaking consumers that assume every
    * configured split is populated. So when the distinct-patient count is
    * <= `exactBelow`, we fall back to the reference's exact semantics:
    * rank patients by the seeded hash (the "shuffle") and slice at
    * round(cum_frac * n) — every split gets its exact share, and the
    * global rank window is cheap because n is bounded by `exactBelow`.
    * The distinct patient set is localCheckpoint'ed once: the
    * path-picking count and the assignment projection reuse the same
    * materialization instead of re-running the distinct per consumer.
    *
    * For oracle-friendly deterministic assignment, `splitByModulo` below
    * avoids the engine-specific hash entirely.
    */
  def splitAndShardPatients(
      patients: DataFrame,
      fractions: Seq[(String, Double)],
      nShardsPerSplit: Int,
      seed: Long = 1,
      exactBelow: Int = 100000
  ): DataFrame = {
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val distinctPatients = patients.select(col(Meds.PatientId)).distinct().pin(false)
    // signed 64-bit hash -> uniform double in [0,1)
    val u = xxhash64(col(Meds.PatientId), lit(seed)).cast("double") / lit(2.0 * Long.MaxValue) + lit(0.5)
    val shard = pmod(xxhash64(col(Meds.PatientId), lit(seed + 1)), lit(nShardsPerSplit))
    // a plain count of the pinned frame costs what limit(k).count() would,
    // and compiles once per session: a codegen'd limit's counter is named
    // by a JVM-wide serial, so each call of a limit compiles anew
    val n = distinctPatients.count()
    val assigned =
      if (n <= exactBelow) {
        // exact path: seeded-hash rank = the reference's shuffled order;
        // slice at cumulative round(frac * n). Window is global but bounded.
        val bounds = fractions.scanLeft(0.0)(_ + _._2).tail.map(f => math.round(f * n))
        val r = row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(u, col(Meds.PatientId)))
        val splitExpr = fractions.map(_._1).zip(bounds).foldRight(lit(fractions.last._1)) {
          case ((name, hi), acc) => when(col("__r") <= hi, lit(name)).otherwise(acc)
        }
        distinctPatients
          .withColumn("__r", r)
          .withColumn("split", splitExpr)
          .drop("__r")
      } else {
        val cum = fractions.scanLeft(0.0)(_ + _._2).tail
        val splitExpr = fractions.zip(cum).foldRight(lit(fractions.last._1)) {
          case (((name, _), hi), acc) => when(u < hi, lit(name)).otherwise(acc)
        }
        distinctPatients.withColumn("split", splitExpr)
      }
    assigned.withColumn("shard", shard)
  }

  /** Deterministic modulo-based split assignment (oracle-verifiable across
    * engines): patient_id mod `denom` thresholded by cumulative weights.
    */
  def splitByModulo(
      patients: DataFrame,
      weights: Seq[(String, Int)],
      nShardsPerSplit: Int
  ): DataFrame = {
    val denom = weights.map(_._2).sum
    val m = pmod(col(Meds.PatientId), lit(denom))
    val cum = weights.scanLeft(0)(_ + _._2).tail
    val splitExpr = weights.zip(cum).foldRight(lit(weights.last._1)) {
      case (((name, _), hi), acc) => when(m < hi, lit(name)).otherwise(acc)
    }
    patients
      .select(col(Meds.PatientId)).distinct()
      .withColumn("split", splitExpr)
      .withColumn("shard", pmod(floor(col(Meds.PatientId).cast("double") / denom).cast("long"), lit(nShardsPerSplit)))
  }

  /** Rendezvous (highest-random-weight) shard assignment: each key goes
    * to the shard with the largest md5-derived weight h(seed|key|shard)
    * — the consistent-placement scheme whose defining property is
    * MINIMAL MOVEMENT on resize: growing n→m shards relocates only the
    * keys whose new shards win, an expected (m−n)/m fraction, where any
    * mod-n scheme reshuffles ~everything. Row-local (one bounded
    * weight-array fold per key), deterministic, engine-mirrorable.
    * Ties take the lowest shard id.
    */
  def rendezvousAssign(
      df: DataFrame,
      keyCol: String,
      nShards: Int,
      seed: String,
      outCol: String = "shard"): DataFrame = {
    require(nShards >= 1 && nShards <= 4096, s"nShards must be in [1, 4096], got $nShards")
    val weights = transform(sequence(lit(0), lit(nShards - 1)), s =>
      graft.text.TextFunctions.md5Hash32(
        concat_ws("|", lit(seed), col(keyCol).cast("string"), s.cast("string"))))
    df.withColumn(outCol,
      (array_position(weights, array_max(weights)) - 1L).cast("long"))
  }

  /** The resize-movement audit: assign DISTINCT keys under `fromShards`
    * and `toShards`, count movers, report the measured moved fraction
    * next to the theoretical (to−from)/to (for growth) — the one-row
    * proof that placement is rendezvous-stable, and the number a
    * mod-N layout fails by ~10×. One distinct pass, two row-local
    * assignment projections, one global aggregate.
    */
  def rendezvousRebalanceAudit(
      df: DataFrame,
      keyCol: String,
      fromShards: Int,
      toShards: Int,
      seed: String): DataFrame = {
    require(fromShards >= 1 && toShards > fromShards,
      s"audit expects growth, got $fromShards -> $toShards")
    val keys = df.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
    val assigned = rendezvousAssign(
      rendezvousAssign(keys, keyCol, fromShards, seed, "__from"),
      keyCol, toShards, seed, "__to")
    assigned.agg(
      count(lit(1)).as("n_keys"),
      count(when(col("__from") =!= col("__to"), lit(1))).as("n_moved"))
      .select(col("n_keys"), col("n_moved"),
        when(col("n_keys") > 0,
          r6(col("n_moved").cast("double") / col("n_keys").cast("double")))
          .as("moved_frac"),
        r6(lit((toShards - fromShards).toDouble / toShards.toDouble))
          .as("expected_frac"))
  }
}
