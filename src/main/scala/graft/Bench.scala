package graft
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object Bench {

  /** The sf1 (10x) subset: the heaviest plans at sf0.1 plus the full
    * dedup family — the regime where plans, not scheduling, dominate the
    * wall clock, and where each query's cost must stay about linear one
    * decade up.
    */
  val HotQueries: Seq[String] = Seq(
    "q1_pricing", "q3_shipping", "q_top_customers", "q_asof",
    "q_tokenize_seqs", "q_meds_pipeline", "q_curation",
    "q_dedup_exact", "q_dedup_jaccard", "q_dedup_minhash", "q_dedup_cluster",
    "q_minhash_sigs", "q_simhash_pairs", "q_containment", "q_cross_dedup",
    "q_line_dedup", "q_dup_stats", "q_source_sim", "q_leakage", "q_novelty",
    "q_semdedup", "q_pagerank", "q_ann_topk", "q_ann_ivf_kmeans",
    "q_cdc_chunks", "q_winnow", "q_kcore",
    "q_adamic", "q_lsh_tuning",
    "q_lof_scalable", "q_rake", "q_bm25_retrieve", "q_hits", "q_ppr",
    "q_nb", "q_mahalanobis", "q_cox",
    "q_rake_weights", "q_bradley_terry", "q_markov_attr",
    "q_capture_recapture", "q_isotropy",
    "q_khop", "q_seq_patterns", "q_bm25_prox", "q_embed_drift",
    "q_boot_median", "q_cls_metrics", "q_err", "q_mi", "q_luhn")

  /** The sf10 (100x) subset: the heaviest plans of the sf1 section, where
    * quadratic failure modes (bucket skew, pair explosion) would finally
    * show. Kept small because each query reads ~1.7 GB.
    * LIST ORDER IS EXECUTION ORDER, cheapest first: if the time budget
    * runs out mid-section, the skipped tail is the expensive queries, not
    * the cheap ones that would otherwise never get a number.
    */
  val Sf10Queries: Seq[String] = Seq(
    "q1_pricing", "q_minhash_sigs", "q_dedup_exact", "q_cross_dedup",
    "q_source_sim", "q_adamic", "q_pagerank", "q_shapley_attr",
    "q_simhash_pairs", "q_nb", "q_meds_pipeline", "q_dedup_minhash",
    "q_cox", "q_hte", "q_matched_att", "q_semdedup", "q_khop",
    "q_top_customers", "q_capture_recapture", "q_communities",
    "q_curation", "q_containment", "q_dedup_cluster", "q_lof_scalable",
    "q_dedup_jaccard")

  /** The sf100 (1000x, 5M documents) subset: the operators a real
    * pipeline runs at this scale — the scale-path dedup operators plus
    * four non-dedup representatives. Exact shingle-jaccard/containment
    * and q_lof_scalable are left out because their candidate-pair
    * shuffles exceed one node's disk at this size (measured: >90 GB
    * before ENOSPC for shingle-jaccard); banded MinHash is the path for
    * this regime. Rows-only — no oracle at this size; the df-cap-bind
    * evidence (max_df 1323 at 5M docs) is recorded in SURVEY §7 (R8).
    * LIST ORDER IS EXECUTION ORDER, cheapest first (see Sf10Queries).
    */
  val Sf100Queries: Seq[String] = Seq(
    "q_line_dedup", "q_url_dedup", "q_cross_dedup", "q_simhash_pairs",
    "q_minhash_sigs", "q_cox", "q_dedup_minhash", "q_meds_pipeline",
    "q_khop", "q_communities")

  /** Queries re-benched under `spark.graft.checkpointDir` (reliable
    * checkpoints — the 100 TB production mode for the iterative ops):
    * the pin-using iterative/graph family plus two multi-consumer
    * pipelines, so the variant covers both pin call sites and no-op paths.
    */
  val CheckpointQueries: Seq[String] = Seq(
    "q_dedup_cluster", "q_pagerank", "q_kcore", "q_dedup_jaccard",
    "q_curation", "q_semdedup")

  /** Task-metrics attached to one timed sample — the SpillProbe
    * adjudication signals (round-11 verdict item 1b: heavy sf100
    * singles should carry their probe inline). Constant shuffle volume
    * + falling GC across rounds on identical rows = session/warmup
    * noise; growing spill = a real plan property.
    */
  final case class Probe(
      gcSec: Double, memSpillGb: Double, diskSpillGb: Double,
      shReadGb: Double, shWriteGb: Double)

  final case class QRes(
      name: String, sec: Double, err: Option[String], rows: Long,
      probe: Option[Probe] = None)

  /** Fixed-work host-speed canary (round-12 verdict item 3): a single-
    * thread, allocation-free xorshift loop over a constant iteration
    * count — pure CPU, no Spark, no I/O — so its wall time depends on
    * NOTHING but how fast this host currently executes instructions.
    * Rounds 11-12 were both adjudicated against a VM that silently ran
    * 2-5× slower after a mid-round reboot (identical shuffle bytes/rows,
    * GC inflated up to 30×); the probes proved it per-query but only by
    * cross-round comparison. The canary is the instant denominator: it
    * is timed at every section start and before every isolated scaled
    * sample, and lands in the artifact next to the timings it
    * calibrates. Adjudication rule (SURVEY §4): a riser whose probe
    * shows constant shuffle volume and rows AND whose nearest canary
    * reads >1.5× the round's healthy floor is the host, not the plan.
    * Floor measured on the round-13 build box: 2.7 s (three back-to-back
    * runs 2.68-2.89 s).
    */
  val CanaryIters: Long = 1200000000L
  @volatile private var canarySink: Long = 0L // defeat dead-code elimination
  private def canaryWork(seed: Long): Long = {
    var x = 0x9E3779B97F4A7C15L + seed
    var i = 0L
    while (i < CanaryIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x += i; i += 1
    }
    x
  }
  def hostCanarySec(): Double = {
    val t0 = System.nanoTime()
    canarySink = canaryWork(0L)
    (System.nanoTime() - t0) / 1e9
  }

  /** The multi-core companion: every available core runs the same fixed
    * work concurrently and the WALL time is recorded. A CPU-quota'd or
    * SMT-oversubscribed host can pass the single-thread canary while
    * throttling exactly the 32-way parallelism the bench runs with —
    * measured on the round-13 box: single 2.6 s but 32-thread wall
    * 4.1 s (~64% parallel efficiency, the SMT-pair baseline for this
    * VM shape). A section whose queries rise while `*_mt` holds its
    * floor is the plans; `*_mt` rising with constant probes is the host.
    */
  def hostCanaryMtSec(threads: Int = Runtime.getRuntime.availableProcessors()): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      val t = new Thread(() => { canarySink = canaryWork(k.toLong) })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The memory-latency canary: a fixed 8M-hop pointer chase over a
    * 128 MB single-cycle permutation (Sattolo shuffle, deterministic
    * seed) — every hop is a dependent random DRAM access, so the wall
    * time is pure memory/TLB latency, the one axis the register-only
    * xorshift canaries cannot see. This is the axis that matters for
    * the round-12 failure signature: tracing GC, Catalyst planning and
    * codegen are all pointer chasing, so a hypervisor-degraded memory
    * subsystem inflates GC wall and per-query driver time uniformly
    * while task shuffle volumes stay constant and the CPU canary reads
    * healthy — measured on the round-13 box: 267 ns/hop (2.1-2.3 s for
    * the 8M hops) while the CPU canary held its 2.7 s floor during a
    * section that ran 1.8× its round-12 pre-break wall. The ring is
    * built once (lazily, ~2 s, outside any timed region) and reused.
    */
  val ChaseHops: Long = 8L * 1024 * 1024
  private lazy val chaseRing: Array[Int] = {
    val n = 32 * 1024 * 1024
    val next = Array.tabulate(n)(identity)
    var seed = 0x9E3779B97F4A7C15L
    var i = n - 1
    while (i > 0) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      val j = java.lang.Math.floorMod(seed, i).toInt
      val t = next(i); next(i) = next(j); next(j) = t
      i -= 1
    }
    next
  }
  def hostCanaryChaseSec(): Double = {
    val ring = chaseRing
    val t0 = System.nanoTime()
    var p = 0
    var i = 0L
    while (i < ChaseHops) { p = ring(p); i += 1 }
    canarySink = p.toLong
    (System.nanoTime() - t0) / 1e9
  }

  /** Fresh SparkSession per section. Round-5 verdict: running the sf1
    * section in the same JVM session after 182 sf0.1 queries inflated its
    * timings 1.5-4x (dead codegen classes, block-manager litter, GC
    * pressure) — `q_dedup_jaccard` read 23.4x for 10x data when the
    * isolated truth was 6.2x. A stopped+recreated SparkContext resets
    * executor/block state so each section measures its plans, not the
    * previous section's garbage.
    */
  private def newSession(cpus: Int, extraConf: Map[String, String]): SparkSession =
    SessionDefaults.local(cpus, Map(
      // Let AQE size shuffles for the DATA, not the core count: start
      // wide (256 pre-coalesce partitions) and coalesce down to the
      // target size per stage. With a bare shuffle.partitions=32 the
      // sf10 (100x) section put ~0.5 GB in every sort-merge partition
      // and spilled (q_top_customers read 21x for 10x data); at sf0.1
      // AQE coalesces right back so small sections pay nothing.
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
      // the driver's sf tables are single parquet files and ScaleData's
      // are many ~original-sized files with 1 MiB row groups; 4 MiB
      // splits give the scan the parallelism a production multi-file
      // layout has without drowning the scheduler in footer-only tasks
      // (splits cannot cross a row-group boundary, so the cap only bites
      // where row groups are at least that fine).
      "spark.sql.files.maxPartitionBytes" -> "4m") ++ extraConf)

  /** Cumulative task-metrics counters; `delta` reads the increment since
    * the last call, so one listener serves every query in a section.
    */
  private final class MetricsAcc extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    private val gcMs = new AtomicLong; private val mem = new AtomicLong
    private val disk = new AtomicLong; private val rd = new AtomicLong
    private val wr = new AtomicLong
    private var last = (0L, 0L, 0L, 0L, 0L)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        gcMs.addAndGet(m.jvmGCTime)
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
        rd.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        wr.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def delta(): Probe = {
      val now = (gcMs.get, mem.get, disk.get, rd.get, wr.get)
      val p = Probe(
        (now._1 - last._1) / 1e3, (now._2 - last._2) / 1e9,
        (now._3 - last._3) / 1e9, (now._4 - last._4) / 1e9,
        (now._5 - last._5) / 1e9)
      last = now
      p
    }
  }

  /** Run `subset` (or all queries) against `dir` in one SparkSession,
    * calling `onResult` after EVERY query (the round-11 driver run was
    * killed at its timeout and the all-at-the-end artifact write left
    * rc=124/parsed-null — incremental consumers lose at most the
    * in-flight query now). `shouldStop` is consulted before each query;
    * when it turns true the remaining queries are left unrun (the
    * caller records them as skipped, which is NOT an error).
    * A failed query records an `err` — it must NOT read as a fast
    * success (round-5 verdict: the old catch printed to stderr and the
    * near-zero timing landed in the artifact as a speedup).
    */
  def runSection(
      dir: String,
      subset: Option[Set[String]],
      cpus: Int,
      extraConf: Map[String, String] = Map.empty,
      onResult: QRes => Unit = _ => (),
      shouldStop: () => Boolean = () => false): Seq[QRes] = {
    val spark = newSession(cpus, extraConf)
    try {
      val metrics = new MetricsAcc
      spark.sparkContext.addSparkListener(metrics)
      // Warm-up: JVM/codegen/file-listing costs land here, not in the timings.
      Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
        .foreach { t =>
          try graft.sources.Tables.read(spark, dir, t).count()
          catch { case _: Throwable => () }
        }
      metrics.delta() // drop the warm-up's task metrics
      val out = mutable.ArrayBuffer.empty[QRes]
      val names = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => subset.forall(_.contains(name)) }
      val it = names.iterator
      var stopped = false
      while (it.hasNext && !stopped) {
        if (shouldStop()) stopped = true
        else {
          val (name, fn) = it.next()
          val t0 = System.nanoTime()
          // keep the output cardinality: scaled-data ratios are only
          // readable against the WORK a query did (the sf10 dedup
          // families legitimately emit ~50x the pairs of sf1 — a time
          // ratio without the row ratio reads as a plan regression)
          var rows = -1L
          val err =
            try { rows = fn(spark, dir).count(); None }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
              Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            }
          val elapsed = (System.nanoTime() - t0) / 1e9
          // drop this query's localCheckpoint blocks NOW — BLOCKING:
          // queries never share frames, and relying on GC + ContextCleaner
          // lets 140+ queries of dead blocks pile up (measured 17x
          // degradation late in a full run). The async variant still let
          // removals lag behind the next heavy query (q_curation read 120s
          // in-section vs 10s healthy); blocking + an explicit gc() lets
          // the ContextCleaner reap dead broadcasts/shuffles too. Both run
          // OUTSIDE the timed region.
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          System.gc()
          val r = QRes(name, elapsed, err, rows, Some(metrics.delta()))
          out += r
          onResult(r)
        }
      }
      out.toSeq
    } finally spark.stop()
  }

  /** The sf100 section needs all three scaled tables, not just
    * documents: q_communities/q_meds_pipeline/q_cox read events and
    * lineitem (round-11 ADVICE — a stale documents-only sf100 dir from
    * round 10 would error those queries and fail the whole bench
    * instead of skipping the section). Returns the missing file names;
    * empty = ready.
    */
  def missingSf100Tables(dir: String): Seq[String] =
    Seq("documents.parquet", "events.parquet", "lineitem.parquet")
      .filterNot(f => new java.io.File(s"$dir/$f").exists())

  /** The end-to-end row verification for [[runMainPipeline]]: the
    * written data frame must match the oracle-verified q_meds_pipeline
    * equivalent exactly (round-11 ADVICE: the count used to be recorded
    * but never compared, so a silent row-count regression in the
    * graft.Main path could not fail the bench).
    */
  def mainRowCheck(written: Long, expected: Long): Option[String] =
    if (written == expected) None
    else Some(s"main_pipeline wrote $written data rows but the " +
      s"oracle-verified q_meds_pipeline computes $expected")

  /** Time `graft.Main` end-to-end: the spark-submit pipeline entry over
    * the example YAML, INCLUDING the output parquet writes — the path a
    * cluster operator actually invokes, whose config-parse + write
    * overhead the per-query harness never measures. The timed region is
    * config read → pipeline run → all frames written. After the clock
    * stops, the written data frame is re-read and its row count is
    * COMPARED against the oracle-verified q_meds_pipeline equivalent on
    * the same tables (the example YAML composes that exact pipeline) —
    * a mismatch is an `err` and fails the bench run.
    */
  def runMainPipeline(dir: String, cpus: Int): Seq[QRes] = {
    val spark = newSession(cpus, Map.empty)
    try {
      val metrics = new MetricsAcc
      spark.sparkContext.addSparkListener(metrics)
      // warm-up: file listing + codegen land here, as in runSection
      try graft.sources.Tables.read(spark, dir, "events").count()
      catch { case _: Throwable => () }
      metrics.delta() // drop the warm-up's task metrics
      val outDir = java.nio.file.Files.createTempDirectory("graft-bench-main")
      try {
        val t0 = System.nanoTime()
        var rows = -1L
        var err =
          try {
            val yaml = new String(
              java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get("configs/preprocess_example.yaml")),
              java.nio.charset.StandardCharsets.UTF_8)
            Main.run(spark, yaml, dir, outDir.toString)
            None
          } catch { case e: Throwable =>
            System.err.println(s"[bench] main_pipeline FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // snapshot the probe BEFORE the verification jobs so the
        // gc/spill/shuffle columns describe only the timed region
        val probe = metrics.delta()
        if (err.isEmpty) {
          err =
            try {
              rows = spark.read.parquet(s"$outDir/data").count()
              val expected = SparkEntry.queries("q_meds_pipeline")(spark, dir).count()
              mainRowCheck(rows, expected)
            } catch { case e: Throwable =>
              Some(s"verification re-read failed: ${e.getClass.getSimpleName}: " +
                s"${String.valueOf(e.getMessage).take(200)}")
            }
        }
        Seq(QRes("main_pipeline", elapsed, err, rows, Some(probe)))
      } finally org.apache.commons.io.FileUtils.deleteQuietly(outDir.toFile)
    } finally spark.stop()
  }

  /** One section's accumulated state: per-query samples in execution
    * order plus the queries the time budget skipped (with reasons).
    */
  private final class Acc(var dir: String = "") {
    val samples = mutable.LinkedHashMap.empty[String, Vector[QRes]]
    val skipped = mutable.LinkedHashMap.empty[String, String]
    /** Host-canary samples keyed by position ("start", or the query name
      * the measurement immediately precedes); repeats accumulate. With
      * `mt = true` (section boundaries) the all-cores wall lands under
      * "<label>_mt" next to the single-thread number.
      */
    val canaries = mutable.LinkedHashMap.empty[String, Vector[Double]]
    def addCanary(label: String, mt: Boolean = false): Unit = {
      canaries(label) = canaries.getOrElse(label, Vector.empty) :+ hostCanarySec()
      if (mt) {
        canaries(label + "_mt") =
          canaries.getOrElse(label + "_mt", Vector.empty) :+ hostCanaryMtSec()
        canaries(label + "_chase") =
          canaries.getOrElse(label + "_chase", Vector.empty) :+ hostCanaryChaseSec()
      }
    }
    def add(r: QRes): Unit =
      samples(r.name) = samples.getOrElse(r.name, Vector.empty) :+ r
    /** Upper median over the samples (exact middle for odd counts — the
      * round-10 convention); all raw samples stay in the artifact.
      */
    def summary: Seq[QRes] = samples.toSeq.map { case (n, rs) =>
      val med = rs.map(_.sec).sorted.apply(rs.size / 2)
      QRes(n, med, rs.flatMap(_.err).headOption, rs.head.rows)
    }.sortBy(_.name)
    def nonEmpty: Boolean = samples.nonEmpty
  }

  private def timesJson(rs: Seq[QRes]): String =
    rs.map(r => s"\"${r.name}\":${r.sec}").mkString("{", ",", "}")
  private def rowsJson(rs: Seq[QRes]): String =
    rs.map(r => s"\"${r.name}\":${r.rows}").mkString("{", ",", "}")
  private def errsJson(rs: Seq[QRes]): String =
    rs.collect { case QRes(n, _, Some(e), _, _) => s"\"$n\":${Verify.jsonStr(e)}" }
      .mkString("{", ",", "}")
  private def samplesJson(acc: Acc): String = acc.samples.toSeq.sortBy(_._1)
    .map { case (n, rs) => s"\"$n\":[${rs.map(_.sec).mkString(",")}]" }
    .mkString("{", ",", "}")
  private def probesJson(acc: Acc): String = acc.samples.toSeq.sortBy(_._1)
    .map { case (n, rs) =>
      val ps = rs.flatMap(_.probe).map(p =>
        f"""{"gc_sec":${p.gcSec}%.1f,"mem_spill_gb":${p.memSpillGb}%.1f,""" +
          f""""disk_spill_gb":${p.diskSpillGb}%.1f,"shuffle_read_gb":${p.shReadGb}%.1f,""" +
          f""""shuffle_write_gb":${p.shWriteGb}%.1f}""")
      s"\"$n\":[${ps.mkString(",")}]"
    }.mkString("{", ",", "}")
  private def canariesJson(acc: Acc): String = acc.canaries.toSeq
    .map { case (label, cs) =>
      s""""$label":[${cs.map(c => f"$c%.2f").mkString(",")}]"""
    }.mkString("{", ",", "}")
  private def skippedJson(accs: Seq[(String, Acc)]): String = accs
    .filter(_._2.skipped.nonEmpty)
    .map { case (tag, a) =>
      s"\"$tag\":{${a.skipped.map { case (q, why) => s"\"$q\":${Verify.jsonStr(why)}" }.mkString(",")}}"
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionDefaults.defaultCpus
    // Optional comma-separated subset for local iteration; the driver
    // leaves this unset and benches everything.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    // Optional section filter for local iteration (e.g. "checkpoint" or
    // "sf1,sf10"); the driver leaves it unset = all sections.
    val sections = sys.env.get("SPARK_GRAFT_SECTIONS").map(_.split(",").map(_.trim).toSet)
    def wantSection(tag: String): Boolean = sections.forall(_.contains(tag))

    // The run's wall-clock budget (round-11 verdict item 1: the six
    // sections grew to ~3,480 s of timed work and the driver killed the
    // run at its timeout — with the artifact written only at the very
    // end, the official perf gate read NOTHING). The budget makes the
    // run SELF-limiting: coverage pass first (every section, one sample
    // per query), then extra samples for medians only while time
    // remains; what does not fit is recorded as skipped, and the run
    // exits 0 well before any external kill.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "2400").toDouble
    val tStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tStart) / 1e9
    def remaining: Double = budgetSec - elapsedSec

    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/testdata_sf1")
    val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/root/repo/testdata_sf10")
    val sf100Dir = sys.env.getOrElse("SPARK_GRAFT_SF100_DIR", "/root/repo/testdata_sf100")

    val tags = Seq("sf", "sf1", "checkpoint", "sf10", "sf100", "main_sf10")
    val accs: Map[String, Acc] = tags.map(_ -> new Acc).toMap
    val sectionsDone = mutable.LinkedHashSet.empty[String]

    def acc(tag: String): Acc = accs(tag)
    def orderedAccs: Seq[(String, Acc)] = tags.map(t => t -> accs(t))

    def perQueryJson(): String = {
      val (a0, a1, aCp, a10, a100, aM) =
        (acc("sf"), acc("sf1"), acc("checkpoint"), acc("sf10"), acc("sf100"), acc("main_sf10"))
      s"""{"metric":"per_query","queries":${timesJson(a0.summary)},"errors":${errsJson(a0.summary)},"rows":${rowsJson(a0.summary)},"sf":"$sfDir","canary":${canariesJson(a0)},"probe":${probesJson(a0)}""" +
        s""","sf1_queries":${timesJson(a1.summary)},"sf1_errors":${errsJson(a1.summary)},"sf1_rows":${rowsJson(a1.summary)},"sf1_dir":"${a1.dir}","sf1_canary":${canariesJson(a1)},"sf1_probe":${probesJson(a1)}""" +
        s""","checkpoint_queries":${timesJson(aCp.summary)},"checkpoint_errors":${errsJson(aCp.summary)},"checkpoint_canary":${canariesJson(aCp)},"checkpoint_probe":${probesJson(aCp)}""" +
        s""","sf10_queries":${timesJson(a10.summary)},"sf10_errors":${errsJson(a10.summary)},"sf10_rows":${rowsJson(a10.summary)},"sf10_dir":"${a10.dir}"""" +
        s""","sf10_samples":${samplesJson(a10)},"sf10_probe":${probesJson(a10)},"sf10_canary":${canariesJson(a10)}""" +
        s""","sf100_queries":${timesJson(a100.summary)},"sf100_errors":${errsJson(a100.summary)},"sf100_rows":${rowsJson(a100.summary)},"sf100_dir":"${a100.dir}"""" +
        s""","sf100_samples":${samplesJson(a100)},"sf100_probe":${probesJson(a100)},"sf100_canary":${canariesJson(a100)}""" +
        s""","main_sf10_queries":${timesJson(aM.summary)},"main_sf10_errors":${errsJson(aM.summary)},"main_sf10_rows":${rowsJson(aM.summary)},"main_sf10_probe":${probesJson(aM)},"main_sf10_canary":${canariesJson(aM)}""" +
        s""","skipped":${skippedJson(orderedAccs)}""" +
        f""","sections_done":[${sectionsDone.map(t => s"\"$t\"").mkString(",")}],"budget_sec":$budgetSec%.0f,"elapsed_sec":$elapsedSec%.1f}"""
    }

    def nSkipped: Int = accs.values.map(_.skipped.size).sum

    def totalJson(): String = {
      def section(tag: String, accTag: String, dir: String): String = {
        val rs = acc(accTag).summary
        if (rs.isEmpty) ""
        else s""","$tag":{"total":${rs.map(_.sec).sum},"n_queries":${rs.size},"n_err":${rs.count(_.err.isDefined)},"dir":${Verify.jsonStr(dir)}}"""
      }
      val rs0 = acc("sf").summary
      val nErr = accs.values.flatMap(_.summary).count(_.err.isDefined)
      s"""{"metric":"total","value":${rs0.map(_.sec).sum},"unit":"sec","sf":"$sfDir","n_queries":${rs0.size},"n_err":$nErr""" +
        section("sf1", "sf1", sf1Dir) +
        section("checkpoint_sf1", "checkpoint", sf1Dir) +
        section("sf10", "sf10", sf10Dir) +
        section("sf100", "sf100", sf100Dir) +
        section("main_sf10", "main_sf10", sf10Dir) +
        s""","sections_done":[${sectionsDone.map(t => s"\"$t\"").mkString(",")}]""" +
        f""","truncated":${nSkipped > 0},"n_skipped":$nSkipped,"budget_sec":$budgetSec%.0f,"elapsed_sec":$elapsedSec%.1f}"""
    }

    /** Overwrite the artifact file — called after EVERY completed query
      * so an external kill degrades to a truncated-but-parseable
      * artifact instead of rc=124/parsed-null (round-11 verdict item 1).
      */
    def writeArtifact(): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_QUERIES.json"),
        perQueryJson().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () }

    /** Print the cumulative per-query and total lines — called after
      * every section, so the LAST parseable "total" line on stdout
      * always reflects all sections completed so far.
      */
    def emitStdout(): Unit = { writeArtifact(); println(perQueryJson()); println(totalJson()) }

    /** Per-query bookkeeping shared by every section: record the sample,
      * refresh the artifact file, and every 25 completed queries also
      * print the (small) cumulative total line — an external kill BEFORE
      * the first section boundary would otherwise leave stdout with no
      * parseable line at all, even though the artifact file is current.
      */
    var nDone = 0
    def record(a: Acc)(r: QRes): Unit = {
      a.add(r)
      writeArtifact()
      nDone += 1
      if (nDone % 25 == 0) println(totalJson())
    }

    // ---------------- pass 1: coverage — one sample per query, every section
    if (wantSection("sf")) {
      val a = acc("sf"); a.dir = sfDir
      a.addCanary("start", mt = true)
      runSection(sfDir, only, cpus,
        onResult = record(a),
        shouldStop = () => remaining < 30)
      a.addCanary("end", mt = true)
      val intended = SparkEntry.queries.keySet.filter(n => only.forall(_.contains(n)))
      (intended -- a.samples.keySet).toSeq.sorted
        .foreach(n => a.skipped(n) = "time budget")
      sectionsDone += "sf"
      emitStdout()
    }

    /** One isolated section, one sample per query, incremental artifact
      * writes. `reserve` is the per-query floor (seconds) below which
      * the remaining queries are skipped instead of started — sized to
      * the section's heaviest known query so a start never overruns the
      * budget by more than one query.
      */
    def coveragePass(tag: String, dir: String, names: Seq[String], reserve: Double,
        extraConf: Map[String, String] = Map.empty): Unit = {
      val a = acc(tag); a.dir = dir
      a.addCanary("start", mt = true)
      // per-sample canaries only in the scaled sections whose risers get
      // adjudicated round-over-round; ~2 s each would cost the 48-query
      // sf1 pass ~1.5 min of budget for queries nobody disputes
      val perQuery = tag == "sf10" || tag == "sf100"
      names.foreach { n =>
        if (remaining < reserve)
          a.skipped(n) = f"time budget (${remaining}%.0f s left < ${reserve}%.0f s reserve)"
        else {
          if (perQuery) a.addCanary(n)
          runSection(dir, Some(Set(n)), cpus, extraConf, onResult = record(a))
        }
      }
      sectionsDone += tag
      emitStdout()
    }

    val haveSf1 = only.isEmpty && new java.io.File(s"$sf1Dir/lineitem.parquet").exists()
    if (haveSf1 && wantSection("sf1"))
      coveragePass("sf1", sf1Dir, HotQueries.sorted, reserve = 20)

    // Reliable-checkpoint variant: the same iterative/multi-consumer
    // queries at sf1 with spark.graft.checkpointDir set, so the 100 TB
    // production mode (Materialize.pin -> reliable checkpoint) carries a
    // measured cost, not just a parity spec.
    if (haveSf1 && wantSection("checkpoint")) {
      val cpDir = java.nio.file.Files.createTempDirectory("graft-bench-cp")
      try coveragePass("checkpoint", sf1Dir, CheckpointQueries.sorted, reserve = 20,
        extraConf = Map(graft.plans.Materialize.DirKey -> cpDir.toString))
      finally org.apache.commons.io.FileUtils.deleteQuietly(cpDir.toFile)
    }

    // sf10 (100x) section: the heaviest plans on ~2 GB — where the
    // quadratic failure modes would surface. Generated locally via
    // `Test/runMain graft.ScaleData /root/testdata/sf0.1 testdata_sf10 100`.
    val haveSf10 = only.isEmpty && new java.io.File(s"$sf10Dir/lineitem.parquet").exists()
    if (haveSf10 && wantSection("sf10"))
      coveragePass("sf10", sf10Dir, Sf10Queries, reserve = 120)

    // sf100 (1000x, ~18 GB: documents + events + lineitem) section:
    // rows-only. Guarded on ALL THREE required tables (round-11 ADVICE):
    // a stale documents-only dir skips the section with a regenerate
    // hint instead of erroring the run. Generated via
    // `Test/runMain graft.ScaleData testdata_sf10 testdata_sf100 10
    // documents,events,lineitem`.
    if (only.isEmpty && wantSection("sf100")) {
      val missing = missingSf100Tables(sf100Dir)
      if (missing.isEmpty) coveragePass("sf100", sf100Dir, Sf100Queries, reserve = 300)
      else if (new java.io.File(sf100Dir).exists())
        System.err.println(s"[bench] sf100 section skipped: $sf100Dir is missing " +
          s"${missing.mkString(", ")} — regenerate with `Test/runMain graft.ScaleData " +
          "testdata_sf10 testdata_sf100 10 documents,events,lineitem`")
    }

    // End-to-end spark-submit path: graft.Main over the sf10 events table
    // with the shipped example YAML — the invocation a cluster operator
    // actually runs, including the final parquet writes the per-query
    // harness never pays for (and now the post-run row verification
    // against q_meds_pipeline, outside the timed region).
    if (only.isEmpty && wantSection("main_sf10")
        && new java.io.File(s"$sf10Dir/events.parquet").exists()) {
      val a = acc("main_sf10"); a.dir = sf10Dir
      if (remaining < 90) a.skipped("main_pipeline") = "time budget"
      else { a.addCanary("start"); runMainPipeline(sf10Dir, cpus).foreach(a.add) }
      sectionsDone += "main_sf10"
      emitStdout()
    }

    // ---------------- passes 2 and 3: extra samples for medians, budget-gated.
    // Round-11 verdict item 1b: pass 2 takes median-of-3 ONLY where a
    // sample is under ~60 s (the heavies keep their single sample +
    // inline probe — at sf100 the extra samples alone cost 1,579 s and
    // blew the driver budget). Pass 3 then spends leftover budget only on
    // the > 60 s heavies (single + inline probe is their 2400 s contract;
    // a driver granting a larger SPARK_GRAFT_TIME_BUDGET buys real
    // medians for q_communities/q_khop-class queries instead of idling
    // the rest). Both go sf100 first (its medians carry the
    // round-over-round noise history), cheapest queries first within a
    // section, and each query takes BOTH extra samples or none (odd
    // sample counts only).
    val targetRuns = Map(
      "sf10" -> sys.env.getOrElse("SPARK_GRAFT_SF10_RUNS", "3").toInt,
      "sf100" -> sys.env.getOrElse("SPARK_GRAFT_SF100_RUNS", "3").toInt)
    /** One median pass over the queries whose single clean first sample's
      * seconds satisfy `pick`; prints the cumulative lines after each
      * section that ran a sample, or after every section when `emitAlways`.
      */
    def medianPass(pick: Double => Boolean, emitAlways: Boolean): Unit =
      for (tag <- Seq("sf100", "sf10") if only.isEmpty && wantSection(tag)) {
        val a = acc(tag)
        val extra = targetRuns(tag) - 1
        if (extra > 0 && a.nonEmpty) {
          val candidates = a.samples.toSeq.collect {
            case (n, rs) if rs.size == 1 && rs.head.err.isEmpty && pick(rs.head.sec) =>
              (n, rs.head.sec)
          }.sortBy(_._2)
          var emitted = false
          candidates.foreach { case (n, sec1) =>
            // 1.5x the observed sample + per-session setup, per extra run
            val estEach = sec1 * 1.5 + 12
            if (remaining > estEach * extra + 45) {
              (1 to extra).foreach { _ =>
                a.addCanary(n)
                runSection(a.dir, Some(Set(n)), cpus, onResult = record(a))
              }
              emitted = true
            }
          }
          if (emitted || emitAlways) emitStdout()
        }
      }
    medianPass(_ < 60.0, emitAlways = true)
    medianPass(_ >= 60.0, emitAlways = false)

    emitStdout()
    // a failed query must fail the bench run — a regression cannot hide as
    // a near-zero "fast" timing (round-5 verdict item 2). Budget-skipped
    // queries are NOT errors: they are recorded in "skipped".
    val nErr = accs.values.flatMap(_.summary).count(_.err.isDefined)
    if (nErr > 0) sys.exit(1)
  }
}
