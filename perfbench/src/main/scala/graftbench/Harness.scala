package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Main, SessionDefaults, SparkEntry}
import graft.functions.Portable
import graft.meds.ConfigPipeline
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JVM side of the benchmark; `perfbench/run.py` launches it and reads the
  * JSON it writes. Modes:
  *
  *   oracle <out.json>              DuckDB oracle SQL of every query used
  *   etl <config> <in> <out> <seconds> <gate>
  *                                  meds_etl: graft.Main calls, the first one verified
  *   sweep <in> <out> <seconds> <gate>
  *                                  corpus_dedup: verify sweep, then timed noop sweeps
  *   trace <config> <etlIn> <dedupIn> <out> <gate>
  *                                  traced run over both workloads
  *
  * etl, sweep and trace wait for the file `gate` after their first pass:
  * run.py computes the oracle results while the JVM warms up, and the gate
  * keeps that work from overlapping any measured pass.
  *
  * Each mode starts the next call only after the previous one returned
  * (a closed loop with one client).
  */
object Harness {

  /** `corpus_dedup`: the LLM-corpus curation queries. */
  val CorpusDedup: Seq[String] = Seq(
    "q_dedup_exact", "q_minhash_sigs", "q_dedup_minhash", "q_dedup_jaccard", "q_containment",
    "q_dedup_cluster", "q_simhash_pairs", "q_line_dedup", "q_cross_dedup", "q_semdedup",
    "q_lof_scalable", "q_ann_ivf_kmeans")

  /** Queries whose pair generator is counted in the traced run. */
  val PairQueries: Seq[String] = Seq("q_dedup_jaccard", "q_containment", "q_dedup_minhash")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def writeJson(path: String, value: Any): Unit =
    Files.write(Paths.get(path), json.writerWithDefaultPrettyPrinter().writeValueAsBytes(value))

  /** The session graft.Main builds for a standalone run, without the UI. */
  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = SessionDefaults.applyTo(SparkSession.builder()
      .appName("graft-perfbench")
      .master("local[*]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of every thread of this JVM so far. */
  private def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Seconds from JVM launch until now. */
  private def sinceLaunch(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  // ------------------------------------------------------------ checking

  /** Canonical form for hashing: doubles rounded the way the oracle rounds
    * them, so run-to-run float noise in the last bits is not a mismatch.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => Portable.r6(c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType => struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** Row count and an order-independent hash of `df`, observed in the same
    * job that writes it.
    */
  private def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val h = xxhash64(df.schema.fields.toSeq.map(f => canon(df.col(s"`${f.name}`"), f.dataType)): _*)
    (df.observe(obs, count(lit(1)).as("n"), sum(h.cast(DecimalType(38, 0))).as("h")), obs)
  }

  /** One call: build query `name` over `dir`, write it with `sink`, time both. */
  final case class Call(query: String, seconds: Double, rows: Long, hash: String, error: String)

  def call(spark: SparkSession, name: String, dir: String, tag: String, sink: DataFrame => Unit): Call = {
    val t0 = System.nanoTime()
    try {
      val (df, obs) = observed(SparkEntry.queries(name)(spark, dir), s"$name#$tag")
      sink(df)
      val s = (System.nanoTime() - t0) / 1e9
      val m = obs.get
      Call(name, s, m("n").asInstanceOf[Long], String.valueOf(m("h")), null)
    } catch {
      case e: Throwable => Call(name, (System.nanoTime() - t0) / 1e9, -1L, "", e.toString.take(400))
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def parquetTo(dir: String)(df: DataFrame): Unit = df.write.mode("overwrite").parquet(dir)

  /** Verify sweep: every query written as parquet for the oracle compare;
    * its hashes are the reference the timed calls are checked against.
    */
  private def verifySweep(spark: SparkSession, dir: String, out: String): Seq[Call] =
    CorpusDedup.map(n => call(spark, n, dir, "verify", parquetTo(s"$out/verify/$n")))

  private def noopSweep(spark: SparkSession, dir: String, tag: String): Seq[Call] =
    CorpusDedup.map(n => call(spark, n, dir, tag, noop))

  // --------------------------------------------------------------- modes

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle" :: out :: Nil => oracle(out)
    case "etl" :: cfg :: in :: out :: secs :: gate :: Nil => etl(cfg, in, out, secs.toDouble, gate)
    case "sweep" :: in :: out :: secs :: gate :: Nil => sweep(in, out, secs.toDouble, gate)
    case "trace" :: cfg :: etl :: dedup :: out :: gate :: Nil => trace(cfg, etl, dedup, out, gate)
    case _ => sys.error("usage: Harness oracle|etl|sweep|trace ... (see the scaladoc)")
  }

  private def oracle(out: String): Unit = {
    val sql = SparkEntry.oracleSql
    writeJson(out, Map(
      "sql" -> ("q_meds_pipeline" +: CorpusDedup).map(n => n -> sql(n)).toMap,
      "r6_numeric_value" -> Portable.r6Sql("numeric_value"),
      "versions" -> Map(
        "spark" -> org.apache.spark.SPARK_VERSION,
        "jvm" -> System.getProperty("java.runtime.version"))))
  }

  private def sessionInfo(spark: SparkSession): Map[String, Any] = Map(
    "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "cores" -> spark.sparkContext.defaultParallelism)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def awaitGate(gate: String): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(Paths.get(gate))) {
      require(System.nanoTime() < deadline, s"gate $gate never opened")
      Thread.sleep(20)
    }
  }

  /** meds_etl: `graft.Main.main` called in this JVM, each call with its own
    * session, writes and summary line, as an operator's launch minus the JVM
    * start. The first call is the warm-up; then calls repeat until
    * `seconds` have passed. run.py checks every call's output against the
    * oracle.
    */
  private def etl(config: String, in: String, out: String, seconds: Double, gate: String): Unit = {
    def mainCall(dir: String): Map[String, Any] = {
      val stdout = new java.io.ByteArrayOutputStream()
      val (t0, c0) = (System.nanoTime(), cpuS())
      val error =
        try { Console.withOut(stdout)(Main.main(Array(config, in, s"$out/$dir"))); null }
        catch { case e: Throwable => e.toString.take(400) }
      Map("dir" -> dir, "seconds" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuS() - c0),
        "error" -> error, "summary" -> stdout.toString(UTF_8).trim.linesIterator.toSeq.lastOption.orNull)
    }
    val verify = mainCall("verify")
    val setupCpuS = cpuS()
    awaitGate(gate)
    val t0 = System.nanoTime()
    val calls = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (calls.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) calls += mainCall(s"call${calls.length}")
    writeJson(s"$out/result.json", Map("setup_cpu_s" -> setupCpuS, "verify" -> verify, "calls" -> calls.toSeq))
  }

  /** corpus_dedup: a verify sweep (also the warm-up), then noop sweeps until
    * `seconds` have passed.
    */
  private def sweep(in: String, out: String, seconds: Double, gate: String): Unit = {
    val spark = session()
    val verify = verifySweep(spark, in, out)
    val setupCpuS = cpuS()
    awaitGate(gate)
    val t0 = System.nanoTime()
    val sweeps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (sweeps.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val c0 = cpuS()
      val (calls, s) = timed(noopSweep(spark, in, s"sweep${sweeps.length}"))
      sweeps += Map("seconds" -> s, "cpu_s" -> (cpuS() - c0), "calls" -> calls)
    }
    writeJson(s"$out/result.json", Map(
      "setup_cpu_s" -> setupCpuS, "verify" -> verify, "sweeps" -> sweeps.toSeq,
      "session" -> sessionInfo(spark)))
    spark.stop()
  }

  // --------------------------------------------------------- traced run

  /** `configText` restricted to its first `k` stages (and their blocks). */
  private def stagePrefix(configText: String, k: Int): String = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val cfg = yaml.load[java.util.Map[String, Object]](configText).asScala
    val stages = cfg("stages").asInstanceOf[java.util.List[String]].asScala.take(k)
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("stages", stages.asJava)
    cfg.get("stage_configs").foreach { case b: java.util.Map[_, _] =>
      val kept = b.asScala.filter { case (s, _) => stages.contains(s) }
      if (kept.nonEmpty) m.put("stage_configs", kept.asJava)
    }
    yaml.dump(m)
  }

  private def stageNames(configText: String): Seq[String] =
    new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](configText).asScala("stages")
      .asInstanceOf[java.util.List[String]].asScala.toSeq

  /** Both workloads, each as a verify pass (also the warm-up), then a traced
    * pass with spans around every call into graft and the engine listeners
    * attached.
    */
  private def trace(configPath: String, etlIn: String, dedupIn: String, out: String, gate: String): Unit = {
    val spark = session()
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]("main.session_start_s" -> sinceLaunch())
    val tracer = new Tracer
    val configText = new String(Files.readAllBytes(Paths.get(configPath)), UTF_8)
    // meds_etl: Main.run as graft.Main calls it, then the same calls traced
    def mainRun(dir: String): Long = Main.run(spark, configText, etlIn, s"$out/$dir").data.count()
    mainRun("etl_verify")
    awaitGate(gate)
    val etlPhase = new EnginePhase(spark)
    tracer.span("main.run") {
      tracer.span("sources.read_events")(noop(Main.readMeds(spark, etlIn)))
      val state = tracer.span("meds.build")(ConfigPipeline.run(Main.readMeds(spark, etlIn), configText))
      tracer.span("meds.plan") {
        state.data.queryExecution.executedPlan
        state.meta.foreach(_.queryExecution.executedPlan)
      }
      tracer.span("main.write_data")(state.data.write.mode("overwrite").parquet(s"$out/etl_traced/data"))
      tracer.span("main.write_metadata")(
        state.meta.foreach(_.write.mode("overwrite").parquet(s"$out/etl_traced/metadata")))
      tracer.span("main.summary_count")(state.data.count())
    }
    etlPhase.finish(tracer.seconds("main.run")).foreach { case (k, v) => metrics(s"meds_etl.$k") = v }
    Seq("sources.read_events", "meds.build", "meds.plan", "main.write_data", "main.write_metadata",
      "main.summary_count").foreach(s => metrics(s"${s}_s") = tracer.seconds(s))

    // operators: noop time of each stage prefix minus the previous prefix
    val stages = stageNames(configText)
    val prefixS = (0 to stages.length).map { k =>
      tracer.span(s"operators.prefix$k") {
        val input = Main.readMeds(spark, etlIn)
        if (k == 0) noop(input)
        else {
          val st = ConfigPipeline.run(input, stagePrefix(configText, k))
          noop(st.data)
          st.meta.foreach(noop)
        }
      }
      tracer.seconds(s"operators.prefix$k")
    }
    stages.zipWithIndex.foreach { case (s, i) =>
      metrics(s"operators.${s.stripSuffix("_measurements")}_s") = prefixS(i + 1) - prefixS(i)
    }

    // corpus_dedup
    val verify = verifySweep(spark, dedupIn, out)
    val ph = new EnginePhase(spark)
    tracer.span("sources.read_corpus") {
      noop(Tables.documents(spark, dedupIn))
      noop(Tables.embeddings(spark, dedupIn))
    }
    val traced = tracer.span("corpus_dedup.sweep") {
      CorpusDedup.map(n => tracer.span(s"corpus_dedup.$n")(call(spark, n, dedupIn, "traced", noop)))
    }
    ph.finish(tracer.seconds("sources.read_corpus") + tracer.seconds("corpus_dedup.sweep"))
      .foreach { case (k, v) => metrics(s"corpus_dedup.$k") = v }
    metrics("sources.read_corpus_s") = tracer.seconds("sources.read_corpus")
    CorpusDedup.foreach(n => metrics(s"corpus_dedup.${n}_s") = tracer.seconds(s"corpus_dedup.$n"))
    PairQueries.foreach { q =>
      val candidates = ph.pairRows.getOrElse(s"$q#traced", 0L)
      val emitted = traced.find(_.query == q).map(_.rows).getOrElse(0L)
      metrics(s"dedup.$q.candidate_pairs") = candidates.toDouble
      metrics(s"dedup.$q.pair_yield") = if (candidates > 0) emitted.toDouble / candidates else 0.0
    }

    writeJson(s"$out/result.json", Map(
      "metrics" -> metrics.toMap,
      "dedup" -> Map("verify" -> verify, "traced" -> traced),
      "session" -> sessionInfo(spark)))
    writeJson(s"$out/spans.json", tracer.spans.toSeq)
    spark.stop()
  }
}
