package graft

import graft.meds.{ConfigPipeline, Meds}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.internal.SQLConf

/** Spark-submit-able pipeline entry point — parity with the reference's
  * deployment UI, where every stage ships as a console script
  * (reference: pyproject.toml:31-54, `MEDS_transform-*` /
  * `MEDS_extract-*` each taking a Hydra config). graft's equivalent is
  * ONE binary running the whole declarative stage list
  * ([[graft.meds.ConfigPipeline]]): where the reference materializes
  * parquet between per-stage processes, this runs each fit stage as one
  * small job whose vocabulary-sized result stays on the driver, pins the
  * data frame on the executors only where a stage reads it twice, and
  * writes only the final frames. The input is scanned once per run.
  *
  * Usage (cluster):
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   configs/preprocess_example.yaml /data/meds_input /data/out
  * }}}
  * or locally: `sbt "runMain graft.Main <config.yaml> <in> <out>"`.
  * Called inside a process that already runs a session (a notebook, a
  * test), `main` runs in that session with its own conf for the call,
  * then puts the caller's conf back, releases the blocks the call pinned
  * and leaves the session running. [[run]] and [[runCounted]] keep their
  * pins: the state they return reads them.
  *
  * Input resolution: a directory containing `events.parquet` is read
  * through [[graft.sources.Tables.events]] (the synthetic test layout,
  * TIMESTAMP-NANOS-safe) and adapted via [[Meds.fromEvents]]; any other
  * path is read as an already-MEDS-shaped parquet table
  * (patient_id, time, code, numeric_value).
  *
  * Outputs under `<outDir>`:
  *   - `data/`      — the transformed measurement table (always)
  *   - `metadata/`  — the final code-metadata frame as one parquet file
  *                    (when a fit/count stage ran, the reference's
  *                    `codes.parquet`)
  *   - `tokenized/` — patient event sequences (when a `tokenization`
  *                    stage ran)
  */
object Main {

  /** Read the pipeline input as a MEDS measurement frame. */
  def readMeds(spark: SparkSession, inDir: String): DataFrame =
    if (new java.io.File(s"$inDir/events.parquet").exists())
      Meds.fromEvents(graft.sources.Tables.events(spark, inDir))
    else spark.read.parquet(inDir)

  /** Run `configText` over the input and write the resulting frames.
    * Returns the final pipeline state (for tests and embedding callers).
    */
  def run(
      spark: SparkSession,
      configText: String,
      inDir: String,
      outDir: String): ConfigPipeline.State =
    runCounted(spark, configText, inDir, outDir)._1

  /** [[run]], plus the number of rows written to `data/`, counted by an
    * `Observation` inside the write job itself — so the summary line
    * costs no second execution of the pipeline.
    */
  def runCounted(
      spark: SparkSession,
      configText: String,
      inDir: String,
      outDir: String): (ConfigPipeline.State, Long) = {
    val state = ConfigPipeline.run(readMeds(spark, inDir), configText)
    val rows = Observation("data_rows")
    state.data.observe(rows, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$outDir/data")
    state.meta.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/metadata"))
    state.tokenized.foreach(_.write.mode("overwrite").parquet(s"$outDir/tokenized"))
    (state, rows.get("n").asInstanceOf[Long])
  }

  def main(args: Array[String]): Unit = {
    val (configPath, inDir, outDir) = args match {
      case Array(c, i, o) => (c, i, o)
      case _ => sys.error("usage: graft.Main <pipeline-config.yaml> <inDir> <outDir>")
    }
    val configText = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(configPath)),
      java.nio.charset.StandardCharsets.UTF_8)
    // Under spark-submit the master comes from the launcher; standalone
    // runs default to every local core. shuffle.partitions is only a
    // default — a cluster submit overrides it on the command line.
    // getOrCreate hands back a session an embedding caller (a notebook, a
    // test) already runs and writes the builder's runtime conf into it;
    // that session is theirs: put its conf back and leave it running.
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val callerConf = existing.map(s => RetunedKeys.map(k => k -> s.conf.getOption(k)))
    val builder = SparkSession.builder().appName("graft-pipeline")
    val spark = SessionDefaults.applyTo(
      (if (sys.props.contains("spark.master")) builder
       else builder.master("local[*]")
         .config("spark.sql.shuffle.partitions",
           Runtime.getRuntime.availableProcessors().toString))
        .config("spark.sql.session.timeZone", "UTC"))
        .getOrCreate()
    val callerRdds = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val (state, dataRows) = runCounted(spark, configText, inDir, outDir)
      // stable one-line summary for scripts wrapping the submit
      println(s"""{"data_rows":$dataRows,""" +
        s""""wrote_metadata":${state.meta.nonEmpty},""" +
        s""""wrote_tokenized":${state.tokenized.nonEmpty},"out":"$outDir"}""")
    } finally {
      if (existing.contains(spark)) {
        callerConf.get.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        // the blocks the pipeline pinned; run() and runCounted() keep them,
        // since the State they return still reads them
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!callerRdds.contains(id)) rdd.unpersist(blocking = false)
        }
      } else spark.stop()
    }
  }

  /** The runtime conf keys [[main]]'s builder sets. A static key (the
    * codegen cache size) is skipped: `getOrCreate` leaves it alone in an
    * existing session, and `spark.conf.set`/`unset` throw on it.
    */
  private val RetunedKeys: Seq[String] =
    (Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone") ++
      SessionDefaults.configs.keys).filterNot(SQLConf.isStaticConfigKey)
}
