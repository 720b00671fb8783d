package graft

import graft.meds.ConfigPipeline
import org.apache.spark.sql.functions._

/** End-to-end spec for the spark-submit entry point: `graft.Main` on the
  * checked-in example config must reproduce the oracle-verified
  * q_meds_pipeline / q_pipeline_config result from (yaml, inDir, outDir)
  * alone — the reference's console-script deployment mode
  * (pyproject.toml:31-54) collapsed to one submit.
  */
class MainSpec extends SparkSpec {

  private val configPath = "configs/preprocess_example.yaml"
  private val inDir = "/root/testdata/sf0.001"

  test("Main on the example YAML reproduces the oracle-verified pipeline output") {
    val out = java.nio.file.Files.createTempDirectory("graft-main").toString
    val yaml = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(configPath)),
      java.nio.charset.StandardCharsets.UTF_8)
    // call the typed entry main delegates to, then check the WRITTEN
    // artifacts
    val (state, dataRows) = Main.runCounted(spark, yaml, inDir, out)
    assert(state.meta.isDefined, "fit stages must populate metadata")

    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("patient_id"), unix_micros(col("time")).as("t"), col("code"),
        graft.functions.Portable.r6(col("numeric_value")).as("v"))
    val written = proj(spark.read.parquet(s"$out/data"))
    val direct = proj(ConfigPipeline.run(Main.readMeds(spark, inDir), yaml).data)
    assert(written.count() > 0)
    assert(dataRows == written.count(),
      "the summary's observed data_rows must equal the rows written to data/")
    assert(written.exceptAll(direct).isEmpty && direct.exceptAll(written).isEmpty,
      "written data/ must equal the in-process ConfigPipeline result")

    val meta = spark.read.parquet(s"$out/metadata")
    assert(meta.count() > 0 && meta.columns.contains("code"))
    assert(new java.io.File(s"$out/metadata").list().count(_.endsWith(".parquet")) == 1,
      "metadata/ is one parquet file, like the reference's codes.parquet")
    assert(!new java.io.File(s"$out/tokenized").exists(),
      "no tokenization stage configured -> no tokenized/ output")
  }

  test("readMeds falls back to MEDS-shaped parquet when no events.parquet exists") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-meds-in").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "HR", 61.0))
      .toDF("patient_id", "time", "code", "numeric_value")
      .write.mode("overwrite").parquet(dir)
    val got = Main.readMeds(spark, dir)
    assert(got.columns.sorted.toSeq == Seq("code", "numeric_value", "patient_id", "time"))
    assert(got.count() == 1)
  }

  test("main() runs in an embedding caller's session and leaves it running") {
    val out = java.nio.file.Files.createTempDirectory("graft-main-embedded").toString
    // values main's builder would set differently, so a leak shows
    val callerConf = Map(
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "America/New_York",
      SessionDefaults.ObjectHashFallbackKey -> "128")
    val suiteConf = callerConf.keys.map(k => k -> spark.conf.get(k)).toMap
    callerConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    try {
      Main.main(Array(configPath, inDir, out))
      assert(!spark.sparkContext.isStopped)
      // the blocks main pinned are released; the cleaner may drop older ones
      val added = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(added.isEmpty, s"main left persisted RDDs $added in the caller's session")
      assert(spark.range(3).count() == 3)
      assert(spark.read.parquet(s"$out/data").count() > 0)
      callerConf.foreach { case (k, v) =>
        assert(spark.conf.get(k) == v, s"main left $k retuned")
      }
    } finally suiteConf.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("main() rejects bad usage loudly") {
    val ex = intercept[RuntimeException](Main.main(Array("only-one-arg")))
    assert(ex.getMessage.contains("usage"))
  }
}
