package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.meds.ConfigPipeline
import graft.operators.{CodeMetadata, Vocabulary}
import graft.plans.Materialize
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.util.chaining._
import scala.jdk.CollectionConverters._

/** The declarative stage-list runner — the one way the MEDS pipeline is
  * composed. The checked-in example config must reproduce the
  * oracle-verified catalog pipeline exactly: a user ports a reference
  * pipeline by editing the YAML, never Scala.
  */
class ConfigPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val meds = graft.meds.Meds.fromEvents(graft.sources.Tables.events(spark, sf))
  private lazy val exampleYaml = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("configs/preprocess_example.yaml")),
    java.nio.charset.StandardCharsets.UTF_8)

  test("the checked-in example YAML reproduces q_meds_pipeline's rows exactly") {
    val fromConfig = ConfigPipeline.run(meds, exampleYaml).data
      .select(col("patient_id"), unix_micros(col("time")).as("time_us"), col("code"),
        graft.functions.Portable.r6(col("numeric_value")).as("numeric_value"))
    val fromCatalog = SparkEntry.queries("q_meds_pipeline")(spark, sf)
    assert(fromConfig.count() > 0)
    assert(fromConfig.exceptAll(fromCatalog).isEmpty && fromCatalog.exceptAll(fromConfig).isEmpty)
  }

  test("the reference stage chain composes end-to-end on real events") {
    val result = ConfigPipeline.run(meds,
      """stages:
        |  - filter_patients
        |  - add_time_derived_measurements
        |  - filter_measurements
        |  - fit_outlier_detection
        |  - occlude_outliers
        |  - fit_normalization
        |  - fit_vocabulary_indices
        |  - normalization
        |  - tokenization
        |stage_configs:
        |  filter_patients: {min_measurements_per_patient: 5}
        |  add_time_derived_measurements:
        |    age: {DOB_code: null, age_unit: "yrs"}
        |    time_of_day: {time_of_day_code: "time_of_day"}
        |  filter_measurements: {min_occurrences_per_code: 10}
        |  occlude_outliers: {stddev_cutoff: 3.0, drop_is_inlier: true}
        |""".stripMargin)

    assert(result.data.count() > 0)
    // the generated measurement codes entered the vocabulary
    val vocab = result.meta.get.select("code").as[String].collect().toSet
    assert(vocab.contains("AGE") && vocab.exists(_.startsWith("time_of_day//")))
    // normalized codes are vocabulary indices covering 1..V
    val codeRange = result.data.agg(min("code"), max("code")).as[(Long, Long)].head()
    assert(codeRange._1 >= 1L && codeRange._2 <= vocab.size)
    // z-scoring: per-code mean of normalized values ~ 0, std ~ 1
    val stats = result.data.filter(col("numeric_value").isNotNull)
      .groupBy("code").agg(avg("numeric_value").as("m"), stddev_pop("numeric_value").as("s"), count(lit(1)).as("n"))
      .filter(col("n") >= 30).as[(Long, Double, Double, Long)].collect()
    assert(stats.nonEmpty)
    assert(stats.forall { case (_, m, s, _) => math.abs(m) < 0.15 && math.abs(s - 1.0) < 0.15 },
      s"normalization off: ${stats.take(3).toSeq}")
    // tokenization: one row per patient with aligned per-event lists
    val tok = result.tokenized.get
    assert(tok.count() ==
      result.data.filter(col("time").isNotNull).select("patient_id").distinct().count())
    assert(tok.filter(
      size(col("code")) =!= size(col("numeric_value")) ||
      size(col("code")) =!= size(col("time_delta_days"))).count() == 0)
  }

  test("the fit-vocabulary + normalization chain keeps every row") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2020-01-01 10:00:00"), "HR", Some(60.0)),
      (1L, java.sql.Timestamp.valueOf("2020-01-01 11:00:00"), "HR", Some(80.0))
    ).toDF("patient_id", "time", "code", "numeric_value")
    val result = ConfigPipeline.run(df, "stages: [fit_vocabulary_indices, normalization]\n")
    assert(result.data.count() == 2)
    assert(result.meta.get.count() == 1)
  }

  test("JSON works too (YAML superset), stages compose left to right") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "HR", 60.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-02 01:00:00"), "HR", 80.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-03 01:00:00"), "RARE", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "HR", 70.0)
    ).toDF("patient_id", "time", "code", "numeric_value")
    val out = ConfigPipeline.run(df,
      """{"stages": ["count_code_occurrences", "filter_measurements"],
        | "stage_configs": {
        |   "count_code_occurrences": {"do_summarize_over_all_codes": false},
        |   "filter_measurements": {"min_occurrences_per_code": 2}}}""".stripMargin)
    assert(out.data.select("code").distinct().as[String].collect().toSet == Set("HR"))
    assert(out.meta.isDefined)
  }

  test("tokenization stage populates the tokenized slot") {
    val out = ConfigPipeline.run(meds.limit(500),
      "stages:\n  - fit_vocabulary_indices\n  - normalization\n  - tokenization\n")
    assert(out.tokenized.isDefined)
    assert(out.tokenized.get.count() > 0)
  }

  test("unknown stages fail loudly with the known-stage list") {
    val e = intercept[IllegalArgumentException] {
      ConfigPipeline.run(meds, "stages:\n  - not_a_stage\n")
    }
    assert(e.getMessage.contains("not_a_stage") && e.getMessage.contains("filter_patients"))
  }

  test("a config without stages is rejected") {
    intercept[IllegalArgumentException] {
      ConfigPipeline.run(meds, "stage_configs: {}\n")
    }
  }

  // --- stage-config defaults registry --------------------------------------

  test("effectiveConfig: registry defaults under user overrides, nulls unset") {
    val d = ConfigPipeline.stageDefaults("add_time_derived_measurements")
    assert(d.get("age").get("DOB_code").asText() == "MEDS_BIRTH")
    assert(d.get("time_of_day").get("time_of_day_code").asText() == "TIME_OF_DAY")
    assert(ConfigPipeline.stageDefaults("occlude_outliers").get("stddev_cutoff").asDouble() == 4.5)

    val mapper = new ObjectMapper(new YAMLFactory())
    val user = mapper.readTree(
      "age:\n  DOB_code: null\n  age_unit: \"yrs\"\ntime_of_day:\n  endpoints: [6, 18]\n")
    val eff = ConfigPipeline.effectiveConfig("add_time_derived_measurements", user)
    // nested merge: untouched defaults survive, overrides land, null unsets
    assert(eff.get("age").get("DOB_code").isNull)
    assert(eff.get("age").get("age_unit").asText() == "yrs")
    assert(eff.get("age").get("age_code").asText() == "AGE")
    assert(eff.get("time_of_day").get("time_of_day_code").asText() == "TIME_OF_DAY")
    // arrays replace, not merge
    assert(eff.get("time_of_day").get("endpoints").size() == 2)
  }

  test("an unconfigured occlude_outliers stage uses the registry's 4.5 cutoff") {
    val fromConfig = ConfigPipeline.run(meds,
      "stages:\n  - fit_outlier_detection\n  - occlude_outliers\n").data
    val direct = graft.operators.Outliers.occludeOutliers(
      meds, graft.operators.CodeMetadata.aggregate(meds), stddevCutoff = 4.5)
    assert(fromConfig.filter(col("numeric_value/is_inlier") === false).count() ==
      direct.filter(col("numeric_value/is_inlier") === false).count())
    assert(fromConfig.filter(col("numeric_value/is_inlier") === false).count() > 0)
  }

  test("the registry's MEDS_BIRTH default anchors ages at the birth event") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2000-01-01 00:00:00"), "MEDS_BIRTH", null.asInstanceOf[java.lang.Double]),
      (1L, java.sql.Timestamp.valueOf("2010-01-01 12:00:00"), "HR", java.lang.Double.valueOf(60.0))
    ).toDF("patient_id", "time", "code", "numeric_value")
    val out = ConfigPipeline.run(df, "stages:\n  - add_time_derived_measurements\n").data
    val ages = out.filter(col("code") === "AGE").select("numeric_value").as[Double].collect()
    assert(ages.length == 1 && math.abs(ages(0) - 10.0) < 0.01, s"got ${ages.toSeq}")
    // the default TIME_OF_DAY generator ran too, with the reference's code
    assert(out.filter(col("code").startsWith("TIME_OF_DAY//")).count() == 2)
  }

  test("without a birth event the MEDS_BIRTH default yields no age rows (no crash)") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2010-01-01 12:00:00"), "HR", java.lang.Double.valueOf(60.0))
    ).toDF("patient_id", "time", "code", "numeric_value")
    val out = ConfigPipeline.run(df, "stages:\n  - add_time_derived_measurements\n").data
    assert(out.filter(col("code") === "AGE").count() == 0)
  }

  // --- config validation ---------------------------------------------------

  private def rejected(yaml: String): String =
    intercept[IllegalArgumentException](ConfigPipeline.parse(yaml)).getMessage

  test("a misspelled stage key fails loudly, naming the key and the valid ones") {
    val msg = rejected(
      "stages: [filter_patients]\nstage_configs:\n  filter_patients:\n    min_measurement_per_patient: 60\n")
    assert(msg.contains("`min_measurement_per_patient`") &&
      msg.contains("min_events_per_patient, min_measurements_per_patient"), msg)
    val nested = rejected(
      "stages: [add_time_derived_measurements]\nstage_configs:\n" +
        "  add_time_derived_measurements:\n    age:\n      dob_code: DOB\n")
    assert(nested.contains("age: unknown key `dob_code`") &&
      nested.contains("DOB_code, age_code, age_unit"), nested)
  }

  test("a stage_configs block for a stage missing from `stages` is rejected") {
    val msg = rejected("stages: [normalization]\nstage_configs:\n  occlude_outliers: {stddev_cutoff: 3.0}\n")
    assert(msg.contains("`occlude_outliers`") && msg.contains("stages: normalization"), msg)
  }

  test("text where a number belongs is rejected, not read as 0") {
    val msg = rejected(
      "stages: [filter_patients]\nstage_configs:\n  filter_patients:\n    min_measurements_per_patient: sixty\n")
    assert(msg.contains("min_measurements_per_patient must be an integer") && msg.contains("sixty"), msg)
    val cutoff = rejected(
      "stages: [occlude_outliers]\nstage_configs:\n  occlude_outliers: {stddev_cutoff: \"3\"}\n")
    assert(cutoff.contains("stddev_cutoff must be a number"), cutoff)
  }

  test("fit_vocabulary_indices accepts only the lexicographic ordering") {
    val msg = rejected(
      "stages: [fit_vocabulary_indices]\nstage_configs:\n  fit_vocabulary_indices: {ordering_method: frequency}\n")
    assert(msg.contains("ordering_method") && msg.contains("\"lexicographic\""), msg)
    ConfigPipeline.parse(
      "stages: [fit_vocabulary_indices]\nstage_configs:\n  fit_vocabulary_indices: {ordering_method: lexicographic}\n")
  }

  /** The example config cut to its first `k` stages, with only their blocks. */
  private def examplePrefix(k: Int): String = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val cfg = mapper.readTree(exampleYaml).asInstanceOf[ObjectNode]
    val kept = ConfigPipeline.parse(exampleYaml).stages.take(k)
    val stages = cfg.putArray("stages")
    kept.foreach(s => stages.add(s))
    cfg.get("stage_configs").asInstanceOf[ObjectNode].retain(kept.asJava)
    mapper.writeValueAsString(cfg)
  }

  test("the example config, each of its stage prefixes and every stage's defaults validate") {
    val parsed = ConfigPipeline.parse(exampleYaml)
    assert(parsed.stages.size == 7)
    // the benchmark runs the example's first k stages with only their blocks
    (1 to parsed.stages.size).foreach { k =>
      assert(ConfigPipeline.parse(examplePrefix(k)).stages == parsed.stages.take(k))
    }
    Seq("filter_patients", "add_time_derived_measurements", "preliminary_counts",
      "count_code_occurrences", "filter_measurements", "fit_outlier_detection",
      "occlude_outliers", "fit_normalization", "fit_vocabulary_indices", "normalization",
      "reorder_measurements", "tokenization").foreach(s => ConfigPipeline.parse(s"stages: [$s]\n"))
  }

  // --- fitted metadata on the driver, pinned data ----------------------------

  /** `body`'s result and every physical plan node its jobs executed, read
    * from AQE's final plans (query stages and subqueries included; a reused
    * exchange is a leaf, so the plan it reuses counts once).
    */
  private def withExecutedNodes[T](body: => T): (T, Seq[SparkPlan]) = {
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        nodes.synchronized(nodes ++= collectWithSubqueries(qe.executedPlan) { case p => p })
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result =
      try body.tap(_ => ListenerBusDrain(spark.sparkContext))
      finally spark.listenerManager.unregister(listener)
    (result, nodes.synchronized(nodes.toList))
  }

  test("one graft.Main launch scans the input once and runs the cohort window once") {
    val out = java.nio.file.Files.createTempDirectory("graft-main-plans").toString
    val ((state, _), nodes) = withExecutedNodes(Main.runCounted(spark, exampleYaml, sf, out))
    val inputScans = nodes.count {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(sf))
      case _ => false
    }
    val cohortWindows = nodes.count {
      case w: WindowExec => w.partitionSpec.exists(_.references.exists(_.name == "patient_id"))
      case _ => false
    }
    // the pipeline prefix runs once, in the first pin job; the fit
    // collects and the data/ write read pinned blocks
    assert(inputScans == 1 && cohortWindows == 1,
      s"$inputScans input scans and $cohortWindows patient windows in one launch")
    assert(state.meta.get.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("the example config gives the same rows with a reliable checkpoint dir") {
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    val local = rows(ConfigPipeline.run(meds, exampleYaml).data)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Materialize.DirKey, dir)
    val reliable =
      try rows(ConfigPipeline.run(meds, exampleYaml).data)
      finally spark.conf.unset(Materialize.DirKey)
    assert(Option(new java.io.File(dir).listFiles()).exists(_.nonEmpty),
      s"no reliable checkpoint was written under $dir")
    assert(local.nonEmpty && reliable == local)
  }

  test("an empty cohort runs through the full example config") {
    val full = ConfigPipeline.run(meds, exampleYaml)
    val empty = ConfigPipeline.run(meds.filter(lit(false)), exampleYaml)
    assert(empty.data.schema == full.data.schema && empty.data.count() == 0)
    assert(empty.meta.get.schema == full.meta.get.schema && empty.meta.get.count() == 0)
  }

  test("consecutive stages that read the data without changing it pin it once") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val state = ConfigPipeline.run(meds, "stages: [fit_normalization, preliminary_counts]\n")
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"persisted RDDs added: $added")
    assert(state.data.count() == meds.count())
  }

  test("top-level code_modifiers key every code-keyed stage, the metadata fallback included") {
    import graft.operators.{Filters, Normalize, Outliers}
    val mods = Seq("unit")
    // a modifier that splits every code in two
    val input = meds.withColumn("unit", when(col("numeric_value") > 50, lit("high")).otherwise(lit("low")))
    val state = ConfigPipeline.run(input,
      """code_modifiers: [unit]
        |stages:
        |  - filter_measurements
        |  - fit_outlier_detection
        |  - occlude_outliers
        |  - fit_normalization
        |  - fit_vocabulary_indices
        |  - normalization
        |stage_configs:
        |  filter_measurements: {min_patients_per_code: 5}
        |  occlude_outliers: {stddev_cutoff: 3.0}
        |""".stripMargin)
    // the same stages composed by hand; filter_measurements has no fitted
    // metadata before it, so the run aggregates the data itself
    val filtered = Filters.filterMeasurements(input,
      CodeMetadata.aggregate(input, codeModifiers = mods), minPatientsPerCode = Some(5), codeModifiers = mods)
    val meanStd = Seq(CodeMetadata.ValuesNOccurrences, CodeMetadata.ValuesSum, CodeMetadata.ValuesSumSqd)
    val occluded = Outliers.occludeOutliers(filtered, CodeMetadata.aggregate(filtered, meanStd, mods), 3.0, mods)
    val normAggs = Seq(CodeMetadata.CodeNOccurrences, CodeMetadata.CodeNPatients) ++ meanStd
    val meta = Vocabulary.lexicographicIndices(CodeMetadata.aggregate(occluded, normAggs, mods), mods)
    val expected = Normalize.normalize(occluded, meta, mods)

    val fitted = state.meta.get
    assert(fitted.columns.toSeq.take(2) == Seq("code", "unit"))
    val split = fitted.groupBy("code").agg(count(lit(1)).as("n")).filter(col("n") === 2)
    assert(split.count() > 0, "no code split by its modifier")
    assert(fitted.exceptAll(meta).isEmpty && meta.exceptAll(fitted).isEmpty)
    assert(state.data.count() > 0)
    assert(state.data.exceptAll(expected).isEmpty && expected.exceptAll(state.data).isEmpty)
  }

  test("each fitted metadata frame equals its lazy aggregate row for row") {
    val emptyMeds = Seq.empty[(Long, Option[java.sql.Timestamp], String, Option[Double])]
      .toDF("patient_id", "time", "code", "numeric_value")
    def rows(df: DataFrame): Seq[Row] = df.orderBy(col("code").asc_nulls_first).collect().toSeq
    val aggs = Seq(CodeMetadata.CodeNPatients, CodeMetadata.ValuesSum, CodeMetadata.ValuesMin)
    for (input <- Seq(meds, emptyMeds)) {
      val rollup = CodeMetadata.aggregate(input, aggs, summarizeOverAllCodes = true)
      Seq(
        "stages: [preliminary_counts]\nstage_configs:\n  preliminary_counts:\n" +
          s"    aggregations: [${aggs.mkString(", ")}]\n" +
          "    do_summarize_over_all_codes: true\n" -> rollup,
        "stages: [fit_normalization]\nstage_configs:\n" +
          s"  fit_normalization: {aggregations: [${aggs.mkString(", ")}]}\n" ->
          CodeMetadata.aggregate(input, aggs),
        // no fit before it: the vocabulary ranks the metaOrFit fallback
        "stages: [fit_vocabulary_indices]\n" ->
          Vocabulary.lexicographicIndices(CodeMetadata.aggregate(input))
      ).foreach { case (yaml, lazyMeta) =>
        val fitted = ConfigPipeline.run(input, yaml).meta.get
        assert(fitted.schema == lazyMeta.schema, yaml)
        // Row equality compares the doubles exactly
        assert(rows(fitted) == rows(lazyMeta), yaml)
      }
      // the rollup's grand total is the one null-code row
      assert(rows(rollup).count(_.isNullAt(0)) == (if (input eq meds) 1 else 0))
    }
  }
}
