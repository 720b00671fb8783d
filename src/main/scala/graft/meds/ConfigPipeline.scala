package graft.meds

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.operators._
import graft.plans.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Declarative, config-file-driven pipeline composition — the reference's
  * user interface (reference: pipeline_configuration.md; configs/
  * preprocess.yaml `stages:` list; configs/stage_configs/&#42;.yaml per-stage
  * blocks), and the one way graft composes the MEDS preprocessing
  * pipeline (`q_meds_pipeline` runs through it). A user ports a
  * reference pipeline by editing a config, not Scala: the YAML/JSON
  * document names an ordered `stages` list, each stage optionally
  * configured by a same-named block under `stage_configs` (keys match the
  * reference's snake_case).
  *
  * Where the reference materializes every stage to parquet shards with a
  * mapreduce runner between them, this interpreter threads two frames
  * through the fold: the DATA frame and the current code-METADATA frame
  * (the reference's `codes.parquet`). The data frame is lazy between
  * stages that read it once, so Catalyst plans such a run of stages as
  * one plan: column pruning and filter ordering cross their boundaries.
  * A stage that reads the data frame twice pins it first
  * ([[graft.plans.Materialize.pin]], eager), the reference's per-stage
  * materialization kept only where a second read would otherwise re-plan
  * the input scan and every stage before it:
  *   - `add_time_derived_measurements`: the original rows and one branch
  *     per generator each read the input;
  *   - every fit stage: its collect and the rest of the chain;
  *   - a metadata-reading stage with no fit before it, which fits its own
  *     metadata from the data first.
  * Fit stages (`preliminary_counts`, `fit_outlier_detection`,
  * `fit_normalization`, `fit_vocabulary_indices`) aggregate the current
  * data into the metadata slot and compute it at once, as a
  * vocabulary-sized local relation on the driver — the reference's one
  * `codes.parquet` write per fit. Transform stages broadcast-join that
  * relation. Over the example config this scans the input and runs the
  * patient filter's window once per run, in the first pin job.
  *
  * Supported stage names and the keys each reads (reference:
  * configs/stage_configs/), as `StageKeys` lists them:
  *   - `filter_patients` {min_events_per_patient, min_measurements_per_patient}
  *   - `add_time_derived_measurements` {age {DOB_code, age_code, age_unit},
  *     time_of_day {time_of_day_code, endpoints}}; a null `DOB_code`
  *     anchors ages at each patient's first event
  *   - `preliminary_counts` / `count_code_occurrences`
  *     {aggregations, do_summarize_over_all_codes}
  *   - `filter_measurements` {min_patients_per_code, min_occurrences_per_code}
  *   - `fit_outlier_detection` / `fit_normalization` {aggregations}
  *   - `occlude_outliers` {stddev_cutoff, drop_is_inlier}
  *   - `fit_vocabulary_indices` {ordering_method: lexicographic}
  *   - `normalization` {}
  *   - `reorder_measurements` {ordered_code_patterns}
  *   - `tokenization` {}
  * Top-level `code_modifiers` applies to every code-keyed stage.
  *
  * Bad configs fail before any frame is built: an unknown stage, a key a
  * stage does not read, a `stage_configs` block for a stage missing from
  * `stages`, or a value of the wrong type (text where a number belongs)
  * raises an IllegalArgumentException naming the key and the valid ones.
  */
object ConfigPipeline {

  /** One parser handles both YAML (the reference's format) and JSON
    * (YAML 1.2 is a JSON superset; jackson-dataformat-yaml ships with
    * Spark).
    */
  private val mapper = new ObjectMapper(new YAMLFactory())

  final case class Parsed(
      stages: Seq[String],
      stageConfigs: Map[String, JsonNode],
      codeModifiers: Seq[String]
  )

  def parse(configText: String): Parsed = {
    val root = mapper.readTree(configText)
    val stagesNode = root.get("stages")
    require(stagesNode != null && stagesNode.isArray && stagesNode.size() > 0,
      "pipeline config needs a non-empty `stages` array")
    val stages = stagesNode.elements().asScala.map(_.asText()).toSeq
    val sc = Option(root.get("stage_configs"))
      .map(n => n.properties().asScala.map(e => e.getKey -> e.getValue).toMap)
      .getOrElse(Map.empty)
    val mods = Option(root.get("code_modifiers")).filter(_.isArray)
      .map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Nil)
    stages.foreach { stage =>
      val keys = StageKeys.getOrElse(stage, throw new IllegalArgumentException(
        s"unknown pipeline stage `$stage`; known: ${StageKeys.keys.mkString(", ")}"))
      validate(s"stage_configs.$stage", effectiveConfig(stage, sc.getOrElse(stage, empty)), keys)
    }
    sc.keys.filterNot(stages.contains).foreach { block =>
      throw new IllegalArgumentException(
        s"stage_configs block `$block` names a stage missing from `stages`; stages: ${stages.mkString(", ")}")
    }
    Parsed(stages, sc, mods)
  }

  /** What a config value must be; `null` is always accepted (it unsets a
    * registry default).
    */
  private sealed trait Kind
  private final case class Scalar(what: String, ok: JsonNode => Boolean) extends Kind
  private final case class ListOf(elem: Scalar) extends Kind
  private final case class Block(keys: ListMap[String, Kind]) extends Kind

  private val AnInteger = Scalar("an integer", _.isIntegralNumber)
  private val ANumber = Scalar("a number", _.isNumber)
  private val ABoolean = Scalar("true or false", _.isBoolean)
  private val AString = Scalar("a string", _.isValueNode)
  private val Aggregations = ListMap[String, Kind]("aggregations" -> ListOf(AString))

  /** The keys each stage reads, after the defaults merge. */
  private val StageKeys: ListMap[String, ListMap[String, Kind]] = ListMap(
    "filter_patients" -> ListMap(
      "min_events_per_patient" -> AnInteger, "min_measurements_per_patient" -> AnInteger),
    "add_time_derived_measurements" -> ListMap(
      "age" -> Block(ListMap("DOB_code" -> AString, "age_code" -> AString, "age_unit" -> AString)),
      "time_of_day" -> Block(ListMap("time_of_day_code" -> AString, "endpoints" -> ListOf(AnInteger)))),
    "preliminary_counts" -> (Aggregations + ("do_summarize_over_all_codes" -> ABoolean)),
    "count_code_occurrences" -> (Aggregations + ("do_summarize_over_all_codes" -> ABoolean)),
    "filter_measurements" -> ListMap(
      "min_patients_per_code" -> AnInteger, "min_occurrences_per_code" -> AnInteger),
    "fit_outlier_detection" -> Aggregations,
    "occlude_outliers" -> ListMap("stddev_cutoff" -> ANumber, "drop_is_inlier" -> ABoolean),
    "fit_normalization" -> Aggregations,
    "fit_vocabulary_indices" -> ListMap(
      "ordering_method" -> Scalar("\"lexicographic\"", _.asText() == "lexicographic")),
    "normalization" -> ListMap(),
    "reorder_measurements" -> ListMap("ordered_code_patterns" -> ListOf(AString)),
    "tokenization" -> ListMap())

  private def validate(path: String, n: JsonNode, keys: ListMap[String, Kind]): Unit =
    if (n != null && !n.isNull) {
      val valid = if (keys.isEmpty) "none" else keys.keys.mkString(", ")
      require(n.isObject, s"$path must be a mapping; valid keys: $valid")
      n.properties().asScala.foreach { e =>
        val (k, v) = (e.getKey, e.getValue)
        val kind = keys.getOrElse(k, throw new IllegalArgumentException(
          s"$path: unknown key `$k`; valid keys: $valid"))
        if (!v.isNull) kind match {
          case s: Scalar => require(s.ok(v), s"$path.$k must be ${s.what}, got $v")
          case ListOf(s) => require(v.isArray && v.elements().asScala.forall(s.ok),
            s"$path.$k must be a list, each item ${s.what}, got $v")
          case Block(sub) => validate(s"$path.$k", v, sub)
        }
      }
    }

  /** Per-stage defaults registry mirroring the reference's
    * `configs/stage_configs/&#42;.yaml` composition model (one defaults file
    * per stage, user config carries only overrides): each known stage
    * loads its defaults from the `graft/stage_configs/&lt;stage&gt;.yaml`
    * classpath resource; the user's same-named `stage_configs` block
    * deep-merges ON TOP — nested objects merge recursively, scalars and
    * arrays replace, and an explicit `null` unsets a default (the
    * reference's Hydra `~key` idiom).
    */
  def stageDefaults(stage: String): JsonNode = {
    val in = getClass.getResourceAsStream(s"/graft/stage_configs/$stage.yaml")
    if (in == null) empty
    else
      try Option(mapper.readTree(in).get(stage)).getOrElse(empty)
      finally in.close()
  }

  private def deepMerge(defaults: JsonNode, overrides: JsonNode): JsonNode =
    if (!defaults.isObject || !overrides.isObject) overrides
    else {
      val merged = defaults.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      overrides.properties().asScala.foreach { e =>
        val (k, v) = (e.getKey, e.getValue)
        if (merged.has(k) && merged.get(k).isObject && v.isObject)
          merged.set[JsonNode](k, deepMerge(merged.get(k), v))
        else merged.set[JsonNode](k, v)
      }
      merged
    }

  /** The effective config for `stage`: registry defaults under the user's
    * overrides.
    */
  def effectiveConfig(stage: String, userBlock: JsonNode): JsonNode =
    deepMerge(stageDefaults(stage), userBlock)

  private def optLong(n: JsonNode, key: String): Option[Long] =
    Option(n.get(key)).filterNot(_.isNull).map(_.asLong())
  private def optDouble(n: JsonNode, key: String): Option[Double] =
    Option(n.get(key)).filterNot(_.isNull).map(_.asDouble())
  private def optText(n: JsonNode, key: String): Option[String] =
    Option(n.get(key)).filterNot(_.isNull).map(_.asText())
  private def optSeq(n: JsonNode, key: String): Option[Seq[JsonNode]] =
    Option(n.get(key)).filter(_.isArray).map(_.elements().asScala.toSeq)
  private val empty: JsonNode = mapper.createObjectNode()

  private def timeDerivedConfigs(n: JsonNode): Seq[TimeDerived.TimeDerivedConfig] = {
    val age = Option(n.get("age")).filterNot(_.isNull).map { a =>
      TimeDerived.AgeConfig(
        optText(a, "DOB_code").map(TimeDerived.Dob.Code).getOrElse(TimeDerived.Dob.FirstEvent),
        optText(a, "age_code").getOrElse("AGE"),
        optText(a, "age_unit").getOrElse("years"))
    }
    val tod = Option(n.get("time_of_day")).filterNot(_.isNull).map { t =>
      TimeDerived.TimeOfDayConfig(
        optSeq(t, "endpoints").map(_.map(_.asInt())).getOrElse(Seq(6, 12, 18)),
        optText(t, "time_of_day_code").getOrElse("time_of_day"))
    }
    (age.toSeq ++ tod.toSeq)
  }

  final case class State(
      data: DataFrame,
      meta: Option[DataFrame],
      tokenized: Option[DataFrame]
  )

  /** Run the configured stage list over a MEDS measurement frame. Fit
    * stages run their (small) jobs here, when the stage is reached, and
    * keep the result on the driver ([[Materialize.local]]). A stage that
    * reads the data frame twice pins it first ([[pinned]]), so that pin
    * job is the last one to plan the stages before it; the returned data
    * frame is lazy from the last pin on.
    */
  def run(meds: DataFrame, configText: String): State = {
    val cfg = parse(configText)
    val mods = cfg.codeModifiers

    /** The stage's data and code metadata: the fitted metadata, or, when
      * no fit ran before, an aggregate of the data with the `aggs` the
      * stage reads, which the stage then reads twice.
      */
    def withMeta(st: State, aggs: Seq[String]): (DataFrame, DataFrame) = st.meta match {
      case Some(meta) => (st.data, meta)
      case None =>
        val data = pinned(st.data)
        (data, Materialize.local(CodeMetadata.aggregate(data, aggs, mods)))
    }

    /** A fit stage: its collect and the rest of the chain both read the data. */
    def fit(st: State)(aggregate: DataFrame => DataFrame): State = {
      val data = pinned(st.data)
      st.copy(data = data, meta = Some(Materialize.local(aggregate(data))))
    }

    cfg.stages.foldLeft(State(meds, None, None)) { (st, stage) =>
      val c = effectiveConfig(stage, cfg.stageConfigs.getOrElse(stage, empty))
      stage match {
        case "filter_patients" =>
          val d1 = optLong(c, "min_measurements_per_patient")
            .map(Filters.filterPatientsByNumMeasurements(st.data, _)).getOrElse(st.data)
          val d2 = optLong(c, "min_events_per_patient")
            .map(Filters.filterPatientsByNumEvents(d1, _)).getOrElse(d1)
          st.copy(data = d2)

        case "add_time_derived_measurements" =>
          val gens = timeDerivedConfigs(c)
          require(gens.nonEmpty, s"stage `$stage` configured with no generators")
          // the original rows and one branch per generator each read the input
          st.copy(data = TimeDerived.addTimeDerivedMeasurements(pinned(st.data), gens))

        case "preliminary_counts" | "count_code_occurrences" =>
          val aggs = optSeq(c, "aggregations").map(_.map(_.asText()))
            .getOrElse(CodeMetadata.aggregationNames)
          val overAll = Option(c.get("do_summarize_over_all_codes")).exists(_.asBoolean(false))
          fit(st)(CodeMetadata.aggregate(_, aggs, mods, overAll))

        case "filter_measurements" =>
          val minPatients = optLong(c, "min_patients_per_code")
          val minOccurrences = optLong(c, "min_occurrences_per_code")
          // with no threshold set the stage keeps every row
          if (minPatients.isEmpty && minOccurrences.isEmpty) st
          else {
            val aggs = minPatients.map(_ => CodeMetadata.CodeNPatients).toSeq ++
              minOccurrences.map(_ => CodeMetadata.CodeNOccurrences)
            val (data, meta) = withMeta(st, aggs)
            st.copy(data = Filters.filterMeasurements(data, meta, minPatients, minOccurrences, mods))
          }

        case "fit_outlier_detection" | "fit_normalization" =>
          val aggs = optSeq(c, "aggregations").map(_.map(_.asText()))
            .getOrElse(CodeMetadata.aggregationNames)
          fit(st)(CodeMetadata.aggregate(_, aggs, codeModifiers = mods))

        case "occlude_outliers" =>
          val cutoff = optDouble(c, "stddev_cutoff").getOrElse(4.5)
          val (data, meta) = withMeta(st, CodeMetadata.meanStdAggregations)
          val occluded = Outliers.occludeOutliers(data, meta, cutoff, mods)
          val dropFlag = Option(c.get("drop_is_inlier")).exists(_.asBoolean(false))
          st.copy(data = if (dropFlag) occluded.drop("numeric_value/is_inlier") else occluded)

        case "fit_vocabulary_indices" =>
          // the indexed metadata becomes the state's, which later stages read
          val (data, meta) = withMeta(st, CodeMetadata.aggregationNames)
          st.copy(data = data, meta = Some(Materialize.local(Vocabulary.lexicographicIndices(meta, mods))))

        case "normalization" =>
          val (data, meta) = withMeta(st, CodeMetadata.meanStdAggregations)
          st.copy(data = Normalize.normalize(data, meta, mods))

        case "reorder_measurements" =>
          val patterns = optSeq(c, "ordered_code_patterns").map(_.map(_.asText())).getOrElse(Nil)
          val (data, meta) = withMeta(st, Seq(CodeMetadata.CodeNOccurrences))
          st.copy(data = Reorder.reorderMeasurements(data, meta, patterns, mods))

        case "tokenization" =>
          st.copy(tokenized = Some(Tokenize.seqOfPatientEvents(st.data)))
      }
    }
  }

  /** `df` computed now and pinned on the executors ([[Materialize.pin]]),
    * unless it already reads pinned blocks. For a frame the stage reads
    * twice: both reads then scan the blocks instead of each re-planning the
    * input scan and every stage since the last pin.
    */
  private def pinned(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case r: LogicalRDD if r.rdd.isCheckpointed => df
    case _ => Materialize.pin(df, eager = true)
  }
}
