package graft

import graft.dedup.Dedup
import graft.meds.ConfigPipeline
import graft.operators._
import graft.pipeline.{Packing, Sampling, Selection}
import graft.text.{Bm25, TextFunctions, Tfidf}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Degenerate-input robustness: every operator must return an empty/sane
  * result on empty or pathological input, not throw — at 100 TB some
  * shard somewhere WILL be empty, all-null, or single-row.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyMeds = Seq.empty[(Long, Option[Timestamp], String, Option[Double])]
    .toDF("patient_id", "time", "code", "numeric_value")
  private lazy val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("MEDS operators tolerate an empty cohort") {
    assert(CodeMetadata.aggregate(emptyMeds).count() == 0)
    assert(Filters.filterPatientsByNumMeasurements(emptyMeds, 1).count() == 0)
    assert(Filters.filterPatientsByNumEvents(emptyMeds, 1).count() == 0)
    assert(TimeDerived.ageEvents(emptyMeds, TimeDerived.Dob.FirstEvent).count() == 0)
    assert(TimeDerived.timeOfDayEvents(emptyMeds).count() == 0)
    assert(Vocabulary.lexicographicIndices(CodeMetadata.aggregate(emptyMeds)).count() == 0)
    assert(Vocabulary.lexicographicIndicesScalable(CodeMetadata.aggregate(emptyMeds)).count() == 0)
    assert(Tokenize.seqOfPatientEvents(emptyMeds).count() == 0)
    val r = ConfigPipeline.run(emptyMeds,
      """stages: [fit_outlier_detection, occlude_outliers, fit_normalization,
        |  fit_vocabulary_indices, normalization, tokenization]
        |stage_configs:
        |  occlude_outliers: {stddev_cutoff: 3.0, drop_is_inlier: true}
        |""".stripMargin)
    assert(r.data.count() == 0 && r.meta.get.count() == 0 && r.tokenized.get.count() == 0)
  }

  test("dedup and text operators tolerate an empty corpus") {
    assert(Dedup.exact(emptyDocs).count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, 0.5).count() == 0)
    assert(Dedup.minhashCandidatePairs(Dedup.minhashSignatures(emptyDocs, 8), 8, 4).count() == 0)
    assert(Dedup.simhashNearDupPairs(Dedup.simhash(emptyDocs), maxHamming = 3).count() == 0)
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
    assert(Dedup.dropNearDuplicates(emptyDocs).count() == 0)
    assert(Tfidf.tfidf(emptyDocs).count() == 0)
    assert(Bm25.score(emptyDocs, Seq("x")).count() == 0)
  }

  test("pipeline operators tolerate empty and single-row input") {
    assert(Sampling.deterministicSample(emptyDocs, "doc_id", 0.5, "s").count() == 0)
    assert(Sampling.deterministicSampleN(emptyDocs, "doc_id", 10, "s").count() == 0)
    assert(Selection.topKPerGroup(emptyDocs.withColumn("s", lit(1.0)), Seq("text"), "s", 3, "doc_id").count() == 0)
    assert(Packing.packByTokenBudget(emptyDocs.withColumn("n", lit(1L)), "doc_id", "n", 100, 4).count() == 0)
    val one = Seq((1L, "only doc")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(one, 0.5).count() == 0)
    assert(Packing.packByTokenBudget(one.withColumn("n", lit(5L)), "doc_id", "n", 100, 4)
      .select("bin").as[Long].head() == 0L)
  }

  test("round-3 operators tolerate empty input") {
    val emptyEvents = Seq.empty[(Long, Long, Option[Timestamp], Option[Double])]
      .toDF("event_id", "user_id", "ts", "value")
    assert(Rolling.trailingAggregates(emptyEvents, "user_id", "ts", "value", 1000000L).count() == 0)
    assert(Rolling.forwardFill(emptyEvents, "user_id", "ts", "event_id", "value", "f").count() == 0)
    assert(Rolling.resampleLastValue(emptyEvents, "user_id", "ts", "event_id", "value", 1000000L).count() == 0)
    assert(Sessionize.sessionWindowSummaries(emptyEvents, "user_id", "ts", "30 minutes").count() == 0)
    assert(AsofJoin.asof(emptyEvents, emptyEvents.withColumnRenamed("ts", "rt"),
      Seq("user_id"), "ts", "rt", Seq("value")).count() == 0)
    assert(FuzzyJoin.fuzzyPairs(emptyDocs.withColumnRenamed("text", "name"), "name", 3).count() == 0)
    assert(Diff.snapshotDiff(emptyEvents, emptyEvents, Seq("event_id"),
      md5(concat_ws("|", col("user_id")))).count() == 0)
    assert(graft.text.InvertedIndex.postings(emptyDocs, "doc_id", "text", 5).count() == 0)
    assert(graft.text.Collocations.bigramPmi(emptyDocs, "text").count() == 0)
    assert(graft.text.WordVocab.encode(emptyDocs, "doc_id", "text",
      graft.text.WordVocab.fit(emptyDocs, "text", 10)).count() == 0)
    assert(graft.ann.Embeddings.labelCentroids(
      Seq.empty[(Int, Array[Float])].toDF("label", "vec"), "label", "vec").count() == 0)
    assert(Profile.histogram(emptyEvents, "value", 10.0, Seq("user_id")).count() == 0)
    assert(Sketches.estimate(Sketches.mergeSketchPartials(
      Sketches.distinctSketchPartials(emptyEvents, Seq("user_id"), "event_id"),
      Seq("user_id"))).count() == 0)
    // violations still reports every rule on an empty frame (n_rows 0)
    val v = Validate.violations(emptyEvents,
      Seq(Validate.Expectation("r", col("value").isNotNull)))
    assert(v.select("n_rows", "n_violations").as[(Long, Long)].collect().toSeq == Seq((0L, 0L)))
  }

  test("round-4 operators tolerate empty input") {
    val emptyEvents = Seq.empty[(Long, Long, Option[Timestamp], Option[Double])]
      .toDF("event_id", "user_id", "ts", "value")
    val emptyVecs = Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding")
    val oneCentroid = Seq((0L, Array(1.0, 0.0))).toDF("cid", "centroid")
    assert(graft.text.LineDedup.dedupLines(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.dedupAgainst(emptyDocs, emptyDocs).count() == 0)
    assert(graft.ann.SemDedup.semDedup(emptyVecs, oneCentroid, 0.9).count() == 0)
    assert(BloomJoin.semiJoin(
      emptyEvents.select("event_id"),
      Seq(1L).toDF("k"), "event_id", "k", expectedKeys = 10).count() == 0)
    assert(ZOrder.withZValue(emptyEvents, "event_id", "user_id").count() == 0)
    assert(Selection.ntilePerGroup(emptyEvents, Seq("user_id"), "value", 4, "event_id").count() == 0)
    assert(graft.text.Bpe.fitMerges(emptyDocs, numMerges = 5).count() == 0)
    assert(graft.text.Bpe.encode(emptyDocs, Seq(("a", "b"))).count() == 0)
    assert(HeavyHitters.exactHeavyHitters(
      emptyDocs.select(col("text").as("tok")), "tok", k = 4, threshold = 1L).count() == 0)
    assert(Compact.latestPerKey(emptyEvents, Seq("user_id"), Seq("ts")).count() == 0)
    assert(PageRank.pageRank(Seq.empty[(String, String)].toDF("src", "dst"), iters = 2).count() == 0)
    assert(Sampling.mixtureSample(emptyDocs, "text", "doc_id", Map("x" -> 1.0), 10, "s").count() == 0)
    assert(Outliers.robustScale(emptyMeds, exact = true).count() == 0)
    assert(graft.text.Keywords.termLift(emptyDocs, "text").count() == 0)
  }

  test("round-4 session-2 operators tolerate empty and degenerate input") {
    val emptyEvents = Seq.empty[(Long, Long, Option[Timestamp], Option[Double], String)]
      .toDF("event_id", "user_id", "ts", "value", "event_type")
    assert(Funnel.funnel(emptyEvents, "user_id", "ts", "event_type", Seq("a", "b")).count() == 0)
    assert(Retention.cohortRetention(emptyEvents, "user_id", "ts", 1000L).count() == 0)
    assert(Retention.periodOverPeriod(emptyEvents, "user_id", "ts", 1000L).count() == 0)
    assert(Sampling.weightedSampleN(emptyDocs.withColumn("w", lit(1.0)), "doc_id", "w", 5, "s").count() == 0)
    assert(Assoc.rules(emptyEvents, "user_id", "event_type", 1L).count() == 0)
    assert(graft.text.Importance.importanceScore(emptyDocs, "doc_id", "text", lit(true)).count() == 0)
    assert(graft.text.Importance.wordEntropy(emptyDocs, "doc_id", "text").count() == 0)
    assert(Stats.percentileRank(emptyEvents, Seq("event_type"), "value").count() == 0)
    assert(Stats.chiSquare(emptyDocs.withColumn("b", lit("x")), "text", "b").count() == 0)
    assert(Stats.gini(emptyEvents, Seq("event_type"), "value").count() == 0)
    assert(Stats.spearman(emptyEvents, Seq("event_type"), "value", "value").count() == 0)
    assert(graft.text.FeatureHash.hashedFeatures(emptyDocs, "doc_id", "text", 8).count() == 0)
    assert(Sketches.countMinTable(emptyDocs, "text", 2, 16).count() == 0)
    assert(Sketches.countMinEstimate(
      Sketches.countMinTable(emptyDocs, "text", 2, 16), emptyDocs, "text", 2, 16).count() == 0)
    assert(Debounce.debounce(emptyEvents, Seq("user_id"), "ts", 100L, "event_id").count() == 0)
    assert(Impute.meanImpute(emptyEvents, Seq("event_type"), "value").count() == 0)
    assert(Profile.quantileSummary(emptyEvents, Seq("event_type"), "value", Seq(0.5)).count() == 0)
    assert(Trending.topItemsPerBucket(emptyEvents, "ts", "event_type", 1000L, 3).count() == 0)
    assert(Selection.selectUnderBudget(
      emptyEvents.withColumn("c", lit(1L)), Seq("event_type"), "value", "c", 10L, "event_id").count() == 0)
    assert(Transitions.transitionCounts(emptyEvents, "user_id", "ts", "event_type", "event_id").count() == 0)
    assert(Transitions.interArrivalStats(emptyEvents, "user_id", "ts", "event_id").count() == 0)
    assert(Bootstrap.bootstrapMeanSE(emptyEvents, Seq("event_type"), "value", "event_id").count() == 0)
    assert(Ewma.ewmaLast(emptyEvents, "user_id", "ts", "value", "event_id", 0.5).count() == 0)
    assert(Dedup.ngramContainmentPairs(emptyDocs, 0.5).count() == 0)
    assert(Dedup.crossSplitLeakage(emptyDocs.withColumn("sp", lit("t")), "sp", 0.5).count() == 0)
    assert(FuzzyJoin.resolveEntities(emptyDocs, "doc_id", "text", 2).count() == 0)
    // single-row input: windows and folds degrade to identity, not errors
    val one = Seq((1L, 1L, Some(Timestamp.valueOf("2024-01-01 00:00:00")), Some(2.0), "a"))
      .toDF("event_id", "user_id", "ts", "value", "event_type")
    assert(Ewma.ewmaLast(one, "user_id", "ts", "value", "event_id", 0.5).head().getDouble(2) == 2.0)
    assert(Transitions.interArrivalStats(one, "user_id", "ts", "event_id").count() == 0)
    assert(Stats.gini(one, Seq("event_type"), "value").head().getDouble(2) == 0.0)
  }

  test("all-null and whitespace-only text columns don't break text functions") {
    val weird = Seq((1L, null: String), (2L, ""), (3L, "   \t\n  "), (4L, "!!!???")).toDF("doc_id", "text")
    val out = weird.select(
      col("doc_id"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.whitespaceTokenCount(col("text")).as("nws"),
      TextFunctions.qualityScore(col("text")).as("q"))
    assert(out.count() == 4)
    // non-null texts classify as undetermined; null text propagates null
    assert(out.filter(col("doc_id") > 1).select("lang").as[String].collect().forall(_ == "und"))
  }
}
