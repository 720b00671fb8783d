package graft

import graft.meds.Meds
import graft.operators._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Semantics fixtures for the MEDS core operators, mirroring the
  * reference's doctest shapes (small literal frames, hand-computed
  * expectations).
  */
class MedsOperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** patient 1: DOB + 2 HR obs (one integral value); patient 2: static row
    * + 1 HR obs with null value.
    */
  private lazy val fixture = Seq(
    (1L, Some(ts("2000-01-01 00:00:00")), "DOB", None: Option[Double]),
    (1L, Some(ts("2010-01-01 06:30:00")), "HR", Some(70.0)),
    (1L, Some(ts("2010-01-01 13:00:00")), "HR", Some(82.5)),
    (2L, None, "EYE//brown", None),
    (2L, Some(ts("2010-06-01 23:00:00")), "HR", None)
  ).toDF("patient_id", "time", "code", "numeric_value")

  test("finalizeData casts mandatory columns and injects missing ones") {
    val raw = Seq((1, "a")).toDF("patient_id", "code")
    val out = Meds.finalizeData(raw)
    assert(out.schema("patient_id").dataType == LongType)
    assert(out.schema("time").dataType == TimestampType)
    assert(out.schema("code").dataType == StringType)
    assert(out.schema("numeric_value").dataType == FloatType)
    assert(out.collect() === Array(Row(1L, null, "a", null)))
  }

  test("finalizeData rejects tables without patient_id") {
    intercept[IllegalArgumentException](Meds.finalizeData(Seq(("a", 1)).toDF("code", "x")))
  }

  test("aggregate computes the nine reference aggregations per code") {
    val out = CodeMetadata.aggregate(fixture).sort("code").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("DOB", "EYE//brown", "HR"))
    val hr = out(2)
    assert(hr.getLong(1) == 2)        // code/n_patients
    assert(hr.getLong(2) == 3)        // code/n_occurrences
    assert(hr.getLong(3) == 1)        // values/n_patients (patient 2 has null value)
    assert(hr.getLong(4) == 2)        // values/n_occurrences
    assert(hr.getLong(5) == 1)        // values/n_ints (70.0)
    assert(hr.getDouble(6) == 152.5)  // values/sum
    assert(hr.getDouble(7) == 70.0 * 70.0 + 82.5 * 82.5) // values/sum_sqd
    assert(hr.getDouble(8) == 70.0 && hr.getDouble(9) == 82.5) // min/max
    // codes with no values: sum coalesces to 0, min/max null
    val dob = out(0)
    assert(dob.getDouble(6) == 0.0 && dob.isNullAt(8) && dob.isNullAt(9))
  }

  test("mergePartials over patient-disjoint shards equals direct aggregation") {
    val byParity = Seq(0L, 1L).map(p => fixture.filter(pmod(col("patient_id"), lit(2)) === p))
    val merged = CodeMetadata.mergePartials(byParity.map(CodeMetadata.aggregate(_)))
    val direct = CodeMetadata.aggregate(fixture)
    assert(merged.except(direct).count() == 0 && direct.except(merged).count() == 0)
    // a code missing from one shard must still merge (EYE only on patient 2)
    assert(merged.filter(col("code") === "EYE//brown").count() == 1)
  }

  test("mergePartials reduces a subset of aggregation columns") {
    val some = Seq("code/n_occurrences", "values/sum", "values/max")
    val byParity = Seq(0L, 1L).map(p => fixture.filter(pmod(col("patient_id"), lit(2)) === p))
    val merged = CodeMetadata.mergePartials(byParity.map(CodeMetadata.aggregate(_, aggs = some)))
    val direct = CodeMetadata.aggregate(fixture, aggs = some)
    assert(merged.columns.toSeq == direct.columns.toSeq)
    assert(merged.except(direct).count() == 0 && direct.except(merged).count() == 0)
  }

  test("aggregate with summarizeOverAllCodes adds one all-codes row") {
    val out = CodeMetadata.aggregate(fixture, summarizeOverAllCodes = true)
    assert(out.count() == 4)
    val total = out.filter(col("code").isNull).collect()
    assert(total.length == 1)
    assert(total(0).getLong(2) == 5) // n_occurrences over all codes
    assert(total(0).getLong(1) == 2) // n_patients over all codes
  }

  test("aggregate and mergePartials key on a nullable code modifier") {
    // patient 1: HR/bpm 70, 82.5 and a null-code row; patient 2: HR/bpm
    // without a value, HR/null 90; patient 3: HR/null 60, DOB/null; and
    // an HR/bpm 40 row without a patient, which counts for no patient
    val df = Seq[(Option[Long], Option[String], Option[String], Option[Double])](
      (Some(1L), Some("HR"), Some("bpm"), Some(70.0)),
      (Some(1L), Some("HR"), Some("bpm"), Some(82.5)),
      (Some(1L), None, None, Some(5.0)),
      (Some(2L), Some("HR"), Some("bpm"), None),
      (Some(2L), Some("HR"), None, Some(90.0)),
      (Some(3L), Some("HR"), None, Some(60.0)),
      (Some(3L), Some("DOB"), None, None),
      (None, Some("HR"), Some("bpm"), Some(40.0))
    ).toDF("patient_id", "code", "unit", "numeric_value")
    // code, unit, then the nine aggregations in aggregationNames order
    val perCode = Set(
      Row("DOB", null, 1L, 1L, 0L, 0L, 0L, 0.0, 0.0, null, null),
      Row("HR", "bpm", 2L, 4L, 1L, 3L, 2L, 192.5, 13306.25, 40.0, 82.5),
      Row("HR", null, 2L, 2L, 2L, 2L, 2L, 150.0, 11700.0, 60.0, 90.0),
      Row(null, null, 1L, 1L, 1L, 1L, 1L, 5.0, 25.0, 5.0, 5.0))
    // the all-codes row counts each patient once, and stays apart from
    // the real (null, null) group
    val total = Row(null, null, 3L, 8L, 3L, 6L, 5L, 347.5, 25031.25, 5.0, 90.0)
    val mods = Seq("unit")
    val direct = CodeMetadata.aggregate(df, codeModifiers = mods)
    assert(direct.columns.toSeq == Seq("code", "unit") ++ CodeMetadata.aggregationNames)
    assert(direct.collect().toSet == perCode)
    assert(CodeMetadata.aggregate(df, codeModifiers = mods, summarizeOverAllCodes = true)
      .collect().toSet == perCode + total)
    val shards = Seq(col("patient_id") === 2L, !(col("patient_id") <=> 2L)).map(p => df.filter(p))
    val merged = CodeMetadata.mergePartials(shards.map(CodeMetadata.aggregate(_, codeModifiers = mods)), mods)
    assert(merged.schema.map(f => f.name -> f.dataType) == direct.schema.map(f => f.name -> f.dataType))
    assert(merged.collect().toSet == perCode)
  }

  test("filterMeasurements keeps codes passing thresholds via metadata join") {
    val meta = CodeMetadata.aggregate(fixture)
    val out = Filters.filterMeasurements(fixture, meta, minOccurrencesPerCode = Some(2))
    assert(out.select("code").distinct().as[String].collect().toSet == Set("HR"))
    // no thresholds => untouched
    assert(Filters.filterMeasurements(fixture, meta).count() == fixture.count())
  }

  test("filterPatientsByNumMeasurements counts non-null-time rows") {
    // patient 1: 3 timed rows; patient 2: 1 timed row (static doesn't count)
    val out = Filters.filterPatientsByNumMeasurements(fixture, 2)
    assert(out.select("patient_id").distinct().as[Long].collect().toSeq == Seq(1L))
  }

  test("filterPatientsByNumEvents counts unique times, null-inclusive") {
    // patient 1: 3 unique times; patient 2: 1 time + 1 null => 2 'events'
    val out = Filters.filterPatientsByNumEvents(fixture, 2)
    assert(out.select("patient_id").distinct().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val out3 = Filters.filterPatientsByNumEvents(fixture, 3)
    assert(out3.select("patient_id").distinct().as[Long].collect().toSeq == Seq(1L))
  }

  test("ageEvents emits positive ages per unique (patient, time) from DOB code") {
    val out = TimeDerived
      .ageEvents(fixture, TimeDerived.Dob.Code("DOB"), "AGE", "years")
      .collect()
    // patient 2 has no DOB row -> no ages; patient 1: DOB row itself has age 0 (excluded),
    // two observation times remain
    assert(out.length == 2)
    assert(out.forall(_.getString(2) == "AGE"))
    val ages = out.map(_.getDouble(3)).sorted
    assert(ages.forall(a => a > 9.9 && a < 10.1)) // ~10 years
  }

  test("timeOfDayEvents buckets hours into half-open ranges") {
    val out = TimeDerived.timeOfDayEvents(fixture).sort("patient_id", "time").collect()
    assert(out.length == 4) // unique non-null (patient, time) pairs
    val codes = out.map(_.getString(2)).toSeq
    assert(codes == Seq(
      "time_of_day//[00,06)", // 00:00
      "time_of_day//[06,12)", // 06:30
      "time_of_day//[12,18)", // 13:00
      "time_of_day//[18,24)"  // 23:00
    ))
  }

  test("normalizeTimeUnit resolves aliases and rejects unknown units") {
    assert(TimeDerived.normalizeTimeUnit("s") == ("seconds", 1d))
    assert(TimeDerived.normalizeTimeUnit("min") == ("minutes", 60d))
    assert(TimeDerived.normalizeTimeUnit("hours") == ("hours", 3600d))
    assert(TimeDerived.normalizeTimeUnit("day") == ("days", 86400d))
    assert(TimeDerived.normalizeTimeUnit("wks") == ("weeks", 604800d))
    assert(TimeDerived.normalizeTimeUnit("month")._2 == 86400d * 30.436875)
    assert(TimeDerived.normalizeTimeUnit("yrs") == ("years", 86400d * 365.2422))
    val err = intercept[IllegalArgumentException](TimeDerived.normalizeTimeUnit("fortnight"))
    assert(err.getMessage.contains("fortnight") && err.getMessage.contains("weeks"))
  }

  test("addTimeDerivedMeasurements: one stage, later generators sort first at a time key") {
    import TimeDerived.{AgeConfig, TimeOfDayConfig}
    val out = TimeDerived
      .addTimeDerivedMeasurements(
        fixture,
        Seq(AgeConfig(TimeDerived.Dob.Code("DOB"), "AGE", "yrs"), TimeOfDayConfig()))
      .collect()
    // 5 original + 2 age (patient 1 obs times) + 4 time_of_day
    assert(out.length == 11)
    // within (patient 1, 06:30): tod first (last generator), then AGE, then HR
    val key = out.filter(r => r.getLong(0) == 1L && r.get(1) == ts("2010-01-01 06:30:00"))
    assert(key.map(_.getString(2)).toSeq == Seq("time_of_day//[06,12)", "AGE", "HR"))
    // "yrs" alias resolved to years: ages ~10
    val ages = out.filter(_.getString(2) == "AGE").map(_.getDouble(3))
    assert(ages.forall(a => a > 9.9 && a < 10.6))
  }

  test("occludeOutliers nulls values beyond cutoff and flags inliers") {
    val df = Seq(
      (1L, "X", 10.0), (2L, "X", 10.0), (3L, "X", 10.0), (4L, "X", 100.0)
    ).toDF("patient_id", "code", "numeric_value")
      .withColumn("time", lit(ts("2020-01-01 00:00:00")))
    val meta = CodeMetadata.aggregate(df)
    val out = Outliers.occludeOutliers(df, meta, stddevCutoff = 1.0)
      .select("numeric_value", "numeric_value/is_inlier").collect()
    // mean=32.5, std=sqrt(1518.75)≈38.97; 100 is within 1.73σ... use values:
    // |10-32.5|=22.5 <= 38.97 (inlier), |100-32.5|=67.5 > 38.97 (outlier)
    val inliers = out.filter(_.getBoolean(1))
    val outliers = out.filterNot(_.getBoolean(1))
    assert(inliers.length == 3 && outliers.length == 1)
    assert(outliers.forall(_.isNullAt(0)))
    assert(inliers.forall(_.getDouble(0) == 10.0))
  }

  test("normalize z-scores by code stats and maps codes to vocab indices, dropping unknown codes") {
    val meta = Vocabulary.lexicographicIndices(CodeMetadata.aggregate(fixture))
      .filter(col("code") =!= "EYE//brown") // drop a code -> inner-join semantics
    val out = Normalize.normalize(fixture, meta)
    assert(out.columns.toSeq == Seq("patient_id", "time", "code", "numeric_value"))
    assert(out.filter(col("code").isNull).count() == 0)
    // HR values 70, 82.5 (null excluded from stats): mean 76.25, std 6.25
    val hrIdx = meta.filter(col("code") === "HR").select("code/vocab_index").as[Long].head()
    val z = out.filter(col("code") === hrIdx && col("numeric_value").isNotNull)
      .select("numeric_value").as[Double].collect().sorted
    assert(math.abs(z(0) + 1.0) < 1e-9 && math.abs(z(1) - 1.0) < 1e-9)
    // EYE//brown rows dropped entirely
    assert(out.count() == 4)
  }

  test("lexicographicIndices ranks codes 1-based in sorted order") {
    val out = Vocabulary.lexicographicIndices(CodeMetadata.aggregate(fixture))
      .select("code", "code/vocab_index").as[(String, Long)].collect().toMap
    assert(out == Map("DOB" -> 1L, "EYE//brown" -> 2L, "HR" -> 3L))
  }

  test("lexicographicIndicesScalable matches the window form without a global window") {
    val big = (1 to 5000).map(i => (f"CODE_$i%05d", i.toLong)).reverse
      .toDF("code", "code/n_occurrences").repartition(8)
    val window = Vocabulary.lexicographicIndices(big)
      .select("code", "code/vocab_index").as[(String, Long)].collect().toSet
    val scalable = Vocabulary.lexicographicIndicesScalable(big)
      .select("code", "code/vocab_index").as[(String, Long)].collect().toSet
    assert(scalable == window)
    assert(scalable.size == 5000)
  }

  test("winsorize clamps values into the per-code quantile band, keeps rows and nulls") {
    val df = ((1 to 100).map(i => (i.toLong, "X", Some(i.toDouble))) :+ (101L, "X", None: Option[Double]))
      .toDF("patient_id", "code", "numeric_value")
      .withColumn("time", lit(ts("2020-01-01 00:00:00")))
    val out = Outliers.winsorize(df, lowerQ = 0.1, upperQ = 0.9, exact = true)
    assert(out.count() == 101) // winsorization never drops rows
    val vals = out.filter(col("numeric_value").isNotNull).select("numeric_value").as[Double].collect()
    // R-7: p10 of 1..100 = 10.9, p90 = 90.1
    assert(math.abs(vals.min - 10.9) < 1e-9 && math.abs(vals.max - 90.1) < 1e-9)
    assert(out.filter(col("numeric_value").isNull).count() == 1)
    // approximate mode stays within a loose band of the exact bounds
    val approx = Outliers.winsorize(df, 0.1, 0.9, exact = false)
      .filter(col("numeric_value").isNotNull).select("numeric_value").as[Double].collect()
    assert(approx.min >= 5 && approx.max <= 95)
  }

  test("reorderMeasurements orders codes within an event by first-matching pattern") {
    val df = Seq(
      (1L, ts("2020-01-01 00:00:00"), "b_code", 1.0),
      (1L, ts("2020-01-01 00:00:00"), "a_code", 2.0),
      (1L, ts("2020-01-01 00:00:00"), "z_other", 3.0)
    ).toDF("patient_id", "time", "code", "numeric_value")
    val meta = df.select("code").distinct()
    val out = Reorder
      .reorderMeasurements(df, meta, Seq("^b_", "^a_"))
      .select("numeric_value").as[Double].collect()
    assert(out.toSeq == Seq(1.0, 2.0, 3.0)) // b (idx 0), a (idx 1), unmatched last
  }

  test("tokenization: staticsAndSchema collects static lists + dynamic time schema") {
    val out = Tokenize.staticsAndSchema(fixture).sort("patient_id").collect()
    // inner join: only patient 2 has BOTH static and dynamic rows
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 2L)
    assert(r.getSeq[String](1) == Seq("EYE//brown"))
    assert(r.getTimestamp(3) == ts("2010-06-01 23:00:00")) // start_time
  }

  test("tokenization: seqOfPatientEvents emits per-event lists with day deltas") {
    val out = Tokenize.seqOfPatientEvents(fixture).sort("patient_id").collect()
    assert(out.length == 2)
    val p1 = out(0)
    val deltas = p1.getSeq[Double](1)
    assert(deltas.head.isNaN) // first event delta is NaN
    assert(deltas.length == 3)
    // second delta: 2000-01-01 -> 2010-01-01 06:30 in days
    assert(math.abs(deltas(1) - (3653.0 + 6.5 / 24)) < 1e-6)
    val codes = p1.getSeq[Seq[String]](2)
    assert(codes == Seq(Seq("DOB"), Seq("HR"), Seq("HR")))
  }

  test("splitByModulo assigns deterministic splits and shards") {
    val patients = (0L until 100L).toDF("patient_id")
    val out = Shard.splitByModulo(patients, Seq("train" -> 8, "tuning" -> 1, "held_out" -> 1), 4)
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit == Map("train" -> 80L, "tuning" -> 10L, "held_out" -> 10L))
    assert(out.filter(col("shard") < 0 || col("shard") >= 4).count() == 0)
    // deterministic: same input -> same assignment
    val again = Shard.splitByModulo(patients, Seq("train" -> 8, "tuning" -> 1, "held_out" -> 1), 4)
    assert(out.except(again).count() == 0)
  }

  test("splitAndShardPatients respects fractions deterministically, without a global window") {
    val patients = (0L until 10000L).toDF("patient_id")
    val fr = Seq("train" -> 0.8, "tuning" -> 0.1, "held_out" -> 0.1)
    // exactBelow=100 forces the large-cohort hash-threshold path at n=10000
    val out = Shard.splitAndShardPatients(patients, fr, 3, seed = 7, exactBelow = 100)
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    // hash-threshold assignment is binomial around the target fraction:
    // at n=10000 a 2% absolute tolerance is > 5 sigma for every split
    fr.foreach { case (name, f) =>
      assert(math.abs(bySplit(name) / 10000.0 - f) < 0.02, s"split $name off target: ${bySplit(name)}")
    }
    assert(out.filter(col("shard") < 0 || col("shard") >= 3).count() == 0)
    val again = Shard.splitAndShardPatients(patients, fr, 3, seed = 7, exactBelow = 100)
    assert(out.except(again).count() == 0)
    // the scale contract: no window anywhere in the plan (the old global
    // rank formulation funneled all patients through one task)
    assert(!out.queryExecution.sparkPlan.toString.contains("Window"))
  }

  test("splitAndShardPatients small cohorts get exact non-empty splits") {
    val patients = (0L until 20L).toDF("patient_id")
    val fr = Seq("train" -> 0.8, "tuning" -> 0.1, "held_out" -> 0.1)
    // default exactBelow (100k) -> exact rank-based slicing at n=20
    val out = Shard.splitAndShardPatients(patients, fr, 2, seed = 7)
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    // exact slicing guarantees round(cum_frac * n) per split: 16 / 2 / 2 —
    // no split can come up empty, the hazard of binomial assignment at tiny n
    assert(bySplit == Map("train" -> 16L, "tuning" -> 2L, "held_out" -> 2L), bySplit.toString)
    val again = Shard.splitAndShardPatients(patients, fr, 2, seed = 7)
    assert(out.except(again).count() == 0)
  }

  test("extractEvent assembles codes from literal+column parts with UNK fill") {
    import Extract._
    val raw = Seq((10L, Some("ICU"), Some(1.5)), (11L, None, None))
      .toDF("subj", "unit", "val")
      .withColumn("when_", lit(ts("2020-05-01 10:00:00")))
    val out = extractEvent(raw, EventConfig("subj", Some("when_"),
      Seq(CodeLit("ADMIT"), CodeCol("unit")), Some("val"))).sort("patient_id").collect()
    assert(out(0).getString(2) == "ADMIT//ICU" && out(0).getDouble(3) == 1.5)
    assert(out(1).getString(2) == "ADMIT//UNK" && out(1).isNullAt(3))
  }

  test("extractEvent parses string times via format list, emits text/categorical values, filters and dedups") {
    import Extract._
    val raw = Seq(
      (1L, "2020-05-01 10:00:00", Some("A"), "hi", 1.0),   // format 1
      (2L, "05/02/2020 11:30:00", Some("B"), "yo", 2.0),   // format 2
      (3L, "not a time", Some("C"), "zz", 3.0),            // unparseable -> dropped
      (4L, "2020-05-01 10:00:00", None, "nn", 4.0),        // null code col -> dropped
      (5L, "2020-05-03 09:00:00", Some("D"), "dup", 5.0),
      (5L, "2020-05-03 09:00:00", Some("D"), "dup", 5.0)   // exact dup -> deduped
    ).toDF("subj", "when_", "kind", "note", "val")
    val out = extractEvent(raw, EventConfig(
      patientId = "subj", time = Some("when_"),
      code = Seq(CodeCol("kind"), CodeLit("X")),
      numericValue = Some("val"),
      timeFormat = Some(Seq("yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss")),
      textValue = Some("note"), categoricalValue = Some("kind"),
      dedup = true
    ))
    val rows = out.sort("patient_id").collect()
    assert(rows.length == 3) // unparseable + null-code dropped, dup collapsed
    assert(rows(0).getString(2) == "A//X" && rows(0).getString(4) == "hi" && rows(0).getString(5) == "A")
    assert(rows(1).getTimestamp(1) == ts("2020-05-02 11:30:00")) // second format won
    assert(out.columns.toSeq ==
      Seq("patient_id", "time", "code", "numeric_value", "text_value", "categorical_value"))
  }

  test("extractCodeMetadataMulti concats descriptions and flattens parent code lists per code") {
    val m1 = Seq(
      ("HR", "Heart rate", Seq("vitals//cardiac")),
      ("BP", "Blood pressure", Seq("vitals//cardiac", "vitals//pressure"))
    ).toDF("code", "description", "parent_codes")
    val m2 = Seq(
      ("HR", "Pulse", Seq("obs//continuous")),
      ("RR", "Respiratory rate", Seq[String]())
    ).toDF("code", "description", "parent_codes")
    val out = Extract.extractCodeMetadataMulti(Seq(m1, m2), descriptionSeparator = "; ")
      .sort("code").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("BP", "HR", "RR"))
    val hr = out(1)
    assert(hr.getString(1) == "Heart rate; Pulse") // sorted concat
    assert(hr.getSeq[String](2) == Seq("obs//continuous", "vitals//cardiac")) // flattened+sorted
    assert(out(0).getString(1) == "Blood pressure")
    assert(out(2).getSeq[String](2) == Seq())
  }

  test("mergeCohort unions diagonally, dedups on keys, and sorts within patients") {
    val a = Seq((1L, ts("2020-01-01 02:00:00"), "B", 1.0), (1L, ts("2020-01-01 01:00:00"), "A", 2.0))
      .toDF("patient_id", "time", "code", "numeric_value").withColumn("src", lit("a"))
    val b = Seq((1L, ts("2020-01-01 01:30:00"), "C", 3.0), (1L, ts("2020-01-01 01:30:00"), "C", 3.0))
      .toDF("patient_id", "time", "code", "numeric_value")
    val out = Extract.mergeCohort(Seq(a, b), uniqueBy = Some(Seq("patient_id", "time", "code")))
    assert(out.columns.contains("src"))
    assert(out.count() == 3) // duplicate C row removed
    val codes = out.select("code").as[String].collect()
    assert(codes.toSeq == Seq("A", "C", "B")) // time-sorted within patient partition
  }

}
