package graft

import graft.meds.Meds
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Reference golden-file parity: graft's MEDS operators replayed over the
  * reference's OWN published test fixtures and asserted against its
  * want-frames row-for-row ([[GoldenFixtures]]; sources cited there). This
  * pins MEDS semantics to the reference's goldens directly, independent of
  * the DuckDB-oracle re-derivations the driver checks.
  *
  * Comparison conventions:
  *   - numeric equality is |a-b| <= 1e-8 + 1e-5*|want| (the tolerance the
  *     reference's own assert_frame_equal uses, tests/utils.py:133). The
  *     reference computes code means/stds in float32 (the fixture metadata
  *     schema, transform_tester_base.py:170-180) where graft uses float64;
  *     the fixtures keep every in/outlier decision >0.008 from a cutoff, so
  *     decisions are identical and values agree within tolerance.
  *   - ordered comparisons canonicalize TIES ONLY: rows equal on
  *     (patient, time, semantic order key) sort by code. Polars sorts are
  *     stable so the reference pins tie order to input order; a Spark sort
  *     is not stable and graft's contract orders by explicit keys only.
  *   - the reference encodes missing values as NaN on the tokenized ragged
  *     tensors (Polars/numpy convention); graft keeps SQL NULL. The seq
  *     comparison maps NULL -> NaN.
  */
class ReferenceGoldenSpec extends SparkSpec {
  import GoldenFixtures._

  private val TsFmt = "MM/dd/yyyy, HH:mm:ss"

  private def medsDf(rows: Seq[(Long, String, String, java.lang.Double)]): DataFrame = {
    val schema = StructType(Seq(
      StructField(Meds.PatientId, LongType, nullable = false),
      StructField(Meds.Time, StringType, nullable = true),
      StructField(Meds.Code, StringType, nullable = true),
      StructField(Meds.NumericValue, DoubleType, nullable = true)))
    val rws: Seq[Row] = rows.map(r => Row(r._1, r._2, r._3, r._4))
    spark.createDataFrame(rws.asJava, schema)
      .withColumn(Meds.Time, to_timestamp(col(Meds.Time), TsFmt))
  }

  /** Normalized-shard frame: code is a vocab index (long). */
  private def medsDfL(rows: Seq[(Long, String, Long, java.lang.Double)]): DataFrame = {
    val schema = StructType(Seq(
      StructField(Meds.PatientId, LongType, nullable = false),
      StructField(Meds.Time, StringType, nullable = true),
      StructField(Meds.Code, LongType, nullable = false),
      StructField(Meds.NumericValue, DoubleType, nullable = true)))
    val rws: Seq[Row] = rows.map(r => Row(r._1, r._2, r._3, r._4))
    spark.createDataFrame(rws.asJava, schema)
      .withColumn(Meds.Time, to_timestamp(col(Meds.Time), TsFmt))
  }

  /** The fixture code-metadata table with the fixture's FLOAT32 stat schema
    * (transform_tester_base.py:170-180), so graft starts from the same
    * rounded inputs as the reference.
    */
  private def metaDf(
      rows: Seq[(String, Long, Long, Long, java.lang.Double, java.lang.Double, String, String)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("code", StringType), StructField("code/n_occurrences", LongType),
      StructField("code/n_patients", LongType), StructField("values/n_occurrences", LongType),
      StructField("values/sum", FloatType), StructField("values/sum_sqd", FloatType),
      StructField("description", StringType), StructField("parent_code", StringType)))
    val rws: Seq[Row] = rows.map(r => Row(r._1, r._2, r._3, r._4,
      if (r._5 == null) null else r._5.floatValue(),
      if (r._6 == null) null else r._6.floatValue(), r._7, r._8))
    spark.createDataFrame(rws.asJava, schema)
  }

  private val allIn = InTrain0 ++ InTrain1 ++ InTuning0 ++ InHeldOut0

  // --- comparison machinery -------------------------------------------------

  private def approxEq(got: Any, want: Any): Boolean = (got, want) match {
    case (null, null) => true
    case (g: Double, w: Double) =>
      (g.isNaN && w.isNaN) || math.abs(g - w) <= 1e-8 + 1e-5 * math.abs(w)
    case (g: java.lang.Double, w) => approxEq(g.doubleValue(), w)
    case (g, w: java.lang.Double) => approxEq(g, w.doubleValue())
    case (g, w) => g == w
  }

  private def assertRowsEq(got: Seq[Seq[Any]], want: Seq[Seq[Any]], ctx: String): Unit = {
    assert(got.size == want.size,
      s"$ctx: ${got.size} rows, want ${want.size}\n got: ${got.mkString("\n  ")}\nwant: ${want.mkString("\n  ")}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.size == w.size && g.lazyZip(w).forall(approxEq),
        s"$ctx row $i:\n got: $g\nwant: $w")
    }
  }

  /** Canonical (patient, time, code)-keyed multiset comparison for
    * transforms whose output order graft does not define.
    */
  private def sortKey(r: Seq[Any]): (Long, String, String) =
    (r.head.asInstanceOf[Long],
      Option(r(1)).map(_.toString).getOrElse(""),
      String.valueOf(r(2)))

  private def assertUnordered(got: DataFrame, want: Seq[Seq[Any]], ctx: String): Unit =
    assertRowsEq(
      got.collect().toSeq.map(_.toSeq).sortBy(sortKey),
      want.sortBy(sortKey), ctx)

  /** Ordered per-patient comparison. `got` must have a per-partition sort
    * with each patient's rows in one partition (graft's MEDS order
    * contract), so collect() preserves each patient's relative order.
    * Runs of rows tied on (time, ordKey) sort by code on both sides.
    */
  private def assertOrderedPerPatient(
      got: DataFrame, want: Seq[Seq[Any]], ordKey: Seq[Any] => Int, ctx: String): Unit = {
    def groupByPatient(rows: Seq[Seq[Any]]): Map[Long, Seq[Seq[Any]]] =
      rows.groupBy(_.head.asInstanceOf[Long])
    def canonTies(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = {
      def key(r: Seq[Any]) = (Option(r(1)).map(_.toString).getOrElse(""), ordKey(r))
      val out = Seq.newBuilder[Seq[Any]]
      var i = 0
      while (i < rows.size) {
        var j = i + 1
        while (j < rows.size && key(rows(j)) == key(rows(i))) j += 1
        out ++= rows.slice(i, j).sortBy(r => String.valueOf(r(2)))
        i = j
      }
      out.result()
    }
    val g = groupByPatient(got.collect().toSeq.map(_.toSeq))
    val w = groupByPatient(want)
    assert(g.keySet == w.keySet, s"$ctx: patients ${g.keySet} want ${w.keySet}")
    w.keySet.toSeq.sorted.foreach { p =>
      assertRowsEq(canonTies(g(p)), canonTies(w(p)), s"$ctx patient $p")
    }
  }

  private def canonical(df: DataFrame): DataFrame = {
    val extra = df.columns.filterNot(Meds.MandatoryColumns.contains).map(col)
    df.select(
      (Seq(col(Meds.PatientId), date_format(col(Meds.Time), TsFmt).as(Meds.Time),
        col(Meds.Code), col(Meds.NumericValue)) ++ extra): _*)
  }

  private def tup4(rows: Seq[(Long, String, String, java.lang.Double)]): Seq[Seq[Any]] =
    rows.map(r => Seq(r._1, r._2, r._3, r._4))
  private def tup4L(rows: Seq[(Long, String, Long, java.lang.Double)]): Seq[Seq[Any]] =
    rows.map(r => Seq(r._1, r._2, r._3, r._4))
  private def tup5(rows: Seq[(Long, String, String, java.lang.Double, java.lang.Boolean)]): Seq[Seq[Any]] =
    rows.map(r => Seq(r._1, r._2, r._3, r._4, r._5))

  // --- the golden tests -----------------------------------------------------

  test("filter_measurements: min_patients_per_code=2 matches the reference want-shards") {
    val got = Filters.filterMeasurements(
      medsDf(allIn), metaDf(CodeMetadataIn), minPatientsPerCode = Some(2L))
    val want = tup4(FilterMeasTrain0 ++ FilterMeasTrain1 ++ FilterMeasTuning0 ++ FilterMeasHeldOut0)
    assertUnordered(canonical(got), want, "filter_measurements")
  }

  test("filter_patients: min_events_per_patient=5 matches the reference want-shards") {
    val got = Filters.filterPatientsByNumEvents(medsDf(allIn), 5L)
    val want = tup4(FilterPatTrain0 ++ FilterPatTrain1 ++ FilterPatTuning0 ++ FilterPatHeldOut0)
    assertUnordered(canonical(got), want, "filter_patients")
  }

  test("add_time_derived_measurements: age + time_of_day matches the reference want-shards") {
    import TimeDerived._
    val got = addTimeDerivedMeasurements(
      medsDf(allIn),
      Seq(
        AgeConfig(Dob.Code("DOB"), ageCode = "AGE", ageUnit = "years"),
        TimeOfDayConfig(Seq(6, 12, 18), todCode = "TIME_OF_DAY")))
    val want = tup4(TimeDerivedTrain0 ++ TimeDerivedTrain1 ++ TimeDerivedTuning0 ++ TimeDerivedHeldOut0)
    // semantic order at one (patient, time): TIME_OF_DAY, then AGE, then
    // original measurements (sequential generator application,
    // add_time_derived_measurements.py:94-102)
    def ordKey(r: Seq[Any]): Int = String.valueOf(r(2)) match {
      case c if c.startsWith("TIME_OF_DAY//") => 0
      case "AGE"                              => 1
      case _                                  => 2
    }
    assertOrderedPerPatient(canonical(got), want, ordKey, "add_time_derived")
  }

  test("occlude_outliers: stddev_cutoff=1 matches the reference want-shards") {
    val got = Outliers.occludeOutliers(medsDf(allIn), metaDf(CodeMetadataIn), stddevCutoff = 1.0)
    val want = tup5(OccludeTrain0 ++ OccludeTrain1 ++ OccludeTuning0 ++ OccludeHeldOut0)
    assertUnordered(canonical(got), want, "occlude_outliers")
  }

  test("fit_vocabulary_indices: lexicographic ranks match the reference want frame") {
    val got = Vocabulary.lexicographicIndices(metaDf(CodeMetadataIn))
      .select(col("code"), col("code/n_occurrences"), col("code/n_patients"),
        col("values/n_occurrences"), col("values/sum").cast("double"),
        col("values/sum_sqd").cast("double"), col("description"), col("parent_code"),
        col("code/vocab_index"))
    val want = FitVocabWant.map(r =>
      Seq(r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9))
    assertRowsEq(
      got.collect().toSeq.map(_.toSeq).sortBy(r => String.valueOf(r.head)),
      want.sortBy(r => String.valueOf(r.head)),
      "fit_vocabulary_indices")
  }

  /** The reference computes code means/stds stepwise in float32 (numpy over
    * the fixture's float32 stat columns, test_normalization.py:43-51); graft
    * derives them in float64. For bit-level golden parity this test replays
    * the float32 chain in Scala `Float` arithmetic and feeds the results via
    * the operator's `values/mean`/`values/std` fast path — the remaining
    * arithmetic ((float64 value − mean) / std) is then identical in both
    * engines. The float64-derivation path is covered by the DuckDB oracle
    * (`q_normalize`).
    */
  private def f32MeanStd(n: Long, sum: java.lang.Double, sumSqd: java.lang.Double)
      : (java.lang.Double, java.lang.Double) =
    if (n == 0L || sum == null) (null, null)
    else {
      val nF = n.toFloat
      val mean: Float = sum.floatValue() / nF
      val variance: Float = sumSqd.floatValue() / nF - mean * mean
      val std: Float = math.sqrt(variance.toDouble).toFloat
      (java.lang.Double.valueOf(mean.toDouble), java.lang.Double.valueOf(std.toDouble))
    }

  test("normalization: z-scores + vocab indices match the reference want-shards") {
    val schema = StructType(Seq(
      StructField("code", StringType), StructField("code/vocab_index", LongType),
      StructField("values/mean", DoubleType), StructField("values/std", DoubleType)))
    val rws: Seq[Row] = NormMetadataIn.map { r =>
      val (mean, std) = f32MeanStd(r._4, r._5, r._6)
      Row(r._1, r._7, mean, std)
    }
    val meta = spark.createDataFrame(rws.asJava, schema)
    val got = Normalize.normalize(medsDf(allIn), meta)
    val want = tup4L(NormTrain0 ++ NormTrain1 ++ NormTuning0 ++ NormHeldOut0)
    assertUnordered(canonical(got), want, "normalization")
  }

  test("reorder_measurements: pattern-ordered events match the reference want-shards") {
    val patterns = Seq("ADMISSION.*", "TEMP", "HR", "EYE_COLOR//B.*", "HEIGHT", "DISCHARGE.*")
    val got = Reorder.reorderMeasurements(medsDf(allIn), metaDf(CodeMetadataIn), patterns)
    val want = tup4(ReorderTrain0 ++ ReorderTrain1 ++ ReorderTuning0 ++ ReorderHeldOut0)
    def ordKey(r: Seq[Any]): Int = {
      val c = String.valueOf(r(2))
      val i = patterns.indexWhere(p => p.r.findFirstIn(c).isDefined)
      if (i < 0) patterns.length else i
    }
    assertOrderedPerPatient(canonical(got), want, ordKey, "reorder_measurements")
  }

  // --- tokenization + tensorization over the normalized goldens -------------

  private val normIn = NormTrain0 ++ NormTrain1 ++ NormTuning0 ++ NormHeldOut0

  private val tsFormatter = java.time.format.DateTimeFormatter.ofPattern("MM/dd/uuuu, HH:mm:ss")
  private def micros(ts: String): Long =
    java.time.LocalDateTime.parse(ts, tsFormatter).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  /** Reference want-seqs derived from the published normalized want-shards:
    * per patient, events = unique non-null times ascending; per event, codes
    * ascending with aligned values; time_delta_days = NaN then day deltas
    * (test_tokenization.py:20-27, 47-108).
    */
  private case class WantSeq(
      times: Seq[String],
      deltas: Seq[Double],
      codes: Seq[Seq[Long]],
      values: Seq[Seq[Double]])

  private val wantSeqs: Map[Long, WantSeq] =
    normIn.filter(_._2 != null).groupBy(_._1).map { case (p, rows) =>
      val byTime = rows.groupBy(_._2).toSeq.sortBy(t => micros(t._1))
      val times = byTime.map(_._1)
      val deltas = Double.NaN +: times.sliding(2).map {
        case Seq(a, b) => (micros(b) - micros(a)) / (86400.0 * 1e6)
      }.toSeq
      val events = byTime.map(_._2.sortBy(_._3))
      val codes = events.map(_.map(_._3))
      val values = events.map(_.map(r => if (r._4 == null) Double.NaN else r._4.doubleValue()))
      p -> WantSeq(times, deltas, codes, values)
    }

  private val wantStatics: Map[Long, (Seq[Long], Seq[Double])] =
    normIn.filter(_._2 == null).groupBy(_._1).map { case (p, rows) =>
      val sorted = rows.sortBy(_._3)
      p -> (sorted.map(_._3),
        sorted.map(r => if (r._4 == null) Double.NaN else r._4.doubleValue()))
    }

  test("tokenization: statics + schema match the reference want frames") {
    val got = Tokenize.staticsAndSchema(medsDfL(normIn))
      .select(col(Meds.PatientId), col(Meds.Code), col(Meds.NumericValue),
        date_format(col("start_time"), TsFmt).as("start_time"),
        transform(col(Meds.Time), t => date_format(t, TsFmt)).as(Meds.Time))
      .collect().map(_.toSeq).toSeq
    assert(got.size == wantSeqs.size)
    got.foreach { r =>
      val p = r.head.asInstanceOf[Long]
      val (wc, wv) = wantStatics(p)
      val ws = wantSeqs(p)
      assert(r(1).asInstanceOf[scala.collection.Seq[Long]].toSeq == wc, s"static codes for $p")
      val gv = r(2).asInstanceOf[scala.collection.Seq[Any]].toSeq.map {
        case null => Double.NaN
        case d: java.lang.Double => d.doubleValue()
      }
      assert(gv.lazyZip(wv).forall(approxEq(_, _)), s"static values for $p: $gv vs $wv")
      assert(r(3) == ws.times.head, s"start_time for $p")
      assert(r(4).asInstanceOf[scala.collection.Seq[String]].toSeq == ws.times, s"times for $p")
    }
  }

  test("tokenization: per-patient event sequences match the reference want frames") {
    val got = Tokenize.seqOfPatientEvents(medsDfL(normIn)).collect().map(_.toSeq).toSeq
    assert(got.size == wantSeqs.size)
    got.foreach { r =>
      val p = r.head.asInstanceOf[Long]
      val ws = wantSeqs(p)
      val deltas = r(1).asInstanceOf[scala.collection.Seq[Double]].toSeq
      assert(deltas.lazyZip(ws.deltas).forall(approxEq(_, _)), s"deltas for $p: $deltas vs ${ws.deltas}")
      val gc = r(2).asInstanceOf[scala.collection.Seq[scala.collection.Seq[Long]]]
        .toSeq.map(_.toSeq)
      assert(gc == ws.codes, s"codes for $p")
      val gv = r(3).asInstanceOf[scala.collection.Seq[scala.collection.Seq[Any]]].toSeq.map(_.toSeq.map {
        case null => Double.NaN
        case d: java.lang.Double => d.doubleValue()
      })
      assert(gv.size == ws.values.size &&
        gv.lazyZip(ws.values).forall((a, b) => a.size == b.size && a.lazyZip(b).forall(approxEq(_, _))),
        s"values for $p: $gv vs ${ws.values}")
    }
  }

  test("tensorization: dense+mask round-trips the reference ragged want content") {
    val seqs = Tokenize.seqOfPatientEvents(medsDfL(normIn))
    val dense = Tensorize.toDense(seqs, maxEvents = 8, maxMeasurementsPerEvent = 3)
    dense.collect().foreach { r =>
      val p = r.getLong(r.fieldIndex(Meds.PatientId))
      val ws = wantSeqs(p)
      val n = r.getInt(r.fieldIndex("n_events"))
      assert(n == ws.times.size, s"n_events for $p")
      val eventMask = r.getSeq[Boolean](r.fieldIndex("event_mask")).toSeq
      assert(eventMask.count(identity) == n && eventMask.take(n).forall(identity))
      val deltas = r.getSeq[Double](r.fieldIndex("time_delta_days")).toSeq.take(n)
      assert(deltas.lazyZip(ws.deltas).forall(approxEq(_, _)), s"dense deltas for $p")
      val codes = r.getSeq[scala.collection.Seq[Long]](r.fieldIndex(Meds.Code)).toSeq
      val codeMask = r.getSeq[scala.collection.Seq[Boolean]](r.fieldIndex("code_mask")).toSeq
      val values = r.getSeq[scala.collection.Seq[Double]](r.fieldIndex(Meds.NumericValue)).toSeq
      val valueMask = r.getSeq[scala.collection.Seq[Boolean]](r.fieldIndex("numeric_value_mask")).toSeq
      (0 until n).foreach { e =>
        val k = codeMask(e).count(identity)
        assert(codes(e).take(k).toSeq == ws.codes(e), s"dense codes for $p event $e")
        val unpadded = values(e).take(k).toSeq.zip(valueMask(e).take(k).toSeq).map {
          case (v, true) => v
          case (_, false) => Double.NaN
        }
        assert(unpadded.lazyZip(ws.values(e)).forall(approxEq(_, _)),
          s"dense values for $p event $e: $unpadded vs ${ws.values(e)}")
      }
    }
  }
}
