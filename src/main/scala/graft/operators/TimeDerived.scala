package graft.operators

import graft.meds.Meds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-derived measurement generators (age, time-of-day) and the
  * combinator that folds the generated events back into the cohort.
  *
  * Reference: src/MEDS_transforms/transforms/add_time_derived_measurements.py
  */
object TimeDerived {

  /** Canonical time units with their accepted aliases and average length in
    * seconds (add_time_derived_measurements.py:105-113). Average-length:
    * a "month"/"year" is the mean calendar duration, not a local calendar
    * offset — approximate durations over long spans, per the reference.
    */
  val TimeDurationUnits: Seq[(String, Seq[String], Double)] = Seq(
    ("seconds", Seq("s", "sec", "secs", "second", "seconds"), 1d),
    ("minutes", Seq("m", "min", "mins", "minute", "minutes"), 60d),
    ("hours", Seq("h", "hr", "hrs", "hour", "hours"), 3600d),
    ("days", Seq("d", "day", "days"), 86400d),
    ("weeks", Seq("w", "wk", "wks", "week", "weeks"), 604800d),
    ("months", Seq("mo", "mos", "month", "months"), 86400d * 30.436875),
    ("years", Seq("y", "yr", "yrs", "year", "years"), 86400d * 365.2422)
  )

  /** Canonical-name → seconds view of [[TimeDurationUnits]]. */
  val TimeUnitSeconds: Map[String, Double] =
    TimeDurationUnits.map { case (name, _, sec) => name -> sec }.toMap

  /** Normalize a unit string ("yrs", "min", …) to (canonical name,
    * seconds) (add_time_derived_measurements.py:116-170).
    */
  def normalizeTimeUnit(unit: String): (String, Double) =
    TimeDurationUnits
      .collectFirst { case (name, aliases, sec) if aliases.contains(unit) => (name, sec) }
      .getOrElse {
        val valid = TimeDurationUnits
          .map { case (name, aliases, _) => s"  * $name: ${aliases.mkString(", ")}" }
          .mkString("\n")
        throw new IllegalArgumentException(s"Unknown time unit '$unit'. Valid units include:\n$valid")
      }

  /** Emit one AGE event per (patient, unique non-null time), where age is
    * the time elapsed since the patient's birth event in `ageUnit`s,
    * keeping only strictly-positive ages
    * (add_time_derived_measurements.py:250-265).
    *
    * `dob` generalizes the reference's `DOB_code` lookup: `Dob.Code("DOB")`
    * for reference semantics, or `Dob.FirstEvent` for datasets without
    * explicit birth events.
    *
    * Shape: the per-patient DOB is a narrow AGGREGATE over the non-null-
    * time rows, null-safe-joined onto the distinct (patient, time) frame —
    * not a patient-window min. A partition-only window makes WindowExec
    * sort the full-width cohort by patient_id (part of q_meds_pipeline's
    * measured 27.8 GB sf100 sort spill); the aggregate shuffles only
    * (patient_id, dob) and the join touches the already-deduplicated key
    * frame. Same values: the window min over the filtered frame IS the
    * per-patient aggregate min over the same rows, and `<=>` keeps a NULL
    * patient_id as one shared group exactly like the window partition did.
    */
  def ageEvents(
      df: DataFrame,
      dob: Dob,
      ageCode: String = "AGE",
      ageUnit: String = "years"
  ): DataFrame = {
    val (_, unitSec) = normalizeTimeUnit(ageUnit)
    val microsInUnit = 1e6 * unitSec
    val nonNull = df.filter(col(Meds.Time).isNotNull)
    val keys = nonNull
      .select(col(Meds.PatientId), col(Meds.Time))
      .dropDuplicates(Meds.PatientId, Meds.Time)
    val dobs = dob match {
      case Dob.FirstEvent =>
        // first-event DOB reads only (patient, time): min over the
        // DISTINCT key set equals min over the multiset, so aggregate
        // the dedup frame itself — the cohort is scanned once and the
        // dedup exchange is shared (ReusedExchange) instead of paying a
        // second full scan + window sort of the upstream chain
        keys.groupBy(col(Meds.PatientId).as("__pid"))
          .agg(min(col(Meds.Time)).as("__dob"))
      case Dob.Code(code) => nonNull
        .groupBy(col(Meds.PatientId).as("__pid"))
        .agg(min(when(col(Meds.Code) === code, col(Meds.Time))).as("__dob"))
    }
    keys
      .join(dobs.hint("shuffle_hash"), col(Meds.PatientId) <=> col("__pid"), "inner")
      .select(
        col(Meds.PatientId),
        col(Meds.Time),
        lit(ageCode).as(Meds.Code),
        ((unix_micros(col(Meds.Time)) - unix_micros(col("__dob"))) / microsInUnit)
          .as(Meds.NumericValue)
      )
      .filter(col(Meds.NumericValue).isNotNull && col(Meds.NumericValue) > 0)
  }

  /** Where [[ageEvents]] anchors each patient's date of birth. */
  sealed trait Dob
  object Dob {
    /** The patient's first observed time (for cohorts without birth
      * events; an extension beyond the reference).
      */
    case object FirstEvent extends Dob

    /** The earliest time of the patient's `code` events
      * (add_time_derived_measurements.py:251).
      */
    final case class Code(code: String) extends Dob
  }

  /** Emit one time-of-day bucket event per (patient, unique non-null time):
    * code = s"$todCode//[HH,HH)" by hour endpoints
    * (add_time_derived_measurements.py:342-361).
    */
  def timeOfDayEvents(
      df: DataFrame,
      endpoints: Seq[Int] = Seq(6, 12, 18),
      todCode: String = "time_of_day"
  ): DataFrame = {
    require(endpoints.nonEmpty && endpoints == endpoints.sorted && endpoints.distinct == endpoints,
      s"endpoints must be sorted and unique, got $endpoints")
    require(endpoints.forall(e => e >= 0 && e <= 24), s"endpoints must be in [0,24], got $endpoints")
    val hour = org.apache.spark.sql.functions.hour(col(Meds.Time))
    def codeFor(a: Int, b: Int) = lit(f"$todCode//[$a%02d,$b%02d)")
    val bounds = (0 +: endpoints) :+ 24
    val codeExpr = bounds.sliding(2).foldLeft(lit(null).cast("string")) {
      case (acc, Seq(a, b)) => when(hour >= a && hour < b, codeFor(a, b)).otherwise(acc)
      case (acc, _)         => acc
    }
    df.filter(col(Meds.Time).isNotNull)
      .select(col(Meds.PatientId), col(Meds.Time))
      .dropDuplicates(Meds.PatientId, Meds.Time)
      .select(col(Meds.PatientId), col(Meds.Time), codeExpr.as(Meds.Code))
  }

  /** One time-derived generator's configuration — the Spark analog of the
    * reference's per-feature stage config blocks
    * (add_time_derived_measurements.py:366-380).
    */
  sealed trait TimeDerivedConfig
  final case class AgeConfig(
      dob: Dob,
      ageCode: String = "AGE",
      ageUnit: String = "years"
  ) extends TimeDerivedConfig
  final case class TimeOfDayConfig(
      endpoints: Seq[Int] = Seq(6, 12, 18),
      todCode: String = "time_of_day"
  ) extends TimeDerivedConfig

  /** Apply several time-derived generators as ONE stage
    * (add_time_derived_measurements.py:366-391: compute_fns applied in
    * sequence, each prepending its events at a (patient, time) key).
    *
    * The reference folds [[addNewEvents]] per generator — each fold re-sorts
    * the whole frame. Because every generator reads only the (patient, time)
    * key set, which no generator changes, generating all event frames from
    * the input and unioning once is semantically identical and costs a
    * single shuffle instead of one per generator. Sequential application
    * puts the LAST generator's rows first within a time key, so generator
    * `i` of `n` gets order rank `n-1-i` and original rows rank `n`.
    */
  def addTimeDerivedMeasurements(df: DataFrame, configs: Seq[TimeDerivedConfig]): DataFrame = {
    require(configs.nonEmpty, "addTimeDerivedMeasurements needs at least one generator config")
    val n = configs.size
    val cols = df.columns
    val tagged = configs.zipWithIndex.map { case (cfg, i) =>
      val events = cfg match {
        case AgeConfig(dob, code, unit)      => ageEvents(df, dob, code, unit)
        case TimeOfDayConfig(endpoints, tod) => timeOfDayEvents(df, endpoints, tod)
      }
      val padded = cols.foldLeft(events) { (acc, c) =>
        if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null))
      }
      padded.select(cols.map(col): _*).withColumn("__ord", lit(n - 1 - i))
    }
    tagged
      .foldLeft(df.withColumn("__ord", lit(n)))(_ unionByName _)
      .repartition(col(Meds.PatientId))
      .sortWithinPartitions(col(Meds.PatientId), col(Meds.Time), col("__ord"))
      .drop("__ord")
  }

  /** Fold generated events back into the cohort in MEDS order, with new
    * events sorting before the original rows at the same (patient, time)
    * (add_time_derived_measurements.py:94-102: new events get row index 0).
    */
  def addNewEvents(df: DataFrame, newEvents: DataFrame): DataFrame = {
    val cols = df.columns
    val padded = cols.foldLeft(newEvents) { (acc, c) =>
      if (acc.columns.contains(c)) acc else acc.withColumn(c, lit(null))
    }
    df.withColumn("__new", lit(1))
      .unionByName(padded.select(cols.map(col): _*).withColumn("__new", lit(0)))
      .repartition(col(Meds.PatientId))
      .sortWithinPartitions(col(Meds.PatientId), col(Meds.Time), col("__new"))
      .drop("__new")
  }
}
