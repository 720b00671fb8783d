package graft.meds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core MEDS data model: a measurement table with columns
  * `patient_id: long, time: timestamp (null => static), code: string,
  * numeric_value: float` plus optional code-modifier columns.
  *
  * Mirrors the schema contract enforced by the reference's
  * finalize_MEDS_data stage (reference:
  * src/MEDS_transforms/extract/finalize_MEDS_data.py:15-106), which casts
  * patient_id->Int64, time->Datetime(us), code->String,
  * numeric_value->Float32 and injects missing nullable time/numeric_value
  * columns.
  */
object Meds {
  val PatientId = "patient_id"
  val Time = "time"
  val Code = "code"
  val NumericValue = "numeric_value"
  val MandatoryColumns: Seq[String] = Seq(PatientId, Time, Code, NumericValue)

  /** Canonical MEDS mandatory column types (finalize_MEDS_data.py:78-92). */
  val MandatoryTypes: Map[String, DataType] = Map(
    PatientId -> LongType,
    Time -> TimestampType,
    Code -> StringType,
    NumericValue -> FloatType
  )

  /** Cast mandatory columns to canonical types, adding nullable
    * `time`/`numeric_value` if absent; keep extra columns after the
    * mandatory ones (finalize_MEDS_data.py:78-100).
    */
  def finalizeData(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    val mandatory = MandatoryColumns.map {
      case c if present.contains(c) => col(c).cast(MandatoryTypes(c)).as(c)
      case c if c == Time || c == NumericValue =>
        lit(null).cast(MandatoryTypes(c)).as(c)
      case c =>
        throw new IllegalArgumentException(s"MEDS data requires a '$c' column")
    }
    val extras = df.columns.filterNot(MandatoryColumns.contains).map(col)
    df.select(mandatory ++ extras: _*)
  }

  /** Canonical MEDS code-metadata schema cast
    * (reference: extract/finalize_MEDS_metadata.py:28-118): `code` and
    * `description` become strings, `parent_codes` becomes `array<string>`
    * (scalar values are wrapped in a single-element list, doctest
    * finalize_MEDS_metadata.py:56-74); missing mandatory columns are
    * injected as nulls; extra columns are preserved after the mandatory
    * ones.
    */
  def finalizeMetadata(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    val stringCols = Seq("code", "description").map { c =>
      (if (present.contains(c)) col(c).cast(StringType) else lit(null).cast(StringType)).as(c)
    }
    val parents =
      if (!present.contains("parent_codes")) lit(null).cast(ArrayType(StringType)).as("parent_codes")
      else df.schema("parent_codes").dataType match {
        case _: ArrayType => col("parent_codes").cast(ArrayType(StringType)).as("parent_codes")
        case _ =>
          when(col("parent_codes").isNotNull, array(col("parent_codes").cast(StringType)))
            .as("parent_codes")
      }
    val mandatory = Seq("code", "description", "parent_codes")
    val extras = df.columns.filterNot(mandatory.contains).map(col)
    df.select((stringCols :+ parents) ++ extras: _*)
  }

  /** Adapter: the driver's synthetic `events` table viewed as a MEDS
    * measurement table (user_id->patient_id, ts->time, event_type->code,
    * value->numeric_value).
    */
  def fromEvents(events: DataFrame): DataFrame =
    events.select(
      col("user_id").cast(LongType).as(PatientId),
      col("ts").cast(TimestampType).as(Time),
      col("event_type").as(Code),
      col("value").cast(DoubleType).as(NumericValue)
    )

  /** Split static (null time) from dynamic (non-null time) measurements
    * (reference: transforms/tokenization.py:59-104).
    */
  def splitStaticAndDynamic(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(col(Time).isNull).drop(Time), df.filter(col(Time).isNotNull))
}
