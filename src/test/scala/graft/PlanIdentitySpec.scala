package graft

import graft.meds.Meds
import graft.operators.CodeMetadata
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Expand
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.when
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Plan identity: a query built again in the same session plans the same
  * physical operators, once the per-build ids are dropped the way
  * `dev/plan_diff.py` drops them. Spark's distinct-aggregate rewrite
  * numbers its `Expand` groups in expression-id hash order, so a plan that
  * goes through it changes shape from one build to the next, and each
  * shape compiles its own code.
  */
class PlanIdentitySpec extends SparkSpec {
  import spark.implicits._

  private val Builds = 8

  /** A small `events.parquet` in a fresh directory: the catalog reads its
    * input by directory, and plan identity does not depend on the data.
    */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_plan_identity").toString
    def ts(s: String) = Timestamp.valueOf(s)
    Seq(
      (1L, ts("2020-01-01 10:00:00"), 1L, "click", Some(1.5), "{}"),
      (2L, ts("2020-01-02 11:00:00"), 1L, "view", None, "{}"),
      (3L, ts("2020-01-03 12:00:00"), 2L, "click", Some(2.0), "{}"),
      (4L, ts("2020-01-04 13:00:00"), 3L, "purchase", Some(-4.25), "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  /** `dev/plan_diff.py`'s rules, `dev/plan_noise.tsv`: expression, plan,
    * lambda, common-expression and RDD counters and identity hashes. A
    * rule is a regex, a tab and its replacement, whose Python `\1` group
    * references become Java's `$1`.
    */
  private val Noise: Seq[(String, String)] =
    Files.readAllLines(Paths.get("dev/plan_noise.tsv")).asScala.toSeq
      .filter(_.trim.nonEmpty).map { line =>
        val Array(pattern, to) = line.split("\t", -1)
        pattern -> to.replaceAll("""\\(\d)""", """\$$1""")
      }

  private def normalised(df: DataFrame): String =
    Noise.foldLeft(df.queryExecution.explainString(FormattedMode)) {
      case (plan, (pattern, to)) => plan.replaceAll(pattern, to)
    }

  for (query <- Seq("q_agg_code_metadata", "q_agg_all_codes", "q_agg_merge"))
    test(s"$query plans the same physical plan in $Builds builds in one session") {
      val plans = Seq.fill(Builds)(normalised(SparkEntry.queries(query)(spark, dir)))
      assert(plans.distinct.size == 1, s"${plans.distinct.size} distinct plans in $Builds builds")
    }

  test("CodeMetadata plans no Expand but the all-codes rollup's") {
    val meds = Meds.fromEvents(graft.sources.Tables.events(spark, dir))
      .withColumn("unit", when($"numeric_value" > 0, "pos"))
    def expands(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case e: Expand => e }.size
    val subsets = Seq(
      CodeMetadata.aggregationNames,
      Seq(CodeMetadata.CodeNPatients, CodeMetadata.ValuesNPatients),
      Seq(CodeMetadata.CodeNPatients, CodeMetadata.ValuesSum),
      Seq(CodeMetadata.ValuesNOccurrences, CodeMetadata.ValuesSum, CodeMetadata.ValuesSumSqd))
    val found = for {
      aggs <- subsets
      mods <- Seq(Nil, Seq("unit"))
      overAll <- Seq(false, true)
      n = expands(CodeMetadata.aggregate(meds, aggs, mods, overAll))
      if n != (if (overAll) 1 else 0)
    } yield s"aggs=$aggs mods=$mods overAll=$overAll: $n Expand"
    val merged = CodeMetadata.mergePartials(Seq(0, 1).map { p =>
      CodeMetadata.aggregate(meds.filter($"patient_id" % 2 === p))
    })
    val problems = found ++ Some(expands(merged)).filter(_ > 0).map(n => s"mergePartials: $n Expand")
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
