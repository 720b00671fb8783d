package graft

import graft.catalog._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query catalog: one [[QueryDef]] per implemented operator from
  * SURVEY.md §2. Each definition carries its Spark builder and, next to
  * it, the ANSI-SQL oracle (DuckDB dialect) whose result on the same
  * parquet tables the builder's output is hash-compared with. Definitions
  * live in one object per operator family under `graft/catalog/`; this
  * object only indexes them.
  *
  * Verification conventions (SURVEY.md §5):
  *   - every aggregate / computed column is aliased identically on both
  *     sides;
  *   - timestamps are emitted as epoch MICROSECONDS (BIGINT) — engine-
  *     neutral, no parquet logical-type ambiguity;
  *   - floating sums go through DECIMAL(38,6) (associative, partitioning-
  *     independent) and are cast back to DOUBLE (`Portable.dsum`);
  *     ratios/z-scores are rounded by `Portable.r6`, floor(x·10⁶ + 0.5)/10⁶,
  *     in both engines — not `round(x, 6)`;
  *   - portable hashes only: md5 and md5-derived 32-bit ints.
  */
object SparkEntry {

  /** Every family's definitions, one entry per family object. */
  val families: Seq[Seq[QueryDef]] = Seq(
    MedsQueries.all,
    DedupQueries.all,
    AnnQueries.all,
    TextQueries.all,
    CurationQueries.all,
    RelationalQueries.all,
    TemporalQueries.all,
    QualityQueries.all,
    StatsQueries.all,
    GraphQueries.all)

  val all: Seq[QueryDef] = families.flatten

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracleSql.map(q.name -> _)).toMap

  /** Flagship: full code-metadata aggregation on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_code_metadata")(spark, "/root/testdata/sf0.001")
}
