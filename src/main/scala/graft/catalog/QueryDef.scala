package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, the Spark builder over an sf directory,
  * and the DuckDB-dialect oracle SQL whose result its output is
  * hash-compared with (`None` = checked by row count only).
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: Option[String])

object QueryDef {
  def apply(name: String, build: (SparkSession, String) => DataFrame, oracleSql: String): QueryDef =
    QueryDef(name, build, Some(oracleSql))
}
