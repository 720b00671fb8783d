package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the query catalog that building the `queries` and
  * `oracleSql` maps would otherwise hide: `toMap` silently keeps one of
  * two same-named definitions.
  */
class CatalogInvariantsSpec extends AnyFunSuite {

  test("query names are unique across all family files") {
    val dups = SparkEntry.all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    assert(dups.isEmpty, s"defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("the catalog holds exactly 398 queries") {
    assert(SparkEntry.all.size == 398)
    assert(SparkEntry.queries.size == 398)
  }

  test("q_compress is the only query without an oracle") {
    assert(SparkEntry.all.filter(_.oracleSql.isEmpty).map(_.name).toSet == Set("q_compress"))
    assert(SparkEntry.oracleSql.size == 397)
  }

  test("no family object is empty") {
    assert(SparkEntry.families.nonEmpty && SparkEntry.families.forall(_.nonEmpty))
  }
}
