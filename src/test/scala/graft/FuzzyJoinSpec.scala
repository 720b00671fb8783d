package graft

import graft.operators.FuzzyJoin

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private val names = Seq(
    "red widget", "red widgit", "blue widget", "ivory bolt", "Red Widget", // dup after lowercasing
    "green anvil"
  ).toDF("name")

  test("fuzzyPairs finds blocked pairs within the edit budget") {
    val out = FuzzyJoin.fuzzyPairs(names, "name", maxDist = 2)
      .as[(String, String, Long)].collect().toSet
    // "blue widget"/"red widget" share a token but sit 3 edits apart →
    // excluded; "red widgit" shares no token with "blue widget".
    assert(out == Set(("red widget", "red widgit", 1L)))
    assert(out.forall { case (a, b, _) => a < b })
  }

  test("pairs sharing no token are never compared (blocking semantics)") {
    val out = FuzzyJoin.fuzzyPairs(
      Seq("abcde", "abcdf").toDF("name"), "name", maxDist = 5)
      .collect()
    assert(out.isEmpty) // 1 edit apart but zero shared tokens
  }

  test("token df cap drops stopword-grade blocks") {
    // "red" appears in 3 names; cap at 2 removes all red-blocked pairs
    val capped = FuzzyJoin.fuzzyPairs(
      Seq("red a", "red b", "red c").toDF("name"), "name", maxDist = 5, maxTokenDf = 2)
      .collect()
    assert(capped.isEmpty)
  }

  test("linkRecords maps dictionary pairs back to record ids") {
    val recs = Seq(
      (10L, "red widget"), (11L, "RED WIDGET"), (20L, "red widgit"))
      .toDF("id", "nm")
    val out = FuzzyJoin.linkRecords(recs, "id", "nm", maxDist = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // both spellings of "red widget" link to 20, AND the two identical
    // values link to each other at distance 0
    assert(out == Set((10L, 20L), (11L, 20L), (10L, 11L)))
  }

  test("linkRecords pairs rows with identical values at distance 0") {
    val recs = Seq(
      (3L, "ivory bolt"), (1L, "ivory bolt"), (2L, "ivory bolt"), (9L, "lone name"))
      .toDF("id", "nm")
    val out = FuzzyJoin.linkRecords(recs, "id", "nm", maxDist = 0)
      .as[(Long, Long, String, String, Long)].collect().toSet
    assert(out == Set(
      (1L, 2L, "ivory bolt", "ivory bolt", 0L),
      (1L, 3L, "ivory bolt", "ivory bolt", 0L),
      (2L, 3L, "ivory bolt", "ivory bolt", 0L)))
  }

  test("hot identical values past the cap are dropped from same-name pairing whole") {
    val recs = ((1L to 5L).map(i => (i, "unknown")) ++ (21L to 24L).map(i => (i, "edge")) :+
      (9L -> "rare") :+ (10L -> "rare"))
      .toDF("id", "nm")
    val out = FuzzyJoin.linkRecords(recs, "id", "nm", maxDist = 0, maxSameNameRows = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // "unknown" x5 is one past the cap of 4; "edge" x4 sits exactly at it
    val edge = for (a <- 21L to 24L; b <- a + 1 to 24L) yield (a, b)
    assert(out == Set((9L, 10L)) ++ edge)
  }
}
