package graft

import graft.operators.Vocabulary
import org.apache.spark.sql.functions._

/** Round-13 regressions: the three round-12 ADVICE items plus the two
  * verdict fixes (the ObjectHashAggregate sort-fallback threshold and
  * the Verify artifact contract), each pinned so the failure mode
  * cannot silently return.
  */
class Round13FixSpec extends SparkSpec {
  import spark.implicits._

  test("vocab oracle SQL orders NULLS FIRST everywhere a rank is replayed") {
    // pre-fix: DuckDB's default ORDER BY is NULLS LAST while the Spark
    // leg (Vocabulary.lexicographicIndices, asc_nulls_first — the
    // reference's order) puts nulls first, so a null code in future
    // data would shift every DuckDB vocab index relative to Spark and
    // break the hash oracle silently. The same latent skew sat in the
    // tensorize per-event list sort keys (Spark's sort_array is
    // null-first; DuckDB list(... ORDER BY) is NULLS LAST).
    val vocabRanked = Seq("q_fit_vocab", "q_fit_vocab_scalable",
      "q_tensorize", "q_normalize", "q_meds_pipeline", "q_pipeline_config")
    vocabRanked.foreach { q =>
      val sql = SparkEntry.oracleSql(q)
      val bare = "OVER \\(ORDER BY (code|event_type)\\)".r
      assert(bare.findFirstIn(sql).isEmpty,
        s"$q: vocab rank without NULLS FIRST: ${bare.findFirstIn(sql)}")
      assert(sql.contains("NULLS FIRST"), s"$q: expected NULLS FIRST in the oracle SQL")
    }
    // the tensorize measurement lists: no bare `ORDER BY idx, val)` left
    val t = SparkEntry.oracleSql("q_tensorize")
    assert(!t.contains("ORDER BY idx, val)"),
      "q_tensorize list sort keys must carry NULLS FIRST")
    assert(t.contains("ORDER BY idx, val NULLS FIRST"))
  }

  test("lexicographicIndices is nulls-first and sort_array sorts null vals first (the contract the SQL now mirrors)") {
    val meta = Seq(Option("b"), Option("a"), Option.empty[String])
      .toDF("code")
    val idx = Vocabulary.lexicographicIndices(meta)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(idx(None) == 1L, "a null code must rank FIRST (index 1)")
    assert(idx(Some("a")) == 2L && idx(Some("b")) == 3L)
    // Spark's ascending array sort places null struct fields first —
    // the property the oracle's `val NULLS FIRST` key now replays
    val sorted = Seq(Seq((1L, Option(2.0)), (1L, Option.empty[Double]), (1L, Option(1.0))))
      .toDF("a")
      .select(sort_array(col("a")).as("s"))
      .selectExpr("transform(s, x -> x._2) AS vals")
      .as[Seq[Option[Double]]].head()
    assert(sorted == Seq(None, Some(1.0), Some(2.0)),
      s"sort_array must order null values first, got $sorted")
  }

  test("covarianceFrame: n < 2 fails loudly instead of emitting NaN/null covariance") {
    // pre-fix: the unbiased (n-1) divisor turned an empty or single-
    // vector input into silent NaN/Inf or null rows — diverging from
    // both fit's n >= 2 contract and the oracle's divide-by-zero.
    val one = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      graft.ann.Pca.covarianceFrame(one).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    assert(messages(e).exists(_.contains("at least 2 non-null vectors")),
      s"expected the loud n >= 2 error, got: $e")
    // n == 2 stays valid and exact: cov of {(0,0),(2,4)} = [[2,4],[4,8]]
    val two = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(2.0, 4.0))).toDF("vec_id", "embedding")
    val cov = graft.ann.Pca.covarianceFrame(two).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cov((0L, 0L)) == 2.0 && cov((0L, 1L)) == 4.0 && cov((1L, 1L)) == 8.0)
  }

  test("ObjectHashAggregate keeps the hash path: fallback threshold is raised in every graft session") {
    // pre-fix: Spark's 128-distinct-groups-per-task default made every
    // TypedImperativeAggregate consumer (TopKByScore under LOF, the
    // BoundedCollect* dedup buckets, KmvSketch, FrequentItems) silently
    // fall back to SORT-based aggregation — the sf10 LOF probe showed
    // 34.4 GB memory + 7.8 GB disk spill on a 0.8 GB shuffle, the exact
    // sort the fused plan exists to avoid.
    assert(SessionDefaults.configs(SessionDefaults.ObjectHashFallbackKey) == (1 << 21).toString)
    // the shared test session is built through SessionDefaults.applyTo
    assert(spark.conf.get(SessionDefaults.ObjectHashFallbackKey) == (1 << 21).toString)
    // an operator-provided value (spark-submit --conf lands in system
    // properties) must win over the default
    assert(SessionDefaults.effective(Map(SessionDefaults.ObjectHashFallbackKey -> "555")) ==
      SessionDefaults.configs - SessionDefaults.ObjectHashFallbackKey)
    assert(SessionDefaults.effective(Map.empty[String, String]) == SessionDefaults.configs)
  }

  test("Verify artifact contract: zero budget leaves parseable artifacts with everything skipped") {
    // pre-fix: graft.Verify dumped all 398 queries monolithically and
    // wrote oracle_sql.json once at the very end, so a driver kill on a
    // degraded host left NOTHING (CORRECTNESS_r12.json = {}).
    val out = java.nio.file.Files.createTempDirectory("graft-verify-skip")
    try {
      val s = Verify.run(spark, "/root/testdata/sf0.001", out.toString,
        Some(Set("q_fit_vocab", "q_histogram")), budgetSec = 0.0, nThreads = 2)
      assert(s.attempted.isEmpty && s.failed.isEmpty && s.skipped.size == 2)
      val oracle = java.nio.file.Files.readString(out.resolve("oracle_sql.json"))
      assert(oracle.trim == "{}", "an all-skipped run must leave an EMPTY but parseable oracle dump")
      val prog = java.nio.file.Files.readString(out.resolve("verify_progress.json"))
      assert(prog.contains("\"n_skipped\":2") && prog.contains("time budget"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }

  test("Verify artifact contract: a completed subset leaves a consistent partial dump; failures stay listed") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify-partial")
    try {
      val s = Verify.run(spark, "/root/testdata/sf0.001", out.toString,
        Some(Set("q_fit_vocab", "q_histogram")), budgetSec = 600.0, nThreads = 2)
      assert(s.attempted.toSet == Set("q_fit_vocab", "q_histogram") && s.failed.isEmpty)
      val oracle = java.nio.file.Files.readString(out.resolve("oracle_sql.json"))
      assert(oracle.contains("\"q_fit_vocab\"") && oracle.contains("\"q_histogram\""))
      assert(!oracle.contains("\"q_normalize\""),
        "the dump must list exactly the attempted queries — never unrun ones")
      assert(new java.io.File(out.toFile, "q_fit_vocab").isDirectory)
      assert(new java.io.File(out.toFile, "q_histogram").isDirectory)
      // a Spark-side failure (bogus data dir) stays LISTED so the DuckDB
      // compare reports the missing output loudly, never vanishes
      val out2 = java.nio.file.Files.createTempDirectory("graft-verify-fail")
      try {
        val f = Verify.run(spark, "/nonexistent-sf-dir", out2.toString,
          Some(Set("q_fit_vocab")), budgetSec = 600.0, nThreads = 1)
        assert(f.failed.contains("q_fit_vocab"))
        val o2 = java.nio.file.Files.readString(out2.resolve("oracle_sql.json"))
        assert(o2.contains("\"q_fit_vocab\""))
        assert(!new java.io.File(out2.toFile, "q_fit_vocab").isDirectory)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(out2.toFile)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }

  test("Verify.jsonStr escapes control characters; writeAtomic replaces in place") {
    assert(Verify.jsonStr(("a\"b\\c\nd\te\rf" + 1.toChar + "g")) ==
      "\"a\\\"b\\\\c\\nd\\te\\rf\\u0001g\"")
    val dir = java.nio.file.Files.createTempDirectory("graft-atomic")
    try {
      val p = dir.resolve("x.json").toString
      Verify.writeAtomic(p, "{\"a\":1}")
      Verify.writeAtomic(p, "{\"a\":2}")
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(p)) == "{\"a\":2}")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p + ".tmp")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("host canary: fixed work, plausible wall time, all three axes") {
    val cpu = Bench.hostCanarySec()
    assert(cpu > 0.05 && cpu < 60.0, s"CPU canary read $cpu s — not a plausible fixed-work time")
    val chase = Bench.hostCanaryChaseSec()
    assert(chase > 0.05 && chase < 120.0, s"chase canary read $chase s")
    // the chase must actually be memory-bound: ns/hop beyond any
    // in-cache latency (an accidental cache-resident ring would read <5)
    val nsPerHop = chase * 1e9 / Bench.ChaseHops
    assert(nsPerHop > 20.0, f"chase read $nsPerHop%.0f ns/hop — ring not DRAM-resident?")
  }
}
