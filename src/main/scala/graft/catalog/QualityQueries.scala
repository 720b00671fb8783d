package graft
package catalog

import graft.operators._
import graft.sources.Tables
import graft.text.TextFunctions
import Shared._
import org.apache.spark.sql.functions._

/** Data quality: profiling, expectations, integrity and privacy audits,
  * sketches, drift and imputation.
  */
object QualityQueries {

  /** Expectation suite shared by the Spark query and the oracle SQL
    * generator — one definition, two renderings.
    */
  private val expectRules: Seq[Validate.Expectation] = Seq(
    Validate.Expectation("known_core_type", col("event_type").isin("click", "view", "purchase")),
    Validate.Expectation("ts_present", col("ts").isNotNull),
    Validate.Expectation("user_id_present", col("user_id").isNotNull),
    Validate.Expectation("value_finite", col("value").isNotNull && !isnan(col("value"))),
    Validate.Expectation("value_le_100", col("value") <= 100)
  )

  /** DuckDB rendering of [[expectRules]] (same names, same order). */
  private val expectRulesSql: Seq[(String, String)] = Seq(
    "known_core_type" -> "event_type IN ('click','view','purchase')",
    "ts_present" -> "ts IS NOT NULL",
    "user_id_present" -> "user_id IS NOT NULL",
    "value_finite" -> "value IS NOT NULL AND NOT isnan(value)",
    "value_le_100" -> "value <= 100"
  )

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_fk_audit", (s, dir) =>
      Integrity.fkAuditAll(Seq(
        ("lineitem.orderkey", Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
        ("orders.custkey", Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey"),
        ("customer.nationkey", Tables.customer(s, dir), "c_nationkey", Tables.nation(s, dir), "n_nationkey")
      )),
      s"""WITH a AS (SELECT 'lineitem.orderkey' AS relation, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
        |    CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey),
        |b AS (SELECT 'orders.custkey' AS relation, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
        |    CAST(sum(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey),
        |cta AS (SELECT 'customer.nationkey' AS relation, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
        |    CAST(sum(CASE WHEN c.c_nationkey IS NOT NULL AND n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n ON c.c_nationkey = n.n_nationkey)
        |SELECT relation, n_rows, n_null_fk, n_orphans,
        |  ${r6("CAST(n_orphans AS DOUBLE)/CAST(greatest(n_rows,1) AS DOUBLE)")} AS orphan_frac
        |FROM (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM cta)""".stripMargin),

    // Benford first-digit audit over event values
    QueryDef("q_benford", (s, dir) =>
      Benford.firstDigitAudit(ev(s, dir), Seq("event_type"), "value")
        .select(col("event_type"), col("digit"), col("n"),
          graft.functions.Portable.r6(col("obs_frac")).as("obs_frac"),
          graft.functions.Portable.r6(col("exp_frac")).as("exp_frac"),
          graft.functions.Portable.r6(col("chi2")).as("chi2")),
      s"""WITH f AS (SELECT event_type,
         |    CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 1 AND value < 1e18),
         |c AS (SELECT event_type, digit, count(*) AS n FROM f GROUP BY 1, 2),
         |grid AS (SELECT event_type, unnest(range(1, 10)) AS digit FROM (SELECT DISTINCT event_type FROM c)),
         |fu AS (SELECT grid.event_type, CAST(grid.digit AS INTEGER) AS digit, CAST(coalesce(n, 0) AS BIGINT) AS n
         |  FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.digit = c.digit),
         |t AS (SELECT *, sum(n) OVER (PARTITION BY event_type) AS total,
         |    ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE)/CAST(digit AS DOUBLE)) / ln(CAST(10 AS DOUBLE)) AS ef
         |  FROM fu),
         |h AS (SELECT *, ${r6(
                "(CAST(n AS DOUBLE) - ef * CAST(total AS DOUBLE)) * (CAST(n AS DOUBLE) - ef * CAST(total AS DOUBLE)) / (ef * CAST(total AS DOUBLE))")} AS term FROM t)
         |SELECT event_type, digit, n,
         |  ${r6("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)")} AS obs_frac,
         |  ${r6("ef")} AS exp_frac,
         |  ${r6(
                "CAST(sum(CAST(term AS DECIMAL(38,6))) OVER (PARTITION BY event_type) AS DOUBLE)")} AS chi2
         |FROM h""".stripMargin),

    // one-pass multi-column table profile (data-validation stage)
    QueryDef("q_profile", (s, dir) =>
      Profile.profile(
        ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))),
      {
      def c(name: String, numExpr: Option[String], strExpr: Option[String]) =
        s"""SELECT '$name' AS col_name, count(*) AS n,
           |  count(*) - count($name) AS n_null, count(DISTINCT $name) AS n_distinct,
           |  ${numExpr.map(e => s"CAST(min($e) AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")} AS min_num,
           |  ${numExpr.map(e => s"CAST(max($e) AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")} AS max_num,
           |  ${strExpr.map(e => s"min($e)").getOrElse("CAST(NULL AS VARCHAR)")} AS min_str,
           |  ${strExpr.map(e => s"max($e)").getOrElse("CAST(NULL AS VARCHAR)")} AS max_str
           |FROM events""".stripMargin
      Seq(
        c("event_id", Some("event_id"), None),
        c("user_id", Some("user_id"), None),
        c("event_type", None, Some("event_type")),
        c("value", Some("value"), None),
        c("ts", Some("epoch_us(ts)"), None)
      ).mkString("\n", "\nUNION ALL\n", "")
    }),

    // expectation suite over events: k rules, ONE scan. Two rules pass
    // clean and two fire, so both count paths are exercised.
    QueryDef("q_expect", (s, dir) =>
      Validate.violations(ev(s, dir), expectRules).orderBy("rule"),
      expectRulesSql.map { case (name, holds) =>
        s"""SELECT '$name' AS rule, count(*) AS n_rows,
           |  count(CASE WHEN NOT coalesce($holds, FALSE) THEN 1 END) AS n_violations,
           |  ${r6(s"count(CASE WHEN NOT coalesce($holds, FALSE) THEN 1 END) / greatest(count(*), 1)")} AS violation_frac
           |FROM events""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "\nORDER BY rule")),

    // fixed-width value histogram per event type
    QueryDef("q_histogram", (s, dir) =>
      Profile.histogram(ev(s, dir), "value", width = 50.0, by = Seq("event_type")),
      """SELECT event_type, CAST(floor(value/50) AS BIGINT) AS bin,
        |  CAST(floor(value/50) AS BIGINT) * CAST(50.0 AS DOUBLE) AS bin_lo, count(*) AS n
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1, 2, 3""".stripMargin),

    // mergeable HLL distinct-count sketches, range-asserted (round-10
    // verdict item): the partial-merge-estimate path runs in full, and
    // the ESTIMATE is checked against the exact distinct inside a
    // hash-verified boolean band (|est − n| ≤ 5%·n + 2 ≈ 3σ at lgK=12,
    // deterministic for fixed data) — estimator drift now fails the
    // oracle instead of hiding behind a rows-only check. The raw
    // sketch-binary merge contract stays pinned by SketchesSpec.
    QueryDef("q_hll", { (s, dir) =>
      val events = ev(s, dir)
      Sketches
        .estimate(Sketches.distinctSketchPartials(events, Seq("event_type"), "user_id"))
        .join(events.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_distinct")), "event_type")
        .select(col("event_type"), col("n_distinct"),
          (abs(col("n_distinct_est") - col("n_distinct").cast("double")) <=
            col("n_distinct").cast("double") * 0.05 + 2.0).as("est_within_band"))
    },
      // the exact distinct is the oracle-checkable half; the sketch
      // estimate is asserted inside the hash via the boolean band
      // (both engines emit TRUE iff the estimate is sane — a drifted
      // estimator flips Spark's flag and the hash catches it)
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct,
        |TRUE AS est_within_band FROM events GROUP BY 1""".stripMargin),

    // two-pass exact heavy hitters: MG sketch candidates + broadcast
    // recount; oracle is the plain exact GROUP BY ... HAVING. k=4096
    // keeps threshold*(k+1) ≈ 3.7M tokens above sf1's ~2.7M, so the
    // loud miss-bound guard stays clear at every driver scale factor
    QueryDef("q_heavy_hitters", (s, dir) =>
      HeavyHitters.exactHeavyHitters(
        docs(s, dir).select(explode(graft.text.TextFunctions.wordTokens(col("text"))).as("tok")),
        "tok", k = 4096, threshold = 900L),
      s"""WITH t AS (SELECT unnest(${wordTokensSql("text")}) AS tok FROM documents)
        |SELECT tok, count(*) AS n FROM t GROUP BY 1 HAVING count(*) >= 900""".stripMargin),

    // count-min sketch (4x64) point estimates of per-user event counts
    QueryDef("q_cms", { (s, dir) =>
      val sk = Sketches.countMinTable(ev(s, dir), "user_id", 4, 64)
      Sketches.countMinEstimate(sk, ev(s, dir), "user_id", 4, 64)
        .select(col("i").as("user_id"), col("est"))
    },
      s"""WITH d AS (SELECT unnest([0, 1, 2, 3]) AS j),
         |s AS (SELECT j, ${h32("concat(j, '#', CAST(user_id AS VARCHAR))")} % 64 AS b, count(*) AS n
         |  FROM events, d GROUP BY 1, 2),
         |k AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS i FROM events),
         |e AS (SELECT i, j, ${h32("concat(j, '#', i)")} % 64 AS b FROM k, d)
         |SELECT i AS user_id, CAST(min(coalesce(n, 0)) AS BIGINT) AS est
         |FROM e LEFT JOIN s USING (j, b) GROUP BY 1""".stripMargin),

    // per-code mean imputation over deterministically nulled values
    QueryDef("q_impute", (s, dir) =>
      Impute
        .meanImpute(
          medsE(s, dir).withColumn("numeric_value",
            when(col("event_id") % 97 === 0, lit(null)).otherwise(col("numeric_value"))),
          Seq("code"), "numeric_value")
        .select(col("event_id"), col("code"),
          graft.functions.Portable.r6(col("numeric_value")).as("numeric_value"),
          col("numeric_value/imputed").as("imputed")),
      s"""WITH v AS (SELECT event_id, event_type AS code,
        |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value FROM events),
        |m AS (SELECT code,
        |  count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 END) AS n,
        |  CAST(coalesce(sum(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s
        |  FROM v GROUP BY 1)
        |SELECT event_id, v.code AS code,
        |  ${r6("CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value WHEN n > 0 THEN s / n END")} AS numeric_value,
        |  CAST(CASE WHEN (value IS NULL OR isnan(value)) AND n > 0 THEN 1 ELSE 0 END AS BIGINT) AS imputed
        |FROM v JOIN m ON v.code IS NOT DISTINCT FROM m.code""".stripMargin),

    // per-code exact R-7 quantile summary (p25/p50/p75/p90/p99)
    QueryDef("q_quantiles", (s, dir) =>
      Profile.quantileSummary(medsE(s, dir), Seq("code"), "numeric_value", QuantilePs)
        .select(col("code"), col("p"),
          graft.functions.Portable.r6(col("q")).as("q")),
      {
      // DOUBLE-cast probes: DuckDB decimal literals would interpolate
      // on exact 0.9 while Spark interpolates on double 0.9
      val ps = QuantilePs.map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH q AS (SELECT event_type AS code, quantile_cont(value, $ps) AS qs
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1)
         |SELECT code, unnest($ps) AS p,
         |  ${r6("unnest(qs)")} AS q
         |FROM q""".stripMargin
    }),

    // cross-source quantile normalization of doc length onto the
    // corpus distribution (20 reference quantiles, rank tie-break doc_id)
    QueryDef("q_qnorm", (s, dir) =>
      QuantileNormalize.quantileNormalize(docs(s, dir), "source", "doc_id", "n_chars", nBins = 20)
        .select(col("id").as("doc_id"), col("group").as("source"), col("value"),
          graft.functions.Portable.r6(col("pr")).as("pr"), col("bin"),
          graft.functions.Portable.r6(col("norm")).as("norm")),
      {
      val probes = (1 to 20).map(b => s"CAST($b AS DOUBLE) / 20").mkString("[", ", ", "]")
      s"""WITH v AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS value FROM documents
         |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |ref AS (SELECT quantile_cont(value, $probes) AS r FROM v),
         |p AS (SELECT doc_id, source, value,
         |        percent_rank() OVER (PARTITION BY source ORDER BY value, doc_id) AS pr
         |      FROM v),
         |b AS (SELECT doc_id, source, value, pr,
         |        greatest(1, least(20, CAST(ceil(pr * 20) AS BIGINT))) AS bin
         |      FROM p)
         |SELECT doc_id, source, value,
         |  ${r6("pr")} AS pr, bin,
         |  ${r6("r[CAST(bin AS INT)]")} AS norm
         |FROM b, ref""".stripMargin
    }),

    // k-anonymity audit over the (lang, source, length-bucket)
    // quasi-identifier: re-identification risk report at k = 5
    QueryDef("q_kanon", (s, dir) =>
      Integrity.kAnonymity(
          docs(s, dir).withColumn("len_bucket", floor(col("n_chars") / 100).cast("long")),
          Seq("lang", "source", "len_bucket"), k = 5L)
        .select(col("k"), col("n_rows"), col("n_classes"), col("n_singletons"),
          col("n_rows_at_risk"), col("min_class_size"),
          graft.functions.Portable.r6(col("frac_at_risk")).as("frac_at_risk")),
      s"""WITH c AS (SELECT lang, source, n_chars // 100 AS len_bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |m AS (SELECT CAST(5 AS BIGINT) AS k,
        |        CAST(sum(n) AS BIGINT) AS n_rows,
        |        CAST(count(*) AS BIGINT) AS n_classes,
        |        CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_singletons,
        |        CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT) AS n_rows_at_risk,
        |        CAST(min(n) AS BIGINT) AS min_class_size
        |      FROM c)
        |SELECT k, n_rows, n_classes, n_singletons, n_rows_at_risk, min_class_size,
        |  ${r6("CAST(n_rows_at_risk AS DOUBLE) / CAST(n_rows AS DOUBLE)")} AS frac_at_risk
        |FROM m""".stripMargin),

    // l-diversity of source within (lang, length-bucket) classes — the
    // homogeneity-attack complement of q_kanon
    QueryDef("q_ldiv", (s, dir) =>
      Integrity.lDiversity(
          docs(s, dir).withColumn("len_bucket", floor(col("n_chars") / 100).cast("long")),
          Seq("lang", "len_bucket"), "source", l = 3L)
        .select(col("l"), col("n_rows"), col("n_classes"), col("n_classes_below_l"),
          col("n_rows_at_risk"), col("min_diversity"),
          graft.functions.Portable.r6(col("frac_at_risk")).as("frac_at_risk")),
      s"""WITH c AS (SELECT lang, n_chars // 100 AS len_bucket,
        |    CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT source) AS BIGINT) AS ndv
        |  FROM documents GROUP BY 1, 2)
        |SELECT CAST(3 AS BIGINT) AS l,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(count(CASE WHEN ndv < 3 THEN 1 END) AS BIGINT) AS n_classes_below_l,
        |  CAST(coalesce(sum(CASE WHEN ndv < 3 THEN n END), 0) AS BIGINT) AS n_rows_at_risk,
        |  CAST(min(ndv) AS BIGINT) AS min_diversity,
        |  ${r6("CAST(coalesce(sum(CASE WHEN ndv < 3 THEN n END), 0) AS DOUBLE) / CAST(sum(n) AS DOUBLE)")} AS frac_at_risk
        |FROM c""".stripMargin),

    // order-free per-source content checksum (change detection)
    QueryDef("q_checksum", (s, dir) =>
      Validate.contentChecksum(docs(s, dir), Seq("source"),
          Seq("doc_id", "text", "lang", "n_chars"))
        .select(col("source"), col("n_rows"), col("checksum")),
      """WITH e AS (SELECT source,
        |    concat_ws('|',
        |      CASE WHEN doc_id IS NULL THEN '\N' ELSE replace(replace(CAST(doc_id AS VARCHAR), '\', '\\'), '|', '\|') END,
        |      CASE WHEN text IS NULL THEN '\N' ELSE replace(replace(text, '\', '\\'), '|', '\|') END,
        |      CASE WHEN lang IS NULL THEN '\N' ELSE replace(replace(lang, '\', '\\'), '|', '\|') END,
        |      CASE WHEN n_chars IS NULL THEN '\N' ELSE replace(replace(CAST(n_chars AS VARCHAR), '\', '\\'), '|', '\|') END
        |    ) AS j FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(CAST(CAST(concat('0x', substr(md5(j), 1, 15)) AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        |FROM e GROUP BY 1""".stripMargin),

    // t-closeness audit: lang distribution skew per (source, len-bucket)
    // class vs the global corpus, TVD threshold 0.2
    QueryDef("q_tcloseness", (s, dir) =>
      Integrity.tCloseness(
          docs(s, dir).withColumn("len_bucket", floor(col("n_chars") / 100).cast("long")),
          Seq("source", "len_bucket"), "lang", t = 0.2)
        .select(col("t"), col("n_rows"), col("n_classes"), col("n_classes_above_t"),
          col("n_rows_at_risk"), col("frac_at_risk"),
          graft.functions.Portable.r6(col("max_distance")).as("max_distance")),
      s"""WITH cv AS (SELECT source, n_chars // 100 AS len_bucket,
        |    coalesce(CAST(lang AS VARCHAR), '__NULL__') AS v, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |cls AS (SELECT source, len_bucket, v, n,
        |    sum(n) OVER (PARTITION BY source, len_bucket) AS cn FROM cv),
        |g AS (SELECT v, CAST(sum(n) AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE) FROM cv) AS q
        |  FROM cv GROUP BY 1),
        |pc AS (SELECT source, len_bucket, max(cn) AS cn,
        |    ${dsum(r6("abs(CAST(n AS DOUBLE) / CAST(cn AS DOUBLE) - q) - q"))} AS s
        |  FROM cls JOIN g USING (v) GROUP BY 1, 2),
        |d AS (SELECT cn, ${r6("(1.0 + s) / 2.0")} AS dist FROM pc)
        |SELECT 0.2 AS t, CAST(sum(cn) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(count(CASE WHEN dist > 0.2 THEN 1 END) AS BIGINT) AS n_classes_above_t,
        |  CAST(coalesce(sum(CASE WHEN dist > 0.2 THEN cn END), 0) AS BIGINT) AS n_rows_at_risk,
        |  ${r6("CAST(coalesce(sum(CASE WHEN dist > 0.2 THEN cn END), 0) AS DOUBLE) / CAST(sum(cn) AS DOUBLE)")} AS frac_at_risk,
        |  ${r6("max(dist)")} AS max_distance
        |FROM d""".stripMargin),

    // ε-DP count release: per-(source, lang) doc counts with
    // deterministic seeded Laplace noise — publishable corpus stats
    QueryDef("q_dp_counts", (s, dir) =>
      Integrity.dpCounts(docs(s, dir), Seq("source", "lang"), epsilon = 1.0, seed = "dp42"),
      {
      val key = "concat('dp42', coalesce(md5(CAST(source AS VARCHAR)),'N'), coalesce(md5(CAST(lang AS VARCHAR)),'N'))"
      s"""WITH g AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
         |h AS (SELECT source, lang, n,
         |    (CAST(${h32(key)} AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS u FROM g)
         |SELECT source, lang, CAST(1.0 AS DOUBLE) AS epsilon,
         |  ${r6("CAST(n AS DOUBLE) - (CASE WHEN u < 0 THEN -1.0 WHEN u > 0 THEN 1.0 ELSE 0.0 END) * ln(1.0 - 2.0 * abs(u)) / 1.0")} AS noisy_count
         |FROM h""".stripMargin
    }),

    // KMV vocabulary-overlap matrix: per-source k=256 distinct-token
    // sketches, then pairwise union/intersection/Jaccard estimates from
    // the sketches alone (no per-pair corpus joins)
    QueryDef("q_kmv", (s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"), explode(TextFunctions.wordTokens(col("text"))).as("tok"))
      Sketches.kmvOverlap(Sketches.kmvDistinct(toks, Seq("source"), "tok", k = 256), "source", 256)
        .select(col("key_a").as("src_a"), col("key_b").as("src_b"),
          col("est_a"), col("est_b"), col("est_union"), col("est_jaccard"), col("est_intersection"))
    },
      {
      val k = 256
      s"""WITH t AS (SELECT DISTINCT source, ${h32("tok")} AS h
         |  FROM (SELECT source, unnest(${wordTokensSql("text")}) AS tok FROM documents)),
         |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM t),
         |sk AS (SELECT source, list(h ORDER BY h) AS kmv, CAST(count(*) AS BIGINT) AS sz FROM r WHERE rk <= $k GROUP BY 1),
         |est AS (SELECT source, kmv,
         |    CASE WHEN sz < $k THEN CAST(sz AS DOUBLE)
         |      ELSE ${k - 1}.0 / ((CAST(kmv[$k] AS DOUBLE) + 1.0) / 4294967296.0) END AS e0 FROM sk),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b, a.kmv AS sa, b.kmv AS sb,
         |    ${r6("a.e0")} AS est_a, ${r6("b.e0")} AS est_b
         |  FROM est a JOIN est b ON a.source < b.source),
         |m AS (SELECT *, list_sort(list_distinct(list_concat(sa, sb))) AS un FROM pr),
         |l AS (SELECT *, un[1:$k] AS ll, len(un) AS usz FROM m),
         |f AS (SELECT *, len(list_intersect(ll, list_intersect(sa, sb))) AS ncom, len(ll) AS lsz,
         |    CASE WHEN usz < $k THEN CAST(usz AS DOUBLE)
         |      ELSE ${k - 1}.0 / ((CAST(ll[$k] AS DOUBLE) + 1.0) / 4294967296.0) END AS eu FROM l),
         |g AS (SELECT *, CASE WHEN lsz > 0 THEN CAST(ncom AS DOUBLE) / CAST(lsz AS DOUBLE) END AS jac FROM f)
         |SELECT src_a, src_b, est_a, est_b,
         |  ${r6("eu")} AS est_union,
         |  ${r6("jac")} AS est_jaccard,
         |  ${r6("jac * eu")} AS est_intersection
         |FROM g""".stripMargin
    }),

    // user-level eps-DP mean event value per event type (clip [0, 500])
    QueryDef("q_dp_means", (s, dir) =>
      Integrity.dpMeans(ev(s, dir), Seq("event_type"), "user_id", "value",
        lo = 0.0, hi = 500.0, epsilon = 1.0, seed = "graft-dp9"),
      {
      def lap(tag: String, scale: String) = {
        val h = h32(s"concat('graft-dp9', coalesce(md5(CAST(event_type AS VARCHAR)), 'N'), '$tag')")
        s"""-sign(($h + 0.5) / 4294967296.0 - 0.5)
           | * ln(1.0 - 2.0 * abs(($h + 0.5) / 4294967296.0 - 0.5)) * $scale""".stripMargin
      }
      s"""WITH v AS (SELECT event_type, user_id,
         |    least(CAST(500.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), CAST(value AS DOUBLE))) AS cv
         |  FROM events WHERE value IS NOT NULL),
         |pu AS (SELECT event_type, user_id, ${dsum(r6("cv"))} / CAST(count(*) AS DOUBLE) AS m
         |  FROM v GROUP BY 1, 2),
         |g AS (SELECT event_type, count(*) AS nu, ${dsum(r6("m"))} AS s FROM pu GROUP BY 1),
         |n AS (SELECT event_type, CAST(1.0 AS DOUBLE) AS epsilon,
         |    ${r6(s"s + (${lap("S", "1000.0")})")} AS noisy_sum,
         |    ${r6(s"CAST(nu AS DOUBLE) + (${lap("C", "2.0")})")} AS noisy_count
         |  FROM g)
         |SELECT event_type, epsilon, noisy_sum, noisy_count,
         |  ${r6("noisy_sum / greatest(noisy_count, CAST(1.0 AS DOUBLE))")} AS noisy_mean
         |FROM n""".stripMargin
    }),

    // whole-table drift report: KS + PSI per derived numeric feature,
    // src0 as the reference slice
    QueryDef("q_drift_report", { (s, dir) =>
      val feats = docs(s, dir).select(
        col("source"),
        col("n_chars").cast("double").as("n_chars"),
        size(TextFunctions.wordTokens(col("text"))).cast("double").as("n_words"),
        size(split(col("text"), "\n")).cast("double").as("n_lines"))
      Drift.driftReport(feats, Seq("n_chars", "n_words", "n_lines"),
          col("source") === "src0")
        .select(col("feature"), col("n_ref"), col("n_cur"),
          graft.functions.Portable.r6(col("d")).as("d"),
          graft.functions.Portable.r6(col("ks")).as("ks"),
          graft.functions.Portable.r6(col("psi")).as("psi"))
    },
      s"""WITH m AS (
         |  SELECT source = 'src0' AS ref, 'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS v FROM documents
         |  UNION ALL
         |  SELECT source = 'src0', 'n_words', CAST(len(${wordTokensSql("text")}) AS DOUBLE) FROM documents
         |  UNION ALL
         |  SELECT source = 'src0', 'n_lines', CAST(len(string_split(text, chr(10))) AS DOUBLE) FROM documents),
         |vv AS (SELECT feature, CASE WHEN ref THEN 1 ELSE 0 END AS a, v AS x FROM m
         |  WHERE v IS NOT NULL AND NOT isnan(v)),
         |c AS (SELECT feature, x, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(1 - a) AS BIGINT) AS cb
         |      FROM vv GROUP BY 1, 2),
         |w AS (SELECT feature,
         |        CAST(sum(ca) OVER (PARTITION BY feature ORDER BY x) AS BIGINT) AS fa,
         |        CAST(sum(cb) OVER (PARTITION BY feature ORDER BY x) AS BIGINT) AS fb,
         |        CAST(sum(ca) OVER (PARTITION BY feature) AS BIGINT) AS na,
         |        CAST(sum(cb) OVER (PARTITION BY feature) AS BIGINT) AS nb
         |      FROM c),
         |ksm AS (SELECT feature, max(na) AS n_ref, max(nb) AS n_cur,
         |        max(CASE WHEN na > 0 AND nb > 0 THEN
         |          abs(CAST(fa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE)) END) AS d0
         |      FROM w GROUP BY 1),
         |r2 AS (SELECT feature, min(x) AS lo, max(x) AS hi FROM vv GROUP BY 1),
         |b2 AS (SELECT vv.feature, a = 1 AS ref,
         |    CASE WHEN r2.hi = r2.lo THEN 0
         |         ELSE CAST(least(floor((x - r2.lo) / ((r2.hi - r2.lo)/10.0)), 9.0) AS INT) END AS bin
         |  FROM vv JOIN r2 ON vv.feature = r2.feature),
         |c2 AS (SELECT feature, ref, bin, count(*) AS n FROM b2 GROUP BY 1,2,3),
         |tt AS (SELECT feature, ref, sum(n) AS tot FROM c2 GROUP BY 1,2),
         |grid AS (SELECT feature, CAST(range AS INT) AS bin
         |  FROM (SELECT DISTINCT feature FROM c2) CROSS JOIN range(10)),
         |j2 AS (SELECT grid.feature,
         |    (CAST(COALESCE(cr.n,0) AS DOUBLE)+0.5)/(CAST(COALESCE(tr.tot,0) AS DOUBLE)+5.0) AS p,
         |    (CAST(COALESCE(cc.n,0) AS DOUBLE)+0.5)/(CAST(COALESCE(tc.tot,0) AS DOUBLE)+5.0) AS q
         |  FROM grid
         |  LEFT JOIN c2 cr ON cr.feature = grid.feature AND cr.bin = grid.bin AND cr.ref
         |  LEFT JOIN c2 cc ON cc.feature = grid.feature AND cc.bin = grid.bin AND NOT cc.ref
         |  LEFT JOIN tt tr ON tr.feature = grid.feature AND tr.ref
         |  LEFT JOIN tt tc ON tc.feature = grid.feature AND NOT tc.ref),
         |ps AS (SELECT feature,
         |    CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(38,12))) AS DOUBLE) AS psi0
         |  FROM j2 GROUP BY 1)
         |SELECT ksm.feature, n_ref, n_cur,
         |  ${r6("d0")} AS d,
         |  ${r6("sqrt(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref + n_cur AS DOUBLE)) * d0")} AS ks,
         |  ${r6("psi0")} AS psi
         |FROM ksm LEFT JOIN ps ON ksm.feature = ps.feature""".stripMargin),

    // leakage screen: single-feature AUC of each doc feature against
    // the ' the ' label (n_words ~ doc length: the expected "proxy")
    QueryDef("q_feature_auc", { (s, dir) =>
      val feats = docs(s, dir).select(
        col("text"),
        col("n_chars").cast("double").as("n_chars"),
        size(TextFunctions.wordTokens(col("text"))).cast("double").as("n_words"),
        size(split(col("text"), "\n")).cast("double").as("n_lines"))
      Drift.featureAucScreen(feats, Seq("n_chars", "n_words", "n_lines"),
        col("text").contains(" the "))
    },
      s"""WITH m0 AS (
         |  SELECT CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p,
         |    'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS x FROM documents
         |  UNION ALL
         |  SELECT CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END, 'n_words',
         |    CAST(len(${wordTokensSql("text")}) AS DOUBLE) FROM documents
         |  UNION ALL
         |  SELECT CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END, 'n_lines',
         |    CAST(len(string_split(text, chr(10))) AS DOUBLE) FROM documents),
         |v AS (SELECT feature, x, p FROM m0 WHERE x IS NOT NULL AND NOT isnan(x)),
         |r AS (SELECT feature, p,
         |        CAST(rank() OVER (PARTITION BY feature ORDER BY x) AS DOUBLE)
         |          + CAST(count(*) OVER (PARTITION BY feature, x) - 1 AS DOUBLE) / 2.0 AS rk
         |      FROM v),
         |m AS (SELECT feature, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(1 - p) AS BIGINT) AS n_neg,
         |        CAST(coalesce(sum(CASE WHEN p = 1 THEN CAST(rk AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS rp
         |      FROM r GROUP BY 1),
         |a AS (SELECT feature, n_pos, n_neg,
         |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |      (rp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
         |        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc0
         |  FROM m)
         |SELECT feature, n_pos, n_neg, ${r6("auc0")} AS auc,
         |  CASE WHEN auc0 IS NOT NULL THEN ${r6("abs(auc0 - 0.5) * 2.0")} END AS separation
         |FROM a""".stripMargin),

    // qq drift: WHERE src0's length distribution sits vs the rest,
    // probe by probe
    QueryDef("q_qq_drift", (s, dir) =>
      Drift.qqDrift(docs(s, dir), "n_chars", col("source") === "src0", QuantilePs),
      {
      val ps = QuantilePs.map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH v AS (SELECT (source = 'src0') AS slice, CAST(n_chars AS DOUBLE) AS x
         |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |q AS (SELECT slice, quantile_cont(x, $ps) AS qs FROM v GROUP BY 1),
         |u AS (SELECT slice, unnest($ps) AS p, unnest(qs) AS q FROM q),
         |r AS (SELECT p, q FROM u WHERE slice),
         |c AS (SELECT p, q FROM u WHERE NOT slice)
         |SELECT coalesce(r.p, c.p) AS p, ${r6("r.q")} AS q_ref, ${r6("c.q")} AS q_cur,
         |  CASE WHEN r.q IS NOT NULL AND c.q IS NOT NULL THEN ${r6("c.q - r.q")} END AS gap
         |FROM r FULL JOIN c ON r.p = c.p""".stripMargin
    }),

    // JSON field health of events.props' $.k per event type
    QueryDef("q_json_health", (s, dir) =>
      graft.operators.Json.fieldHealth(ev(s, dir), Seq("event_type"),
        "props", "$.k"),
      s"""WITH f AS (SELECT event_type, props,
         |    CASE WHEN props IS NOT NULL AND json_valid(props)
         |      THEN try_cast(json_extract_string(props, '$$.k') AS DOUBLE) END AS v
         |  FROM events),
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN props IS NULL THEN 1 END) AS BIGINT) AS n_null_payload,
         |    CAST(count(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN 1 END) AS BIGINT) AS n_field,
         |    CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN CAST(${r6("v")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s,
         |    min(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v END) AS mn,
         |    max(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v END) AS mx
         |  FROM f GROUP BY 1)
         |SELECT event_type, n, n_null_payload, n_field,
         |  CASE WHEN n > 0 THEN ${r6("CAST(n_field AS DOUBLE) / CAST(n AS DOUBLE)")} END AS present_rate,
         |  CASE WHEN n_field > 0 THEN ${r6("s / CAST(n_field AS DOUBLE)")} END AS field_mean,
         |  ${r6("mn")} AS field_min, ${r6("mx")} AS field_max
         |FROM g""".stripMargin)
  )
}
