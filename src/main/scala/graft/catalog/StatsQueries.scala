package graft
package catalog

import graft.operators._
import graft.sources.Tables
import graft.text.TextFunctions
import Shared._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistics and causal inference: tests, correlation, regression,
  * survival, evaluation metrics, attribution and treatment effects.
  */
object StatsQueries {

  /** Cox oracle: KM-style spans + per-day event stats + `iters` staged
    * Newton CTEs — mirrors [[graft.operators.Survival.coxPh]] on the
    * [[coxSubjects]] frame. Emits CTEs ending in `ui$iters` (u, i, ll
    * evaluated AT the final beta) and `b$iters` (the final beta).
    */
  private def coxCtes(iters: Int): String = {
    val head =
      s"""sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
         |    max(epoch_us(ts)) AS tl,
         |    ${r6(s"${dsum("value")} / CAST(count(*) AS DOUBLE)")} AS x
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |subj AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
         |    te IS NOT NULL AS obs, x FROM sp),
         |evd AS (SELECT t_day, count(CASE WHEN obs THEN 1 END) AS d,
         |    coalesce(${dsum("CASE WHEN obs THEN x END")}, 0.0) AS sx FROM subj GROUP BY 1),
         |b0 AS (SELECT CAST(0.0 AS DOUBLE) AS beta)""".stripMargin
    // step k: day totals at b{k} -> reverse-cumulative risk sums ->
    // one-row (u, i, ll); the Newton update to b{k+1} is emitted
    // separately so the LAST step can evaluate AT the final beta
    def eval(k: Int): String = {
      val rev = "ORDER BY t_day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
      s"""w$k AS (SELECT s.t_day, ${r6("exp(b.beta * s.x)")} AS w, s.x AS x FROM subj s, b$k b),
         |day$k AS (SELECT t_day, ${dsum("w")} AS w0, ${dsum(r6("w * x"))} AS w1,
         |    ${dsum(r6("w * x * x"))} AS w2 FROM w$k GROUP BY 1),
         |rs$k AS (SELECT dy.t_day, e.d, e.sx,
         |    CAST(sum(CAST(dy.w0 AS DECIMAL(38,6))) OVER ($rev) AS DOUBLE) AS s0,
         |    CAST(sum(CAST(dy.w1 AS DECIMAL(38,6))) OVER ($rev) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(dy.w2 AS DECIMAL(38,6))) OVER ($rev) AS DOUBLE) AS s2
         |  FROM day$k dy JOIN evd e USING (t_day)),
         |ui$k AS (SELECT
         |    coalesce(${dsum(r6("sx - CAST(d AS DOUBLE) * s1 / s0"))}, 0.0) AS u,
         |    coalesce(${dsum(r6("CAST(d AS DOUBLE) * (s2 / s0 - (s1 / s0) * (s1 / s0))"))}, 0.0) AS i,
         |    coalesce(${dsum(r6("b.beta * sx - CAST(d AS DOUBLE) * ln(s0)"))}, 0.0) AS ll
         |  FROM rs$k CROSS JOIN b$k b WHERE d > 0)""".stripMargin
    }
    def update(k: Int): String =
      s"""b${k + 1} AS (SELECT CASE WHEN ui.i > 0 THEN ${r6("b.beta + ui.u / ui.i")}
         |    ELSE b.beta END AS beta FROM ui$k ui, b$k b)""".stripMargin
    val steps = (0 until iters).flatMap(k => Seq(eval(k), update(k)))
    (head +: steps :+ eval(iters)).mkString(",\n")
  }

  /** [[logitDocs]] as oracle CTEs ending in `ld(id, source, n_chars,
    * y, x1, x2)` — shared by the logistic-GD oracles and q_stump.
    */
  private def logitDocsCtes(yExpr: String): String = {
    s"""lw AS (SELECT *, len(${wordTokensSql("text")}) AS nw
       |  FROM documents),
       |ld AS (SELECT doc_id AS id, source, n_chars, CAST(($yExpr) AS INT) AS y,
       |    ${r6("CAST(nw AS DOUBLE) / 100.0")} AS x1,
       |    CASE WHEN nw > 0 THEN ${r6("CAST(n_chars AS DOUBLE) / (CAST(nw AS DOUBLE) * 10.0)")}
       |      ELSE 0.0 END AS x2
       |  FROM lw)""".stripMargin
  }

  /** Logistic-GD oracle: [[logitDocs]] features + `iters` staged
    * gradient steps (lr 0.5) on label `yExpr` — mirrors
    * [[graft.operators.Logistic.fitGd]]. Emits CTEs ending in
    * `cb$iters` (c0/c1/c2) and the scoring pass `p$iters`
    * (id, source, n_chars, y, x1, x2, p).
    */
  private def logitCtes(yExpr: String, iters: Int): String = {
    val head =
      s"""${logitDocsCtes(yExpr)},
         |cb0 AS (SELECT CAST(0.0 AS DOUBLE) AS c0, CAST(0.0 AS DOUBLE) AS c1, CAST(0.0 AS DOUBLE) AS c2)""".stripMargin
    def score(k: Int): String =
      s"""p$k AS (SELECT id, source, n_chars, y, x1, x2,
         |    ${r6("1.0 / (1.0 + exp(-(b.c0 * 1.0 + b.c1 * x1 + b.c2 * x2)))")} AS p
         |  FROM ld, cb$k b)""".stripMargin
    def step(k: Int): String =
      s"""${score(k)},
         |g$k AS (SELECT count(*) AS n, ${dsum(r6("(p - CAST(y AS DOUBLE)) * 1.0"))} AS g0,
         |    ${dsum(r6("(p - CAST(y AS DOUBLE)) * x1"))} AS g1,
         |    ${dsum(r6("(p - CAST(y AS DOUBLE)) * x2"))} AS g2 FROM p$k),
         |cb${k + 1} AS (SELECT ${r6("b.c0 - 0.5 * g.g0 / CAST(g.n AS DOUBLE)")} AS c0,
         |    ${r6("b.c1 - 0.5 * g.g1 / CAST(g.n AS DOUBLE)")} AS c1,
         |    ${r6("b.c2 - 0.5 * g.g2 / CAST(g.n AS DOUBLE)")} AS c2
         |  FROM g$k g, cb$k b)""".stripMargin
    (head +: (0 until iters).map(step) :+ score(iters)).mkString(",\n")
  }

  /** Per-user Cox subjects shared by the q_cox Spark call and oracle:
    * KM-style spans (first event → first purchase else last event, day
    * granularity) plus the r6-pinned mean event value as covariate.
    */
  private def coxSubjects(s: SparkSession, dir: String): DataFrame = {
    val t = unix_micros(col("ts"))
    ev(s, dir).filter(col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        min(t).as("__t0"),
        min(when(col("event_type") === "purchase", t)).as("__te"),
        max(t).as("__tl"),
        graft.functions.Portable.r6(
          sum(col("value").cast("decimal(38,6)")).cast("double") /
            count(lit(1)).cast("double")).as("x"))
      .select(
        floor((coalesce(col("__te"), col("__tl")) - col("__t0")).cast("double") / 86400000000.0)
          .cast("long").as("t_day"),
        col("__te").isNotNull.as("obs"),
        col("x"))
  }

  /** Docs with the length-bucket label and two r6-pinned O(1)-scaled
    * features (word count / 100, mean word length / 10) shared by the
    * q_logreg and q_ipw Spark calls and oracles.
    */
  private def logitDocs(s: SparkSession, dir: String): DataFrame = {
    val nw = size(TextFunctions.wordTokens(col("text")))
    docs(s, dir).select(
      col("doc_id"), col("source"), col("n_chars"),
      (col("n_chars") >= 300).as("y"),
      graft.functions.Portable.r6(nw.cast("double") / lit(100.0)).as("x1"),
      when(nw > 0, graft.functions.Portable.r6(
        col("n_chars").cast("double") / (nw.cast("double") * lit(10.0))))
        .otherwise(lit(0.0)).as("x2"))
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_psi", (s, dir) =>
      Stats
        .psi(ev(s, dir), Seq("event_type"), "value", isRef = col("event_id") % 2 === 0)
        .select(col("event_type"), graft.functions.Portable.r6(col("psi")).as("psi")),
      s"""WITH f AS (SELECT event_type, CAST(value AS DOUBLE) AS v, (event_id % 2 = 0) AS ref
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |r AS (SELECT event_type, min(v) AS lo, max(v) AS hi FROM f GROUP BY 1),
        |b AS (SELECT f.event_type, ref,
        |    CASE WHEN r.hi = r.lo THEN 0
        |         ELSE CAST(least(floor((v - r.lo) / ((r.hi - r.lo)/10.0)), 9.0) AS INT) END AS bin
        |  FROM f JOIN r ON f.event_type = r.event_type),
        |c AS (SELECT event_type, ref, bin, count(*) AS n FROM b GROUP BY 1,2,3),
        |tt AS (SELECT event_type, ref, sum(n) AS tot FROM c GROUP BY 1,2),
        |grid AS (SELECT event_type, CAST(range AS INT) AS bin
        |  FROM (SELECT DISTINCT event_type FROM c) CROSS JOIN range(10)),
        |j AS (SELECT grid.event_type,
        |    (CAST(COALESCE(cr.n,0) AS DOUBLE)+0.5)/(CAST(COALESCE(tr.tot,0) AS DOUBLE)+5.0) AS p,
        |    (CAST(COALESCE(cc.n,0) AS DOUBLE)+0.5)/(CAST(COALESCE(tc.tot,0) AS DOUBLE)+5.0) AS q
        |  FROM grid
        |  LEFT JOIN c cr ON cr.event_type = grid.event_type AND cr.bin = grid.bin AND cr.ref
        |  LEFT JOIN c cc ON cc.event_type = grid.event_type AND cc.bin = grid.bin AND NOT cc.ref
        |  LEFT JOIN tt tr ON tr.event_type = grid.event_type AND tr.ref
        |  LEFT JOIN tt tc ON tc.event_type = grid.event_type AND NOT tc.ref)
        |SELECT event_type,
        |  ${r6("CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(38,12))) AS DOUBLE)")} AS psi
        |FROM j GROUP BY 1""".stripMargin),

    // first/last-touch attribution for purchase conversions; both
    // windows share one (user, time, tie) exchange + sort
    QueryDef("q_attribution", (s, dir) =>
      Attribution
        .touchAttribution(ev(s, dir), "user_id", "ts", "event_type", "event_id", "purchase")
        .select(col("event_id"), col("user_id"),
          col("first_touch"), col("last_touch"), col("n_prior")),
      """WITH w AS (SELECT event_id, user_id, event_type,
        |    first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_touch,
        |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_prior
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_id, user_id, first_touch, last_touch, n_prior
        |FROM w WHERE event_type = 'purchase'""".stripMargin),

    // Welch two-sample z-test between a deterministic md5 A/B user split
    QueryDef("q_ab_test", { (s, dir) =>
      val arm = TextFunctions.md5Hash32(
        concat(lit("ab:"), col("user_id").cast("string"))) % 2 === 1
      Stats
        .welchTest(ev(s, dir).withColumn("__b", arm), Seq("event_type"), "value", col("__b"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("mean_a")).as("mean_a"),
          graft.functions.Portable.r6(col("mean_b")).as("mean_b"),
          graft.functions.Portable.r6(col("delta")).as("delta"),
          graft.functions.Portable.r6(col("se")).as("se"),
          graft.functions.Portable.r6(col("z")).as("z"))
    },
      s"""WITH e AS (SELECT event_type, value,
         |    coalesce(${h32("'ab:' || CAST(user_id AS VARCHAR)")} % 2 = 1, false) AS b
         |  FROM events),
         |m AS (SELECT event_type,
         |    count(CASE WHEN $hasValueSql AND NOT b THEN 1 END) AS n_a,
         |    count(CASE WHEN $hasValueSql AND b THEN 1 END) AS n_b,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND NOT b THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS sa,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND b THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS sb,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND NOT b THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS sa2,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND b THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS sb2
         |  FROM e GROUP BY 1),
         |d AS (SELECT event_type, n_a, n_b,
         |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb, sa, sb, sa2, sb2,
         |    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         |      sqrt(greatest(sa2 / CAST(n_a AS DOUBLE) - (sa / CAST(n_a AS DOUBLE)) * (sa / CAST(n_a AS DOUBLE)), 0.0) * CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0) / CAST(n_a AS DOUBLE)
         |         + greatest(sb2 / CAST(n_b AS DOUBLE) - (sb / CAST(n_b AS DOUBLE)) * (sb / CAST(n_b AS DOUBLE)), 0.0) * CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0) / CAST(n_b AS DOUBLE))
         |    END AS se0
         |  FROM m)
         |SELECT event_type, n_a, n_b,
         |  CASE WHEN n_a > 0 THEN ${r6("sa / na")} END AS mean_a,
         |  CASE WHEN n_b > 0 THEN ${r6("sb / nb")} END AS mean_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN ${r6("sb / nb - sa / na")} END AS delta,
         |  CASE WHEN se0 IS NOT NULL THEN ${r6("se0")} END AS se,
         |  CASE WHEN se0 > 0 THEN ${r6("(sb / nb - sa / na) / se0")} END AS z
         |FROM d""".stripMargin),

    // Kaplan–Meier time-to-purchase curve (day granularity; log-survival)
    QueryDef("q_km_survival", (s, dir) =>
      Survival
        .kaplanMeier(ev(s, dir), "user_id", "ts", "event_type", "purchase")
        .select(col("t_day"), col("n_risk"), col("d_events"), col("c_censored"),
          graft.functions.Portable.r6(col("log_s")).as("log_s")),
      s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
         |    max(epoch_us(ts)) AS tl
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |dur AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
         |    te IS NOT NULL AS obs FROM sp),
         |cv AS (SELECT t_day, count(CASE WHEN obs THEN 1 END) AS d_events,
         |    count(CASE WHEN NOT obs THEN 1 END) AS c_censored FROM dur GROUP BY 1),
         |tot AS (SELECT sum(d_events + c_censored) AS total FROM cv),
         |r AS (SELECT t_day, d_events, c_censored,
         |    total - coalesce(sum(d_events + c_censored) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
         |  FROM cv, tot),
         |h AS (SELECT t_day, d_events, c_censored, n_risk,
         |    CASE WHEN d_events > 0 AND d_events < n_risk THEN
         |      ${r6("ln(1 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))")}
         |    ELSE 0.0 END AS term
         |  FROM r)
         |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, CAST(d_events AS BIGINT) AS d_events,
         |  CAST(c_censored AS BIGINT) AS c_censored,
         |  CASE WHEN d_events = n_risk THEN NULL ELSE
         |    ${r6("CAST(sum(CAST(term AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)")}
         |  END AS log_s
         |FROM h""".stripMargin),

    // difference-in-differences: md5 A/B arms x mid-stream cutover
    QueryDef("q_did", { (s, dir) =>
      val arm = TextFunctions.md5Hash32(
        concat(lit("ab:"), col("user_id").cast("string"))) % 2 === 1
      val post = col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp")
      Stats
        .didTest(ev(s, dir).withColumn("__b", arm).withColumn("__p", post),
          Seq("event_type"), "value", col("__b"), col("__p"))
        .select(col("event_type"),
          col("n_a_pre"), col("n_a_post"), col("n_b_pre"), col("n_b_post"),
          graft.functions.Portable.r6(col("did")).as("did"),
          graft.functions.Portable.r6(col("se")).as("se"),
          graft.functions.Portable.r6(col("z")).as("z"))
    },
      s"""WITH e AS (SELECT event_type, value,
         |    coalesce(${h32("'ab:' || CAST(user_id AS VARCHAR)")} % 2 = 1, false) AS b,
         |    coalesce(ts >= TIMESTAMP '2024-01-16 00:00:00', false) AS p
         |  FROM events),
         |m AS (SELECT event_type,
         |    count(CASE WHEN $hasValueSql AND NOT b AND NOT p THEN 1 END) AS n_a_pre,
         |    count(CASE WHEN $hasValueSql AND NOT b AND p THEN 1 END) AS n_a_post,
         |    count(CASE WHEN $hasValueSql AND b AND NOT p THEN 1 END) AS n_b_pre,
         |    count(CASE WHEN $hasValueSql AND b AND p THEN 1 END) AS n_b_post,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND NOT b AND NOT p THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s_ape,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND NOT b AND p THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s_apo,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND b AND NOT p THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s_bpe,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND b AND p THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s_bpo,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND NOT b AND NOT p THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2_ape,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND NOT b AND p THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2_apo,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND b AND NOT p THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2_bpe,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql AND b AND p THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2_bpo
         |  FROM e GROUP BY 1),
         |d AS (SELECT event_type, n_a_pre, n_a_post, n_b_pre, n_b_post,
         |    (s_bpo / CAST(n_b_post AS DOUBLE) - s_bpe / CAST(n_b_pre AS DOUBLE))
         |      - (s_apo / CAST(n_a_post AS DOUBLE) - s_ape / CAST(n_a_pre AS DOUBLE)) AS did0,
         |    CASE WHEN n_a_pre >= 2 AND n_a_post >= 2 AND n_b_pre >= 2 AND n_b_post >= 2 THEN
         |      sqrt(greatest(s2_ape / CAST(n_a_pre AS DOUBLE) - (s_ape / CAST(n_a_pre AS DOUBLE)) * (s_ape / CAST(n_a_pre AS DOUBLE)), 0.0) * CAST(n_a_pre AS DOUBLE) / (CAST(n_a_pre AS DOUBLE) - 1.0) / CAST(n_a_pre AS DOUBLE)
         |         + greatest(s2_apo / CAST(n_a_post AS DOUBLE) - (s_apo / CAST(n_a_post AS DOUBLE)) * (s_apo / CAST(n_a_post AS DOUBLE)), 0.0) * CAST(n_a_post AS DOUBLE) / (CAST(n_a_post AS DOUBLE) - 1.0) / CAST(n_a_post AS DOUBLE)
         |         + greatest(s2_bpe / CAST(n_b_pre AS DOUBLE) - (s_bpe / CAST(n_b_pre AS DOUBLE)) * (s_bpe / CAST(n_b_pre AS DOUBLE)), 0.0) * CAST(n_b_pre AS DOUBLE) / (CAST(n_b_pre AS DOUBLE) - 1.0) / CAST(n_b_pre AS DOUBLE)
         |         + greatest(s2_bpo / CAST(n_b_post AS DOUBLE) - (s_bpo / CAST(n_b_post AS DOUBLE)) * (s_bpo / CAST(n_b_post AS DOUBLE)), 0.0) * CAST(n_b_post AS DOUBLE) / (CAST(n_b_post AS DOUBLE) - 1.0) / CAST(n_b_post AS DOUBLE))
         |    END AS se0
         |  FROM m)
         |SELECT event_type, n_a_pre, n_a_post, n_b_pre, n_b_post,
         |  CASE WHEN n_a_pre >= 2 AND n_a_post >= 2 AND n_b_pre >= 2 AND n_b_post >= 2
         |    THEN ${r6("did0")} END AS did,
         |  CASE WHEN se0 IS NOT NULL THEN ${r6("se0")} END AS se,
         |  CASE WHEN se0 > 0 THEN ${r6("did0 / se0")} END AS z
         |FROM d""".stripMargin),

    // per-(returnflag, linestatus) Pearson correlation of quantity vs
    // extendedprice from one scan (exact decimal moment sums)
    QueryDef("q_corr", (s, dir) =>
      Stats
        .groupedCorrelation(Tables.lineitem(s, dir),
          Seq("l_returnflag", "l_linestatus"), "l_quantity", "l_extendedprice")
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          graft.functions.Portable.r6(col("corr")).as("corr")),
      s"""WITH m AS (SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  ${dsum0("l_quantity")} AS sx,
        |  ${dsum0("l_extendedprice")} AS sy,
        |  ${dsum0("l_quantity * l_extendedprice")} AS sxy,
        |  ${dsum0("l_quantity * l_quantity")} AS sxx,
        |  ${dsum0("l_extendedprice * l_extendedprice")} AS syy
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, n,
        |  ${r6("(CAST(n AS DOUBLE) * sxy - sx * sy) / nullif(sqrt(greatest((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0)), 0.0)")} AS corr
        |FROM m""".stripMargin),

    // per-event-type value-over-time trend (OLS slope/intercept); x is
    // days since epoch, centered to keep the double magnitudes tame
    QueryDef("q_linreg", (s, dir) =>
      Stats
        .groupedLinReg(
          ev(s, dir)
            .filter(col("ts").isNotNull)
            .withColumn("x",
              unix_micros(col("ts")).cast("double") / lit(86400000000.0) - lit(19700.0)),
          Seq("event_type"), "x", "value")
        .select(col("event_type"), col("n"),
          graft.functions.Portable.r6(col("slope")).as("slope"),
          graft.functions.Portable.r6(col("intercept")).as("intercept")),
      s"""WITH v AS (SELECT event_type,
        |  CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 - 19700.0 AS x, value AS y
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (SELECT event_type,
        |  count(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN 1 END) AS n,
        |  CAST(coalesce(sum(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN CAST(x AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sx,
        |  CAST(coalesce(sum(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN CAST(y AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sy,
        |  CAST(coalesce(sum(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN CAST(x * y AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sxy,
        |  CAST(coalesce(sum(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN CAST(x * x AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sxx
        |  FROM v GROUP BY 1)
        |SELECT event_type, n,
        |  ${r6("(CAST(n AS DOUBLE) * sxy - sx * sy) / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)")} AS slope,
        |  ${r6("(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)) * sx) / CAST(n AS DOUBLE)")} AS intercept
        |FROM m""".stripMargin),

    // association rules over (user, event_type) co-occurrence
    QueryDef("q_assoc", (s, dir) =>
      Assoc.rules(ev(s, dir), "user_id", "event_type", 5L)
        .select(col("ante"), col("cons"), col("n_both"),
          graft.functions.Portable.r6(col("support")).as("support"),
          graft.functions.Portable.r6(col("confidence")).as("confidence"),
          graft.functions.Portable.r6(col("lift")).as("lift")),
      s"""WITH d AS (SELECT DISTINCT user_id AS e, event_type AS i FROM events WHERE event_type IS NOT NULL),
        |n AS (SELECT count(DISTINCT e) AS nu FROM d),
        |s AS (SELECT i, count(*) AS n1 FROM d GROUP BY 1),
        |p AS (SELECT a.i AS a, b.i AS b, count(*) AS n_both
        |      FROM d a JOIN d b ON a.e = b.e AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 5),
        |r AS (SELECT a AS ante, b AS cons, n_both FROM p UNION ALL SELECT b, a, n_both FROM p)
        |SELECT ante, cons, n_both,
        |  ${r6("CAST(n_both AS DOUBLE) / CAST(nu AS DOUBLE)")} AS support,
        |  ${r6("CAST(n_both AS DOUBLE) / CAST(sa.n1 AS DOUBLE)")} AS confidence,
        |  ${r6("CAST(n_both AS DOUBLE) * CAST(nu AS DOUBLE) / (CAST(sa.n1 AS DOUBLE) * CAST(sc.n1 AS DOUBLE))")} AS lift
        |FROM r JOIN s sa ON sa.i = r.ante JOIN s sc ON sc.i = r.cons, n""".stripMargin),

    // per-event-type percentile rank of value (portable percent_rank)
    QueryDef("q_pct_rank", (s, dir) =>
      Stats.percentileRank(ev(s, dir), Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"),
          graft.functions.Portable.r6(col("pct")).as("pct")),
      s"""SELECT event_id, event_type, value,
        |  ${r6("percent_rank() OVER (PARTITION BY event_type ORDER BY value)")} AS pct
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)""".stripMargin),

    // chi-square contingency: is lang independent of source?
    QueryDef("q_chi2", (s, dir) =>
      Stats.chiSquare(docs(s, dir), "lang", "source")
        .select(col("a").as("lang"), col("b").as("source"), col("observed"),
          graft.functions.Portable.r6(col("expected")).as("expected"),
          graft.functions.Portable.r6(col("chi2")).as("chi2")),
      s"""WITH c AS (SELECT lang, source, count(*) AS obs FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |ra AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS na FROM c GROUP BY 1),
        |rb AS (SELECT source, CAST(sum(obs) AS BIGINT) AS nb FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c)
        |SELECT lang, source, observed,
        |  ${r6("e")} AS expected,
        |  ${r6("(CAST(observed AS DOUBLE) - e) * (CAST(observed AS DOUBLE) - e) / e")} AS chi2
        |FROM (SELECT ra.lang, rb.source, CAST(coalesce(obs, 0) AS BIGINT) AS observed,
        |        CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) AS e
        |      FROM ra CROSS JOIN rb LEFT JOIN c ON c.lang = ra.lang AND c.source = rb.source, t)""".stripMargin),

    // per-language Gini concentration of document sizes
    QueryDef("q_gini", (s, dir) =>
      Stats.gini(docs(s, dir), Seq("lang"), "n_chars")
        .select(col("lang"), col("n"),
          graft.functions.Portable.r6(col("gini")).as("gini")),
      s"""WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS x,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS i
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
        |a AS (SELECT lang, count(*) AS n,
        |  ${dsum("x")} AS s,
        |  ${dsum("i * x")} AS si FROM v GROUP BY 1)
        |SELECT lang, n, CASE WHEN s > 0 THEN
        |  ${r6("2.0 * si / (CAST(n AS DOUBLE) * s) - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)")}
        |END AS gini FROM a""".stripMargin),

    // Spearman rank correlation (average ranks; contrast with q_corr)
    QueryDef("q_spearman", (s, dir) =>
      Stats
        .spearman(Tables.lineitem(s, dir),
          Seq("l_returnflag", "l_linestatus"), "l_quantity", "l_extendedprice")
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          graft.functions.Portable.r6(col("rho")).as("rho")),
      s"""WITH v AS (SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND NOT isnan(CAST(l_quantity AS DOUBLE))
        |    AND l_extendedprice IS NOT NULL AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
        |r AS (SELECT l_returnflag, l_linestatus,
        |    CAST(rank() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY x) AS DOUBLE)
        |      + CAST(count(*) OVER (PARTITION BY l_returnflag, l_linestatus, x) - 1 AS DOUBLE) / 2.0 AS rx,
        |    CAST(rank() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY y) AS DOUBLE)
        |      + CAST(count(*) OVER (PARTITION BY l_returnflag, l_linestatus, y) - 1 AS DOUBLE) / 2.0 AS ry
        |  FROM v),
        |m AS (SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  ${dsum0("rx")} AS sx,
        |  ${dsum0("ry")} AS sy,
        |  ${dsum0("rx * ry")} AS sxy,
        |  ${dsum0("rx * rx")} AS sxx,
        |  ${dsum0("ry * ry")} AS syy
        |  FROM r GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, n,
        |  ${r6("(CAST(n AS DOUBLE) * sxy - sx * sy) / nullif(sqrt(greatest((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0)), 0.0)")} AS rho
        |FROM m""".stripMargin),

    // Poisson bootstrap: per-type mean value with bootstrap SE (16 reps)
    QueryDef("q_bootstrap", (s, dir) =>
      Bootstrap.bootstrapMeanSE(ev(s, dir), Seq("event_type"), "value", "event_id",
          replicas = 16, seed = "b42")
        .select(col("event_type").as("code"), col("n"),
          graft.functions.Portable.r6(col("mean_boot")).as("mean_boot"),
          graft.functions.Portable.r6(col("se_boot")).as("se_boot")),
      s"""WITH r AS (SELECT unnest(range(0, 16)) AS b),
         |x AS (SELECT event_type, value, event_id, b FROM events, r
         |      WHERE value IS NOT NULL AND NOT isnan(value)),
         |u AS (SELECT event_type, b, value,
         |        ((${h32("concat('b42', '|', CAST(event_id AS VARCHAR), '|', CAST(b AS VARCHAR))")} % 1000000)
         |          + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS u
         |      FROM x),
         |w AS (SELECT event_type, b, value,
         |        CASE WHEN u < CAST(0.36787944117144233 AS DOUBLE) THEN 0
         |             WHEN u < CAST(0.7357588823428847 AS DOUBLE) THEN 1
         |             WHEN u < CAST(0.9196986029286058 AS DOUBLE) THEN 2
         |             WHEN u < CAST(0.9810118431238462 AS DOUBLE) THEN 3
         |             WHEN u < CAST(0.9963401531726563 AS DOUBLE) THEN 4
         |             WHEN u < CAST(0.9994058151824183 AS DOUBLE) THEN 5
         |             WHEN u < CAST(0.9999167588507119 AS DOUBLE) THEN 6
         |             ELSE 7 END AS w
         |      FROM u),
         |c AS (SELECT event_type, b,
         |        ${dsum("w * value")} AS wx,
         |        CAST(sum(w) AS BIGINT) AS wn
         |      FROM w GROUP BY 1, 2),
         |m AS (SELECT event_type, b, CASE WHEN wn > 0 THEN wx / CAST(wn AS DOUBLE) END AS m FROM c),
         |g AS (SELECT event_type, count(m) AS bn,
         |        CAST(sum(CAST(m AS DECIMAL(38,12))) AS DOUBLE) AS sm,
         |        CAST(sum(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE) AS sm2
         |      FROM m GROUP BY 1),
         |n AS (SELECT event_type, count(*) AS n FROM events
         |      WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1)
         |SELECT g.event_type AS code, n,
         |  ${r6("sm / CAST(bn AS DOUBLE)")} AS mean_boot,
         |  CASE WHEN bn > 1 THEN
         |    ${r6("sqrt(greatest((sm2 - sm * sm / CAST(bn AS DOUBLE)) / CAST(bn - 1 AS DOUBLE), CAST(0 AS DOUBLE)))")}
         |  END AS se_boot
         |FROM g JOIN n ON g.event_type IS NOT DISTINCT FROM n.event_type""".stripMargin),

    // two-sample KS distance per event type: even- vs odd-user cohorts
    // (distribution-level guardrail; contrast with q_ab_test's mean test)
    QueryDef("q_ks", (s, dir) =>
      Hypothesis.ksTest(ev(s, dir), Seq("event_type"), "value",
          pmod(col("user_id"), lit(2)) === 0)
        .select(col("event_type"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("d")).as("d"),
          graft.functions.Portable.r6(col("ks")).as("ks")),
      s"""WITH v AS (SELECT event_type, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a,
        |    CAST(value AS DOUBLE) AS x
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
        |c AS (SELECT event_type, x, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(1 - a) AS BIGINT) AS cb
        |      FROM v GROUP BY 1, 2),
        |w AS (SELECT event_type,
        |        CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS fa,
        |        CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS fb,
        |        CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
        |        CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        |      FROM c),
        |m AS (SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
        |        max(CASE WHEN na > 0 AND nb > 0 THEN
        |          abs(CAST(fa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE)) END) AS d0
        |      FROM w GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  ${r6("d0")} AS d,
        |  ${r6("sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * d0")} AS ks
        |FROM m""".stripMargin),

    // Mann-Whitney U per language: even- vs odd-doc cohorts on doc size
    QueryDef("q_mwu", (s, dir) =>
      Hypothesis.mannWhitney(docs(s, dir), Seq("lang"), "n_chars",
          pmod(col("doc_id"), lit(2)) === 0)
        .select(col("lang"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("u_a")).as("u_a"),
          graft.functions.Portable.r6(col("z")).as("z"),
          graft.functions.Portable.r6(col("delta")).as("delta")),
      s"""WITH v AS (SELECT lang, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
        |    CAST(n_chars AS DOUBLE) AS x
        |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
        |r AS (SELECT lang, a,
        |        CAST(rank() OVER (PARTITION BY lang ORDER BY x) AS DOUBLE)
        |          + CAST(count(*) OVER (PARTITION BY lang, x) - 1 AS DOUBLE) / 2.0 AS rk,
        |        CAST(count(*) OVER (PARTITION BY lang, x) AS BIGINT) AS c
        |      FROM v),
        |m AS (SELECT lang,
        |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
        |        CAST(coalesce(sum(CASE WHEN a = 1 THEN CAST(rk AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS ra,
        |        ${dsum0("c * c - 1")} AS ties
        |      FROM r GROUP BY 1),
        |s AS (SELECT lang, n_a, n_b,
        |        ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0 AS u,
        |        CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
        |          ((CAST(n_a + n_b AS DOUBLE) + 1.0)
        |            - ties / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0))) AS s2
        |      FROM m)
        |SELECT lang, n_a, n_b,
        |  ${r6("u")} AS u_a,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND s2 > 0 THEN
        |    ${r6("(u - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) / sqrt(s2)")} END AS z,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ${r6("2.0 * u / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0")} END AS delta
        |FROM s""".stripMargin),

    // two-proportion z: long-doc rate, even- vs odd-doc cohorts per lang
    QueryDef("q_two_prop", (s, dir) =>
      Hypothesis.twoProportionZ(docs(s, dir), Seq("lang"),
          col("n_chars") > 300, pmod(col("doc_id"), lit(2)) === 0)
        .select(col("lang"), col("n_a"), col("n_b"), col("k_a"), col("k_b"),
          graft.functions.Portable.r6(col("p_a")).as("p_a"),
          graft.functions.Portable.r6(col("p_b")).as("p_b"),
          graft.functions.Portable.r6(col("z")).as("z")),
      s"""WITH v AS (SELECT lang, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS h
        |  FROM documents),
        |g AS (SELECT lang,
        |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
        |        CAST(coalesce(sum(CASE WHEN a = 1 THEN h END), 0) AS BIGINT) AS k_a,
        |        CAST(coalesce(sum(CASE WHEN a = 0 THEN h END), 0) AS BIGINT) AS k_b
        |      FROM v GROUP BY 1),
        |e AS (SELECT lang, n_a, n_b, k_a, k_b,
        |        CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |        CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |        CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
        |      FROM g)
        |SELECT lang, n_a, n_b, k_a, k_b,
        |  CASE WHEN n_a > 0 THEN ${r6("pa")} END AS p_a,
        |  CASE WHEN n_b > 0 THEN ${r6("pb")} END AS p_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
        |    ${r6("(pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))")} END AS z
        |FROM e""".stripMargin),

    // per-user value autocorrelation at lags 1..3 (one key window)
    QueryDef("q_acf", (s, dir) =>
      Stats.acf(ev(s, dir), Seq("user_id"), "ts", "event_id", "value", maxLag = 3)
        .select(col("user_id"), col("lag"), col("n"),
          graft.functions.Portable.r6(col("acf")).as("acf")),
      s"""WITH v AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE)) AND ts IS NOT NULL),
        |l AS (SELECT user_id, x,
        |        lag(x, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1,
        |        lag(x, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l2,
        |        lag(x, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l3
        |      FROM v),
        |p AS (SELECT user_id, 1 AS "lag", x, l1 AS y FROM l WHERE l1 IS NOT NULL
        |      UNION ALL SELECT user_id, 2, x, l2 FROM l WHERE l2 IS NOT NULL
        |      UNION ALL SELECT user_id, 3, x, l3 FROM l WHERE l3 IS NOT NULL),
        |m AS (SELECT user_id, "lag", count(*) AS n,
        |        ${dsum0("x")} AS sx,
        |        ${dsum0("y")} AS sy,
        |        ${dsum0("x * y")} AS sxy,
        |        ${dsum0("x * x")} AS sxx,
        |        ${dsum0("y * y")} AS syy
        |      FROM p GROUP BY 1, 2)
        |SELECT user_id, "lag", n,
        |  ${r6("(CAST(n AS DOUBLE) * sxy - sx * sy) / nullif(sqrt(greatest((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0)), 0.0)")} AS acf
        |FROM m""".stripMargin),

    // Cohen's kappa per source: declared lang tag vs the lang-ID detector
    QueryDef("q_kappa", (s, dir) =>
      Stats.cohenKappa(
          docs(s, dir).select(col("source"), col("lang"),
            TextFunctions.langId(col("text")).as("lang_pred")),
          Seq("source"), "lang", "lang_pred")
        .select(col("source"), col("n"),
          graft.functions.Portable.r6(col("po")).as("po"),
          graft.functions.Portable.r6(col("pe")).as("pe"),
          graft.functions.Portable.r6(col("kappa")).as("kappa")),
      s"""WITH det AS ($langIdSelectSql),
         |d AS (SELECT source, lang AS a, lang_pred AS b
         |      FROM documents JOIN det USING (doc_id) WHERE lang IS NOT NULL),
         |cells AS (SELECT source, a, b, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2, 3),
         |base AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |        CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS diag
         |      FROM cells GROUP BY 1),
         |ma AS (SELECT source, a AS l, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY 1, 2),
         |mb AS (SELECT source, b AS l, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY 1, 2),
         |pe AS (SELECT ma.source, CAST(coalesce(sum(CAST(ca * cb AS DECIMAL(38,0))), 0) AS DOUBLE) AS pen
         |      FROM ma JOIN mb ON ma.source = mb.source AND ma.l = mb.l GROUP BY 1),
         |r AS (SELECT base.source, n,
         |        CAST(diag AS DOUBLE) / CAST(n AS DOUBLE) AS po0,
         |        coalesce(pen, 0.0) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe0
         |      FROM base LEFT JOIN pe ON base.source = pe.source)
         |SELECT source, n,
         |  ${r6("po0")} AS po,
         |  ${r6("pe0")} AS pe,
         |  ${r6("(po0 - pe0) / nullif(1.0 - pe0, 0.0)")} AS kappa
         |FROM r""".stripMargin),

    // Wilson 95% interval per source for the share of English docs
    QueryDef("q_wilson", (s, dir) =>
      Stats.wilsonInterval(docs(s, dir), Seq("source"), col("lang") === "en")
        .select(col("source"), col("n"), col("k"),
          graft.functions.Portable.r6(col("p")).as("p"),
          graft.functions.Portable.r6(col("lo")).as("lo"),
          graft.functions.Portable.r6(col("hi")).as("hi")),
      s"""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |        CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS k
        |      FROM documents GROUP BY 1),
        |e AS (SELECT source, n, k,
        |        CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |        CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2,
        |        CAST(n AS DOUBLE) AS nd
        |      FROM g),
        |w AS (SELECT source, n, k, p,
        |        (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd) AS center,
        |        CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
        |          / (1.0 + z2 / nd) AS half
        |      FROM e)
        |SELECT source, n, k,
        |  ${r6("p")} AS p,
        |  ${r6("center - half")} AS lo,
        |  ${r6("center + half")} AS hi
        |FROM w""".stripMargin),

    // ROC AUC per lang: does doc length rank ' the '-bearing docs first?
    // (the quality-classifier separation readout; NULL for one-arm slices)
    QueryDef("q_auc", (s, dir) =>
      Evaluation.rocAuc(docs(s, dir), Seq("lang"), "n_chars",
          col("text").contains(" the "))
        .select(col("lang"), col("n_pos"), col("n_neg"),
          graft.functions.Portable.r6(col("auc")).as("auc")),
      s"""WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS x,
        |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p
        |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
        |r AS (SELECT lang, p,
        |        CAST(rank() OVER (PARTITION BY lang ORDER BY x) AS DOUBLE)
        |          + CAST(count(*) OVER (PARTITION BY lang, x) - 1 AS DOUBLE) / 2.0 AS rk
        |      FROM v),
        |m AS (SELECT lang, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(1 - p) AS BIGINT) AS n_neg,
        |        CAST(coalesce(sum(CASE WHEN p = 1 THEN CAST(rk AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS rp
        |      FROM r GROUP BY 1)
        |SELECT lang, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    ${r6("(rp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0) / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))")} END AS auc
        |FROM m""".stripMargin),

    // calibration of the length-derived [0,1] score against the same
    // label: decile reliability bins + per-lang expected calibration error
    QueryDef("q_calibration", (s, dir) =>
      Evaluation.calibration(
          docs(s, dir).withColumn("score",
            least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
          Seq("lang"), "score", col("text").contains(" the "), nBins = 10)
        .select(col("lang"), col("bin"), col("n"),
          graft.functions.Portable.r6(col("conf")).as("conf"),
          graft.functions.Portable.r6(col("acc")).as("acc"),
          graft.functions.Portable.r6(col("ece")).as("ece")),
      s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
        |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p FROM documents),
        |g AS (SELECT lang, least(9, greatest(0, CAST(floor(x * 10) AS BIGINT))) AS bin,
        |        CAST(count(*) AS BIGINT) AS n,
        |        ${dsum("x")} AS sx,
        |        CAST(sum(p) AS BIGINT) AS k
        |      FROM v GROUP BY 1, 2),
        |b AS (SELECT lang, bin, n, sx / CAST(n AS DOUBLE) AS conf0,
        |        CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS acc0 FROM g),
        |e AS (SELECT lang, bin, n, conf0, acc0,
        |        CAST(sum(CAST(${r6("CAST(n AS DOUBLE) * abs(acc0 - conf0)")}
        |          AS DECIMAL(38,6))) OVER (PARTITION BY lang) AS DOUBLE)
        |          / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS ece0
        |      FROM b)
        |SELECT lang, bin, n,
        |  ${r6("conf0")} AS conf,
        |  ${r6("acc0")} AS acc,
        |  ${r6("ece0")} AS ece
        |FROM e""".stripMargin),

    // Kruskal-Wallis per source: did ANY language arm's doc-size
    // distribution shift? (k-arm extension of q_mwu)
    QueryDef("q_kruskal", (s, dir) =>
      Hypothesis.kruskalWallis(docs(s, dir), Seq("source"), "lang", "n_chars")
        .select(col("source"), col("n"), col("k_arms"),
          graft.functions.Portable.r6(col("h")).as("h")),
      s"""WITH v AS (SELECT source, lang AS arm, CAST(n_chars AS DOUBLE) AS x FROM documents
        |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND lang IS NOT NULL),
        |r AS (SELECT source, arm,
        |        CAST(rank() OVER (PARTITION BY source ORDER BY x) AS DOUBLE)
        |          + CAST(count(*) OVER (PARTITION BY source, x) - 1 AS DOUBLE) / 2.0 AS rk,
        |        CAST(count(*) OVER (PARTITION BY source, x) AS BIGINT) AS c
        |      FROM v),
        |pa AS (SELECT source, arm, CAST(count(*) AS BIGINT) AS na,
        |        ${dsum0("rk")} AS ra,
        |        ${dsum0("c * c - 1")} AS ties
        |      FROM r GROUP BY 1, 2),
        |m AS (SELECT source, CAST(sum(na) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k_arms,
        |        ${dsum0(r6("ra * ra / CAST(na AS DOUBLE)"))} AS rr,
        |        ${dsum0("ties")} AS t
        |      FROM pa GROUP BY 1),
        |s AS (SELECT source, n, k_arms, rr,
        |        CAST(n AS DOUBLE) AS nd,
        |        1.0 - t / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS corr
        |      FROM m)
        |SELECT source, n, k_arms,
        |  CASE WHEN k_arms >= 2 AND n > 1 AND corr > 0 THEN
        |    ${r6("(12.0 / (nd * (nd + 1.0)) * rr - 3.0 * (nd + 1.0)) / corr")}
        |  END AS h
        |FROM s""".stripMargin),

    // CUPED variance-reduced A/B readout per event type: morning
    // covariate, afternoon metric, md5-coin arms over users
    QueryDef("q_cuped", (s, dir) =>
      Stats.cuped(ev(s, dir), Seq("event_type"), "user_id", "value",
          inPre = hour(col("ts")) < 12,
          inA = pmod(TextFunctions.md5Hash32(
            concat(lit("cu|"), col("user_id").cast("string"))), lit(2)) === 0)
        .select(col("event_type"), col("n_units"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("theta")).as("theta"),
          graft.functions.Portable.r6(col("diff_raw")).as("diff_raw"),
          graft.functions.Portable.r6(col("diff_adj")).as("diff_adj"),
          graft.functions.Portable.r6(col("var_reduction")).as("var_reduction")),
      {
      val okx = "x IS NOT NULL AND NOT isnan(x)"
      s"""WITH u0 AS (SELECT event_type, user_id,
         |    CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END AS pre,
         |    CAST(value AS DOUBLE) AS x,
         |    CASE WHEN ${h32("concat('cu|', CAST(user_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS a
         |  FROM events),
         |u AS (SELECT event_type, user_id,
         |    CASE WHEN count(CASE WHEN pre = 1 AND $okx THEN 1 END) > 0 THEN
         |      CAST(sum(CASE WHEN pre = 1 AND $okx THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
         |        / CAST(count(CASE WHEN pre = 1 AND $okx THEN 1 END) AS DOUBLE) END AS x0,
         |    CASE WHEN count(CASE WHEN pre = 0 AND $okx THEN 1 END) > 0 THEN
         |      CAST(sum(CASE WHEN pre = 0 AND $okx THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
         |        / CAST(count(CASE WHEN pre = 0 AND $okx THEN 1 END) AS DOUBLE) END AS y0,
         |    max(a) AS a
         |  FROM u0 GROUP BY 1, 2),
         |f AS (SELECT event_type, a,
         |    ${r6("x0")} AS ux,
         |    ${r6("y0")} AS uy
         |  FROM u WHERE x0 IS NOT NULL AND y0 IS NOT NULL),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_units,
         |    ${dsum0("ux")} AS sx,
         |    ${dsum0("uy")} AS sy,
         |    ${dsum0("ux * uy")} AS sxy,
         |    ${dsum0("ux * ux")} AS sxx,
         |    ${dsum0("uy * uy")} AS syy,
         |    CAST(sum(a) AS BIGINT) AS na,
         |    CAST(coalesce(sum(CASE WHEN a = 1 THEN CAST(ux AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sxa,
         |    CAST(coalesce(sum(CASE WHEN a = 1 THEN CAST(uy AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sya
         |  FROM f GROUP BY 1),
         |e AS (SELECT event_type, n_units, na, n_units - na AS nb,
         |    CAST(n_units AS DOUBLE) * sxy - sx * sy AS cov,
         |    CAST(n_units AS DOUBLE) * sxx - sx * sx AS vx,
         |    CAST(n_units AS DOUBLE) * syy - sy * sy AS vy,
         |    sx, sy, sxa, sya FROM m)
         |SELECT event_type, n_units, na AS n_a, nb AS n_b,
         |  ${r6("cov / nullif(vx, 0.0)")} AS theta,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    ${r6("sya / CAST(na AS DOUBLE) - (sy - sya) / CAST(nb AS DOUBLE)")} END AS diff_raw,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    ${r6("sya / CAST(na AS DOUBLE) - (sy - sya) / CAST(nb AS DOUBLE) - cov / nullif(vx, 0.0) * (sxa / CAST(na AS DOUBLE) - (sx - sxa) / CAST(nb AS DOUBLE))")} END AS diff_adj,
         |  CASE WHEN vx > 0 AND vy > 0 THEN
         |    ${r6("cov * cov / (vx * vy)")} END AS var_reduction
         |FROM e""".stripMargin
    }),

    // average precision per lang (PR-curve area; contrast q_auc which
    // saturates under class skew), ranking by length, tie-break doc_id
    QueryDef("q_ap", (s, dir) =>
      Evaluation.averagePrecision(docs(s, dir), Seq("lang"), "n_chars", "doc_id",
          col("text").contains(" the "))
        .select(col("lang"), col("n"), col("n_pos"),
          graft.functions.Portable.r6(col("ap")).as("ap")),
      s"""WITH v AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS x,
        |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p
        |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
        |r AS (SELECT lang, p,
        |        row_number() OVER (PARTITION BY lang ORDER BY x DESC, doc_id) AS rk,
        |        sum(p) OVER (PARTITION BY lang ORDER BY x DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |      FROM v),
        |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS n_pos,
        |        CAST(coalesce(sum(CASE WHEN p = 1 THEN
        |          CAST(${r6("CAST(cp AS DOUBLE) / CAST(rk AS DOUBLE)")}
        |            AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sap
        |      FROM r GROUP BY 1)
        |SELECT lang, n, n_pos,
        |  CASE WHEN n_pos > 0 THEN
        |    ${r6("sap / CAST(n_pos AS DOUBLE)")} END AS ap
        |FROM m""".stripMargin),

    // Benjamini-Hochberg FDR over the (lang x source) long-doc-rate
    // z-tests: which slices' deviations survive multiple testing.
    // Arms split by an md5 coin, NOT doc_id parity — the generator's ids
    // correlate parity with (lang, source), which would empty one arm of
    // every cell
    QueryDef("q_bh", { (s, dir) =>
      val tests = Hypothesis.twoProportionZ(docs(s, dir), Seq("lang", "source"),
          col("n_chars") > 300,
          pmod(TextFunctions.md5Hash32(concat(lit("bh|"), col("doc_id").cast("string"))),
            lit(2)) === 0)
        .select(col("lang"), col("source"),
          graft.functions.Portable.r6(col("z")).as("z"),
          graft.functions.Portable.r6(Hypothesis.pFromZ(col("z"))).as("p"))
      Hypothesis.benjaminiHochberg(tests, "p", Seq("lang", "source"), alpha = 0.1)
        .select(col("lang"), col("source"), col("z"), col("p"), col("m"),
          col("rank"), graft.functions.Portable.r6(col("q")).as("q"), col("reject"))
    },
      s"""WITH v AS (SELECT lang, source,
         |    CASE WHEN ${h32("concat('bh|', CAST(doc_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS hit
         |  FROM documents),
         |g AS (SELECT lang, source,
         |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
         |        CAST(coalesce(sum(CASE WHEN a = 1 THEN hit END), 0) AS BIGINT) AS k_a,
         |        CAST(coalesce(sum(CASE WHEN a = 0 THEN hit END), 0) AS BIGINT) AS k_b
         |      FROM v GROUP BY 1, 2),
         |e AS (SELECT lang, source, n_a, n_b, k_a, k_b,
         |        CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         |        CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
         |        CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
         |      FROM g),
         |z0 AS (SELECT lang, source,
         |        CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
         |          (pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |        END AS z FROM e),
         |pz AS (SELECT lang, source, z, abs(z) AS az,
         |        1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM z0),
         |pv AS (SELECT lang, source,
         |        ${r6("z")} AS z,
         |        ${r6(pFromZSql)} AS p
         |      FROM pz WHERE z IS NOT NULL),
         |rk AS (SELECT lang, source, z, p,
         |        CAST(count(*) OVER () AS BIGINT) AS m,
         |        CAST(row_number() OVER (ORDER BY p, lang, source) AS BIGINT) AS "rank"
         |      FROM pv),
         |adj AS (SELECT lang, source, z, p, m, "rank",
         |        least(1.0, min(p * CAST(m AS DOUBLE) / CAST("rank" AS DOUBLE))
         |          OVER (ORDER BY p, lang, source
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS q_raw
         |      FROM rk),
         |nullz AS (SELECT lang, source, CAST(NULL AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS p,
         |        CAST(NULL AS BIGINT) AS m, CAST(NULL AS BIGINT) AS "rank",
         |        CAST(NULL AS DOUBLE) AS q, CAST(NULL AS BOOLEAN) AS reject
         |      FROM z0 WHERE z IS NULL)
         |SELECT lang, source, z, p, m, "rank",
         |  ${r6("q_raw")} AS q, q_raw <= 0.1 AS reject
         |FROM adj
         |UNION ALL SELECT * FROM nullz""".stripMargin),

    // one-way ANOVA F of doc length across languages per source — the
    // parametric complement of q_kruskal (same slicing for contrast)
    QueryDef("q_anova", (s, dir) =>
      Anova.anovaF(docs(s, dir), Seq("source"), "lang", "n_chars")
        .select(col("source"), col("n"), col("k_arms"),
          graft.functions.Portable.r6(col("ss_between")).as("ss_between"),
          graft.functions.Portable.r6(col("ss_within")).as("ss_within"),
          graft.functions.Portable.r6(col("f")).as("f")),
      s"""WITH v AS (SELECT source, lang AS arm, CAST(n_chars AS DOUBLE) AS x
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND lang IS NOT NULL),
        |a AS (SELECT source, arm, CAST(count(*) AS BIGINT) AS n_a,
        |    ${dsum("x")} AS sa,
        |    ${dsum("x * x")} AS sxxa
        |  FROM v GROUP BY 1, 2),
        |m AS (SELECT source, CAST(sum(n_a) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k_arms,
        |    ${dsum("sa")} AS s,
        |    ${dsum("sxxa")} AS sxx,
        |    ${dsum(r6("sa * sa / CAST(n_a AS DOUBLE)"))} AS expl
        |  FROM a GROUP BY 1),
        |e AS (SELECT source, n, k_arms,
        |    expl - s * s / CAST(n AS DOUBLE) AS ssb, sxx - expl AS ssw FROM m)
        |SELECT source, n, k_arms,
        |  ${r6("ssb")} AS ss_between,
        |  ${r6("ssw")} AS ss_within,
        |  CASE WHEN k_arms >= 2 AND n > k_arms AND ssw > 0 THEN
        |    ${r6("(ssb / (CAST(k_arms AS DOUBLE) - 1.0)) / (ssw / (CAST(n AS DOUBLE) - CAST(k_arms AS DOUBLE)))")}
        |  END AS f
        |FROM e""".stripMargin),

    // Brown-Forsythe variance-homogeneity across languages per source:
    // "do the arms even have comparable spread" (ANOVA's precondition)
    QueryDef("q_levene", (s, dir) =>
      Anova.brownForsythe(docs(s, dir), Seq("source"), "lang", "n_chars")
        .select(col("source"), col("n"), col("k_arms"),
          graft.functions.Portable.r6(col("ss_between")).as("ss_between"),
          graft.functions.Portable.r6(col("ss_within")).as("ss_within"),
          graft.functions.Portable.r6(col("f")).as("f")),
      s"""WITH v AS (SELECT source, lang AS arm, CAST(n_chars AS DOUBLE) AS x0
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND lang IS NOT NULL),
        |md AS (SELECT source, arm, quantile_cont(x0, 0.5) AS med FROM v GROUP BY 1, 2),
        |c AS (SELECT v.source, v.arm,
        |    ${r6("abs(x0 - med)")} AS x
        |  FROM v JOIN md USING (source, arm)),
        |a AS (SELECT source, arm, CAST(count(*) AS BIGINT) AS n_a,
        |    ${dsum("x")} AS sa,
        |    ${dsum("x * x")} AS sxxa
        |  FROM c GROUP BY 1, 2),
        |m AS (SELECT source, CAST(sum(n_a) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k_arms,
        |    ${dsum("sa")} AS s,
        |    ${dsum("sxxa")} AS sxx,
        |    ${dsum(r6("sa * sa / CAST(n_a AS DOUBLE)"))} AS expl
        |  FROM a GROUP BY 1),
        |e AS (SELECT source, n, k_arms,
        |    expl - s * s / CAST(n AS DOUBLE) AS ssb, sxx - expl AS ssw FROM m)
        |SELECT source, n, k_arms,
        |  ${r6("ssb")} AS ss_between,
        |  ${r6("ssw")} AS ss_within,
        |  CASE WHEN k_arms >= 2 AND n > k_arms AND ssw > 0 THEN
        |    ${r6("(ssb / (CAST(k_arms AS DOUBLE) - 1.0)) / (ssw / (CAST(n AS DOUBLE) - CAST(k_arms AS DOUBLE)))")}
        |  END AS f
        |FROM e""".stripMargin),

    // two-group log-rank test on time-to-purchase, arms by md5 coin
    // over users (the whole-curve companion to q_km_survival)
    QueryDef("q_logrank", (s, dir) =>
      Survival.logRank(ev(s, dir), "user_id", "ts", "event_type", "purchase",
          inA = pmod(TextFunctions.md5Hash32(
            concat(lit("lr|"), col("user_id").cast("string"))), lit(2)) === 0)
        .select(col("n_a"), col("n_b"), col("o_a"),
          graft.functions.Portable.r6(col("e_a")).as("e_a"),
          graft.functions.Portable.r6(col("v")).as("v"),
          graft.functions.Portable.r6(col("chi2")).as("chi2")),
      s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
         |    max(epoch_us(ts)) AS tl,
         |    max(CASE WHEN ${h32("concat('lr|', CAST(user_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END) AS a
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |dur AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
         |    te IS NOT NULL AS obs, a = 1 AS ina FROM sp),
         |cv AS (SELECT t_day,
         |    count(CASE WHEN obs AND ina THEN 1 END) AS d_a,
         |    count(CASE WHEN obs AND NOT ina THEN 1 END) AS d_b,
         |    count(CASE WHEN NOT obs AND ina THEN 1 END) AS c_a,
         |    count(CASE WHEN NOT obs AND NOT ina THEN 1 END) AS c_b
         |  FROM dur GROUP BY 1),
         |tot AS (SELECT sum(d_a + c_a) AS ta, sum(d_b + c_b) AS tb FROM cv),
         |r AS (SELECT t_day, d_a, d_b, ta, tb,
         |    ta - coalesce(sum(d_a + c_a) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nar,
         |    tb - coalesce(sum(d_b + c_b) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nbr
         |  FROM cv, tot),
         |h AS (SELECT d_a, ta, tb,
         |    CAST(d_a + d_b AS DOUBLE) AS d,
         |    CAST(nar AS DOUBLE) AS na,
         |    CAST(nar + nbr AS DOUBLE) AS nn
         |  FROM r),
         |t2 AS (SELECT d_a, ta, tb,
         |    CASE WHEN d > 0 THEN ${r6("d * (na / nn)")} ELSE 0.0 END AS et,
         |    CASE WHEN d > 0 AND nn > 1 THEN
         |      ${r6("d * (na / nn) * (1.0 - na / nn) * (nn - d) / (nn - 1.0)")}
         |    ELSE 0.0 END AS vt
         |  FROM h),
         |agg AS (SELECT CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
         |    CAST(sum(d_a) AS BIGINT) AS o_a,
         |    ${dsum0("et")} AS ea,
         |    ${dsum0("vt")} AS vv
         |  FROM t2)
         |SELECT n_a, n_b, o_a,
         |  ${r6("ea")} AS e_a,
         |  ${r6("vv")} AS v,
         |  CASE WHEN n_a > 0 AND n_b > 0 AND vv > 0 THEN
         |    ${r6("(CAST(o_a AS DOUBLE) - ea) * (CAST(o_a AS DOUBLE) - ea) / vv")}
         |  END AS chi2
         |FROM agg""".stripMargin),

    // Cramer's V coupling of lang and source — the effect-size summary
    // of q_chi2's cell frame (chi-square alone grows with N)
    QueryDef("q_cramers_v", (s, dir) =>
      Stats.cramersV(docs(s, dir), "lang", "source")
        .select(col("n_a_levels"), col("n_b_levels"), col("n"),
          graft.functions.Portable.r6(col("chi2")).as("chi2"),
          graft.functions.Portable.r6(col("v")).as("v")),
      s"""WITH cells AS (SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS obs
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |ra AS (SELECT a, sum(obs) AS na FROM cells GROUP BY 1),
        |rb AS (SELECT b, sum(obs) AS nb FROM cells GROUP BY 1),
        |tot AS (SELECT sum(obs) AS n FROM cells),
        |grid AS (SELECT a, b, na, nb, n FROM ra CROSS JOIN rb CROSS JOIN tot),
        |j AS (SELECT grid.a, grid.b, coalesce(obs, 0) AS o,
        |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) AS e
        |  FROM grid LEFT JOIN cells ON grid.a = cells.a AND grid.b = cells.b),
        |m AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS n_a_levels,
        |    CAST(count(DISTINCT b) AS BIGINT) AS n_b_levels,
        |    CAST(sum(o) AS BIGINT) AS n,
        |    ${dsum0(r6("(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e"))} AS chi2
        |  FROM j)
        |SELECT n_a_levels, n_b_levels, n,
        |  ${r6("chi2")} AS chi2,
        |  CASE WHEN least(n_a_levels, n_b_levels) >= 2 AND n > 0 THEN
        |    ${r6("sqrt(chi2 / (CAST(n AS DOUBLE) * (CAST(least(n_a_levels, n_b_levels) AS DOUBLE) - 1.0)))")}
        |  END AS v
        |FROM m""".stripMargin),

    // Kendall tau-b of per-user (event count vs total value) per type,
    // on the deterministic 150-unit sample (pairwise by nature)
    QueryDef("q_kendall", { (s, dir) =>
      val okv = col("value").isNotNull && !isnan(col("value"))
      val units = ev(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          graft.functions.Portable.dsumIf(okv, col("value")).as("v"))
      Stats.kendallTau(units, Seq("event_type"), "user_id", "n_events", "v",
          sampleN = 150)
        .select(col("event_type"), col("n"), col("n_pairs"),
          col("concordant"), col("discordant"),
          graft.functions.Portable.r6(col("tau_b")).as("tau_b"))
    },
      s"""WITH u AS (SELECT event_type, user_id,
         |    CAST(count(*) AS BIGINT) AS x0,
         |    CAST(coalesce(sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
         |      THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS y0
         |  FROM events GROUP BY 1, 2),
         |h AS (SELECT event_type, user_id, CAST(x0 AS DOUBLE) AS x, y0 AS y,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY ${h32("concat('kt','|',event_type,'|',CAST(user_id AS VARCHAR))")}, user_id) AS rn
         |  FROM u),
         |sm AS (SELECT event_type, user_id, x, y FROM h WHERE rn <= 150),
         |sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM sm GROUP BY 1),
         |p AS (SELECT l.event_type,
         |    sign(l.x - r.x) AS cx, sign(l.y - r.y) AS cy
         |  FROM sm l JOIN sm r ON l.event_type = r.event_type AND l.user_id < r.user_id),
         |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(count(CASE WHEN cx * cy > 0 THEN 1 END) AS BIGINT) AS concordant,
         |    CAST(count(CASE WHEN cx * cy < 0 THEN 1 END) AS BIGINT) AS discordant,
         |    CAST(count(CASE WHEN cx = 0 THEN 1 END) AS BIGINT) AS tx,
         |    CAST(count(CASE WHEN cy = 0 THEN 1 END) AS BIGINT) AS ty
         |  FROM p GROUP BY 1)
         |SELECT sz.event_type, n,
         |  coalesce(n_pairs, 0) AS n_pairs,
         |  coalesce(concordant, 0) AS concordant,
         |  coalesce(discordant, 0) AS discordant,
         |  CASE WHEN n_pairs - tx > 0 AND n_pairs - ty > 0 THEN
         |    ${r6("CAST(concordant - discordant AS DOUBLE) / sqrt(CAST(n_pairs - tx AS DOUBLE) * CAST(n_pairs - ty AS DOUBLE))")} END AS tau_b
         |FROM sz LEFT JOIN a USING (event_type)""".stripMargin),

    // Ljung-Box portmanteau "is it white noise" over the same per-user
    // series as q_acf (lags 1..3)
    QueryDef("q_ljung_box", (s, dir) =>
      Stats.ljungBox(ev(s, dir), Seq("user_id"), "ts", "event_id", "value", maxLag = 3)
        .select(col("user_id"), col("n_obs"), col("n_lags"),
          graft.functions.Portable.r6(col("q")).as("q")),
      s"""WITH v AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE)) AND ts IS NOT NULL),
        |l AS (SELECT user_id, x,
        |        lag(x, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1,
        |        lag(x, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l2,
        |        lag(x, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l3
        |      FROM v),
        |p AS (SELECT user_id, 1 AS lg, x, l1 AS y FROM l WHERE l1 IS NOT NULL
        |      UNION ALL SELECT user_id, 2, x, l2 FROM l WHERE l2 IS NOT NULL
        |      UNION ALL SELECT user_id, 3, x, l3 FROM l WHERE l3 IS NOT NULL),
        |m AS (SELECT user_id, lg, count(*) AS n,
        |        ${dsum0("x")} AS sx,
        |        ${dsum0("y")} AS sy,
        |        ${dsum0("x * y")} AS sxy,
        |        ${dsum0("x * x")} AS sxx,
        |        ${dsum0("y * y")} AS syy
        |      FROM p GROUP BY 1, 2),
        |rho AS (SELECT user_id, lg,
        |        (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |          nullif(sqrt(greatest((CAST(n AS DOUBLE) * sxx - sx * sx)
        |            * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0)), 0.0) AS r
        |      FROM m),
        |ns AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs FROM v GROUP BY 1),
        |t AS (SELECT rho.user_id, n_obs,
        |        r * r / (CAST(n_obs AS DOUBLE) - CAST(lg AS DOUBLE)) AS tt
        |      FROM rho JOIN ns USING (user_id)),
        |g AS (SELECT user_id, n_obs, CAST(count(*) AS BIGINT) AS n_lags,
        |        count(CASE WHEN tt IS NULL THEN 1 END) AS bad,
        |        ${dsum0(r6("tt"))} AS s
        |      FROM t GROUP BY 1, 2)
        |SELECT user_id, n_obs, n_lags,
        |  CASE WHEN bad = 0 AND n_obs > 3 THEN
        |    ${r6("CAST(n_obs AS DOUBLE) * (CAST(n_obs AS DOUBLE) + 2.0) * s")}
        |  END AS q
        |FROM g""".stripMargin),

    // item-item cosine over (user x event_type) interaction counts —
    // "users who did X also did Y"
    QueryDef("q_item_cf", (s, dir) =>
      Recommend.itemCosine(ev(s, dir), "user_id", "event_type", minUsers = 2L)
        .select(col("item_a"), col("item_b"), col("n_users"),
          graft.functions.Portable.r6(col("cosine")).as("cosine")),
      s"""WITH c AS (SELECT user_id AS u, event_type AS i, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
        |ok AS (SELECT u FROM (SELECT u, count(*) AS ni FROM c GROUP BY 1) WHERE ni <= 1000),
        |cc AS (SELECT c.* FROM c JOIN ok USING (u)),
        |nr AS (SELECT i, CAST(sum(c * c) AS BIGINT) AS ss FROM cc GROUP BY 1),
        |p AS (SELECT l.i AS item_a, r.i AS item_b, CAST(count(*) AS BIGINT) AS n_users,
        |        CAST(sum(l.c * r.c) AS BIGINT) AS dot
        |      FROM cc l JOIN cc r ON l.u = r.u AND l.i < r.i GROUP BY 1, 2)
        |SELECT item_a, item_b, n_users,
        |  ${r6("CAST(dot AS DOUBLE) / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE)))")} AS cosine
        |FROM p JOIN nr na ON p.item_a = na.i JOIN nr nb ON p.item_b = nb.i
        |WHERE n_users >= 2""".stripMargin),

    // Hill tail-index of doc lengths per source over the top-50 order
    // statistics — how heavy is the length tail a clamp must survive
    QueryDef("q_hill", (s, dir) =>
      Stats.hillTailIndex(docs(s, dir), Seq("source"), "n_chars", "doc_id", k = 50)
        .select(col("source"), col("n"), col("x_tail"),
          graft.functions.Portable.r6(col("alpha")).as("alpha")),
      s"""WITH v AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS x FROM documents
        |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND CAST(n_chars AS DOUBLE) > 0.0),
        |rk AS (SELECT source, x, row_number() OVER (PARTITION BY source ORDER BY x DESC, doc_id) AS r FROM v),
        |top AS (SELECT * FROM rk WHERE r <= 51),
        |g AS (SELECT source, count(*) AS nk, min(CASE WHEN r = 51 THEN x END) AS x_tail FROM top GROUP BY 1),
        |t AS (SELECT top.source, g.nk, g.x_tail,
        |        ${r6("ln(top.x / g.x_tail)")} AS tt
        |      FROM top JOIN g USING (source) WHERE top.r <= 50 AND g.x_tail IS NOT NULL),
        |m AS (SELECT source, nk, x_tail,
        |        ${dsum0("tt")} / CAST(count(*) AS DOUBLE) AS mn
        |      FROM t GROUP BY 1, 2, 3),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1)
        |SELECT sz.source, sz.n, m.x_tail,
        |  CASE WHEN m.nk = 51 AND m.mn > 0.0 THEN ${r6("1.0 / m.mn")} END AS alpha
        |FROM sz LEFT JOIN m USING (source)""".stripMargin),

    // effective-number diversity of each event stream across users
    QueryDef("q_diversity", (s, dir) =>
      graft.operators.Diversity.indices(ev(s, dir), Seq("event_type"), "user_id")
        .select(col("event_type"), col("n"), col("richness"),
          graft.functions.Portable.r6(col("shannon")).as("shannon"),
          graft.functions.Portable.r6(col("simpson")).as("simpson"),
          graft.functions.Portable.r6(col("hill1")).as("hill1"),
          graft.functions.Portable.r6(col("hill2")).as("hill2")),
      s"""WITH c AS (SELECT event_type, user_id, count(*) AS k FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(k) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS richness,
        |        CAST(sum(CAST(k AS DECIMAL(38,0)) * k) AS DOUBLE) AS sk2,
        |        ${dsum(r6("CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE))"))} AS skl
        |      FROM c GROUP BY 1)
        |SELECT event_type, n, richness,
        |  ${r6("ln(CAST(n AS DOUBLE)) - skl / CAST(n AS DOUBLE)")} AS shannon,
        |  ${r6("sk2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))")} AS simpson,
        |  ${r6("exp(ln(CAST(n AS DOUBLE)) - skl / CAST(n AS DOUBLE))")} AS hill1,
        |  ${r6("CAST(n AS DOUBLE) * CAST(n AS DOUBLE) / sk2")} AS hill2
        |FROM g""".stripMargin),

    // RFM segmentation of customers within market segments
    QueryDef("q_rfm", { (s, dir) =>
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.Rfm.rfm(o.join(c, col("o_custkey") === col("c_custkey")),
          "c_mktsegment", "o_custkey", "o_orderdate", "o_totalprice", nBins = 5)
        .select(col("seg"), col("entity"),
          unix_micros(col("recency").cast("timestamp")).as("recency_us"),
          col("frequency"), col("monetary"), col("r"), col("f"), col("m"), col("rfm"))
    },
      s"""WITH b AS (SELECT c_mktsegment AS seg, o_custkey AS entity,
        |    max(o_orderdate) AS recency, CAST(count(*) AS BIGINT) AS frequency,
        |    ${dsum(r6("CAST(o_totalprice AS DOUBLE)"))} AS monetary
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT seg, entity, epoch_us(recency) AS recency_us, frequency, monetary,
        |  CAST(ntile(5) OVER (PARTITION BY seg ORDER BY recency, entity) AS BIGINT) AS r,
        |  CAST(ntile(5) OVER (PARTITION BY seg ORDER BY frequency, entity) AS BIGINT) AS f,
        |  CAST(ntile(5) OVER (PARTITION BY seg ORDER BY monetary, entity) AS BIGINT) AS m,
        |  CAST(ntile(5) OVER (PARTITION BY seg ORDER BY recency, entity) * 100
        |    + ntile(5) OVER (PARTITION BY seg ORDER BY frequency, entity) * 10
        |    + ntile(5) OVER (PARTITION BY seg ORDER BY monetary, entity) AS BIGINT) AS rfm
        |FROM b""".stripMargin),

    // isotonic (PAVA) recalibration of a length-based quality score
    // against the ' the ' label, per language — q_ece's companion FIX
    QueryDef("q_isotonic", (s, dir) =>
      Evaluation.isotonicCalibration(
          docs(s, dir).withColumn("score",
            least(lit(1.0), col("n_chars").cast("double") / 2000.0)),
          Seq("lang"), "score", col("text").contains(" the "), nBins = 20)
        .select(col("lang"), col("bin"), col("n"),
          graft.functions.Portable.r6(col("conf")).as("conf"),
          graft.functions.Portable.r6(col("acc")).as("acc"),
          graft.functions.Portable.r6(col("iso")).as("iso")),
      s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 2000.0) AS x,
        |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT lang, least(19, greatest(0, CAST(floor(x * 20) AS BIGINT))) AS bin,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS kk,
        |    ${dsum(r6("x"))} AS sx
        |  FROM v GROUP BY 1, 2),
        |c AS (SELECT lang, bin, n, kk, sx,
        |      CAST(sum(n) OVER w AS BIGINT) AS cn, CAST(sum(kk) OVER w AS BIGINT) AS ck,
        |      CAST(sum(n) OVER w - n AS BIGINT) AS pn, CAST(sum(kk) OVER w - kk AS BIGINT) AS pk
        |    FROM b WINDOW w AS (PARTITION BY lang ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |mn AS (SELECT i.lang, i.bin, j.bin AS jb, i.n, i.kk, i.sx,
        |      min(CAST(r.ck - j.pk AS DOUBLE) / CAST(r.cn - j.pn AS DOUBLE)) AS m
        |    FROM c i JOIN c j ON i.lang = j.lang AND j.bin <= i.bin
        |      JOIN c r ON i.lang = r.lang AND r.bin >= i.bin
        |    GROUP BY 1, 2, 3, 4, 5, 6),
        |f AS (SELECT lang, bin, n, kk, sx, max(m) AS iso FROM mn GROUP BY 1, 2, 3, 4, 5)
        |SELECT lang, bin, n,
        |  ${r6("sx / CAST(n AS DOUBLE)")} AS conf,
        |  ${r6("CAST(kk AS DOUBLE) / CAST(n AS DOUBLE)")} AS acc,
        |  ${r6("iso")} AS iso
        |FROM f""".stripMargin),

    // earth-mover drift of per-event-type value distributions between
    // the even/odd event halves — q_psi's "how far did mass move" twin
    QueryDef("q_emd", (s, dir) =>
      Stats.emd1d(ev(s, dir), Seq("event_type"), "value",
          isRef = col("event_id") % 2 === 0, nBins = 20)
        .select(col("event_type"), col("n_ref"), col("n_cur"), col("bin_width"),
          graft.functions.Portable.r6(col("emd")).as("emd")),
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
        |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS ref FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
        |rng AS (SELECT event_type, min(x) AS lo, max(x) AS hi FROM v GROUP BY 1),
        |cnt AS (SELECT v.event_type, ref,
        |      CASE WHEN hi = lo THEN 0
        |        ELSE CAST(least(floor((x - lo) / ((hi - lo) / 20.0)), 19.0) AS INT) END AS b,
        |      count(*) AS n
        |    FROM v JOIN rng USING (event_type) GROUP BY 1, 2, 3),
        |tot AS (SELECT event_type, ref, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY 1, 2),
        |grid AS (SELECT event_type, unnest(range(0, 20)) AS b
        |    FROM (SELECT DISTINCT event_type FROM cnt)),
        |g AS (SELECT grid.event_type, grid.b,
        |      CAST(coalesce(cr.n, 0) AS DOUBLE) / CAST(tr.t AS DOUBLE) AS p,
        |      CAST(coalesce(cc.n, 0) AS DOUBLE) / CAST(tc.t AS DOUBLE) AS q,
        |      tr.t AS t_ref, tc.t AS t_cur, (rng.hi - rng.lo) / 20.0 AS w
        |    FROM grid
        |    LEFT JOIN cnt cr ON cr.event_type = grid.event_type AND cr.b = grid.b AND cr.ref = 1
        |    LEFT JOIN cnt cc ON cc.event_type = grid.event_type AND cc.b = grid.b AND cc.ref = 0
        |    LEFT JOIN tot tr ON tr.event_type = grid.event_type AND tr.ref = 1
        |    LEFT JOIN tot tc ON tc.event_type = grid.event_type AND tc.ref = 0
        |    JOIN rng ON rng.event_type = grid.event_type),
        |cum AS (SELECT event_type, b, t_ref, t_cur, w,
        |      sum(p - q) OVER (PARTITION BY event_type ORDER BY b
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |    FROM g)
        |SELECT event_type, CAST(max(t_ref) AS BIGINT) AS n_ref, CAST(max(t_cur) AS BIGINT) AS n_cur,
        |  ${r6("max(w)")} AS bin_width,
        |  CASE WHEN max(t_ref) IS NOT NULL AND max(t_cur) IS NOT NULL THEN
        |    ${r6(s"${dsum(r6("abs(c)"))} * max(w)")} END AS emd
        |FROM cum GROUP BY event_type""".stripMargin),

    // Theil's U both ways: does source determine language, or vice versa
    QueryDef("q_theils_u", { (s, dir) =>
      val d = docs(s, dir)
      def one(x: String, y: String, tag: String) =
        Stats.theilsU(d, Seq.empty, x, y).withColumn("direction", lit(tag))
      one("source", "lang", "lang_given_source")
        .unionByName(one("lang", "source", "source_given_lang"))
        .select(col("direction"), col("n"), col("nx"), col("ny"),
          graft.functions.Portable.r6(col("h_y")).as("h_y"),
          graft.functions.Portable.r6(col("h_y_given_x")).as("h_y_given_x"),
          graft.functions.Portable.r6(col("u")).as("u"))
    },
      {
      def dir(x: String, y: String, tag: String): String =
        s"""SELECT '$tag' AS direction, n, nx, ny,
           |  ${r6("ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE)")} AS h_y,
           |  ${r6("(sx - sxy) / CAST(n AS DOUBLE)")} AS h_y_given_x,
           |  CASE WHEN ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE) > 0.0 THEN
           |    ${r6("((ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE)) - (sx - sxy) / CAST(n AS DOUBLE)) / (ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE))")} END AS u
           |FROM (
           |  WITH jt AS (SELECT $x AS x, $y AS y, count(*) AS k FROM documents
           |      WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY 1, 2),
           |  jm AS (SELECT CAST(sum(k) AS BIGINT) AS n,
           |      ${dsum(r6("CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE))"))} AS sxy FROM jt),
           |  xm AS (SELECT CAST(count(*) AS BIGINT) AS nx,
           |      ${dsum(r6("CAST(kx AS DOUBLE) * ln(CAST(kx AS DOUBLE))"))} AS sx
           |    FROM (SELECT x, sum(k) AS kx FROM jt GROUP BY 1)),
           |  ym AS (SELECT CAST(count(*) AS BIGINT) AS ny,
           |      ${dsum(r6("CAST(ky AS DOUBLE) * ln(CAST(ky AS DOUBLE))"))} AS sy
           |    FROM (SELECT y, sum(k) AS ky FROM jt GROUP BY 1))
           |  SELECT * FROM jm, xm, ym)""".stripMargin
      dir("source", "lang", "lang_given_source") + "\nUNION ALL\n" +
        dir("lang", "source", "source_given_lang")
    }),

    // leakage-safe LOO target encoding of source against doc length
    QueryDef("q_target_encode", (s, dir) =>
      graft.operators.TargetEncode.leaveOneOut(docs(s, dir), "source", "n_chars",
          smoothing = 10.0)
        .select(col("doc_id"), col("source"),
          graft.functions.Portable.r6(col("enc")).as("enc")),
      s"""WITH v AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS y FROM documents),
        |ok AS (SELECT * FROM v WHERE source IS NOT NULL AND y IS NOT NULL AND NOT isnan(y)),
        |cat AS (SELECT source,
        |    ${dsum(r6("y"))} AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ok GROUP BY 1),
        |g AS (SELECT ${dsum(r6("y"))}
        |    / CAST(count(*) AS DOUBLE) AS gm FROM ok)
        |SELECT doc_id, v.source,
        |  CASE WHEN v.source IS NOT NULL AND y IS NOT NULL AND NOT isnan(y)
        |      AND CAST(n AS DOUBLE) - 1.0 + 10.0 > 0.0 THEN
        |    ${r6(s"(s - ${r6("y")} + 10.0 * gm) / (CAST(n AS DOUBLE) - 1.0 + 10.0)")} END AS enc
        |FROM v LEFT JOIN cat ON v.source = cat.source, g""".stripMargin),

    // quality-score softmax sampling weights per language (T = 0.5)
    QueryDef("q_softmax", (s, dir) =>
      Stats.softmaxWeights(
          docs(s, dir).withColumn("score", col("n_chars").cast("double") / 1000.0),
          Seq("lang"), "doc_id", "score", temperature = 0.5)
        .select(col("lang"), col("doc_id"),
          graft.functions.Portable.r6(col("score")).as("score"),
          graft.functions.Portable.r6(col("w")).as("w")),
      s"""WITH b AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) / 1000.0 AS score
        |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE) / 1000.0)),
        |mx AS (SELECT lang, max(score) AS m FROM b GROUP BY 1),
        |t AS (SELECT b.lang, doc_id, score, exp((score - m) / 0.5) AS tt FROM b JOIN mx ON b.lang = mx.lang),
        |tot AS (SELECT lang,
        |    ${dsum(r6("tt"))} AS z
        |  FROM t GROUP BY 1)
        |SELECT t.lang, doc_id,
        |  ${r6("score")} AS score,
        |  ${r6("tt / z")} AS w
        |FROM t JOIN tot ON t.lang = tot.lang""".stripMargin),

    // Good-Turing unseen vocabulary mass + Chao1 floor per source
    QueryDef("q_unseen_mass", (s, dir) =>
      graft.operators.Diversity.unseenMass(
          docs(s, dir).select(col("source"),
            explode(TextFunctions.wordTokens(col("text"))).as("word")),
          Seq("source"), "word")
        .select(col("source"), col("n"), col("richness"), col("n1"), col("n2"),
          graft.functions.Portable.r6(col("missing_mass")).as("missing_mass"),
          graft.functions.Portable.r6(col("chao1")).as("chao1")),
      s"""WITH w AS (SELECT source,
        |    unnest(${wordTokensSql("text")}) AS word
        |  FROM documents),
        |c AS (SELECT source, word, count(*) AS k FROM w WHERE word IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(k) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS richness,
        |    CAST(count(CASE WHEN k = 1 THEN 1 END) AS BIGINT) AS n1,
        |    CAST(count(CASE WHEN k = 2 THEN 1 END) AS BIGINT) AS n2
        |  FROM c GROUP BY 1)
        |SELECT source, n, richness, n1, n2,
        |  ${r6("CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)")} AS missing_mass,
        |  CASE WHEN n2 > 0 THEN
        |    ${r6("CAST(richness AS DOUBLE) + CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE))")} END AS chao1
        |FROM g""".stripMargin),

    // clustered ratio metric: heavy-event rate per user-cohort with the
    // delta-method CI (unit = user, x = heavy events, y = all events)
    QueryDef("q_ratio_ci", (s, dir) => {
      val units = ev(s, dir)
        .groupBy((col("user_id") % 4).as("cohort"), col("user_id"))
        .agg(
          count(when(col("value") > 50.0, lit(1))).cast("double").as("x"),
          count(lit(1)).cast("double").as("y"))
      Stats.ratioMetricCi(units, Seq("cohort"), "x", "y")
        .select(col("cohort"), col("n"),
          graft.functions.Portable.r6(col("sum_x")).as("sum_x"),
          graft.functions.Portable.r6(col("sum_y")).as("sum_y"),
          graft.functions.Portable.r6(col("ratio")).as("ratio"),
          graft.functions.Portable.r6(col("se")).as("se"),
          graft.functions.Portable.r6(col("ci_lo")).as("ci_lo"),
          graft.functions.Portable.r6(col("ci_hi")).as("ci_hi"))
    },
      {
      val z = 1.959963984540054
      s"""WITH u AS (SELECT user_id % 4 AS cohort, user_id,
         |    CAST(count(CASE WHEN CAST(value AS DOUBLE) > 50.0 THEN 1 END) AS DOUBLE) AS x,
         |    CAST(count(*) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n,
         |    ${dsum0(r6("x"))} AS sx, ${dsum0(r6("y"))} AS sy,
         |    ${dsum0(r6("x * x"))} AS sxx, ${dsum0(r6("y * y"))} AS syy, ${dsum0(r6("x * y"))} AS sxy
         |  FROM u GROUP BY 1),
         |e AS (SELECT cohort, n, sx, sy, sx / sy AS ratio,
         |    sy / CAST(n AS DOUBLE) AS my,
         |    (sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))
         |      * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS vxx,
         |    (syy / CAST(n AS DOUBLE) - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)))
         |      * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS vyy,
         |    (sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)))
         |      * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS vxy
         |  FROM m),
         |f AS (SELECT cohort, n, sx, sy, ratio,
         |    CASE WHEN n >= 2 AND sy <> 0.0 THEN
         |      sqrt(greatest((vxx - 2.0 * ratio * vxy + ratio * ratio * vyy)
         |        / (CAST(n AS DOUBLE) * my * my), 0.0)) END AS se
         |  FROM e)
         |SELECT cohort, n,
         |  ${r6("sx")} AS sum_x,
         |  ${r6("sy")} AS sum_y,
         |  CASE WHEN sy <> 0.0 THEN ${r6("ratio")} END AS ratio,
         |  ${r6("se")} AS se,
         |  CASE WHEN se IS NOT NULL THEN ${r6(s"ratio - $z * se")} END AS ci_lo,
         |  CASE WHEN se IS NOT NULL THEN ${r6(s"ratio + $z * se")} END AS ci_hi
         |FROM f""".stripMargin
    }),

    // always-valid (peeking-safe) sequential test on the event halves
    QueryDef("q_msprt", (s, dir) =>
      Stats.msprt(ev(s, dir), Seq("event_type"), "value",
          col("event_id") % 2 === 0, tau2 = 1.0)
        .select(col("event_type"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("theta")).as("theta"),
          graft.functions.Portable.r6(col("v")).as("v"),
          graft.functions.Portable.r6(col("lambda")).as("lambda"),
          graft.functions.Portable.r6(col("p_always")).as("p_always")),
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
        |    coalesce(event_id % 2 = 0, false) AS b FROM events),
        |m AS (SELECT event_type,
        |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
        |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
        |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
        |      THEN CAST(${r6("x * x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa2,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
        |      THEN CAST(${r6("x * x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb2
        |  FROM v GROUP BY 1),
        |e AS (SELECT event_type, n_a, n_b,
        |    sb / CAST(n_b AS DOUBLE) - sa / CAST(n_a AS DOUBLE) AS theta,
        |    greatest(sa2 / CAST(n_a AS DOUBLE) - (sa / CAST(n_a AS DOUBLE)) * (sa / CAST(n_a AS DOUBLE)), 0.0)
        |        * CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0) / CAST(n_a AS DOUBLE)
        |      + greatest(sb2 / CAST(n_b AS DOUBLE) - (sb / CAST(n_b AS DOUBLE)) * (sb / CAST(n_b AS DOUBLE)), 0.0)
        |        * CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0) / CAST(n_b AS DOUBLE) AS vv
        |  FROM m),
        |f AS (SELECT event_type, n_a, n_b, theta, vv,
        |    sqrt(vv / (vv + 1.0)) * exp(theta * theta * 1.0 / (2.0 * vv * (vv + 1.0))) AS lam
        |  FROM e)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN ${r6("theta")} END AS theta,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN ${r6("vv")} END AS v,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0.0 THEN
        |    ${r6("lam")} END AS lambda,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0.0 THEN
        |    ${r6("least(1.0, 1.0 / lam)")} END AS p_always
        |FROM f""".stripMargin),

    // purchases per observed user-day, arm B vs arm A
    QueryDef("q_rate_ratio", (s, dir) =>
      Stats.rateRatio(ev(s, dir), Seq("event_type"),
          isEvent = col("value") > 50.0, exposureCol = "value",
          armB = col("event_id") % 2 === 0)
        .select(col("event_type"), col("k_a"), col("k_b"),
          graft.functions.Portable.r6(col("t_a")).as("t_a"),
          graft.functions.Portable.r6(col("t_b")).as("t_b"),
          graft.functions.Portable.r6(col("rate_a")).as("rate_a"),
          graft.functions.Portable.r6(col("rate_b")).as("rate_b"),
          graft.functions.Portable.r6(col("rate_ratio")).as("rate_ratio"),
          graft.functions.Portable.r6(col("log_rr")).as("log_rr"),
          graft.functions.Portable.r6(col("se_log_rr")).as("se_log_rr")),
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
        |    coalesce(event_id % 2 = 0, false) AS b,
        |    coalesce(CAST(value AS DOUBLE) > 50.0, false) AS e FROM events),
        |m AS (SELECT event_type,
        |    CAST(count(CASE WHEN NOT b AND e THEN 1 END) AS BIGINT) AS k_a,
        |    CAST(count(CASE WHEN b AND e THEN 1 END) AS BIGINT) AS k_b,
        |    CAST(coalesce(sum(CASE WHEN NOT b AND x IS NOT NULL AND NOT isnan(x)
        |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS t_a0,
        |    CAST(coalesce(sum(CASE WHEN b AND x IS NOT NULL AND NOT isnan(x)
        |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS t_b0
        |  FROM v GROUP BY 1)
        |SELECT event_type, k_a, k_b,
        |  ${r6("t_a0")} AS t_a,
        |  ${r6("t_b0")} AS t_b,
        |  CASE WHEN t_a0 > 0.0 THEN
        |    ${r6("CAST(k_a AS DOUBLE) / t_a0")} END AS rate_a,
        |  CASE WHEN t_b0 > 0.0 THEN
        |    ${r6("CAST(k_b AS DOUBLE) / t_b0")} END AS rate_b,
        |  CASE WHEN k_a > 0 AND k_b > 0 AND t_a0 > 0.0 AND t_b0 > 0.0 THEN
        |    ${r6("(CAST(k_b AS DOUBLE) / t_b0) / (CAST(k_a AS DOUBLE) / t_a0)")}
        |  END AS rate_ratio,
        |  CASE WHEN k_a > 0 AND k_b > 0 AND t_a0 > 0.0 AND t_b0 > 0.0 THEN
        |    ${r6("ln((CAST(k_b AS DOUBLE) / t_b0) / (CAST(k_a AS DOUBLE) / t_a0))")}
        |  END AS log_rr,
        |  CASE WHEN k_a > 0 AND k_b > 0 AND t_a0 > 0.0 AND t_b0 > 0.0 THEN
        |    ${r6("sqrt(1.0 / CAST(k_a AS DOUBLE) + 1.0 / CAST(k_b AS DOUBLE))")}
        |  END AS se_log_rr
        |FROM m""".stripMargin),

    // standardized effect size of value between the event halves
    QueryDef("q_effect_size", (s, dir) =>
      Stats.effectSize(ev(s, dir), Seq("event_type"), "value",
          col("event_id") % 2 === 0)
        .select(col("event_type"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("diff")).as("diff"),
          graft.functions.Portable.r6(col("s_pooled")).as("s_pooled"),
          graft.functions.Portable.r6(col("d")).as("d"),
          graft.functions.Portable.r6(col("g")).as("g")),
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
        |    coalesce(event_id % 2 = 0, false) AS b FROM events),
        |m AS (SELECT event_type,
        |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
        |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
        |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
        |      THEN CAST(${r6("x * x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa2,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
        |      THEN CAST(${r6("x * x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb2
        |  FROM v GROUP BY 1),
        |e AS (SELECT event_type, n_a, n_b,
        |    sb / CAST(n_b AS DOUBLE) - sa / CAST(n_a AS DOUBLE) AS dif,
        |    sqrt(((CAST(n_a AS DOUBLE) - 1.0)
        |        * (greatest(sa2 / CAST(n_a AS DOUBLE) - (sa / CAST(n_a AS DOUBLE)) * (sa / CAST(n_a AS DOUBLE)), 0.0)
        |           * CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0))
        |      + (CAST(n_b AS DOUBLE) - 1.0)
        |        * (greatest(sb2 / CAST(n_b AS DOUBLE) - (sb / CAST(n_b AS DOUBLE)) * (sb / CAST(n_b AS DOUBLE)), 0.0)
        |           * CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0)))
        |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0)) AS sp
        |  FROM m)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN ${r6("dif")} END AS diff,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN ${r6("sp")} END AS s_pooled,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp > 0.0 THEN
        |    ${r6("dif / sp")} END AS d,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp > 0.0 THEN
        |    ${r6("dif / sp * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) - 9.0))")} END AS g
        |FROM e""".stripMargin),

    // Haldane-corrected odds ratio of the long-doc outcome per lang
    QueryDef("q_odds_ratio", (s, dir) =>
      Stats.oddsRatio(docs(s, dir), Seq("lang"),
          hit = col("n_chars") > 300, armB = col("doc_id") % 2 === 0)
        .select(col("lang"), col("n_a"), col("n_b"), col("k_a"), col("k_b"),
          graft.functions.Portable.r6(col("odds_ratio")).as("odds_ratio"),
          graft.functions.Portable.r6(col("log_or")).as("log_or"),
          graft.functions.Portable.r6(col("se_log_or")).as("se_log_or")),
      s"""WITH m AS (SELECT lang,
        |    CAST(count(CASE WHEN NOT coalesce(doc_id % 2 = 0, false) THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(count(CASE WHEN coalesce(doc_id % 2 = 0, false) THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(count(CASE WHEN NOT coalesce(doc_id % 2 = 0, false)
        |      AND coalesce(n_chars > 300, false) THEN 1 END) AS BIGINT) AS k_a,
        |    CAST(count(CASE WHEN coalesce(doc_id % 2 = 0, false)
        |      AND coalesce(n_chars > 300, false) THEN 1 END) AS BIGINT) AS k_b
        |  FROM documents GROUP BY 1),
        |e AS (SELECT lang, n_a, n_b, k_a, k_b,
        |    CAST(k_b AS DOUBLE) + 0.5 AS a, CAST(n_b - k_b AS DOUBLE) + 0.5 AS b,
        |    CAST(k_a AS DOUBLE) + 0.5 AS c, CAST(n_a - k_a AS DOUBLE) + 0.5 AS d
        |  FROM m)
        |SELECT lang, n_a, n_b, k_a, k_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ${r6("a * d / (c * b)")} END AS odds_ratio,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ${r6("ln(a * d / (c * b))")} END AS log_or,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ${r6("sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)")} END AS se_log_or
        |FROM e""".stripMargin),

    // every event stream Welch-tested against the 'view' control arm
    QueryDef("q_mvc", (s, dir) =>
      Stats.manyVsControl(ev(s, dir), "event_type", "value", controlArm = "view")
        .select(col("arm"), col("n"), col("n_control"),
          graft.functions.Portable.r6(col("mean")).as("mean"),
          graft.functions.Portable.r6(col("mean_control")).as("mean_control"),
          graft.functions.Portable.r6(col("diff")).as("diff"),
          graft.functions.Portable.r6(col("se")).as("se"),
          graft.functions.Portable.r6(col("z")).as("z"),
          graft.functions.Portable.r6(col("p")).as("p")),
      s"""WITH v AS (SELECT event_type AS arm, CAST(value AS DOUBLE) AS x FROM events
         |  WHERE event_type IS NOT NULL),
         |m AS (SELECT arm,
         |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) THEN 1 END) AS BIGINT) AS n,
         |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x)
         |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s,
         |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x)
         |      THEN CAST(${r6("x * x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s2
         |  FROM v GROUP BY 1),
         |c AS (SELECT n AS nc, s AS cs, s2 AS cs2 FROM m WHERE arm = 'view'),
         |e AS (SELECT arm, n, nc, s, s2, cs, cs2,
         |    s / CAST(n AS DOUBLE) AS mean, cs / CAST(nc AS DOUBLE) AS meanc,
         |    CASE WHEN n >= 2 AND nc >= 2 THEN
         |      sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)
         |          * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE)
         |        + greatest(cs2 / CAST(nc AS DOUBLE) - (cs / CAST(nc AS DOUBLE)) * (cs / CAST(nc AS DOUBLE)), 0.0)
         |          * CAST(nc AS DOUBLE) / (CAST(nc AS DOUBLE) - 1.0) / CAST(nc AS DOUBLE)) END AS se
         |  FROM m, c WHERE arm <> 'view'),
         |f AS (SELECT arm, n, nc, mean, meanc, se,
         |    CASE WHEN se > 0.0 THEN (mean - meanc) / se END AS z
         |  FROM e),
         |g AS (SELECT f.*, abs(z) AS az, 1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM f)
         |SELECT arm, n, nc AS n_control,
         |  CASE WHEN n > 0 THEN ${r6("mean")} END AS mean,
         |  CASE WHEN nc > 0 THEN ${r6("meanc")} END AS mean_control,
         |  CASE WHEN n > 0 AND nc > 0 THEN ${r6("mean - meanc")} END AS diff,
         |  ${r6("se")} AS se,
         |  ${r6("z")} AS z,
         |  CASE WHEN z IS NOT NULL THEN ${r6(pFromZSql)} END AS p
         |FROM g""".stripMargin),

    // A/B health gate: is the even/odd split actually 50/50 per stream
    QueryDef("q_srm", (s, dir) =>
      Stats.sampleRatioMismatch(ev(s, dir), Seq("event_type"),
          col("event_id") % 2 === 0, expectedB = 0.5)
        .select(col("event_type"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("frac_b")).as("frac_b"),
          graft.functions.Portable.r6(col("chi2")).as("chi2")),
      s"""WITH m AS (SELECT event_type,
        |    CAST(count(CASE WHEN NOT coalesce(event_id % 2 = 0, false) THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(count(CASE WHEN coalesce(event_id % 2 = 0, false) THEN 1 END) AS BIGINT) AS n_b
        |  FROM events GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a + n_b > 0 THEN
        |    ${r6("CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)")} END AS frac_b,
        |  CASE WHEN n_a + n_b > 0 THEN ${r6("(CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * 0.5) * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * 0.5) / (CAST(n_a + n_b AS DOUBLE) * 0.5) + (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5)) * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5)) / (CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5))")} END AS chi2
        |FROM m""".stripMargin),

    // distributional A/B: quantile shift of value between event halves
    QueryDef("q_qte", (s, dir) =>
      Stats.quantileShift(ev(s, dir), Seq("event_type"), "value",
          armB = col("event_id") % 2 === 0, ps = QuantilePs)
        .select(col("event_type"), col("p"),
          graft.functions.Portable.r6(col("q_a")).as("q_a"),
          graft.functions.Portable.r6(col("q_b")).as("q_b"),
          graft.functions.Portable.r6(col("shift")).as("shift")),
      {
      val ps = QuantilePs.map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
         |    coalesce(event_id % 2 = 0, false) AS b FROM events
         |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         |q AS (SELECT event_type,
         |    quantile_cont(x, $ps) FILTER (WHERE NOT b) AS qa,
         |    quantile_cont(x, $ps) FILTER (WHERE b) AS qb
         |  FROM v GROUP BY 1)
         |SELECT event_type, unnest($ps) AS p,
         |  ${r6("unnest(qa)")} AS q_a,
         |  ${r6("unnest(qb)")} AS q_b,
         |  ${r6("unnest(qb) - unnest(qa)")} AS shift
         |FROM q""".stripMargin
    }),

    // strata-adjusted ATE across event types (Simpson-proof A/B)
    QueryDef("q_strat_ate", (s, dir) =>
      Stats.stratifiedAte(ev(s, dir), Seq("event_type"), "value",
          col("event_id") % 2 === 0)
        .select(col("n"), col("n_strata"), col("n_strata_incomplete"),
          graft.functions.Portable.r6(col("ate")).as("ate"),
          graft.functions.Portable.r6(col("se")).as("se"),
          graft.functions.Portable.r6(col("z")).as("z")),
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
        |    coalesce(event_id % 2 = 0, false) AS b FROM events),
        |m AS (SELECT event_type,
        |    count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b THEN 1 END) AS na,
        |    count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b THEN 1 END) AS nb,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
        |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
        |      THEN CAST(${r6("x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
        |      THEN CAST(${r6("x * x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa2,
        |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
        |      THEN CAST(${r6("x * x")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb2
        |  FROM v GROUP BY 1),
        |ps AS (SELECT na + nb AS ns,
        |    CASE WHEN na >= 1 AND nb >= 1 THEN sb / nb - sa / na END AS eff,
        |    CASE WHEN na >= 2 AND nb >= 2 THEN
        |      greatest(sa2 / na - (sa / na) * (sa / na), 0.0) * na / (na - 1.0) / na
        |      + greatest(sb2 / nb - (sb / nb) * (sb / nb), 0.0) * nb / (nb - 1.0) / nb END AS vs
        |  FROM m),
        |g AS (SELECT CAST(sum(ns) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(count(CASE WHEN eff IS NULL THEN 1 END) AS BIGINT) AS n_strata_incomplete,
        |    count(CASE WHEN eff IS NOT NULL AND vs IS NULL THEN 1 END) AS novar,
        |    CAST(coalesce(sum(CASE WHEN eff IS NOT NULL THEN ns END), 0) AS BIGINT) AS nc,
        |    ${dsum0(r6("CAST(ns AS DOUBLE) * eff"))} AS we,
        |    ${dsum0(r6("CAST(ns AS DOUBLE) * ns * vs"))} AS wv
        |  FROM ps)
        |SELECT n, n_strata, n_strata_incomplete,
        |  CASE WHEN nc > 0 THEN ${r6("we / CAST(nc AS DOUBLE)")} END AS ate,
        |  CASE WHEN novar = 0 AND nc > 0 THEN
        |    ${r6("sqrt(wv) / CAST(nc AS DOUBLE)")} END AS se,
        |  CASE WHEN novar = 0 AND nc > 0 AND sqrt(wv) / CAST(nc AS DOUBLE) > 0.0 THEN
        |    ${r6("(we / CAST(nc AS DOUBLE)) / (sqrt(wv) / CAST(nc AS DOUBLE))")}
        |  END AS z
        |FROM g""".stripMargin),

    // Nelson-Aalen cumulative hazard on the q_km_survival spans
    QueryDef("q_nelson_aalen", (s, dir) =>
      Survival
        .nelsonAalen(ev(s, dir), "user_id", "ts", "event_type", "purchase")
        .select(col("t_day"), col("n_risk"), col("d_events"), col("c_censored"),
          graft.functions.Portable.r6(col("hazard")).as("hazard"),
          graft.functions.Portable.r6(col("cum_hazard")).as("cum_hazard")),
      s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
         |    max(epoch_us(ts)) AS tl
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |dur AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
         |    te IS NOT NULL AS obs FROM sp),
         |cv AS (SELECT t_day, count(CASE WHEN obs THEN 1 END) AS d_events,
         |    count(CASE WHEN NOT obs THEN 1 END) AS c_censored FROM dur GROUP BY 1),
         |tot AS (SELECT sum(d_events + c_censored) AS total FROM cv),
         |r AS (SELECT t_day, d_events, c_censored,
         |    total - coalesce(sum(d_events + c_censored) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
         |  FROM cv, tot),
         |h AS (SELECT t_day, d_events, c_censored, n_risk,
         |    ${r6("CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)")} AS inc
         |  FROM r)
         |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, CAST(d_events AS BIGINT) AS d_events,
         |  CAST(c_censored AS BIGINT) AS c_censored,
         |  ${r6("inc")} AS hazard,
         |  ${r6("CAST(sum(CAST(inc AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)")} AS cum_hazard
         |FROM h""".stripMargin),

    // pre-launch A/B power: arm size needed to detect a 5% shift of
    // value per event stream at alpha=.05 / power=.8
    QueryDef("q_power", (s, dir) =>
      Stats.powerAnalysis(ev(s, dir), Seq("event_type"), "value", relEffect = 0.05)
        .select(col("event_type"), col("n"),
          graft.functions.Portable.r6(col("mean")).as("mean"),
          graft.functions.Portable.r6(col("sd")).as("sd"),
          graft.functions.Portable.r6(col("delta")).as("delta"),
          col("n_required")),
      {
      val coef = 2.0 * (1.959963984540054 + 0.8416212335729143) *
        (1.959963984540054 + 0.8416212335729143)
      s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
         |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    ${dsum0(r6("x"))} AS sx,
         |    ${dsum0(r6("x * x"))} AS sxx
         |  FROM v GROUP BY 1),
         |f AS (SELECT event_type, n, sx / CAST(n AS DOUBLE) AS mean,
         |    greatest(sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)), 0.0)
         |      * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS v,
         |    0.05 * (sx / CAST(n AS DOUBLE)) AS delta
         |  FROM m)
         |SELECT event_type, n,
         |  ${r6("mean")} AS mean,
         |  CASE WHEN n >= 2 THEN ${r6("sqrt(v)")} END AS sd,
         |  ${r6("delta")} AS delta,
         |  CASE WHEN n >= 2 AND delta <> 0.0 THEN
         |    CAST(ceil($coef * v / (delta * delta)) AS BIGINT) END AS n_required
         |FROM f""".stripMargin
    }),

    // threshold operating table for the q_isotonic score/label pair
    QueryDef("q_pr_curve", (s, dir) =>
      Evaluation.prCurve(
          docs(s, dir).withColumn("score",
            least(lit(1.0), col("n_chars").cast("double") / 2000.0)),
          Seq("lang"), "score", col("text").contains(" the "), nBins = 20)
        .select(col("lang"),
          graft.functions.Portable.r6(col("cutoff")).as("cutoff"),
          col("n_ge"), col("tp"), col("fp"), col("fn"),
          graft.functions.Portable.r6(col("precision")).as("precision"),
          graft.functions.Portable.r6(col("recall")).as("recall"),
          graft.functions.Portable.r6(col("f1")).as("f1")),
      s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 2000.0) AS x,
        |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT lang, least(19, greatest(0, CAST(floor(x * 20) AS BIGINT))) AS bin,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS kk FROM v GROUP BY 1, 2),
        |c AS (SELECT lang, bin, n, kk,
        |    CAST(sum(kk) OVER wd AS BIGINT) AS tp,
        |    CAST(sum(n) OVER wd AS BIGINT) AS nge,
        |    CAST(sum(kk) OVER (PARTITION BY lang) AS BIGINT) AS tot
        |  FROM b WINDOW wd AS (PARTITION BY lang ORDER BY bin DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT lang, ${r6("CAST(bin AS DOUBLE) / 20.0")} AS cutoff,
        |  nge AS n_ge, tp, nge - tp AS fp, tot - tp AS fn,
        |  ${r6("CAST(tp AS DOUBLE) / CAST(nge AS DOUBLE)")} AS "precision",
        |  CASE WHEN tot > 0 THEN
        |    ${r6("CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE)")} END AS recall,
        |  CASE WHEN tot > 0 AND CAST(tp AS DOUBLE) / CAST(nge AS DOUBLE)
        |      + CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE) > 0.0 THEN
        |    ${r6("2.0 * (CAST(tp AS DOUBLE) / CAST(nge AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE)) / ((CAST(tp AS DOUBLE) / CAST(nge AS DOUBLE)) + (CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE)))")} END AS f1
        |FROM c""".stripMargin),

    // covariate balance (SMD table) between the event-id halves
    QueryDef("q_balance", (s, dir) =>
      Stats.covariateBalance(
          ev(s, dir).withColumn("hr", hour(col("ts")).cast("double")),
          Seq("value", "hr"), col("event_id") % 2 === 0)
        .select(col("covariate"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("mean_a")).as("mean_a"),
          graft.functions.Portable.r6(col("mean_b")).as("mean_b"),
          graft.functions.Portable.r6(col("smd")).as("smd"),
          graft.functions.Portable.r6(col("variance_ratio")).as("variance_ratio")),
      {
      def cov(name: String, vExpr: String): String =
        s"""SELECT '$name' AS covariate, na AS n_a, nb AS n_b,
           |  ${r6("mean_a")} AS mean_a,
           |  ${r6("mean_b")} AS mean_b,
           |  ${r6("CASE WHEN (va + vb) / 2.0 > 0.0 THEN (mean_b - mean_a) / sqrt((va + vb) / 2.0) WHEN (va + vb) / 2.0 = 0.0 AND mean_b = mean_a THEN 0.0 END")} AS smd,
           |  ${r6("CASE WHEN va > 0.0 THEN vb / va END")} AS variance_ratio
           |FROM (SELECT na, nb, mean_a, mean_b,
           |    CASE WHEN na >= 2 THEN (greatest(sa2 / CAST(na AS DOUBLE) - mean_a * mean_a, 0.0)
           |      * CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) END AS va,
           |    CASE WHEN nb >= 2 THEN (greatest(sb2 / CAST(nb AS DOUBLE) - mean_b * mean_b, 0.0)
           |      * CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) END AS vb
           |  FROM (SELECT na, nb, sa2, sb2,
           |      CASE WHEN na >= 1 THEN sa / CAST(na AS DOUBLE) END AS mean_a,
           |      CASE WHEN nb >= 1 THEN sb / CAST(nb AS DOUBLE) END AS mean_b
           |    FROM (SELECT
           |        CAST(count(CASE WHEN p AND NOT b THEN 1 END) AS BIGINT) AS na,
           |        CAST(count(CASE WHEN p AND b THEN 1 END) AS BIGINT) AS nb,
           |        CAST(coalesce(sum(CASE WHEN p AND NOT b THEN CAST(${r6("v")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
           |        CAST(coalesce(sum(CASE WHEN p AND b THEN CAST(${r6("v")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb,
           |        CAST(coalesce(sum(CASE WHEN p AND NOT b THEN CAST(${r6("v * v")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa2,
           |        CAST(coalesce(sum(CASE WHEN p AND b THEN CAST(${r6("v * v")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb2
           |      FROM (SELECT $vExpr AS v,
           |          $vExpr IS NOT NULL AND NOT isnan($vExpr) AS p,
           |          coalesce(event_id % 2 = 0, FALSE) AS b FROM events) t0) t1) t2) t3""".stripMargin
      cov("value", "CAST(value AS DOUBLE)") + "\nUNION ALL\n" +
        cov("hr", "CAST(hour(ts) AS DOUBLE)")
    }),

    // WOE/IV feature screen: does source/lang separate long docs
    // (n_chars > 500) from short ones — the pre-classifier leakage check
    QueryDef("q_woe", (s, dir) =>
      graft.operators.Woe.weightOfEvidence(docs(s, dir), Seq("source", "lang"),
        col("n_chars") > 500),
      {
      def melt(f: String) =
        s"SELECT '$f' AS feature, coalesce(CAST($f AS VARCHAR),'(null)') AS bin, coalesce(n_chars > 500, false) AS pos FROM documents"
      s"""WITH m AS (${melt("source")} UNION ALL ${melt("lang")}),
         |cells AS (SELECT feature, bin,
         |    count(CASE WHEN pos THEN 1 END) AS n_good,
         |    count(CASE WHEN NOT pos THEN 1 END) AS n_bad
         |  FROM m GROUP BY 1, 2),
         |d AS (SELECT feature, bin, n_good, n_bad,
         |    (CAST(n_good AS DOUBLE) + 0.5) / sum(CAST(n_good AS DOUBLE) + 0.5) OVER (PARTITION BY feature) AS pg,
         |    (CAST(n_bad AS DOUBLE) + 0.5) / sum(CAST(n_bad AS DOUBLE) + 0.5) OVER (PARTITION BY feature) AS pb
         |  FROM cells),
         |t AS (SELECT feature, bin, n_good, n_bad,
         |    ${r6("ln(pg / pb)")} AS woe,
         |    ${r6("(pg - pb) * ln(pg / pb)")} AS iv_term
         |  FROM d)
         |SELECT feature, bin, n_good, n_bad, woe, iv_term,
         |  CAST(sum(CAST(iv_term AS DECIMAL(38,6))) OVER (PARTITION BY feature) AS DOUBLE) AS iv
         |FROM t""".stripMargin
    }),

    // confident-learning label-noise audit over the NB posteriors —
    // the off-diagonal of the confident joint is the estimated noise
    QueryDef("q_label_noise", (s, dir) =>
      LabelNoise.confidentJoint(
        graft.text.NaiveBayes.bernoulliNb(
          docs(s, dir).withColumn("bucket",
            when(col("n_chars") >= 300, lit("long")).otherwise(lit("short"))),
          "doc_id", "text", "bucket"),
        "doc_id", "label", "class", "posterior"),
      s"""WITH $nbScoredCtes,
         |th AS (SELECT class, ${r6(s"${dsum(r6("posterior"))} / CAST(count(*) AS DOUBLE)")} AS t
         |  FROM scored WHERE label = class GROUP BY 1),
         |cand AS (SELECT s.id, s.label, s.class, s.posterior FROM scored s JOIN th ON s.class = th.class
         |  WHERE s.posterior >= th.t),
         |conf AS (SELECT id, label, class AS confident_class FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY posterior DESC, class) AS rn FROM cand)
         |  WHERE rn = 1),
         |lt AS (SELECT label, count(*) AS n_label FROM (SELECT DISTINCT id, label FROM scored) GROUP BY 1),
         |cj AS (SELECT label, confident_class, CAST(count(*) AS BIGINT) AS n FROM conf GROUP BY 1, 2)
         |SELECT label, confident_class, n,
         |  ${r6("CAST(n AS DOUBLE) / CAST(n_label AS DOUBLE)")} AS frac_of_label,
         |  n_label, CAST(n_label - sum(n) OVER (PARTITION BY label) AS BIGINT) AS n_unconfident
         |FROM cj JOIN lt USING (label)""".stripMargin),

    // Cox proportional hazards on the q_km_survival spans: does a
    // user's mean event value shift the time-to-purchase hazard
    // (fixed 4-step Newton, Breslow ties)
    QueryDef("q_cox", (s, dir) => Survival.coxPh(coxSubjects(s, dir), "t_day", "obs", "x"),
      s"""WITH ${coxCtes(4)}
         |SELECT (SELECT count(*) FROM subj) AS n,
         |  (SELECT count(*) FROM subj WHERE obs) AS n_events,
         |  b4.beta AS beta, ${r6("exp(b4.beta)")} AS hr,
         |  CASE WHEN ui4.i > 0 THEN ${r6("1.0 / sqrt(ui4.i)")} END AS se,
         |  ui4.ll AS loglik
         |FROM b4, ui4""".stripMargin),

    // logistic regression by fixed-step GD on the length-bucket label —
    // the linear-classifier counterpart to q_nb's generative model
    QueryDef("q_logreg", (s, dir) => {
      val d = logitDocs(s, dir)
      Logistic.coefficients(
        d, Logistic.fitGd(d, "y", Seq("x1", "x2"), iters = 5, lr = 0.5),
        "y", Seq("x1", "x2"))
    },
      s"""WITH ${logitCtes("n_chars >= 300", 5)},
         |lc AS (SELECT CAST(y AS DOUBLE) AS yd,
         |    least(greatest(p, 1e-6), CAST(1.0 AS DOUBLE) - 1e-6) AS pc FROM p5),
         |lossq AS (SELECT count(*) AS n,
         |    ${r6(s"coalesce(${dsum(r6("-(yd * ln(pc) + (1.0 - yd) * ln(1.0 - pc))"))}, 0.0) / CAST(count(*) AS DOUBLE)")} AS log_loss
         |  FROM lc)
         |SELECT '__intercept' AS feature, cb5.c0 AS beta, lossq.n AS n, lossq.log_loss FROM cb5, lossq
         |UNION ALL SELECT 'x1', cb5.c1, lossq.n, lossq.log_loss FROM cb5, lossq
         |UNION ALL SELECT 'x2', cb5.c2, lossq.n, lossq.log_loss FROM cb5, lossq""".stripMargin),

    // IPW average treatment effect: LR propensity (treatment = src0)
    // -> clipped Hajek weighting of n_chars — the composed
    // observational-causal shape (propensity model feeds the estimator)
    QueryDef("q_ipw", (s, dir) => {
      val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
      val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
      Logistic.ipwAte(Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
        "n_chars", "treat", "p_hat", clip = 0.05)
    },
      s"""WITH ${logitCtes("source = 'src0'", 5)},
         |cl AS (SELECT n_chars, y = 1 AS t,
         |    ${r6("least(greatest(p, CAST(0.05 AS DOUBLE)), CAST(0.95 AS DOUBLE))")} AS pcl FROM p5),
         |wts AS (SELECT CAST(n_chars AS DOUBLE) AS yo, t,
         |    CASE WHEN t THEN ${r6("1.0 / pcl")} END AS wt,
         |    CASE WHEN NOT t THEN ${r6("1.0 / (1.0 - pcl)")} END AS wc FROM cl),
         |ag AS (SELECT count(CASE WHEN t THEN 1 END) AS n_treated,
         |    count(CASE WHEN NOT t THEN 1 END) AS n_control,
         |    ${dsum(r6("wt * yo"))} / ${dsum("wt")} AS mt,
         |    ${dsum(r6("wc * yo"))} / ${dsum("wc")} AS mc FROM wts)
         |SELECT n_treated, n_control, ${r6("mt")} AS mean_treated,
         |  ${r6("mc")} AS mean_control, ${r6("mt - mc")} AS ate FROM ag""".stripMargin),

    // empirical-Bayes beta-binomial shrinkage of per-customer urgent-
    // order rates (method-of-moments prior from the data)
    QueryDef("q_eb_shrink", (s, dir) =>
      Shrinkage.ebBetaBinomial(
        Tables.orders(s, dir), "o_custkey",
        col("o_orderpriority") === "1-URGENT")
        .withColumnRenamed("group", "o_custkey"),
      s"""WITH grp AS (SELECT o_custkey, count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS x,
         |    count(*) AS n FROM orders GROUP BY 1),
         |gr AS (SELECT o_custkey, x, n, ${r6("CAST(x AS DOUBLE) / CAST(n AS DOUBLE)")} AS raw_rate FROM grp),
         |mo AS (SELECT ${dsum("raw_rate")} / CAST(count(*) AS DOUBLE) AS m,
         |    CASE WHEN count(*) > 1 THEN (${dsum(r6("raw_rate * raw_rate"))} -
         |      ${dsum("raw_rate")} * ${dsum("raw_rate")} / CAST(count(*) AS DOUBLE)) / (CAST(count(*) AS DOUBLE) - 1.0)
         |    END AS v FROM gr),
         |pr AS (SELECT CASE WHEN v > 0 AND m * (1.0 - m) > v THEN ${r6("m * (1.0 - m) / v - 1.0")} END AS k,
         |    m FROM mo),
         |sh AS (SELECT gr.*, CASE WHEN pr.k > 0 THEN ${r6("pr.m * pr.k")} END AS eb_alpha,
         |    CASE WHEN pr.k > 0 THEN ${r6("(1.0 - pr.m) * pr.k")} END AS eb_beta FROM gr, pr)
         |SELECT o_custkey, x, n, raw_rate,
         |  CASE WHEN eb_alpha IS NOT NULL THEN
         |    ${r6("(CAST(x AS DOUBLE) + eb_alpha) / (CAST(n AS DOUBLE) + eb_alpha + eb_beta)")}
         |  ELSE raw_rate END AS shrunk_rate, eb_alpha, eb_beta FROM sh""".stripMargin),

    // Mondrian split-conformal calibration of the per-source n_chars
    // predictor: finite-sample +/- bands per group, coverage audited
    // on the held-out test band
    QueryDef("q_conformal", (s, dir) =>
      Conformal.splitConformal(docs(s, dir), "doc_id", "source", "n_chars",
        alpha = 0.2, seed = "c42"),
      s"""WITH rws AS (SELECT doc_id AS id, source AS grp, CAST(n_chars AS DOUBLE) AS y,
         |    CASE WHEN h < 50 THEN 'train' WHEN h < 75 THEN 'cal' ELSE 'test' END AS split
         |  FROM (SELECT *, ${h32("concat('c42', '|', CAST(doc_id AS VARCHAR))")} % 100 AS h FROM documents)),
         |tm AS (SELECT grp, count(*) AS n_train,
         |    ${r6(s"${dsum("y")} / CAST(count(*) AS DOUBLE)")} AS y_hat
         |  FROM rws WHERE split = 'train' GROUP BY 1),
         |sc AS (SELECT r.id, r.grp, r.split, r.y, t.y_hat, ${r6("abs(r.y - t.y_hat)")} AS s
         |  FROM rws r JOIN tm t ON r.grp = t.grp WHERE r.split <> 'train'),
         |cal AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY s, id) AS rn,
         |    count(*) OVER (PARTITION BY grp) AS ncal FROM sc WHERE split = 'cal'),
         |qh AS (SELECT grp, max(ncal) AS n_cal,
         |    max(CASE WHEN rn = CAST(ceil(CAST(ncal + 1 AS DOUBLE) * CAST(0.8 AS DOUBLE)) AS BIGINT)
         |      THEN s END) AS q_hat FROM cal GROUP BY 1),
         |tst AS (SELECT s.grp, count(*) AS n_test,
         |    CASE WHEN max(q.q_hat) IS NOT NULL THEN
         |      ${r6("CAST(count(CASE WHEN s.s <= q.q_hat THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |    END AS coverage
         |  FROM sc s JOIN qh q ON s.grp = q.grp WHERE s.split = 'test' GROUP BY 1)
         |SELECT t.grp AS "group", t.n_train, coalesce(q.n_cal, 0) AS n_cal,
         |  coalesce(ts.n_test, 0) AS n_test, t.y_hat, q.q_hat, ts.coverage,
         |  CAST(0.8 AS DOUBLE) AS target
         |FROM tm t LEFT JOIN qh q ON t.grp = q.grp LEFT JOIN tst ts ON t.grp = ts.grp""".stripMargin),

    // Cochran-Mantel-Haenszel: arm x high-value association controlled
    // for event_type strata + the MH pooled odds ratio
    QueryDef("q_cmh", (s, dir) => {
      val arm = TextFunctions.md5Hash32(
        concat(lit("cmh:"), col("user_id").cast("string"))) % 2 === 1
      Hypothesis.cmh(ev(s, dir), Seq("event_type"), col("value") >= 10.0, arm)
    },
      s"""WITH e AS (SELECT event_type,
         |    ${h32("concat('cmh:', CAST(user_id AS VARCHAR))")} % 2 = 1 AS a,
         |    value >= 10.0 AS hit FROM events),
         |cells AS (SELECT event_type,
         |    count(CASE WHEN a AND hit THEN 1 END) AS ca,
         |    count(CASE WHEN a AND NOT hit THEN 1 END) AS cb,
         |    count(CASE WHEN NOT a AND hit THEN 1 END) AS cc,
         |    count(CASE WHEN NOT a AND NOT hit THEN 1 END) AS cd
         |  FROM e GROUP BY 1),
         |w AS (SELECT *, ca + cb + cc + cd AS n, ca + cb + cc + cd >= 2 AS info FROM cells),
         |s AS (SELECT
         |    count(CASE WHEN info THEN 1 END) AS k_strata,
         |    count(CASE WHEN NOT info THEN 1 END) AS k_dropped,
         |    CAST(coalesce(sum(CASE WHEN info THEN n END), 0) AS BIGINT) AS n,
         |    coalesce(${dsum(s"CASE WHEN info THEN ${r6("CAST(ca AS DOUBLE) - CAST(ca + cb AS DOUBLE) * CAST(ca + cc AS DOUBLE) / CAST(n AS DOUBLE)")} END")}, 0.0) AS dev,
         |    coalesce(${dsum(s"CASE WHEN info THEN ${r6("CAST(ca + cb AS DOUBLE) * CAST(cc + cd AS DOUBLE) * CAST(ca + cc AS DOUBLE) * CAST(cb + cd AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))")} END")}, 0.0) AS v,
         |    coalesce(${dsum(s"CASE WHEN info THEN ${r6("CAST(ca AS DOUBLE) * CAST(cd AS DOUBLE) / CAST(n AS DOUBLE)")} END")}, 0.0) AS rn,
         |    coalesce(${dsum(s"CASE WHEN info THEN ${r6("CAST(cb AS DOUBLE) * CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)")} END")}, 0.0) AS rd
         |  FROM w),
         |c2 AS (SELECT *, CASE WHEN v > 0 THEN ${r6("dev * dev / v")} END AS chi2 FROM s),
         |pz AS (SELECT *, sqrt(chi2) AS az, 1.0 / (1.0 + 0.33267 * sqrt(chi2)) AS tt FROM c2)
         |SELECT k_strata, k_dropped, n, chi2,
         |  CASE WHEN chi2 IS NOT NULL THEN ${r6(pFromZSql)} END AS p_value,
         |  CASE WHEN rd > 0 THEN ${r6("rn / rd")} END AS or_mh
         |FROM pz""".stripMargin),

    // decision-stump 1R screen: best Gini split per logitDocs feature
    QueryDef("q_stump", (s, dir) =>
      Stump.bestSplits(logitDocs(s, dir), col("y"),
        Seq("x1" -> col("x1"), "x2" -> col("x2")), bins = 16),
      {
      def gini(p: String, n: String) =
        s"(1.0 - (CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) * (CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) - (1.0 - CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) * (1.0 - CAST($p AS DOUBLE) / CAST($n AS DOUBLE)))"
      s"""WITH ${logitDocsCtes("n_chars >= 300")},
         |m AS (SELECT y, 'x1' AS f, x1 AS x FROM ld WHERE x1 IS NOT NULL
         |  UNION ALL SELECT y, 'x2', x2 FROM ld WHERE x2 IS NOT NULL),
         |bd AS (SELECT f, min(x) AS lo, max(x) AS hi, count(*) AS n, sum(y) AS npos
         |  FROM m GROUP BY 1 HAVING max(x) > min(x)),
         |bw AS (SELECT *, (hi - lo) / 16.0 AS w FROM bd),
         |cl AS (SELECT m.f, least(CAST(floor((m.x - b.lo) / b.w) AS INT), 15) AS bin,
         |    count(*) AS cn, sum(m.y) AS cpos FROM m JOIN bw b USING (f) GROUP BY 1, 2),
         |cum AS (SELECT f, bin,
         |    sum(cn) OVER (PARTITION BY f ORDER BY bin) AS nl,
         |    sum(cpos) OVER (PARTITION BY f ORDER BY bin) AS posl FROM cl),
         |sp AS (SELECT c.f, b.lo + b.w * CAST(c.bin + 1 AS DOUBLE) AS threshold,
         |    c.nl, b.n - c.nl AS nr,
         |    ${gini("b.npos", "b.n")} AS gp,
         |    (CAST(c.nl AS DOUBLE) * ${gini("c.posl", "c.nl")} +
         |     CAST(b.n - c.nl AS DOUBLE) * ${gini("b.npos - c.posl", "b.n - c.nl")}) / CAST(b.n AS DOUBLE) AS gs
         |  FROM cum c JOIN bw b USING (f) WHERE c.nl > 0 AND c.nl < b.n),
         |g AS (SELECT *, ${r6("gp - gs")} AS gain FROM sp),
         |best AS (SELECT *, row_number() OVER (PARTITION BY f ORDER BY gain DESC, threshold) AS rnk FROM g)
         |SELECT f AS feature, ${r6("threshold")} AS threshold,
         |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
         |  ${r6("gp")} AS gini_parent, ${r6("gs")} AS gini_split, gain
         |FROM best WHERE rnk = 1""".stripMargin
    }),

    // delete-one-bucket jackknife CI for value-per-click, bucketed by
    // user (the unit of randomization)
    QueryDef("q_jackknife", (s, dir) =>
      Jackknife.ratioCi(ev(s, dir), "user_id", col("value"),
        when(col("event_type") === "click", lit(1.0)).otherwise(lit(0.0)),
        buckets = 20, seed = "jk42"),
      s"""WITH rws AS (SELECT
         |    ${h32("concat('jk42', '|', CAST(user_id AS VARCHAR))")} % 20 AS b,
         |    value AS num, CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS den
         |  FROM events),
         |pb AS (SELECT b, count(*) AS nrows,
         |    coalesce(${dsum(r6("num"))}, 0.0) AS n, coalesce(${dsum(r6("den"))}, 0.0) AS d
         |  FROM rws GROUP BY 1),
         |tot AS (SELECT CAST(sum(nrows) AS BIGINT) AS n_rows, count(*) AS n_buckets,
         |    coalesce(${dsum("n")}, 0.0) AS tn, coalesce(${dsum("d")}, 0.0) AS td FROM pb),
         |reps AS (SELECT pb.*, CASE WHEN t.td - pb.d > 0 THEN ${r6("(t.tn - pb.n) / (t.td - pb.d)")} END AS rep
         |  FROM pb, tot t),
         |st AS (SELECT count(CASE WHEN rep IS NULL THEN 1 END) AS b_degenerate,
         |    CAST(count(*) AS DOUBLE) AS bd,
         |    coalesce(${dsum("rep")}, 0.0) AS sr, coalesce(${dsum(r6("rep * rep"))}, 0.0) AS sr2 FROM reps),
         |fin AS (SELECT t.n_rows, t.n_buckets, st.b_degenerate,
         |    CASE WHEN t.td > 0 THEN ${r6("t.tn / t.td")} END AS ratio,
         |    CASE WHEN st.b_degenerate = 0 AND t.td > 0 THEN
         |      ${r6("sqrt(greatest(0.0, (st.bd - 1.0) / st.bd * (st.sr2 - st.sr * st.sr / st.bd)))")}
         |    END AS se_jack
         |  FROM tot t, st)
         |SELECT n_rows, n_buckets, b_degenerate, ratio, se_jack,
         |  CASE WHEN se_jack IS NOT NULL THEN ${r6("ratio - 1.959964 * se_jack")} END AS ci_lo,
         |  CASE WHEN se_jack IS NOT NULL THEN ${r6("ratio + 1.959964 * se_jack")} END AS ci_hi
         |FROM fin""".stripMargin),

    // Bradley-Terry preference strengths over head-to-head doc-length
    // comparisons between sources (consecutive-doc tournament)
    QueryDef("q_bradley_terry", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val p = d.as("a")
        .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(col("a.doc_id") % 2 === 0 && col("a.n_chars") =!= col("b.n_chars"))
        .select(
          when(col("a.n_chars") > col("b.n_chars"), col("a.source"))
            .otherwise(col("b.source")).as("winner"),
          when(col("a.n_chars") > col("b.n_chars"), col("b.source"))
            .otherwise(col("a.source")).as("loser"))
      BradleyTerry.fit(p, "winner", "loser", iters = 3)
    },
      {
      def step(k: Int): String =
        s"""d$k AS (SELECT g.a AS item,
           |    ${dsum(r6("CAST(g.g AS DOUBLE) / (ta.theta + tb.theta)"))} AS den
           |  FROM gm g JOIN t$k ta ON g.a = ta.item JOIN t$k tb ON g.b = tb.item GROUP BY 1),
           |r$k AS (SELECT itw.item,
           |    CASE WHEN d.den > 0 THEN CAST(itw.n_wins AS DOUBLE) / d.den ELSE 0.0 END AS raw
           |  FROM itw JOIN d$k d USING (item)),
           |s$k AS (SELECT CAST(count(*) AS DOUBLE) / ${dsum(r6("raw"))} AS kk FROM r$k),
           |t${k + 1} AS (SELECT item, ${r6("raw * s.kk")} AS theta FROM r$k, s$k s)""".stripMargin
      s"""WITH p0 AS (SELECT
         |    CASE WHEN a.n_chars > b.n_chars THEN a.source ELSE b.source END AS w,
         |    CASE WHEN a.n_chars > b.n_chars THEN b.source ELSE a.source END AS l
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 2 = 0 AND a.n_chars <> b.n_chars),
         |wc AS (SELECT w, l, count(*) AS n FROM p0 WHERE w <> l GROUP BY 1, 2),
         |gm AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS g FROM (
         |    SELECT w AS a, l AS b, n FROM wc UNION ALL SELECT l AS a, w AS b, n FROM wc)
         |  GROUP BY 1, 2),
         |it AS (SELECT a AS item, CAST(sum(g) AS BIGINT) AS n_games FROM gm GROUP BY 1),
         |wi AS (SELECT w AS item, CAST(sum(n) AS BIGINT) AS n_wins FROM wc GROUP BY 1),
         |itw AS (SELECT it.item, coalesce(wi.n_wins, 0) AS n_wins, it.n_games
         |  FROM it LEFT JOIN wi USING (item)),
         |t0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS theta FROM itw),
         |${(0 until 3).map(step).mkString(",\n")}
         |SELECT itw.item, itw.n_wins, itw.n_games, t3.theta
         |FROM itw JOIN t3 ON itw.item = t3.item""".stripMargin
    }),

    // Murphy decomposition of the Brier score on the q_calibration
    // score/label pair: miscalibrated vs uninformative, separated
    QueryDef("q_brier", (s, dir) =>
      Evaluation.brierDecomposition(
        docs(s, dir).withColumn("score",
          least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
        Seq("lang"), "score", col("text").contains(" the "), nBins = 10),
      s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
         |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y FROM documents),
         |g AS (SELECT lang, least(9, greatest(0, CAST(floor(x * 10) AS BIGINT))) AS bin,
         |    count(*) AS n, ${dsum(r6("x"))} AS sx, CAST(sum(y) AS BIGINT) AS k,
         |    ${dsum(r6("(x - CAST(y AS DOUBLE)) * (x - CAST(y AS DOUBLE))"))} AS sq
         |  FROM v GROUP BY 1, 2),
         |w AS (SELECT lang, n, sx, k, sq,
         |    sx / CAST(n AS DOUBLE) AS pbar, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
         |    CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS nd,
         |    CAST(sum(k) OVER (PARTITION BY lang) AS DOUBLE) /
         |      CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS yg,
         |    CAST(sum(CAST(sq AS DECIMAL(38,6))) OVER (PARTITION BY lang) AS DOUBLE) AS sqs
         |  FROM g),
         |z AS (SELECT lang, CAST(nd AS BIGINT) AS n,
         |    sqs / nd AS brier,
         |    CAST(sum(CAST(${r6("CAST(n AS DOUBLE) * (pbar - ybar) * (pbar - ybar)")} AS DECIMAL(38,6)))
         |      OVER (PARTITION BY lang) AS DOUBLE) / nd AS rel,
         |    CAST(sum(CAST(${r6("CAST(n AS DOUBLE) * (ybar - yg) * (ybar - yg)")} AS DECIMAL(38,6)))
         |      OVER (PARTITION BY lang) AS DOUBLE) / nd AS res,
         |    yg FROM w)
         |SELECT DISTINCT lang, n, ${r6("brier")} AS brier, ${r6("rel")} AS reliability,
         |  ${r6("res")} AS resolution, ${r6("yg * (1.0 - yg)")} AS uncertainty FROM z""".stripMargin),

    // doubly-robust AIPW ATE: LR propensity + per-arm OLS outcome
    // models, composed in one plan (the q_ipw setting, upgraded)
    QueryDef("q_aipw", (s, dir) => {
      val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
      val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
      Logistic.aipwAte(Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
        "n_chars", "treat", "p_hat", "x1", clip = 0.05)
    },
      {
      def arm(cond: String, tag: String): String =
        s"""count(CASE WHEN $cond THEN 1 END) AS n$tag,
           |    coalesce(${dsum(s"CASE WHEN $cond THEN ${r6("x1")} END")}, 0.0) AS sx$tag,
           |    coalesce(${dsum(s"CASE WHEN $cond THEN ${r6("yo")} END")}, 0.0) AS sy$tag,
           |    coalesce(${dsum(s"CASE WHEN $cond THEN ${r6("x1 * yo")} END")}, 0.0) AS sxy$tag,
           |    coalesce(${dsum(s"CASE WHEN $cond THEN ${r6("x1 * x1")} END")}, 0.0) AS sxx$tag""".stripMargin
      def ab(tag: String): String =
        s"""CASE WHEN CAST(n$tag AS DOUBLE) > 1 AND CAST(n$tag AS DOUBLE) * sxx$tag - sx$tag * sx$tag > 0
           |      THEN ${r6(s"(CAST(n$tag AS DOUBLE) * sxy$tag - sx$tag * sy$tag) / (CAST(n$tag AS DOUBLE) * sxx$tag - sx$tag * sx$tag)")}
           |      ELSE 0.0 END AS b$tag""".stripMargin
      s"""WITH ${logitCtes("source = 'src0'", 5)},
         |cl AS (SELECT CAST(n_chars AS DOUBLE) AS yo, x1, y = 1 AS t,
         |    ${r6("least(greatest(p, CAST(0.05 AS DOUBLE)), CAST(0.95 AS DOUBLE))")} AS pcl FROM p5),
         |ms AS (SELECT ${arm("t", "1")},
         |    ${arm("NOT t", "0")} FROM cl),
         |mb AS (SELECT *, ${ab("1")}, ${ab("0")} FROM ms),
         |ma AS (SELECT *,
         |    CASE WHEN n1 > 0 THEN ${r6("(sy1 - b1 * sx1) / CAST(n1 AS DOUBLE)")} ELSE 0.0 END AS a1,
         |    CASE WHEN n0 > 0 THEN ${r6("(sy0 - b0 * sx0) / CAST(n0 AS DOUBLE)")} ELSE 0.0 END AS a0
         |  FROM mb),
         |co AS (SELECT cl.t,
         |    ${r6("(ma.a1 + ma.b1 * cl.x1) - (ma.a0 + ma.b0 * cl.x1) + CASE WHEN cl.t THEN (cl.yo - (ma.a1 + ma.b1 * cl.x1)) / cl.pcl ELSE 0.0 END - CASE WHEN NOT cl.t THEN (cl.yo - (ma.a0 + ma.b0 * cl.x1)) / (1.0 - cl.pcl) ELSE 0.0 END")} AS contrib
         |  FROM cl, ma)
         |SELECT (SELECT n1 FROM ma) AS n_treated, (SELECT n0 FROM ma) AS n_control,
         |  ${r6(s"coalesce(${dsum("contrib")}, 0.0) / CAST(count(*) AS DOUBLE)")} AS ate
         |FROM co""".stripMargin
    }),

    // Markov removal-effect attribution over user journeys: which
    // channel's knockout loses the most conversions
    QueryDef("q_markov_attr", (s, dir) =>
      Attribution.markovRemoval(ev(s, dir), "user_id", "ts", "event_type",
        "event_id", "purchase", iters = 12),
      {
      // channels fixed by the testdata event-type domain (sorted, as
      // markovRemoval derives them); K matches iters = 12
      val channels = Seq("click", "error", "signup", "view")
      val K = 12
      def chain(tag: String, removed: Option[String]): String = {
        val excl = removed.map(c => s" AND pr.t <> '$c'").getOrElse("")
        val steps = (1 to K).map { k =>
          s"""ab$tag$k AS (SELECT coalesce(${dsum(r6("v.p * pr.p"))}, 0.0) AS a
             |  FROM v$tag${k - 1} v JOIN pr ON v.s = pr.f WHERE pr.t = '__CONV__'),
             |v$tag$k AS (SELECT pr.t AS s, ${dsum(r6("v.p * pr.p"))} AS p
             |  FROM v$tag${k - 1} v JOIN pr ON v.s = pr.f
             |  WHERE pr.t <> '__CONV__' AND pr.t <> '__NULL__'$excl GROUP BY 1)""".stripMargin
        }
        val total = (1 to K).map(k => s"CAST((SELECT a FROM ab$tag$k) AS DECIMAL(38,6))")
          .mkString(" + ")
        (s"v${tag}0 AS (SELECT '__START__' AS s, CAST(1.0 AS DOUBLE) AS p)" +:
          steps :+ s"pc$tag AS (SELECT ${r6(s"CAST($total AS DOUBLE)")} AS p)").mkString(",\n")
      }
      val chains = chain("f", None) +: channels.zipWithIndex.map { case (c, i) =>
        chain(s"r$i", Some(c))
      }
      val finals = channels.zipWithIndex.map { case (c, i) =>
        s"""SELECT '$c' AS channel,
           |  (SELECT CAST(sum(n) AS BIGINT) FROM cnt WHERE f = '$c' OR t = '$c') AS n_transitions,
           |  (SELECT p FROM pcf) AS p_full, (SELECT p FROM pcr$i) AS p_removed,
           |  CASE WHEN (SELECT p FROM pcf) > 0
           |    THEN ${r6(s"1.0 - (SELECT p FROM pcr$i) / (SELECT p FROM pcf)")} END AS removal_effect""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH rws AS (SELECT user_id AS u,
         |    CASE WHEN event_type = 'purchase' THEN '__CONV__' ELSE event_type END AS st,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events WHERE ts IS NOT NULL),
         |kp AS (SELECT *, min(CASE WHEN st = '__CONV__' THEN rn END)
         |    OVER (PARTITION BY u) AS cp FROM rws),
         |kept AS (SELECT * FROM kp WHERE cp IS NULL OR rn <= cp),
         |inr AS (SELECT coalesce(lag(st) OVER (PARTITION BY u ORDER BY rn), '__START__') AS f,
         |    st AS t FROM kept),
         |lst AS (SELECT st AS f, '__NULL__' AS t FROM (
         |    SELECT *, max(rn) OVER (PARTITION BY u) AS mx FROM kept)
         |  WHERE rn = mx AND cp IS NULL),
         |cnt AS (SELECT f, t, count(*) AS n FROM (
         |    SELECT * FROM inr UNION ALL SELECT * FROM lst) GROUP BY 1, 2),
         |pr AS (SELECT f, t, ${r6("CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY f) AS DOUBLE)")} AS p
         |  FROM cnt),
         |${chains.mkString(",\n")}
         |$finals""".stripMargin
    }),

    // restricted mean survival time: days-to-purchase area under the
    // KM curve within a 20-day horizon
    QueryDef("q_rmst", (s, dir) =>
      Survival.restrictedMeanSurvival(ev(s, dir), "user_id", "ts", "event_type",
        "purchase", horizonDays = 20L),
      s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
         |    max(epoch_us(ts)) AS tl
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |dur AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
         |    te IS NOT NULL AS obs FROM sp),
         |cv AS (SELECT t_day, count(CASE WHEN obs THEN 1 END) AS d_events,
         |    count(CASE WHEN NOT obs THEN 1 END) AS c_censored FROM dur GROUP BY 1),
         |tot AS (SELECT sum(d_events + c_censored) AS total FROM cv),
         |r AS (SELECT t_day, d_events, c_censored,
         |    total - coalesce(sum(d_events + c_censored) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
         |  FROM cv, tot),
         |h AS (SELECT t_day, d_events, c_censored, n_risk,
         |    CASE WHEN d_events > 0 AND d_events < n_risk THEN
         |      ${r6("ln(1 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))")}
         |    ELSE 0.0 END AS term FROM r),
         |km AS (SELECT t_day, d_events, c_censored,
         |    CASE WHEN d_events = n_risk THEN NULL ELSE
         |      CAST(sum(CAST(term AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)
         |    END AS log_s FROM h),
         |st AS (SELECT t_day, d_events, c_censored,
         |    CASE WHEN log_s IS NULL THEN 0.0 ELSE ${r6("exp(log_s)")} END AS s FROM km),
         |lg AS (SELECT *, coalesce(lag(s) OVER (ORDER BY t_day), 1.0) AS prevs,
         |    coalesce(lag(t_day) OVER (ORDER BY t_day), 0) AS prevt,
         |    max(t_day) OVER () AS mxt FROM st),
         |wd AS (SELECT *, greatest(0.0, least(CAST(t_day AS DOUBLE), 20.0) - least(CAST(prevt AS DOUBLE), 20.0)) AS w FROM lg)
         |SELECT CAST(20 AS BIGINT) AS horizon_days,
         |  ${r6(s"coalesce(${dsum(r6("prevs * w"))}, 0.0) + coalesce(${dsum(s"CASE WHEN t_day = mxt THEN ${r6("s * greatest(0.0, 20.0 - least(CAST(t_day AS DOUBLE), 20.0))")} END")}, 0.0)")} AS rmst,
         |  CAST(coalesce(sum(d_events + c_censored), 0) AS BIGINT) AS n,
         |  CAST(coalesce(sum(d_events), 0) AS BIGINT) AS n_events
         |FROM wd""".stripMargin),

    // Hosmer-Lemeshow-style calibration chi-square on the
    // q_calibration score/label pair (fixed-width-bin variant)
    QueryDef("q_hosmer", (s, dir) =>
      Evaluation.hosmerLemeshow(
        docs(s, dir).withColumn("score",
          least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
        Seq("lang"), "score", col("text").contains(" the "), nBins = 10),
      s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
         |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y FROM documents),
         |g AS (SELECT lang, least(9, greatest(0, CAST(floor(x * 10) AS BIGINT))) AS bin,
         |    count(*) AS cn, ${dsum(r6("x"))} AS e, CAST(sum(y) AS BIGINT) AS o
         |  FROM v GROUP BY 1, 2),
         |t AS (SELECT lang, cn, e, o, e > 0 AND e < CAST(cn AS DOUBLE) AS testable,
         |    CASE WHEN e > 0 AND e < CAST(cn AS DOUBLE) THEN
         |      ${r6("(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / (e * (1.0 - e / CAST(cn AS DOUBLE)))")}
         |    END AS term FROM g),
         |a AS (SELECT lang, CAST(sum(cn) AS BIGINT) AS n,
         |    count(CASE WHEN testable THEN 1 END) AS b_tested,
         |    count(CASE WHEN NOT testable THEN 1 END) AS b_skipped,
         |    coalesce(${dsum("term")}, 0.0) AS chi2raw FROM t GROUP BY 1),
         |b AS (SELECT *, greatest(0, b_tested - 2) AS df,
         |    CASE WHEN b_tested >= 3 THEN ${r6("chi2raw")} END AS chi2 FROM a),
         |c AS (SELECT *, sqrt(2.0 * chi2) - sqrt(2.0 * CAST(df AS DOUBLE) - 1.0) AS z FROM b),
         |d AS (SELECT *, abs(z) AS az, 1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM c)
         |SELECT lang, n, b_tested, b_skipped, chi2, df,
         |  CASE WHEN chi2 IS NOT NULL AND df >= 1 THEN
         |    CASE WHEN z >= 0 THEN ${r6(s"$pFromZSql / 2.0")} ELSE ${r6(s"1.0 - $pFromZSql / 2.0")} END
         |  END AS p_value
         |FROM d""".stripMargin),

    // IPW weight diagnostics (Kish ESS + max-weight share) on the
    // q_ipw propensity weights — trust-the-estimate gate
    QueryDef("q_ess", (s, dir) => {
      val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
      val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
      Logistic.weightDiagnostics(
        Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"), "treat", "p_hat", clip = 0.05)
    },
      s"""WITH ${logitCtes("source = 'src0'", 5)},
         |cl AS (SELECT y = 1 AS t,
         |    ${r6("least(greatest(p, CAST(0.05 AS DOUBLE)), CAST(0.95 AS DOUBLE))")} AS pcl FROM p5),
         |ws AS (SELECT CASE WHEN t THEN 'treated' ELSE 'control' END AS arm,
         |    CASE WHEN t THEN ${r6("1.0 / pcl")} ELSE ${r6("1.0 / (1.0 - pcl)")} END AS w FROM cl),
         |ag AS (SELECT arm, count(*) AS n, ${dsum("w")} AS sw,
         |    ${dsum(r6("w * w"))} AS sw2, max(w) AS mw FROM ws GROUP BY 1)
         |SELECT arm, n,
         |  CASE WHEN sw2 > 0 THEN ${r6("sw * sw / sw2")} END AS ess,
         |  CASE WHEN sw2 > 0 THEN ${r6("sw * sw / sw2 / CAST(n AS DOUBLE)")} END AS ess_ratio,
         |  CASE WHEN sw > 0 THEN ${r6("mw / sw")} END AS max_w_share
         |FROM ag""".stripMargin),

    // placebo refutation: rerun the whole q_ipw pipeline on an md5
    // coin-flip pseudo-treatment — a real design should land near 0
    QueryDef("q_placebo", (s, dir) => {
      val d = logitDocs(s, dir).withColumn("treat",
        TextFunctions.md5Hash32(concat(lit("pb:"), col("doc_id").cast("string"))) % 2 === 1)
      val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
      Logistic.ipwAte(Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
        "n_chars", "treat", "p_hat", clip = 0.05)
    },
      {
      val placebo = s"${h32("concat('pb:', CAST(doc_id AS VARCHAR))")} % 2 = 1"
      s"""WITH ${logitCtes(placebo, 5)},
         |cl AS (SELECT n_chars, y = 1 AS t,
         |    ${r6("least(greatest(p, CAST(0.05 AS DOUBLE)), CAST(0.95 AS DOUBLE))")} AS pcl FROM p5),
         |wts AS (SELECT CAST(n_chars AS DOUBLE) AS yo, t,
         |    CASE WHEN t THEN ${r6("1.0 / pcl")} END AS wt,
         |    CASE WHEN NOT t THEN ${r6("1.0 / (1.0 - pcl)")} END AS wc FROM cl),
         |ag AS (SELECT count(CASE WHEN t THEN 1 END) AS n_treated,
         |    count(CASE WHEN NOT t THEN 1 END) AS n_control,
         |    ${dsum(r6("wt * yo"))} / ${dsum("wt")} AS mt,
         |    ${dsum(r6("wc * yo"))} / ${dsum("wc")} AS mc FROM wts)
         |SELECT n_treated, n_control, ${r6("mt")} AS mean_treated,
         |  ${r6("mc")} AS mean_control, ${r6("mt - mc")} AS ate FROM ag""".stripMargin
    }),

    // Aalen-Johansen competing risks: purchase vs error as competing
    // terminal events per user, day-granularity CIFs
    QueryDef("q_cif", (s, dir) =>
      Survival.competingRisks(ev(s, dir), "user_id", "ts", "event_type",
        "purchase", "error"),
      s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t1,
         |    min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS t2,
         |    max(epoch_us(ts)) AS tl
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |dur AS (SELECT
         |    CAST(floor(CAST(coalesce(
         |      CASE WHEN t1 IS NOT NULL AND (t2 IS NULL OR t1 <= t2) THEN t1 ELSE t2 END,
         |      tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
         |    CASE WHEN t1 IS NOT NULL AND (t2 IS NULL OR t1 <= t2) THEN 1
         |      WHEN t2 IS NOT NULL THEN 2 END AS cause
         |  FROM sp),
         |cv AS (SELECT t_day,
         |    count(CASE WHEN cause = 1 THEN 1 END) AS d_cause1,
         |    count(CASE WHEN cause = 2 THEN 1 END) AS d_cause2,
         |    count(CASE WHEN cause IS NULL THEN 1 END) AS c_censored
         |  FROM dur GROUP BY 1),
         |tot AS (SELECT sum(d_cause1 + d_cause2 + c_censored) AS total FROM cv),
         |r AS (SELECT t_day, d_cause1, d_cause2, c_censored,
         |    CAST(total - coalesce(sum(d_cause1 + d_cause2 + c_censored)
         |      OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
         |  FROM cv, tot),
         |h AS (SELECT *, CAST(d_cause1 + d_cause2 AS DOUBLE) AS dall,
         |    CASE WHEN d_cause1 + d_cause2 > 0 AND CAST(d_cause1 + d_cause2 AS DOUBLE) < CAST(n_risk AS DOUBLE)
         |      THEN ${r6("ln(1.0 - CAST(d_cause1 + d_cause2 AS DOUBLE) / CAST(n_risk AS DOUBLE))")}
         |      ELSE 0.0 END AS term FROM r),
         |s AS (SELECT *,
         |    CASE WHEN coalesce(sum(CASE WHEN dall = CAST(n_risk AS DOUBLE) THEN 1 END)
         |        OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) > 0
         |      THEN 0.0
         |      ELSE ${r6("exp(CAST(coalesce(sum(CAST(term AS DECIMAL(38,6))) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE))")}
         |    END AS sprev FROM h)
         |SELECT t_day, n_risk, d_cause1, d_cause2, c_censored,
         |  ${r6("CAST(sum(CAST(" + r6("sprev * CAST(d_cause1 AS DOUBLE) / CAST(n_risk AS DOUBLE)") + " AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)")} AS cif1,
         |  ${r6("CAST(sum(CAST(" + r6("sprev * CAST(d_cause2 AS DOUBLE) / CAST(n_risk AS DOUBLE)") + " AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)")} AS cif2
         |FROM s""".stripMargin),

    // Simpson's-paradox audit: pooled vs MH-stratified rate difference
    // across event-type strata for the md5 A/B arms
    QueryDef("q_simpson", (s, dir) => {
      val arm = TextFunctions.md5Hash32(
        concat(lit("cmh:"), col("user_id").cast("string"))) % 2 === 1
      Hypothesis.simpsonCheck(ev(s, dir), Seq("event_type"), col("value") >= 10.0, arm)
    },
      s"""WITH e AS (SELECT event_type,
         |    ${h32("concat('cmh:', CAST(user_id AS VARCHAR))")} % 2 = 1 AS a,
         |    value >= 10.0 AS hit FROM events),
         |cells AS (SELECT event_type,
         |    count(CASE WHEN a THEN 1 END) AS na,
         |    count(CASE WHEN NOT a THEN 1 END) AS nb,
         |    count(CASE WHEN a AND hit THEN 1 END) AS ka,
         |    count(CASE WHEN NOT a AND hit THEN 1 END) AS kb
         |  FROM e GROUP BY 1),
         |d AS (SELECT *,
         |    CAST(ka AS DOUBLE) / CAST(na AS DOUBLE) - CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS dd,
         |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS wgt,
         |    na > 0 AND nb > 0 AS wtd FROM cells),
         |su AS (SELECT count(*) AS k_strata,
         |    CAST(sum(na + nb) AS BIGINT) AS n,
         |    CAST(sum(na) AS BIGINT) AS sna, CAST(sum(nb) AS BIGINT) AS snb,
         |    CAST(sum(ka) AS BIGINT) AS ska, CAST(sum(kb) AS BIGINT) AS skb,
         |    coalesce(${dsum(s"CASE WHEN wtd THEN ${r6("wgt * dd")} END")}, 0.0) AS wd,
         |    coalesce(${dsum(s"CASE WHEN wtd THEN ${r6("wgt")} END")}, 0.0) AS w
         |  FROM d),
         |pp AS (SELECT *,
         |    CASE WHEN sna > 0 AND snb > 0 THEN
         |      ${r6("CAST(ska AS DOUBLE) / CAST(sna AS DOUBLE) - CAST(skb AS DOUBLE) / CAST(snb AS DOUBLE)")}
         |    END AS pooled,
         |    CASE WHEN w > 0 THEN ${r6("wd / w")} END AS strat FROM su),
         |tl AS (SELECT coalesce(sum(CASE WHEN d.wtd AND pp.pooled IS NOT NULL
         |      AND sign(d.dd) <> 0 AND sign(d.dd) <> sign(pp.pooled) THEN 1 END), 0) AS n_reversed
         |  FROM d, pp)
         |SELECT pp.k_strata, pp.n, pp.pooled AS pooled_diff, pp.strat AS stratified_diff,
         |  CAST(tl.n_reversed AS BIGINT) AS n_reversed,
         |  CASE WHEN pp.pooled IS NOT NULL AND pp.strat IS NOT NULL THEN
         |    sign(pp.pooled) <> sign(pp.strat) AND sign(pp.pooled) <> 0
         |  END AS simpson_flag
         |FROM pp, tl""".stripMargin),

    // VanderWeele E-value: how much unmeasured confounding the observed
    // arm risk ratio could absorb before vanishing
    QueryDef("q_evalue", (s, dir) => {
      val arm = TextFunctions.md5Hash32(
        concat(lit("cmh:"), col("user_id").cast("string"))) % 2 === 1
      Hypothesis.eValue(ev(s, dir), col("value") >= 10.0, arm)
    },
      s"""WITH e AS (SELECT ${h32("concat('cmh:', CAST(user_id AS VARCHAR))")} % 2 = 1 AS a,
         |    value >= 10.0 AS hit FROM events),
         |g AS (SELECT count(CASE WHEN a THEN 1 END) AS n_a,
         |    count(CASE WHEN NOT a THEN 1 END) AS n_b,
         |    count(CASE WHEN a AND hit THEN 1 END) AS ka,
         |    count(CASE WHEN NOT a AND hit THEN 1 END) AS kb FROM e),
         |p AS (SELECT *, CAST(ka AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         |    CAST(kb AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb FROM g),
         |rr AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0 AND pb > 0 AND pa > 0 THEN pa / pb END AS r FROM p),
         |aw AS (SELECT *, CASE WHEN r >= 1 THEN r ELSE 1.0 / r END AS away FROM rr)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a > 0 THEN ${r6("pa")} END AS p_a,
         |  CASE WHEN n_b > 0 THEN ${r6("pb")} END AS p_b,
         |  ${r6("r")} AS rr,
         |  CASE WHEN r IS NOT NULL THEN ${r6("away + sqrt(away * (away - 1.0))")} END AS e_value
         |FROM aw""".stripMargin),

    // two-arm RMST contrast at a 20-day horizon (the PH-free effect
    // report; arm-partitioned KM curves, no global window)
    QueryDef("q_rmst_diff", (s, dir) => {
      val arm = TextFunctions.md5Hash32(
        concat(lit("ab:"), col("user_id").cast("string"))) % 2 === 1
      Survival.rmstDiff(ev(s, dir), "user_id", "ts", "event_type", "purchase",
        arm, horizonDays = 20L)
    },
      s"""WITH sp AS (SELECT user_id,
         |    max(CASE WHEN ${h32("concat('ab:', CAST(user_id AS VARCHAR))")} % 2 = 1 THEN 1 ELSE 0 END) AS arm,
         |    min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
         |    max(epoch_us(ts)) AS tl
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |dur AS (SELECT arm,
         |    CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
         |    te IS NOT NULL AS obs FROM sp),
         |cv AS (SELECT arm, t_day, count(CASE WHEN obs THEN 1 END) AS d,
         |    count(CASE WHEN NOT obs THEN 1 END) AS c FROM dur GROUP BY 1, 2),
         |r AS (SELECT *, sum(d + c) OVER (PARTITION BY arm) -
         |    coalesce(sum(d + c) OVER (PARTITION BY arm ORDER BY t_day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nrisk FROM cv),
         |h AS (SELECT *, CASE WHEN d > 0 AND d < nrisk THEN
         |      ${r6("ln(1.0 - CAST(d AS DOUBLE) / CAST(nrisk AS DOUBLE))")}
         |    ELSE 0.0 END AS term FROM r),
         |z AS (SELECT *, coalesce(sum(CASE WHEN d = nrisk THEN 1 END)
         |      OVER (PARTITION BY arm ORDER BY t_day), 0) AS zeroed FROM h),
         |s AS (SELECT *, CASE WHEN zeroed > 0 THEN 0.0 ELSE
         |      ${r6("exp(CAST(sum(CAST(term AS DECIMAL(38,6))) OVER (PARTITION BY arm ORDER BY t_day) AS DOUBLE))")}
         |    END AS sv FROM z),
         |lg AS (SELECT *, coalesce(lag(sv) OVER (PARTITION BY arm ORDER BY t_day), 1.0) AS prevs,
         |    coalesce(lag(t_day) OVER (PARTITION BY arm ORDER BY t_day), 0) AS prevt,
         |    max(t_day) OVER (PARTITION BY arm) AS mxt FROM s),
         |wd AS (SELECT *, greatest(0.0, least(CAST(t_day AS DOUBLE), 20.0) -
         |    least(CAST(prevt AS DOUBLE), 20.0)) AS w FROM lg),
         |ag AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN d + c END), 0) AS BIGINT) AS n_a,
         |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN d + c END), 0) AS BIGINT) AS n_b,
         |    ${r6(s"coalesce(${dsum(s"CASE WHEN arm = 1 THEN ${r6("prevs * w")} END")}, 0.0) + coalesce(${dsum(s"CASE WHEN t_day = mxt AND arm = 1 THEN ${r6("sv * greatest(0.0, 20.0 - least(CAST(t_day AS DOUBLE), 20.0))")} END")}, 0.0)")} AS ra,
         |    ${r6(s"coalesce(${dsum(s"CASE WHEN arm = 0 THEN ${r6("prevs * w")} END")}, 0.0) + coalesce(${dsum(s"CASE WHEN t_day = mxt AND arm = 0 THEN ${r6("sv * greatest(0.0, 20.0 - least(CAST(t_day AS DOUBLE), 20.0))")} END")}, 0.0)")} AS rb
         |  FROM wd)
         |SELECT CAST(20 AS BIGINT) AS horizon_days, n_a, n_b,
         |  CASE WHEN n_a > 0 THEN ra END AS rmst_a,
         |  CASE WHEN n_b > 0 THEN rb END AS rmst_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN ${r6("ra - rb")} END AS rmst_diff
         |FROM ag""".stripMargin),

    // heterogeneous effect by propensity bin on the q_ipw setting —
    // the positivity/overlap picture behind the single ATE number
    QueryDef("q_hte", (s, dir) => {
      val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
      val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
      Logistic.hteByPropensityBin(
        Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
        "n_chars", "treat", "p_hat", nBins = 10)
    },
      s"""WITH ${logitCtes("source = 'src0'", 5)},
         |cl AS (SELECT CAST(n_chars AS DOUBLE) AS yo, y = 1 AS t,
         |    least(9, greatest(0, CAST(floor(p * 10) AS BIGINT))) AS bin FROM p5
         |  WHERE p IS NOT NULL),
         |g AS (SELECT bin, count(CASE WHEN t THEN 1 END) AS n_treated,
         |    count(CASE WHEN NOT t THEN 1 END) AS n_control,
         |    ${dsum(s"CASE WHEN t THEN ${r6("yo")} END")} AS st,
         |    ${dsum(s"CASE WHEN NOT t THEN ${r6("yo")} END")} AS sc
         |  FROM cl GROUP BY 1)
         |SELECT bin, ${r6("CAST(bin AS DOUBLE) * 0.1")} AS p_lo,
         |  ${r6("CAST(bin + 1 AS DOUBLE) * 0.1")} AS p_hi,
         |  n_treated, n_control,
         |  CASE WHEN n_treated > 0 THEN ${r6("st / CAST(n_treated AS DOUBLE)")} END AS mean_treated,
         |  CASE WHEN n_control > 0 THEN ${r6("sc / CAST(n_control AS DOUBLE)")} END AS mean_control,
         |  CASE WHEN n_treated > 0 AND n_control > 0 THEN
         |    ${r6("st / CAST(n_treated AS DOUBLE) - sc / CAST(n_control AS DOUBLE)")}
         |  END AS diff
         |FROM g""".stripMargin),

    // language-ID confusion matrix: the per-class eval of #28 against
    // the lang column (which labels leak where)
    QueryDef("q_confusion", (s, dir) =>
      Evaluation.confusionMatrix(
        docs(s, dir).select(col("lang"),
          TextFunctions.langId(col("text")).as("lang_pred")),
        "lang", "lang_pred"),
      s"""WITH pred AS ($langIdSelectSql),
         |j AS (SELECT coalesce(CAST(d.lang AS VARCHAR), '(null)') AS true_label,
         |    coalesce(CAST(p.lang_pred AS VARCHAR), '(null)') AS pred_label
         |  FROM documents d JOIN pred p USING (doc_id)),
         |cells AS (SELECT true_label, pred_label, count(*) AS n FROM j GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t,
         |    CAST(coalesce(sum(CASE WHEN true_label = pred_label THEN n END), 0) AS BIGINT) AS ok
         |  FROM cells)
         |SELECT true_label, pred_label, n,
         |  ${r6("CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY true_label) AS DOUBLE)")} AS frac_of_true,
         |  ${r6("CAST(tot.ok AS DOUBLE) / CAST(tot.t AS DOUBLE)")} AS accuracy
         |FROM cells, tot""".stripMargin),

    // Fleiss' kappa across three deterministic heuristic "raters" —
    // the annotator-agreement gate on a preference/label corpus
    QueryDef("q_fleiss", (s, dir) => {
      val d = docs(s, dir)
      def vote(c: org.apache.spark.sql.Column) =
        when(c, lit("long")).otherwise(lit("short"))
      val votes = d.select(col("doc_id"), vote(col("n_chars") >= 250).as("vote"))
        .unionByName(d.select(col("doc_id"), vote(col("n_chars") >= 300).as("vote")))
        .unionByName(d.select(col("doc_id"),
          vote(size(TextFunctions.wordTokens(col("text"))) >= 55).as("vote")))
      Evaluation.fleissKappa(votes, "doc_id", "vote")
    },
      s"""WITH lw AS (SELECT doc_id, n_chars,
         |    len(${wordTokensSql("text")}) AS nw
         |  FROM documents),
         |votes AS (
         |  SELECT doc_id, CASE WHEN n_chars >= 250 THEN 'long' ELSE 'short' END AS vote FROM lw
         |  UNION ALL SELECT doc_id, CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END FROM lw
         |  UNION ALL SELECT doc_id, CASE WHEN nw >= 55 THEN 'long' ELSE 'short' END FROM lw),
         |cells AS (SELECT doc_id, vote, count(*) AS nij FROM votes GROUP BY 1, 2),
         |items AS (SELECT doc_id, CAST(sum(nij) AS BIGINT) AS m,
         |    CAST(sum(nij * nij) AS BIGINT) AS sq FROM cells GROUP BY 1),
         |chk AS (SELECT count(*) AS ni, CAST(min(m) AS BIGINT) AS m FROM items),
         |pb AS (SELECT c.ni AS n_items, c.m AS m_raters,
         |    ${r6(s"coalesce(${dsum(r6("CAST(sq - i.m AS DOUBLE) / (CAST(c.m AS DOUBLE) * (CAST(c.m AS DOUBLE) - 1.0))"))}, 0.0) / CAST(count(*) AS DOUBLE)")} AS p_bar
         |  FROM items i, chk c GROUP BY 1, 2),
         |mg AS (SELECT vote, CAST(sum(nij) AS BIGINT) AS cn FROM cells GROUP BY 1),
         |pe AS (SELECT count(*) AS n_categories,
         |    ${r6(s"coalesce(${dsum(r6(s"${r6("CAST(cn AS DOUBLE) / CAST(c.ni * c.m AS DOUBLE)")} * ${r6("CAST(cn AS DOUBLE) / CAST(c.ni * c.m AS DOUBLE)")}"))}, 0.0)")} AS p_e
         |  FROM mg, chk c)
         |SELECT pb.n_items, pb.m_raters, pe.n_categories, pb.p_bar, pe.p_e,
         |  CASE WHEN pe.p_e < 1.0 THEN ${r6("(pb.p_bar - pe.p_e) / (1.0 - pe.p_e)")} END AS kappa
         |FROM pb, pe""".stripMargin),

    // split-half reliability of the per-source mean-length metric:
    // is the source league table signal or re-rolled dice
    QueryDef("q_split_half", (s, dir) =>
      Reliability.splitHalf(docs(s, dir), "source", "doc_id",
        col("n_chars"), seed = "sh42"),
      s"""WITH rws AS (SELECT source AS g,
         |    ${h32("concat('sh42', '|', CAST(doc_id AS VARCHAR))")} % 2 AS h,
         |    CAST(n_chars AS DOUBLE) AS m FROM documents WHERE n_chars IS NOT NULL),
         |cells AS (SELECT g, h, ${r6(s"${dsum(r6("m"))} / CAST(count(*) AS DOUBLE)")} AS mm
         |  FROM rws GROUP BY 1, 2),
         |wide AS (SELECT g, max(CASE WHEN h = 0 THEN mm END) AS m0,
         |    max(CASE WHEN h = 1 THEN mm END) AS m1 FROM cells GROUP BY 1),
         |st AS (SELECT
         |    count(CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN 1 END) AS n_groups,
         |    count(CASE WHEN m0 IS NULL OR m1 IS NULL THEN 1 END) AS n_dropped,
         |    coalesce(${dsum("CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN m0 END")}, 0.0) AS s0,
         |    coalesce(${dsum("CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN m1 END")}, 0.0) AS s1,
         |    coalesce(${dsum(s"CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN ${r6("m0 * m1")} END")}, 0.0) AS s01,
         |    coalesce(${dsum(s"CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN ${r6("m0 * m0")} END")}, 0.0) AS s00,
         |    coalesce(${dsum(s"CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN ${r6("m1 * m1")} END")}, 0.0) AS s11,
         |    CAST(count(CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN 1 END) AS DOUBLE) AS nd
         |  FROM wide),
         |rr AS (SELECT *, CASE WHEN n_groups >= 3
         |      AND s00 - s0 * s0 / nd > 0 AND s11 - s1 * s1 / nd > 0 THEN
         |    ${r6("(s01 - s0 * s1 / nd) / sqrt((s00 - s0 * s0 / nd) * (s11 - s1 * s1 / nd))")}
         |  END AS r_half FROM st)
         |SELECT n_groups, n_dropped, r_half,
         |  CASE WHEN r_half IS NOT NULL AND r_half > -1.0 THEN
         |    ${r6("2.0 * r_half / (1.0 + r_half)")} END AS reliability
         |FROM rr""".stripMargin),

    // cost-optimal quality-filter threshold on the q_calibration
    // score/label pair: keep-good pays 1, keep-bad costs 2
    QueryDef("q_threshold_opt", (s, dir) =>
      Evaluation.bestThreshold(
        docs(s, dir).withColumn("score",
          least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
        Seq("lang"), "score", col("text").contains(" the "),
        benefitTp = 1.0, costFp = 2.0, nBins = 20),
      s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
         |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y FROM documents),
         |g AS (SELECT lang, least(19, greatest(0, CAST(floor(x * 20) AS BIGINT))) AS bin,
         |    count(*) AS n, CAST(sum(y) AS BIGINT) AS pos FROM v GROUP BY 1, 2),
         |c AS (SELECT lang, bin, n, pos,
         |    CAST(sum(pos) OVER (PARTITION BY lang ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS tp,
         |    CAST(sum(n - pos) OVER (PARTITION BY lang ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS fp,
         |    CAST(sum(pos) OVER (PARTITION BY lang) AS BIGINT) AS allpos FROM g),
         |u AS (SELECT lang, ${r6("CAST(bin AS DOUBLE) / 20.0")} AS threshold, tp, fp,
         |    allpos - tp AS fn,
         |    ${r6("1.0 * CAST(tp AS DOUBLE) - 2.0 * CAST(fp AS DOUBLE)")} AS utility FROM c),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY utility DESC, threshold DESC) AS rn FROM u)
         |SELECT lang, threshold, tp, fp, CAST(fn AS BIGINT) AS fn, utility
         |FROM rk WHERE rn = 1""".stripMargin),

    // deterministic propensity matching: rank-paired ATT within the
    // q_hte propensity bins (same GD fit)
    QueryDef("q_matched_att", { (s, dir) =>
      val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
      val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
      Logistic.rankMatchedAtt(
        Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
        "doc_id", "n_chars", "treat", "p_hat", nBins = 10)
    },
      s"""WITH ${logitCtes("source = 'src0'", 5)},
         |cl AS (SELECT id, CAST(n_chars AS DOUBLE) AS yo, y = 1 AS t,
         |    least(9, greatest(0, CAST(floor(p * 10) AS BIGINT))) AS bin FROM p5
         |  WHERE p IS NOT NULL AND n_chars IS NOT NULL),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY bin, t ORDER BY id) AS rk FROM cl),
         |arms AS (SELECT bin, CAST(count(CASE WHEN t THEN 1 END) AS BIGINT) AS n_treated,
         |    CAST(count(CASE WHEN NOT t THEN 1 END) AS BIGINT) AS n_control FROM cl GROUP BY 1),
         |pr AS (SELECT tt.bin, CAST(count(*) AS BIGINT) AS np, ${dsum(r6("tt.yo - cc.yo"))} AS sd
         |  FROM rk tt JOIN rk cc ON tt.bin = cc.bin AND tt.rk = cc.rk AND tt.t AND NOT cc.t
         |  GROUP BY 1)
         |SELECT arms.bin, ${r6("CAST(arms.bin AS DOUBLE) * 0.1")} AS p_lo,
         |  ${r6("CAST(arms.bin + 1 AS DOUBLE) * 0.1")} AS p_hi,
         |  n_treated, n_control, coalesce(np, 0) AS n_pairs,
         |  CASE WHEN np > 0 THEN ${r6("sd / CAST(np AS DOUBLE)")} END AS att
         |FROM arms LEFT JOIN pr ON arms.bin = pr.bin""".stripMargin),

    // exact Shapley attribution over pre-conversion channel sets — the
    // order-free axiomatic twin of q_markov_attr; disagreement between
    // the two IS the finding
    QueryDef("q_shapley_attr", (s, dir) =>
      Attribution.shapleyAttribution(ev(s, dir), "user_id", "ts", "event_type",
        "event_id", "purchase"),
      {
      val weight = "CAST(factorial(CAST(bit_count(v1.S) AS INTEGER)) AS DOUBLE) " +
        "* CAST(factorial(CAST(k.k - 1 - bit_count(v1.S) AS INTEGER)) AS DOUBLE) " +
        "/ CAST(factorial(CAST(k.k AS INTEGER)) AS DOUBLE)"
      s"""WITH rows AS (SELECT user_id AS u, event_type AS t,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events WHERE ts IS NOT NULL),
         |cp AS (SELECT u, min(CASE WHEN t = 'purchase' THEN rn END) AS cp FROM rows GROUP BY 1),
         |cu AS (SELECT u, cp FROM cp WHERE cp IS NOT NULL),
         |ch AS (SELECT DISTINCT r.u, r.t FROM rows r JOIN cu USING (u) WHERE r.rn < cu.cp),
         |chl AS (SELECT t, row_number() OVER (ORDER BY t) - 1 AS b FROM (SELECT DISTINCT t FROM ch)),
         |k AS (SELECT count(*) AS k FROM chl),
         |um AS (SELECT cu.u, coalesce(m.mask, 0) AS mask FROM cu
         |  LEFT JOIN (SELECT u, CAST(sum(CAST(1 AS BIGINT) << b) AS BIGINT) AS mask
         |             FROM ch JOIN chl USING (t) GROUP BY 1) m USING (u)),
         |sv AS (SELECT mask, count(*) AS conv FROM um GROUP BY 1),
         |ss AS (SELECT unnest(range(0, 1 << k.k)) AS S FROM k),
         |v AS (SELECT ss.S, coalesce(CAST(sum(sv.conv) AS BIGINT), 0) AS v
         |  FROM ss LEFT JOIN sv ON (sv.mask & ss.S) = sv.mask GROUP BY 1),
         |vf AS (SELECT v.v AS v_full FROM v, k WHERE v.S = (1 << k.k) - 1),
         |ve AS (SELECT v AS v_empty FROM v WHERE S = 0),
         |terms AS (SELECT chl.t AS channel,
         |    ${r6(s"($weight) * CAST(v2.v - v1.v AS DOUBLE)")} AS term
         |  FROM chl, k, v v1, v v2
         |  WHERE (v1.S >> chl.b) & 1 = 0 AND v2.S = v1.S | (1 << chl.b)),
         |shap AS (SELECT channel, ${dsum("term")} AS phi FROM terms GROUP BY 1)
         |SELECT channel, ${r6("phi")} AS shapley,
         |  CASE WHEN v_full > 0 THEN ${r6("phi / CAST(v_full AS DOUBLE)")} END AS share,
         |  CAST(v_full AS BIGINT) AS v_full, CAST(v_empty AS BIGINT) AS v_empty
         |FROM shap, vf, ve""".stripMargin
    }),

    // sharp regression discontinuity on the length threshold: does
    // crossing 1000 chars jump the ' the ' rate (it should not — a
    // placebo cutoff; effect ~ 0 is the honest read)
    QueryDef("q_rdd", (s, dir) =>
      Discontinuity.sharpRdd(
        docs(s, dir).select(col("n_chars"),
          col("text").contains(" the ").cast("int").as("y")),
        "n_chars", "y", cutoff = 1000.0, bandwidth = 800.0),
      {
      def side(cond: String, tag: String) = Seq(
        s"count(CASE WHEN $cond THEN 1 END) AS n_$tag",
        s"${dsum(s"CASE WHEN $cond THEN ${r6("u")} END")} AS su_$tag",
        s"${dsum(s"CASE WHEN $cond THEN ${r6("y")} END")} AS sy_$tag",
        s"${dsum(s"CASE WHEN $cond THEN ${r6("u * y")} END")} AS suy_$tag",
        s"${dsum(s"CASE WHEN $cond THEN ${r6("u * u")} END")} AS suu_$tag"
      ).mkString(",\n    ")
      def fit(tag: String) = {
        val n = s"CAST(n_$tag AS DOUBLE)"
        val (su, sy, suy, suu) =
          (s"coalesce(su_$tag, 0.0)", s"coalesce(sy_$tag, 0.0)",
            s"coalesce(suy_$tag, 0.0)", s"coalesce(suu_$tag, 0.0)")
        val denom = s"$n * $suu - $su * $su"
        val slope = s"($n * $suy - $su * $sy) / ($denom)"
        (s"CASE WHEN n_$tag > 0 THEN ${r6(s"CASE WHEN $denom > 0 THEN ($sy - ($slope) * $su) / $n ELSE $sy / $n END")} END",
          s"CASE WHEN n_$tag > 0 AND $denom > 0 THEN ${r6(slope)} END")
      }
      val (il, sl) = fit("left")
      val (ir, sr) = fit("right")
      s"""WITH b AS (SELECT CAST(n_chars AS DOUBLE) - CAST(1000.0 AS DOUBLE) AS u,
         |    CAST(CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS DOUBLE) AS y,
         |    CAST(n_chars AS DOUBLE) >= 1000.0 AS r
         |  FROM documents WHERE n_chars IS NOT NULL
         |    AND abs(CAST(n_chars AS DOUBLE) - CAST(1000.0 AS DOUBLE)) <= CAST(800.0 AS DOUBLE)),
         |m AS (SELECT ${side("NOT r", "left")},
         |    ${side("r", "right")}
         |  FROM b),
         |f AS (SELECT CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
         |    $il AS il, $sl AS sl, $ir AS ir, $sr AS sr FROM m)
         |SELECT n_left, n_right, il AS intercept_left, sl AS slope_left,
         |  ir AS intercept_right, sr AS slope_right,
         |  CASE WHEN il IS NOT NULL AND ir IS NOT NULL THEN ${r6("ir - il")} END AS effect
         |FROM f""".stripMargin
    }),

    // time-decay attribution (1-day half-life): the deployable recency
    // model between last-touch and the q_markov_attr/q_shapley_attr pair
    QueryDef("q_decay_attr", (s, dir) =>
      Attribution.timeDecayAttribution(ev(s, dir), "user_id", "ts",
        "event_type", "event_id", "purchase", halfLifeUs = 86400000000L),
      s"""WITH rows AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS tu,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events WHERE ts IS NOT NULL),
         |cc AS (SELECT u, min(CASE WHEN ty = 'purchase' THEN rn END) AS cp,
         |    min(CASE WHEN ty = 'purchase' THEN tu END) AS ct FROM rows GROUP BY 1),
         |t AS (SELECT r.u, r.ty,
         |    ${r6("pow(0.5, CAST(cc.ct - r.tu AS DOUBLE) / 86400000000.0)")} AS w
         |  FROM rows r JOIN cc USING (u) WHERE cc.cp IS NOT NULL AND r.rn < cc.cp),
         |sw AS (SELECT u, ${dsum("w")} AS sw FROM t GROUP BY 1),
         |cr AS (SELECT t.ty AS channel, ${r6("t.w / sw.sw")} AS credit
         |  FROM t JOIN sw USING (u))
         |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
         |  ${r6(s"(${dsum("credit")})")} AS total_credit
         |FROM cr GROUP BY 1""".stripMargin),

    // full Pearson matrix over the doc features in ONE scan
    QueryDef("q_corr_matrix", { (s, dir) =>
      val feats = docs(s, dir).select(
        col("n_chars").cast("double").as("n_chars"),
        size(TextFunctions.wordTokens(col("text"))).cast("double").as("n_words"),
        size(split(col("text"), "\n")).cast("double").as("n_lines"))
      Stats.correlationMatrix(feats, Seq("n_chars", "n_words", "n_lines"))
    },
      {
      def cellSqlRow(fa: String, fb: String, a: String, b: String) = {
        val (sa, sb, qa, qb, p) = (s"s$a", s"s$b", s"q$a", s"q$b", s"p$a$b")
        val va = s"(CAST(n AS DOUBLE) * $qa - $sa * $sa)"
        val vb = s"(CAST(n AS DOUBLE) * $qb - $sb * $sb)"
        s"""SELECT '$fa' AS feature_a, '$fb' AS feature_b, CAST(n AS BIGINT) AS n,
           |  CASE WHEN n > 1 AND $va > 0 AND $vb > 0 THEN
           |    ${r6(s"(CAST(n AS DOUBLE) * $p - $sa * $sb) / (sqrt($va) * sqrt($vb))")}
           |  END AS corr FROM m""".stripMargin
      }
      s"""WITH b0 AS (SELECT CAST(n_chars AS DOUBLE) AS a,
         |    CAST(len(${wordTokensSql("text")}) AS DOUBLE) AS b,
         |    CAST(len(string_split(text, chr(10))) AS DOUBLE) AS c
         |  FROM documents),
         |bb AS (SELECT * FROM b0 WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL),
         |m AS (SELECT count(*) AS n,
         |    ${dsum(r6("a"))} AS sa, ${dsum(r6("a * a"))} AS qa,
         |    ${dsum(r6("b"))} AS sb, ${dsum(r6("b * b"))} AS qb,
         |    ${dsum(r6("c"))} AS sc, ${dsum(r6("c * c"))} AS qc,
         |    ${dsum(r6("a * b"))} AS pab, ${dsum(r6("a * c"))} AS pac,
         |    ${dsum(r6("b * c"))} AS pbc
         |  FROM bb)
         |${cellSqlRow("n_chars", "n_words", "a", "b")}
         |UNION ALL
         |${cellSqlRow("n_chars", "n_lines", "a", "c")}
         |UNION ALL
         |${cellSqlRow("n_words", "n_lines", "b", "c")}""".stripMargin
    }),

    // Lorenz/concentration table: which length-decile of docs holds the
    // characters — the curve behind q_gini's single number
    QueryDef("q_lorenz", (s, dir) =>
      Stats.concentrationCurve(docs(s, dir), "n_chars", nBins = 10),
      {
      val ps = (1 until 10).map(p => s"CAST(0.${p} AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
         |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |e AS (SELECT quantile_cont(x, $ps) AS qs FROM v),
         |bn AS (SELECT CAST(len(list_filter(e.qs, q -> q < v.x)) AS BIGINT) AS bin, v.x
         |  FROM v, e),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, ${dsum(r6("x"))} AS s
         |  FROM bn GROUP BY 1),
         |t AS (SELECT ${dsum(r6("s"))} AS tot FROM g),
         |cm AS (SELECT a.bin, ${dsum(r6("b.s"))} AS cs
         |  FROM g a JOIN g b ON b.bin <= a.bin GROUP BY 1)
         |SELECT g.bin, g.n,
         |  CASE WHEN tot > 0 THEN ${r6("g.s / tot")} END AS value_share,
         |  CASE WHEN tot > 0 THEN ${r6("cm.cs / tot")} END AS cum_share
         |FROM g JOIN cm ON g.bin = cm.bin, t""".stripMargin
    }),

    // Fisher's exact 2x2 per source: rare exposure (1-in-3 by id)
    // vs containing "join" — the small-cell regime chi2 gets wrong
    QueryDef("q_fisher", (s, dir) =>
      Hypothesis.fisherExact(docs(s, dir), Seq("source"),
        pmod(col("doc_id"), lit(3)) === 0, col("text").contains("join")),
      {
      def lf(e: String) = graft.functions.SpecialMath.lfactSql(e)
      def lp(k: String) =
        s"${lf("r1")} + ${lf("n - r1")} + ${lf("c1")} + ${lf("n - c1")} - ${lf("n")}" +
          s" - ${lf(k)} - ${lf(s"r1 - ($k)")} - ${lf(s"c1 - ($k)")} - ${lf(s"n - r1 - c1 + ($k)")}"
      s"""WITH cells AS (SELECT source,
         |    CAST(count(CASE WHEN doc_id % 3 = 0 AND contains(text, 'join') THEN 1 END) AS BIGINT) AS a,
         |    CAST(count(CASE WHEN doc_id % 3 = 0 AND NOT contains(text, 'join') THEN 1 END) AS BIGINT) AS b,
         |    CAST(count(CASE WHEN doc_id % 3 <> 0 AND contains(text, 'join') THEN 1 END) AS BIGINT) AS c,
         |    CAST(count(CASE WHEN doc_id % 3 <> 0 AND NOT contains(text, 'join') THEN 1 END) AS BIGINT) AS d
         |  FROM documents GROUP BY 1),
         |m AS (SELECT source, a, b, c, d, a + b + c + d AS n, a + b AS r1, a + c AS c1 FROM cells),
         |t AS (SELECT *, unnest(range(greatest(0, r1 + c1 - n), least(r1, c1) + 1)) AS k FROM m),
         |l AS (SELECT source, a, b, c, d, (${lp("k")}) AS lpk, (${lp("a")}) AS lpobs FROM t)
         |SELECT source, a, b, c, d,
         |  ${r6("least(1.0, CAST(coalesce(sum(CASE WHEN lpk <= lpobs + 1e-7 THEN CAST(" + r6("exp(lpk)") + " AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE))")} AS p_value
         |FROM l GROUP BY 1, 2, 3, 4, 5""".stripMargin
    }),

    // McNemar paired flip test per lang: do the "join" and "merge"
    // detectors disagree asymmetrically on the same docs
    QueryDef("q_mcnemar", (s, dir) =>
      Hypothesis.mcnemar(docs(s, dir), Seq("lang"),
        col("text").contains("join"), col("text").contains("merge")),
      s"""WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN contains(text, 'join') AND NOT contains(text, 'merge') THEN 1 END) AS BIGINT) AS b,
         |    CAST(count(CASE WHEN NOT contains(text, 'join') AND contains(text, 'merge') THEN 1 END) AS BIGINT) AS c
         |  FROM documents GROUP BY 1),
         |x AS (SELECT lang, n, b, c,
         |    CASE WHEN b + c > 0 THEN (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END AS chi2
         |  FROM g),
         |z AS (SELECT lang, n, b, c, chi2, sqrt(chi2) AS az,
         |    1.0 / (1.0 + 0.33267 * sqrt(chi2)) AS tt FROM x)
         |SELECT lang, n, b, c, ${r6("chi2")} AS chi2,
         |  CASE WHEN chi2 IS NOT NULL THEN ${r6(pFromZSql)} END AS p_value
         |FROM z""".stripMargin),

    // Holm step-down over the same per-slice tests frame as q_bh —
    // FWER where q_bh is FDR
    QueryDef("q_holm", { (s, dir) =>
      val tests = Hypothesis.twoProportionZ(docs(s, dir), Seq("lang", "source"),
          col("n_chars") > 300,
          pmod(TextFunctions.md5Hash32(concat(lit("bh|"), col("doc_id").cast("string"))),
            lit(2)) === 0)
        .select(col("lang"), col("source"),
          graft.functions.Portable.r6(col("z")).as("z"),
          graft.functions.Portable.r6(Hypothesis.pFromZ(col("z"))).as("p"))
      Hypothesis.holm(tests, "p", Seq("lang", "source"), alpha = 0.1)
        .select(col("lang"), col("source"), col("z"), col("p"), col("m"),
          col("rank"), graft.functions.Portable.r6(col("p_adj")).as("p_adj"),
          col("reject"))
    },
      s"""WITH v AS (SELECT lang, source,
         |    CASE WHEN ${h32("concat('bh|', CAST(doc_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS hit
         |  FROM documents),
         |g AS (SELECT lang, source,
         |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
         |        CAST(coalesce(sum(CASE WHEN a = 1 THEN hit END), 0) AS BIGINT) AS k_a,
         |        CAST(coalesce(sum(CASE WHEN a = 0 THEN hit END), 0) AS BIGINT) AS k_b
         |      FROM v GROUP BY 1, 2),
         |e AS (SELECT lang, source, n_a, n_b, k_a, k_b,
         |        CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         |        CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
         |        CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
         |      FROM g),
         |z0 AS (SELECT lang, source,
         |        CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
         |          (pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |        END AS z FROM e),
         |pz AS (SELECT lang, source, z, abs(z) AS az,
         |        1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM z0),
         |pv AS (SELECT lang, source,
         |        ${r6("z")} AS z,
         |        ${r6(pFromZSql)} AS p
         |      FROM pz WHERE z IS NOT NULL),
         |rk AS (SELECT lang, source, z, p,
         |        CAST(count(*) OVER () AS BIGINT) AS m,
         |        CAST(row_number() OVER (ORDER BY p, lang, source) AS BIGINT) AS "rank"
         |      FROM pv),
         |adj AS (SELECT lang, source, z, p, m, "rank",
         |        least(1.0, max(p * CAST(m - "rank" + 1 AS DOUBLE))
         |          OVER (ORDER BY p, lang, source
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS a_raw
         |      FROM rk),
         |nullz AS (SELECT lang, source, CAST(NULL AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS p,
         |        CAST(NULL AS BIGINT) AS m, CAST(NULL AS BIGINT) AS "rank",
         |        CAST(NULL AS DOUBLE) AS p_adj, CAST(NULL AS BOOLEAN) AS reject
         |      FROM z0 WHERE z IS NULL)
         |SELECT lang, source, z, p, m, "rank",
         |  ${r6("a_raw")} AS p_adj, a_raw <= 0.1 AS reject
         |FROM adj
         |UNION ALL SELECT * FROM nullz""".stripMargin),

    // randomization test: 19 deterministic md5 relabelings of the
    // en-vs-rest mean n_chars difference
    QueryDef("q_rand_test", (s, dir) =>
      Hypothesis.randomizationTest(docs(s, dir), "n_chars",
        col("lang") === "en", "doc_id", k = 19, seed = "rt"),
      s"""WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v, lang = 'en' AS a,
         |    CAST(doc_id AS VARCHAR) AS id FROM documents
         |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |obs AS (SELECT CAST(count(CASE WHEN a THEN 1 END) AS BIGINT) AS n_a,
         |    CAST(count(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS n_b,
         |    CAST(coalesce(sum(CASE WHEN a THEN CAST(${r6("v")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
         |    ${dsum0(r6("v"))} AS st
         |  FROM b),
         |reps AS (SELECT i,
         |    CAST(count(CASE WHEN f THEN 1 END) AS BIGINT) AS ka,
         |    CAST(count(CASE WHEN NOT f THEN 1 END) AS BIGINT) AS kb,
         |    CAST(coalesce(sum(CASE WHEN f THEN CAST(${r6("v")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS ksa,
         |    ${dsum0(r6("v"))} AS ks
         |  FROM (SELECT v, i.i AS i, ${h32("concat('rt:', CAST(i.i AS VARCHAR), ':', id)")} % 2 = 0 AS f
         |        FROM b, range(1, 20) i(i))
         |  GROUP BY 1),
         |ds AS (SELECT
         |    (SELECT ${r6("CASE WHEN n_a > 0 AND n_b > 0 THEN sa / CAST(n_a AS DOUBLE) - (st - sa) / CAST(n_b AS DOUBLE) END")} FROM obs) AS d_obs,
         |    ${r6("CASE WHEN ka > 0 AND kb > 0 THEN ksa / CAST(ka AS DOUBLE) - (ks - ksa) / CAST(kb AS DOUBLE) END")} AS d_rep
         |  FROM reps)
         |SELECT (SELECT n_a FROM obs) AS n_a, (SELECT n_b FROM obs) AS n_b,
         |  d_obs, CAST(count(*) AS BIGINT) AS k,
         |  CAST(count(CASE WHEN abs(d_rep) >= abs(d_obs) THEN 1 END) AS BIGINT) AS n_ge,
         |  ${r6("(CAST(count(CASE WHEN abs(d_rep) >= abs(d_obs) THEN 1 END) AS DOUBLE) + 1.0) / (CAST(count(*) AS DOUBLE) + 1.0)")} AS p_value
         |FROM ds GROUP BY d_obs""".stripMargin),

    // mutual-information screen: which categorical doc columns know
    // the " the " label
    QueryDef("q_mi", (s, dir) =>
      Stats.miScreen(docs(s, dir), Seq("lang", "source"),
        col("text").contains(" the ")),
      s"""WITH m AS (SELECT f.feature,
         |    CASE f.feature WHEN 'lang' THEN coalesce(lang, '<null>') ELSE coalesce(source, '<null>') END AS x,
         |    CAST(contains(text, ' the ') AS VARCHAR) AS y
         |  FROM documents, (VALUES ('lang'), ('source')) f(feature)),
         |cells AS (SELECT feature, x, y, CAST(count(*) AS BIGINT) AS nxy FROM m GROUP BY 1, 2, 3),
         |xm AS (SELECT feature, x, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1, 2),
         |ym AS (SELECT feature, y, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1, 2),
         |tot AS (SELECT feature, CAST(sum(nxy) AS BIGINT) AS n FROM cells GROUP BY 1),
         |j AS (SELECT cells.feature, cells.x, cells.y, nxy, nx, ny, n, CAST(n AS DOUBLE) AS nd
         |  FROM cells JOIN xm USING (feature, x) JOIN ym USING (feature, y) JOIN tot USING (feature)),
         |agg AS (SELECT feature, n,
         |    ${dsum0(r6("CAST(nx AS DOUBLE) / nd * ln(nd / CAST(nx AS DOUBLE)) * CAST(nxy AS DOUBLE) / CAST(nx AS DOUBLE)"))} AS hx,
         |    ${dsum0(r6("CAST(ny AS DOUBLE) / nd * ln(nd / CAST(ny AS DOUBLE)) * CAST(nxy AS DOUBLE) / CAST(ny AS DOUBLE)"))} AS hy,
         |    ${dsum0(r6("CAST(nxy AS DOUBLE) / nd * ln(nd * CAST(nxy AS DOUBLE) / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))"))} AS mi
         |  FROM j GROUP BY 1, 2)
         |SELECT feature, n, ${r6("hx")} AS h_x, ${r6("hy")} AS h_y, ${r6("mi")} AS mi,
         |  CASE WHEN least(hx, hy) > 0 THEN ${r6("mi / least(hx, hy)")} END AS nmi
         |FROM agg""".stripMargin),

    // Kendall's W: do the 5 event types agree on the user-decile
    // ranking by total value
    QueryDef("q_kendall_w", { (s, dir) =>
      val cells = ev(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"), pmod(col("user_id"), lit(10)).as("bucket"))
        .agg(graft.functions.Portable.r6(
          sum(col("value").cast("decimal(38,6)")).cast("double")).as("total"))
      Stats.kendallW(cells, "event_type", "bucket", "total")
    },
      s"""WITH cells AS (SELECT event_type AS r, user_id % 10 AS it,
         |    ${r6(dsum0("value"))} AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1, 2),
         |rk AS (SELECT r, it, v,
         |    CAST(rank() OVER (PARTITION BY r ORDER BY v) AS DOUBLE) +
         |      (CAST(count(*) OVER (PARTITION BY r, v) AS DOUBLE) - 1.0) / 2.0 AS ark,
         |    CAST(count(*) OVER (PARTITION BY r, v) AS BIGINT) AS t
         |  FROM cells),
         |shape AS (SELECT CAST(count(DISTINCT r) AS BIGINT) AS m, CAST(count(DISTINCT it) AS BIGINT) AS ni FROM rk),
         |ties AS (SELECT ${dsum0("CAST(t * t - 1 AS DOUBLE)")} AS tsum FROM rk),
         |isum AS (SELECT it, ${dsum0("ark")} AS ri FROM rk GROUP BY 1),
         |dev AS (SELECT it, ri, (SELECT m FROM shape) AS m, (SELECT ni FROM shape) AS ni, (SELECT tsum FROM ties) AS tsum FROM isum),
         |sagg AS (SELECT m, ni, tsum,
         |    ${dsum0(r6("(ri - CAST(m AS DOUBLE) * (CAST(ni AS DOUBLE) + 1.0) / 2.0) * (ri - CAST(m AS DOUBLE) * (CAST(ni AS DOUBLE) + 1.0) / 2.0)"))} AS s
         |  FROM dev GROUP BY 1, 2, 3)
         |SELECT ni AS n_items, m AS n_raters, ${r6("s")} AS s,
         |  CASE WHEN CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) - CAST(ni AS DOUBLE)) - CAST(m AS DOUBLE) * tsum > 0
         |    THEN ${r6("12.0 * s / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) - CAST(ni AS DOUBLE)) - CAST(m AS DOUBLE) * tsum)")} END AS w
         |FROM sagg""".stripMargin),

    // per-class one-vs-rest metrics of the n-gram language-ID against
    // the true lang column
    QueryDef("q_cls_metrics", (s, dir) =>
      Evaluation.classMetrics(
        docs(s, dir).select(col("lang"),
          TextFunctions.langId(col("text")).as("lang_pred")),
        "lang", "lang_pred"),
      s"""WITH det AS ($langIdSelectSql),
         |cells AS (SELECT coalesce(d.lang, '(null)') AS t, coalesce(det.lang_pred, '(null)') AS p, CAST(count(*) AS BIGINT) AS n
         |  FROM documents d JOIN det ON d.doc_id = det.doc_id GROUP BY 1, 2),
         |classes AS (SELECT t AS class FROM cells UNION SELECT p FROM cells),
         |diag AS (SELECT t AS class, n AS tp FROM cells WHERE t = p),
         |tm AS (SELECT t AS class, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY 1),
         |pm AS (SELECT p AS class, CAST(sum(n) AS BIGINT) AS np FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
         |sums AS (SELECT class,
         |    coalesce(tp, 0) AS tp,
         |    coalesce(np, 0) - coalesce(tp, 0) AS fp,
         |    coalesce(nt, 0) - coalesce(tp, 0) AS fn,
         |    (SELECT total FROM tot) - coalesce(nt, 0) - coalesce(np, 0) + coalesce(tp, 0) AS tn
         |  FROM classes LEFT JOIN diag USING (class) LEFT JOIN tm USING (class) LEFT JOIN pm USING (class)),
         |r AS (SELECT class, tp, fp, fn, tn,
         |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) END AS prec,
         |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) END AS rec,
         |    sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))) AS mden
         |  FROM sums)
         |SELECT class, CAST(tp + fn AS BIGINT) AS n_true, CAST(tp + fp AS BIGINT) AS n_pred,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
         |  ${r6("prec")} AS precision, ${r6("rec")} AS recall,
         |  CASE WHEN prec IS NOT NULL AND rec IS NOT NULL AND prec + rec > 0 THEN ${r6("2.0 * prec * rec / (prec + rec)")} END AS f1,
         |  CASE WHEN mden > 0 THEN ${r6("(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) / mden")} END AS mcc
         |FROM r""".stripMargin),

    // fairness audit of a length-gate "keep" decision across langs,
    // labeled by the " the " ground truth
    QueryDef("q_fair_audit", (s, dir) =>
      Fairness.fairnessAudit(docs(s, dir), "lang",
        col("n_chars") > 800, col("text").contains(" the ")),
      s"""WITH g AS (SELECT coalesce(lang, '(null)') AS "group",
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN n_chars > 800 THEN 1 END) AS BIGINT) AS n_selected,
         |    CAST(count(CASE WHEN contains(text, ' the ') THEN 1 END) AS BIGINT) AS np,
         |    CAST(count(CASE WHEN NOT contains(text, ' the ') THEN 1 END) AS BIGINT) AS nn,
         |    CAST(count(CASE WHEN n_chars > 800 AND contains(text, ' the ') THEN 1 END) AS BIGINT) AS tp,
         |    CAST(count(CASE WHEN n_chars > 800 AND NOT contains(text, ' the ') THEN 1 END) AS BIGINT) AS fp
         |  FROM documents GROUP BY 1),
         |rates AS (SELECT "group", n, n_selected,
         |    CASE WHEN n > 0 THEN ${r6("CAST(n_selected AS DOUBLE) / CAST(n AS DOUBLE)")} END AS selection_rate,
         |    CASE WHEN np > 0 THEN ${r6("CAST(tp AS DOUBLE) / CAST(np AS DOUBLE)")} END AS tpr,
         |    CASE WHEN nn > 0 THEN ${r6("CAST(fp AS DOUBLE) / CAST(nn AS DOUBLE)")} END AS fpr
         |  FROM g),
         |ref AS (SELECT selection_rate AS rsel, tpr AS rtpr, fpr AS rfpr
         |  FROM rates ORDER BY n DESC, "group" ASC LIMIT 1)
         |SELECT "group", n, n_selected, selection_rate, tpr, fpr,
         |  CASE WHEN rsel > 0 THEN ${r6("selection_rate / rsel")} END AS selection_ratio,
         |  ${r6("tpr - rtpr")} AS tpr_gap, ${r6("fpr - rfpr")} AS fpr_gap,
         |  CASE WHEN rsel > 0 THEN selection_rate / rsel < 0.8 END AS four_fifths_flag
         |FROM rates, ref""".stripMargin),

    // U-shaped 40/20/40 attribution, same journey truncation as
    // q_decay_attr
    QueryDef("q_position_attr", (s, dir) =>
      Attribution.positionAttribution(ev(s, dir), "user_id", "ts",
        "event_type", "event_id", "purchase", endWeight = 0.4),
      {
      s"""WITH rows AS (SELECT user_id AS u, event_type AS ty, ts, event_id,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events WHERE ts IS NOT NULL),
         |cc AS (SELECT u, min(CASE WHEN ty = 'purchase' THEN rn END) AS cp FROM rows GROUP BY 1),
         |t AS (SELECT r.u, r.ty,
         |    row_number() OVER (PARTITION BY r.u ORDER BY r.ts, r.event_id) AS ti,
         |    count(*) OVER (PARTITION BY r.u) AS nt
         |  FROM rows r JOIN cc USING (u) WHERE cc.cp IS NOT NULL AND r.rn < cc.cp),
         |cr AS (SELECT ty AS channel, ${r6("""CASE WHEN nt = 1 THEN 1.0
         |    WHEN nt = 2 THEN 0.5
         |    WHEN ti = 1 OR ti = nt THEN 0.4
         |    ELSE 0.19999999999999998 / (CAST(nt AS DOUBLE) - 2.0) END""")} AS credit
         |  FROM t)
         |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
         |  ${r6(s"(${dsum("credit")})")} AS total_credit
         |FROM cr GROUP BY 1""".stripMargin
    }),

    // IV Wald/LATE per lang: even-user instrument, did-purchase
    // treatment, event value outcome
    QueryDef("q_iv_wald", (s, dir) => {
      val peru = ev(s, dir).filter(col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)).as("__t"),
          graft.functions.Portable.r6(
            sum(coalesce(
              when(!isnan(col("value")), col("value")), lit(0.0))
              .cast("decimal(38,6)")).cast("double")).as("y"))
      Causal.ivWald(peru.withColumn("g", lit("all")), Seq("g"),
        pmod(col("user_id"), lit(2)) === 0, col("__t") === 1L, "y")
    },
      s"""WITH peru AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 END) AS t,
         |    ${r6("CAST(coalesce(sum(CASE WHEN NOT isnan(value) THEN CAST(value AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE)")} AS y
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |f AS (SELECT user_id % 2 = 0 AS z, t = 1 AS tt, y FROM peru
         |  WHERE y IS NOT NULL AND NOT isnan(y)),
         |g AS (SELECT 'all' AS g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN z THEN 1 END) AS BIGINT) AS n_z1,
         |    CAST(count(CASE WHEN NOT z THEN 1 END) AS BIGINT) AS n_z0,
         |    CAST(count(CASE WHEN z AND tt THEN 1 END) AS BIGINT) AS t1,
         |    CAST(count(CASE WHEN (NOT z) AND tt THEN 1 END) AS BIGINT) AS t0,
         |    CAST(coalesce(sum(CASE WHEN z THEN CAST(${r6("y")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sy1,
         |    CAST(coalesce(sum(CASE WHEN NOT z THEN CAST(${r6("y")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sy0
         |  FROM f),
         |e AS (SELECT *, CAST(n_z1 AS DOUBLE) AS n1, CAST(n_z0 AS DOUBLE) AS n0,
         |    CAST(t1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) AS p1,
         |    CAST(t0 AS DOUBLE) / CAST(n_z0 AS DOUBLE) AS p0,
         |    CAST(t1 + t0 AS DOUBLE) / CAST(n_z1 + n_z0 AS DOUBLE) AS pp
         |  FROM g),
         |x AS (SELECT *,
         |    CASE WHEN n_z1 > 0 AND n_z0 > 0 THEN p1 - p0 END AS fs,
         |    CASE WHEN n_z1 > 0 AND n_z0 > 0 THEN sy1 / n1 - sy0 / n0 END AS itt0
         |  FROM e)
         |SELECT g, n, n_z1, n_z0,
         |  CASE WHEN n_z1 > 0 THEN ${r6("p1")} END AS t_rate_z1,
         |  CASE WHEN n_z0 > 0 THEN ${r6("p0")} END AS t_rate_z0,
         |  ${r6("fs")} AS first_stage,
         |  CASE WHEN n_z1 > 0 AND n_z0 > 0 AND pp > 0 AND pp < 1
         |    THEN ${r6("(p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n0))")} END AS first_stage_z,
         |  ${r6("itt0")} AS itt,
         |  CASE WHEN fs IS NOT NULL AND fs <> 0.0 THEN ${r6("itt0 / fs")} END AS late
         |FROM x""".stripMargin),

    // Cramer-von Mises: integrated squared ECDF gap of n_chars,
    // en vs rest, per source — next to the same slice's KS
    QueryDef("q_cvm", (s, dir) =>
      Hypothesis.cvmTest(docs(s, dir), Seq("source"), "n_chars",
        col("lang") === "en"),
      s"""WITH v AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
         |    CAST(n_chars AS DOUBLE) AS x
         |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |c AS (SELECT source, x, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(1 - a) AS BIGINT) AS cb
         |      FROM v GROUP BY 1, 2),
         |w AS (SELECT source, ca, cb,
         |        CAST(sum(ca) OVER (PARTITION BY source ORDER BY x) AS BIGINT) AS fa,
         |        CAST(sum(cb) OVER (PARTITION BY source ORDER BY x) AS BIGINT) AS fb,
         |        CAST(sum(ca) OVER (PARTITION BY source) AS BIGINT) AS na,
         |        CAST(sum(cb) OVER (PARTITION BY source) AS BIGINT) AS nb
         |      FROM c),
         |t AS (SELECT source, na, nb,
         |        CAST(ca + cb AS DOUBLE) *
         |          (CAST(fa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE)) *
         |          (CAST(fa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE)) AS term
         |      FROM w WHERE na > 0 AND nb > 0),
         |m AS (SELECT source, first(na) AS n_a, first(nb) AS n_b,
         |        ${dsum0(r6("term"))} *
         |          CAST(first(na) AS DOUBLE) * CAST(first(nb) AS DOUBLE) /
         |          (CAST(first(na) + first(nb) AS DOUBLE) * CAST(first(na) + first(nb) AS DOUBLE)) AS t0
         |      FROM t GROUP BY 1)
         |SELECT source, n_a, n_b, ${r6("t0")} AS t FROM m""".stripMargin),

    // token-weighted doc-length quantiles per lang: where the TOKENS
    // live, not where the docs are
    QueryDef("q_wquantile", (s, dir) =>
      graft.operators.Quantiles.weightedQuantiles(
        docs(s, dir).withColumn("n_words",
          size(TextFunctions.wordTokens(col("text"))).cast("double")),
        Seq("lang"), "n_chars", "n_words", Seq(0.5, 0.9, 0.99)),
      s"""WITH b AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v,
         |    CAST(len(${wordTokensSql("text")}) AS DOUBLE) AS w
         |  FROM documents WHERE n_chars IS NOT NULL),
         |pv AS (SELECT lang, v, sum(CAST(w AS DECIMAL(38,6))) AS wd FROM b GROUP BY 1, 2),
         |cum AS (SELECT lang, v,
         |    CAST(sum(wd) OVER (PARTITION BY lang ORDER BY v) AS DOUBLE) AS cw,
         |    CAST(sum(wd) OVER (PARTITION BY lang) AS DOUBLE) AS tw
         |  FROM pv),
         |pr AS (SELECT lang, p.p AS p,
         |    min(CASE WHEN cw >= p.p * tw THEN v END) AS q, max(tw) AS twx
         |  FROM cum, (VALUES (0.5), (0.9), (0.99)) p(p) GROUP BY 1, 2)
         |SELECT lang, CAST(p AS DOUBLE) AS p, q, ${r6("twx")} AS w_total FROM pr""".stripMargin),

    // Krippendorff's alpha over an incomplete rating design: unit =
    // user decile, category = an event's value tercile, every event a
    // "rating" (raters anonymous/unequal by construction)
    QueryDef("q_kripp", (s, dir) =>
      Evaluation.krippendorffAlpha(
        ev(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
          .withColumn("unit", pmod(col("user_id"), lit(10)))
          .withColumn("cat",
            when(col("value") < 40.0, "lo")
              .when(col("value") < 70.0, "mid").otherwise("hi")),
        Seq("event_type"), "unit", "cat"),
      s"""WITH r AS (SELECT event_type AS g, user_id % 10 AS u,
         |    CASE WHEN CAST(value AS DOUBLE) < 40.0 THEN 'lo'
         |         WHEN CAST(value AS DOUBLE) < 70.0 THEN 'mid' ELSE 'hi' END AS c
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         |ouc AS (SELECT g, u, c, CAST(count(*) AS BIGINT) AS o FROM r GROUP BY 1, 2, 3),
         |mu AS (SELECT g, u, CAST(sum(o) AS BIGINT) AS m FROM ouc GROUP BY 1, 2),
         |cells AS (SELECT ouc.g, ouc.u, ouc.c, ouc.o, mu.m FROM ouc JOIN mu USING (g, u) WHERE mu.m >= 2),
         |nc AS (SELECT g, c, CAST(sum(o) AS BIGINT) AS nc FROM cells GROUP BY 1, 2),
         |ds AS (SELECT g, CAST(count(DISTINCT u) AS BIGINT) AS n_units,
         |    CAST(sum(o) AS BIGINT) AS n_pairable,
         |    ${dsum0(r6("CAST(o AS DOUBLE) * CAST(m - o AS DOUBLE) / (CAST(m AS DOUBLE) - 1.0)"))} AS dnum
         |  FROM cells GROUP BY 1),
         |de AS (SELECT nc.g, ${dsum0("CAST(nc.nc * (ds.n_pairable - nc.nc) AS DOUBLE)")} AS enum
         |  FROM nc JOIN ds USING (g) GROUP BY 1),
         |f AS (SELECT ds.g AS event_type, n_units, n_pairable,
         |    CASE WHEN n_pairable > 0 THEN dnum / CAST(n_pairable AS DOUBLE) END AS d_o0,
         |    CASE WHEN n_pairable > 1 THEN enum / (CAST(n_pairable AS DOUBLE) * (CAST(n_pairable AS DOUBLE) - 1.0)) END AS d_e0
         |  FROM ds JOIN de USING (g))
         |SELECT event_type, n_units, n_pairable, ${r6("d_o0")} AS d_o, ${r6("d_e0")} AS d_e,
         |  CASE WHEN d_e0 > 0 THEN ${r6("1.0 - d_o0 / d_e0")} END AS alpha
         |FROM f""".stripMargin),

    // negative-binomial overdispersion fit of per-user event counts
    QueryDef("q_negbin", (s, dir) => {
      val counts = ev(s, dir).groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).cast("double").as("k"))
      Stats.negativeBinomialFit(counts, Seq("event_type"), "k")
    },
      s"""WITH k AS (SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS k FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    ${dsum0(r6("k"))} AS s,
         |    ${dsum0(r6("k * k"))} AS s2
         |  FROM k GROUP BY 1),
         |m AS (SELECT event_type, n, s / CAST(n AS DOUBLE) AS mn,
         |    greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0) AS vr
         |  FROM g),
         |x AS (SELECT *, CASE WHEN vr > mn AND mn > 0 THEN mn * mn / (vr - mn) END AS r0 FROM m)
         |SELECT event_type, n, ${r6("mn")} AS mean, ${r6("vr")} AS variance,
         |  ${r6("r0")} AS r,
         |  CASE WHEN r0 IS NOT NULL THEN ${r6("r0 / (r0 + mn)")} END AS p
         |FROM x""".stripMargin),

    // log-normal fit of doc lengths per lang with implied median/p95
    QueryDef("q_lognormal", (s, dir) =>
      Stats.logNormalFit(docs(s, dir), Seq("lang"), "n_chars"),
      s"""WITH b AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
         |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |g AS (SELECT lang, CAST(count(CASE WHEN v > 0 THEN 1 END) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN v <= 0 THEN 1 END) AS BIGINT) AS n_dropped,
         |    CAST(coalesce(sum(CASE WHEN v > 0 THEN CAST(${r6("ln(v)")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s,
         |    CAST(coalesce(sum(CASE WHEN v > 0 THEN CAST(${r6("ln(v) * ln(v)")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s2
         |  FROM b GROUP BY 1),
         |m AS (SELECT lang, n, n_dropped, s / CAST(n AS DOUBLE) AS mu,
         |    sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)) AS sd
         |  FROM g)
         |SELECT lang, n, n_dropped,
         |  CASE WHEN n > 0 THEN ${r6("mu")} END AS mu,
         |  CASE WHEN n > 0 THEN ${r6("sd")} END AS sigma,
         |  CASE WHEN n > 0 THEN ${r6("exp(mu)")} END AS median_fit,
         |  CASE WHEN n > 0 THEN ${r6("exp(mu + 1.6449 * sd)")} END AS p95_fit
         |FROM m""".stripMargin),

    // Poisson-bootstrap band for the per-lang median doc length
    QueryDef("q_boot_median", (s, dir) =>
      Bootstrap.bootstrapMedianCI(docs(s, dir), Seq("lang"), "n_chars",
        "doc_id", replicas = 16, seed = "bm"),
      s"""WITH base AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v, CAST(doc_id AS VARCHAR) AS id
         |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |ov AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
         |oc AS (SELECT lang, v,
         |        CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cw,
         |        CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS nn
         |      FROM ov),
         |obs AS (SELECT lang, first(nn) AS n, min(CASE WHEN cw * 2 >= nn THEN v END) AS median_obs
         |      FROM oc GROUP BY 1),
         |x AS (SELECT lang, v, id, r.b FROM base, (SELECT unnest(range(0, 16)) AS b) r),
         |u AS (SELECT lang, v, b,
         |        ((${h32("concat('bm', '|', id, '|', CAST(b AS VARCHAR))")} % 1000000)
         |          + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS u
         |      FROM x),
         |w AS (SELECT lang, v, b,
         |        CASE WHEN u < CAST(0.36787944117144233 AS DOUBLE) THEN 0
         |             WHEN u < CAST(0.7357588823428847 AS DOUBLE) THEN 1
         |             WHEN u < CAST(0.9196986029286058 AS DOUBLE) THEN 2
         |             WHEN u < CAST(0.9810118431238462 AS DOUBLE) THEN 3
         |             WHEN u < CAST(0.9963401531726563 AS DOUBLE) THEN 4
         |             WHEN u < CAST(0.9994058151824183 AS DOUBLE) THEN 5
         |             WHEN u < CAST(0.9999167588507119 AS DOUBLE) THEN 6
         |             ELSE 7 END AS w
         |      FROM u),
         |pv AS (SELECT lang, b, v, CAST(sum(w) AS BIGINT) AS wd FROM w GROUP BY 1, 2, 3),
         |cum AS (SELECT lang, b, v,
         |        CAST(sum(wd) OVER (PARTITION BY lang, b ORDER BY v) AS BIGINT) AS cw,
         |        CAST(sum(wd) OVER (PARTITION BY lang, b) AS BIGINT) AS tw
         |      FROM pv),
         |med AS (SELECT lang, b, min(CASE WHEN cw * 2 >= tw THEN v END) AS med
         |      FROM cum WHERE tw > 0 GROUP BY 1, 2),
         |band AS (SELECT lang, list_sort(list(med)) AS ms, CAST(count(med) AS BIGINT) AS k
         |      FROM med GROUP BY 1)
         |SELECT obs.lang, obs.n, obs.median_obs,
         |  ms[CASE WHEN k >= 3 THEN 2 ELSE 1 END] AS boot_lo,
         |  ms[CAST(CASE WHEN k >= 3 THEN k - 1 ELSE k END AS INT)] AS boot_hi,
         |  k AS k_effective
         |FROM obs JOIN band USING (lang)""".stripMargin),

    // SRM sweep: per-source split-health chi2 -> p -> BH over sources
    QueryDef("q_srm_sweep", { (s, dir) =>
      val tests = Stats.sampleRatioMismatch(docs(s, dir), Seq("source"),
          pmod(TextFunctions.md5Hash32(
            concat(lit("srm|"), col("doc_id").cast("string"))), lit(2)) === 0,
          expectedB = 0.5)
        .select(col("source"), col("n_a"), col("n_b"),
          graft.functions.Portable.r6(col("chi2")).as("chi2"),
          graft.functions.Portable.r6(
            Hypothesis.pFromZ(sqrt(col("chi2")))).as("p"))
      Hypothesis.benjaminiHochberg(tests, "p", Seq("source"), alpha = 0.05)
        .select(col("source"), col("n_a"), col("n_b"), col("chi2"), col("p"),
          col("m"), col("rank"),
          graft.functions.Portable.r6(col("q")).as("q"), col("reject"))
    },
      s"""WITH v AS (SELECT source,
         |    CASE WHEN ${h32("concat('srm|', CAST(doc_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |g AS (SELECT source, CAST(count(CASE WHEN b = 0 THEN 1 END) AS BIGINT) AS n_a,
         |        CAST(count(CASE WHEN b = 1 THEN 1 END) AS BIGINT) AS n_b
         |      FROM v GROUP BY 1),
         |c AS (SELECT source, n_a, n_b,
         |        CAST(n_a + n_b AS DOUBLE) AS nd FROM g),
         |x AS (SELECT source, n_a, n_b,
         |        CASE WHEN nd > 0 THEN
         |          (CAST(n_b AS DOUBLE) - nd * 0.5) * (CAST(n_b AS DOUBLE) - nd * 0.5) / (nd * 0.5) +
         |          (CAST(n_a AS DOUBLE) - nd * 0.5) * (CAST(n_a AS DOUBLE) - nd * 0.5) / (nd * 0.5)
         |        END AS chi2 FROM c),
         |pz AS (SELECT source, n_a, n_b, ${r6("chi2")} AS chi2,
         |        sqrt(chi2) AS az, 1.0 / (1.0 + 0.33267 * sqrt(chi2)) AS tt FROM x),
         |pv AS (SELECT source, n_a, n_b, chi2,
         |        ${r6(pFromZSql)} AS p
         |      FROM pz WHERE chi2 IS NOT NULL),
         |rk AS (SELECT source, n_a, n_b, chi2, p,
         |        CAST(count(*) OVER () AS BIGINT) AS m,
         |        CAST(row_number() OVER (ORDER BY p, source) AS BIGINT) AS "rank"
         |      FROM pv),
         |adj AS (SELECT source, n_a, n_b, chi2, p, m, "rank",
         |        least(1.0, min(p * CAST(m AS DOUBLE) / CAST("rank" AS DOUBLE))
         |          OVER (ORDER BY p, source
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS q_raw
         |      FROM rk)
         |SELECT source, n_a, n_b, chi2, p, m, "rank",
         |  ${r6("q_raw")} AS q, q_raw <= 0.05 AS reject
         |FROM adj""".stripMargin),

    // Gumbel fit over daily value maxima per event type + fitted p99
    QueryDef("q_gumbel", (s, dir) =>
      Stats.gumbelFit(ev(s, dir), Seq("event_type"), "ts", "value",
        blockUs = 86400000000L, returnQ = 0.99),
      s"""WITH b AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % 86400000000 AS blk,
         |    max(CAST(value AS DOUBLE)) AS mx
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
         |  GROUP BY 1, 2),
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
         |    ${dsum0(r6("mx"))} AS s,
         |    ${dsum0(r6("mx * mx"))} AS s2
         |  FROM b GROUP BY 1),
         |m AS (SELECT event_type, n_blocks, s / CAST(n_blocks AS DOUBLE) AS mn,
         |    sqrt(greatest(s2 / CAST(n_blocks AS DOUBLE) - (s / CAST(n_blocks AS DOUBLE)) * (s / CAST(n_blocks AS DOUBLE)), 0.0)) AS sd
         |  FROM g),
         |f AS (SELECT event_type, n_blocks, mn, sd * 0.7796968012336793 AS beta,
         |    mn - 0.5772156649015329 * (sd * 0.7796968012336793) AS mu
         |  FROM m)
         |SELECT event_type, n_blocks, ${r6("mn")} AS block_max_mean,
         |  CASE WHEN n_blocks >= 2 THEN ${r6("mu")} END AS mu,
         |  CASE WHEN n_blocks >= 2 THEN ${r6("beta")} END AS beta,
         |  CASE WHEN n_blocks >= 2 THEN ${r6("mu - beta * ln(-ln(0.99))")} END AS q_fit
         |FROM f""".stripMargin),

    // L-moments of doc length per lang: robust scale/shape ratios
    QueryDef("q_lmoments", (s, dir) =>
      Stats.lMoments(docs(s, dir), Seq("lang"), "n_chars"),
      s"""WITH b AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
         |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |rk AS (SELECT lang, v, CAST(row_number() OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS r FROM b),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |    ${dsum0(r6("v"))} AS b0s,
         |    ${dsum0(r6("CAST(r - 1 AS DOUBLE) * v"))} AS b1s,
         |    ${dsum0(r6("CAST((r - 1) * (r - 2) AS DOUBLE) * v"))} AS b2s
         |  FROM rk GROUP BY 1),
         |m AS (SELECT lang, n, b0s / CAST(n AS DOUBLE) AS b0,
         |    CASE WHEN n >= 2 THEN b1s / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS b1,
         |    CASE WHEN n >= 3 THEN b2s / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * (CAST(n AS DOUBLE) - 2.0)) END AS b2
         |  FROM g),
         |l AS (SELECT lang, n, b0 AS l1, 2.0 * b1 - b0 AS l2,
         |    6.0 * b2 - 6.0 * b1 + b0 AS l3 FROM m)
         |SELECT lang, n, ${r6("l1")} AS l1, ${r6("l2")} AS l2,
         |  CASE WHEN l1 <> 0.0 THEN ${r6("l2 / l1")} END AS l_cv,
         |  CASE WHEN l2 <> 0.0 THEN ${r6("l3 / l2")} END AS l_skew
         |FROM l""".stripMargin),

    // Theil inequality of characters across docs, decomposed
    // between/within sources
    QueryDef("q_theil", (s, dir) =>
      Stats.theilDecomposition(docs(s, dir), "source", "n_chars"),
      s"""WITH base AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v FROM documents
         |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
         |tot AS (SELECT CAST(count(CASE WHEN v > 0 THEN 1 END) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN v <= 0 THEN 1 END) AS BIGINT) AS nd,
         |    CAST(coalesce(sum(CASE WHEN v > 0 THEN CAST(${r6("v")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s
         |  FROM base),
         |rows0 AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
         |    ${dsum0(r6("v"))} AS sg,
         |    ${dsum0(r6("v / (tot.s / CAST(tot.n AS DOUBLE)) * ln(v / (tot.s / CAST(tot.n AS DOUBLE)))"))} AS tsum,
         |    first(tot.n) AS n, first(tot.nd) AS nd, first(tot.s) AS s
         |  FROM base, tot WHERE v > 0 GROUP BY 1),
         |terms AS (SELECT n, nd,
         |    tsum / CAST(n AS DOUBLE) AS tg,
         |    (sg / s) * ln((sg / CAST(ng AS DOUBLE)) / (s / CAST(n AS DOUBLE))) AS btw
         |  FROM rows0)
         |SELECT first(n) AS n, first(nd) AS n_dropped, CAST(count(*) AS BIGINT) AS k_groups,
         |  ${r6(dsum0(r6("tg")))} AS theil_total,
         |  ${r6(dsum0(r6("btw")))} AS theil_between,
         |  ${r6(s"${dsum0(r6("tg"))} - ${dsum0(r6("btw"))}")} AS theil_within
         |FROM terms GROUP BY n, nd""".stripMargin),

    // Cochran-Armitage: does the " the " rate climb with the doc-length
    // decile, per lang
    QueryDef("q_trend_test", (s, dir) =>
      Hypothesis.cochranArmitage(
        docs(s, dir).withColumn("dose",
          least(lit(9L), floor(col("n_chars") / 150L)).cast("double")),
        Seq("lang"), "dose", col("text").contains(" the ")),
      s"""WITH d AS (SELECT lang, CAST(least(9, n_chars // 150) AS DOUBLE) AS s,
         |    contains(text, ' the ') AS hit
         |  FROM documents WHERE n_chars IS NOT NULL),
         |lv AS (SELECT lang, s, CAST(count(*) AS BIGINT) AS n, CAST(count(CASE WHEN hit THEN 1 END) AS BIGINT) AS k
         |  FROM d GROUP BY 1, 2),
         |g AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k_levels,
         |    CAST(sum(k) AS BIGINT) AS ktot,
         |    ${dsum0(r6("s * CAST(n AS DOUBLE)"))} AS sn,
         |    ${dsum0(r6("s * s * CAST(n AS DOUBLE)"))} AS s2n,
         |    ${dsum0(r6("s * CAST(k AS DOUBLE)"))} AS sk
         |  FROM lv GROUP BY 1),
         |x AS (SELECT lang, n, k_levels,
         |    CAST(ktot AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
         |    sk, sn, s2n - sn * sn / CAST(n AS DOUBLE) AS spread
         |  FROM g),
         |z0 AS (SELECT lang, n, k_levels,
         |    CASE WHEN pbar > 0 AND pbar < 1 AND spread > 0
         |      THEN (sk - pbar * sn) / sqrt(pbar * (1.0 - pbar) * spread) END AS z
         |  FROM x),
         |pz AS (SELECT lang, n, k_levels, z, abs(z) AS az,
         |    1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM z0)
         |SELECT lang, n, k_levels, ${r6("z")} AS z,
         |  CASE WHEN z IS NOT NULL THEN ${r6(pFromZSql)} END AS p_value
         |FROM pz""".stripMargin),

    // Storey pi0 + q-values over the q_bh tests frame
    QueryDef("q_storey", { (s, dir) =>
      val tests = Hypothesis.twoProportionZ(docs(s, dir), Seq("lang", "source"),
          col("n_chars") > 300,
          pmod(TextFunctions.md5Hash32(concat(lit("bh|"), col("doc_id").cast("string"))),
            lit(2)) === 0)
        .select(col("lang"), col("source"),
          graft.functions.Portable.r6(col("z")).as("z"),
          graft.functions.Portable.r6(Hypothesis.pFromZ(col("z"))).as("p"))
      Hypothesis.storeyQValues(tests, "p", Seq("lang", "source"), lambda = 0.5, alpha = 0.1)
        .select(col("lang"), col("source"), col("z"), col("p"), col("m"),
          col("rank"), col("pi0"),
          graft.functions.Portable.r6(col("q_storey")).as("q_storey"), col("reject"))
    },
      s"""WITH v AS (SELECT lang, source,
         |    CASE WHEN ${h32("concat('bh|', CAST(doc_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS hit
         |  FROM documents),
         |g AS (SELECT lang, source,
         |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
         |        CAST(coalesce(sum(CASE WHEN a = 1 THEN hit END), 0) AS BIGINT) AS k_a,
         |        CAST(coalesce(sum(CASE WHEN a = 0 THEN hit END), 0) AS BIGINT) AS k_b
         |      FROM v GROUP BY 1, 2),
         |e AS (SELECT lang, source, n_a, n_b, k_a, k_b,
         |        CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         |        CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
         |        CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
         |      FROM g),
         |z0 AS (SELECT lang, source,
         |        CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
         |          (pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |        END AS z FROM e),
         |pz AS (SELECT lang, source, z, abs(z) AS az,
         |        1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM z0),
         |pv AS (SELECT lang, source,
         |        ${r6("z")} AS z,
         |        ${r6(pFromZSql)} AS p
         |      FROM pz WHERE z IS NOT NULL),
         |rk AS (SELECT lang, source, z, p,
         |        CAST(count(*) OVER () AS BIGINT) AS m,
         |        least(1.0, CAST(count(CASE WHEN p > 0.5 THEN 1 END) OVER () AS DOUBLE) /
         |          (0.5 * CAST(count(*) OVER () AS DOUBLE))) AS pi0_raw,
         |        CAST(row_number() OVER (ORDER BY p, lang, source) AS BIGINT) AS "rank"
         |      FROM pv),
         |adj AS (SELECT lang, source, z, p, m, "rank", pi0_raw,
         |        least(1.0, pi0_raw * min(p * CAST(m AS DOUBLE) / CAST("rank" AS DOUBLE))
         |          OVER (ORDER BY p, lang, source
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS q_raw
         |      FROM rk),
         |nullz AS (SELECT lang, source, CAST(NULL AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS p,
         |        CAST(NULL AS BIGINT) AS m, CAST(NULL AS BIGINT) AS "rank",
         |        CAST(NULL AS DOUBLE) AS pi0, CAST(NULL AS DOUBLE) AS q_storey,
         |        CAST(NULL AS BOOLEAN) AS reject
         |      FROM z0 WHERE z IS NULL)
         |SELECT lang, source, z, p, m, "rank",
         |  ${r6("pi0_raw")} AS pi0,
         |  ${r6("q_raw")} AS q_storey, q_raw <= 0.1 AS reject
         |FROM adj
         |UNION ALL SELECT * FROM nullz""".stripMargin),

    // does length still track word count once line count is held fixed
    QueryDef("q_partial_corr", { (s, dir) =>
      val feats = docs(s, dir).select(
        col("n_chars").cast("double").as("n_chars"),
        size(TextFunctions.wordTokens(col("text"))).cast("double").as("n_words"),
        size(split(col("text"), "\n")).cast("double").as("n_lines"))
      Stats.partialCorrelation(feats, "n_chars", "n_words", "n_lines")
    },
      s"""WITH f AS (SELECT CAST(n_chars AS DOUBLE) AS x,
         |    CAST(len(${wordTokensSql("text")}) AS DOUBLE) AS y,
         |    CAST(len(string_split(text, chr(10))) AS DOUBLE) AS z
         |  FROM documents),
         |g AS (SELECT * FROM f WHERE x IS NOT NULL AND NOT isnan(x)
         |  AND y IS NOT NULL AND NOT isnan(y) AND z IS NOT NULL AND NOT isnan(z)),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    ${dsum0(r6("x"))} AS sx, ${dsum0(r6("y"))} AS sy, ${dsum0(r6("z"))} AS sz,
         |    ${dsum0(r6("x * x"))} AS qx, ${dsum0(r6("y * y"))} AS qy, ${dsum0(r6("z * z"))} AS qz,
         |    ${dsum0(r6("x * y"))} AS pxy, ${dsum0(r6("x * z"))} AS pxz, ${dsum0(r6("y * z"))} AS pyz
         |  FROM g),
         |r AS (SELECT n,
         |    CASE WHEN n > 1 AND CAST(n AS DOUBLE) * qx - sx * sx > 0 AND CAST(n AS DOUBLE) * qy - sy * sy > 0
         |      THEN (CAST(n AS DOUBLE) * pxy - sx * sy) / (sqrt(CAST(n AS DOUBLE) * qx - sx * sx) * sqrt(CAST(n AS DOUBLE) * qy - sy * sy)) END AS rxy,
         |    CASE WHEN n > 1 AND CAST(n AS DOUBLE) * qx - sx * sx > 0 AND CAST(n AS DOUBLE) * qz - sz * sz > 0
         |      THEN (CAST(n AS DOUBLE) * pxz - sx * sz) / (sqrt(CAST(n AS DOUBLE) * qx - sx * sx) * sqrt(CAST(n AS DOUBLE) * qz - sz * sz)) END AS rxz,
         |    CASE WHEN n > 1 AND CAST(n AS DOUBLE) * qy - sy * sy > 0 AND CAST(n AS DOUBLE) * qz - sz * sz > 0
         |      THEN (CAST(n AS DOUBLE) * pyz - sy * sz) / (sqrt(CAST(n AS DOUBLE) * qy - sy * sy) * sqrt(CAST(n AS DOUBLE) * qz - sz * sz)) END AS ryz
         |  FROM m)
         |SELECT n, ${r6("rxy")} AS r_xy, ${r6("rxz")} AS r_xz, ${r6("ryz")} AS r_yz,
         |  CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
         |    THEN ${r6("(rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))")} END AS r_xy_given_z
         |FROM r""".stripMargin),

    // Wald-Wolfowitz runs test: do per-type value sequences streak
    QueryDef("q_runs", (s, dir) =>
      Hypothesis.runsTest(ev(s, dir), Seq("event_type"), "ts", "event_id", "value"),
      s"""WITH b AS (SELECT event_type AS g, ts, event_id, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         |pv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         |cm AS (SELECT g, v,
         |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cw,
         |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nn
         |  FROM pv),
         |med AS (SELECT g, min(CASE WHEN cw * 2 >= nn THEN v END) AS md FROM cm GROUP BY 1),
         |sg AS (SELECT b.g, b.ts, b.event_id, b.v > med.md AS s
         |  FROM b JOIN med ON b.g = med.g WHERE b.v <> med.md),
         |ch AS (SELECT g, s,
         |    CASE WHEN lag(s) OVER (PARTITION BY g ORDER BY ts, event_id) IS NULL
         |           OR lag(s) OVER (PARTITION BY g ORDER BY ts, event_id) <> s
         |         THEN 1 ELSE 0 END AS chg
         |  FROM sg),
         |t AS (SELECT b.g, CAST(count(CASE WHEN b.v = med.md THEN 1 END) AS BIGINT) AS n_ties
         |  FROM b JOIN med ON b.g = med.g GROUP BY 1),
         |gg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(CASE WHEN s THEN 1 END) AS BIGINT) AS n_above,
         |    CAST(count(CASE WHEN NOT s THEN 1 END) AS BIGINT) AS n_below,
         |    CAST(sum(chg) AS BIGINT) AS runs
         |  FROM ch GROUP BY 1),
         |zc AS (SELECT gg.g, n, n_above, n_below, t.n_ties, runs,
         |    CASE WHEN n_above > 0 AND n_below > 0 AND
         |      2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) - CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0
         |      THEN (CAST(runs AS DOUBLE) - (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) / CAST(n AS DOUBLE) + 1.0)) /
         |        sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) - CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
         |    END AS z
         |  FROM gg JOIN t ON gg.g = t.g),
         |pz AS (SELECT g, n, n_above, n_below, n_ties, runs, z, abs(z) AS az,
         |    1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM zc)
         |SELECT g AS event_type, n, n_above, n_below, n_ties AS n_ties_dropped, runs,
         |  ${r6("z")} AS z,
         |  CASE WHEN z IS NOT NULL THEN ${r6(pFromZSql)} END AS p_value
         |FROM pz""".stripMargin),

    // cumulative gains/lift of the length score against the " the "
    // label, per lang
    QueryDef("q_gains", (s, dir) =>
      Evaluation.gainsTable(
        docs(s, dir).withColumn("score",
          least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
        Seq("lang"), "score", col("text").contains(" the "), "doc_id", nBins = 10),
      s"""WITH b AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
         |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p, doc_id
         |  FROM documents WHERE n_chars IS NOT NULL),
         |rk AS (SELECT lang, p,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY x DESC, doc_id) AS BIGINT) - 1 AS r,
         |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM b),
         |bn AS (SELECT lang, (r * 10) // n + 1 AS bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(p) AS BIGINT) AS n_pos
         |  FROM rk GROUP BY 1, 2),
         |c AS (SELECT lang, bin, n, n_pos,
         |    CAST(sum(n_pos) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS cp,
         |    CAST(sum(n) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS cn,
         |    CAST(sum(n_pos) OVER (PARTITION BY lang) AS BIGINT) AS tp,
         |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS tn
         |  FROM bn)
         |SELECT lang, CAST(bin AS BIGINT) AS bin, n, n_pos,
         |  CASE WHEN tp > 0 THEN ${r6("CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE)")} END AS cum_capture,
         |  CASE WHEN tp > 0 THEN ${r6("(CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)) / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))")} END AS cum_lift
         |FROM c""".stripMargin),

    // Friedman: do the event types rank differently across user-decile
    // blocks (the q_kendall_w cells, tested instead of agreed)
    QueryDef("q_friedman", { (s, dir) =>
      val cells = ev(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"), pmod(col("user_id"), lit(10)).as("bucket"))
        .agg(graft.functions.Portable.r6(
          sum(col("value").cast("decimal(38,6)")).cast("double")).as("total"))
        .withColumn("g", lit("all"))
      Hypothesis.friedman(cells, Seq("g"), "bucket", "event_type", "total")
    },
      s"""WITH cells AS (SELECT event_type AS tr, user_id % 10 AS blk,
         |    ${r6(dsum0("value"))} AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1, 2),
         |rk AS (SELECT tr, blk, v,
         |    CAST(rank() OVER (PARTITION BY blk ORDER BY v) AS DOUBLE) +
         |      (CAST(count(*) OVER (PARTITION BY blk, v) AS DOUBLE) - 1.0) / 2.0 AS ark
         |  FROM cells),
         |rj AS (SELECT tr, ${dsum0("ark")} AS rjs FROM rk GROUP BY 1),
         |shape AS (SELECT CAST(count(DISTINCT blk) AS BIGINT) AS nb, CAST(count(DISTINCT tr) AS BIGINT) AS k FROM cells),
         |agg AS (SELECT ${dsum0(r6("rjs * rjs"))} AS sr2 FROM rj)
         |SELECT 'all' AS g, nb AS n_blocks, k AS k_treatments,
         |  CASE WHEN k >= 2 AND nb >= 2 THEN ${r6("12.0 / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)) * sr2 - 3.0 * CAST(nb AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)")} END AS q,
         |  k - 1 AS df
         |FROM shape, agg""".stripMargin),

    // Cochran's Q: do the event types "flag" the same user deciles
    // (hit = cell mean value above 50)
    QueryDef("q_cochran_q", { (s, dir) =>
      val cells = ev(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
        .groupBy(col("event_type"), pmod(col("user_id"), lit(10)).as("bucket"))
        .agg((graft.functions.Portable.r6(
          sum(col("value").cast("decimal(38,6)")).cast("double")) /
          count(lit(1)).cast("double")).as("mv"))
        .withColumn("g", lit("all"))
      Hypothesis.cochranQ(cells, Seq("g"), "bucket", "event_type", col("mv") > 50.0)
    },
      s"""WITH cells AS (SELECT event_type AS tr, user_id % 10 AS s,
         |    CASE WHEN ${r6(dsum0("value"))} / CAST(count(*) AS DOUBLE) > 50.0 THEN 1 ELSE 0 END AS h
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1, 2),
         |cj AS (SELECT tr, CAST(sum(h) AS BIGINT) AS cj FROM cells GROUP BY 1),
         |ri AS (SELECT s, CAST(sum(h) AS BIGINT) AS ri FROM cells GROUP BY 1),
         |cs AS (SELECT CAST(sum(cj) AS BIGINT) AS t, ${dsum0(r6("CAST(cj AS DOUBLE) * CAST(cj AS DOUBLE)"))} AS sc2 FROM cj),
         |rr AS (SELECT ${dsum0(r6("CAST(ri AS DOUBLE) * CAST(ri AS DOUBLE)"))} AS sr2 FROM ri),
         |shape AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS ns, CAST(count(DISTINCT tr) AS BIGINT) AS k FROM cells)
         |SELECT 'all' AS g, ns AS n_subjects, k AS k_treatments,
         |  CASE WHEN CAST(k AS DOUBLE) * CAST(t AS DOUBLE) - sr2 > 0
         |    THEN ${r6("(CAST(k AS DOUBLE) - 1.0) * (CAST(k AS DOUBLE) * sc2 - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(t AS DOUBLE) - sr2)")} END AS q,
         |  k - 1 AS df
         |FROM shape, cs, rr""".stripMargin)
  )
}
