package graft
package catalog

import graft.sources.Tables
import graft.text.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs and oracle SQL fragments used by more than one query family.
  */
object Shared {

  /** Oracle side of [[graft.functions.Portable.r6]]: `floor(x·10⁶ + 0.5) / 10⁶`. */
  private[catalog] def r6(e: String): String = graft.functions.Portable.r6Sql(e)

  /** Oracle side of [[graft.functions.Portable.dsum]]: a sum through DECIMAL(38,6). */
  private[catalog] def dsum(e: String): String = graft.functions.Portable.dsumSql(e)

  /** Oracle side of [[graft.functions.Portable.dsum0]]: [[dsum]], 0 on no rows. */
  private[catalog] def dsum0(e: String): String = graft.functions.Portable.dsum0Sql(e)

  /** Oracle side of [[graft.functions.WordTokens]]: the maximal runs of
    * `[a-z]` in the lowercased text, in order.
    */
  private[catalog] def wordTokensSql(e: String): String =
    s"list_filter(string_split_regex(lower($e),'[^a-z]+'), x -> x <> '')"

  /** Oracle side of [[graft.operators.Hypothesis.pFromZ]]: the A&S 26.2.16
    * two-sided normal tail p, capped at 1, over the columns `az` (|z|) and
    * `tt` (`1 / (1 + 0.33267·az)`), which the calling CTE defines. Pin it
    * with [[r6]] where it is emitted.
    */
  private[catalog] val pFromZSql: String =
    "least(1.0, 2.0 * exp(-az * az / 2.0) / " +
      s"${math.sqrt(2.0 * math.Pi)} * " +
      "(0.4361836 * tt - 0.1201676 * tt * tt + 0.9372980 * tt * tt * tt))"

  private[catalog] def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** events as MEDS measurements, with event_id retained for row-unique
    * verification output.
    */
  private[catalog] def medsE(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(
      col("event_id"),
      col("user_id").cast("long").as("patient_id"),
      col("ts").as("time"),
      col("event_type").as("code"),
      col("value").cast("double").as("numeric_value")
    )

  private[catalog] def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  private[catalog] def timeUs(c: String = "time"): org.apache.spark.sql.Column =
    unix_micros(col(c)).as("time_us")

  /** DuckDB predicate: `value` is present and not NaN. */
  private[catalog] val hasValueSql = "value IS NOT NULL AND NOT isnan(value)"

  /** Distinct (id, md5-derived shingle hash) 5-gram table over documents
    * (tk, sh0, shh CTEs) — matches [[Dedup.shingleHashTable]].
    */
  private[catalog] val shingleCtes: String =
    s"""tk AS (SELECT doc_id AS id, ${wordTokensSql("text")} AS toks FROM documents),
       |sh0 AS (SELECT id, unnest(CASE WHEN len(toks)>=5 THEN list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4],' ')) ELSE [] END) AS shingle FROM tk),
       |shh AS (SELECT DISTINCT id, ${h32("shingle")} AS sh FROM sh0)""".stripMargin

  /** Over [[shingleCtes]]'s `shh(id, sh)` — matches
    * [[graft.dedup.Dedup.commonShinglePairs]] at `maxDocFreq = 1000`: `filt`
    * drops shingles found in more than 1000 documents, `cnt(id, n_sh)`
    * counts each document's shingles and `com(ia, ib, nc)` the shingles two
    * documents share.
    */
  private[catalog] val shingleOverlapCtes: String =
    """filt AS (SELECT id, sh FROM (SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 1000),
      |cnt AS (SELECT id, count(*) AS n_sh FROM shh GROUP BY 1),
      |com AS (SELECT a.id AS ia, b.id AS ib, count(*) AS nc FROM filt a JOIN filt b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)""".stripMargin

  /** Recursive transitive closure of the 0.5-jaccard pair graph with a
    * final `clusters(id, cluster_id)` CTE — shared by the clustering and
    * survivor-policy oracles.
    */
  private[catalog] val closureCtes: String =
    s"""$shingleCtes,
       |$shingleOverlapCtes,
       |p AS (SELECT ia, ib FROM com JOIN cnt ca ON ia = ca.id JOIN cnt cb ON ib = cb.id
       |      WHERE CAST(nc AS DOUBLE)/(ca.n_sh + cb.n_sh - nc) >= 0.5),
       |e AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
       |reach AS (SELECT src AS id, src AS r FROM e UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
       |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Bernoulli-NB train+score CTEs ending in
    * `scored(id, label, class, log_post, posterior)` — matches
    * [[graft.text.NaiveBayes.bernoulliNb]] on the length-bucket label;
    * shared by the q_nb and q_label_noise oracles.
    */
  private[catalog] val nbScoredCtes: String =
    s"""base AS (SELECT doc_id AS id, CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS label,
      |    list_distinct(${wordTokensSql("text")}) AS ws FROM documents),
      |pres AS (SELECT id, label, unnest(ws) AS w FROM base),
      |cls AS (SELECT label, count(*) AS nc FROM base GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM base),
      |voc AS (SELECT DISTINCT w FROM pres),
      |wcn AS (SELECT w, label, count(*) AS dw FROM pres GROUP BY 1, 2),
      |grid AS (SELECT voc.w, cls.label AS class, cls.nc, coalesce(wcn.dw, 0) AS dw
      |  FROM voc CROSS JOIN cls LEFT JOIN wcn ON wcn.w = voc.w AND wcn.label = cls.label),
      |pp AS (SELECT w, class,
      |    (CAST(dw AS DOUBLE) + CAST(1 AS DOUBLE)) / (CAST(nc AS DOUBLE) + CAST(2 AS DOUBLE)) AS p FROM grid),
      |model AS (SELECT w, class,
      |    ${r6("ln(p) - ln(CAST(1 AS DOUBLE) - p)")} AS wt,
      |    ${r6("ln(CAST(1 AS DOUBLE) - p)")} AS l1p FROM pp),
      |cc AS (SELECT class, ${dsum("l1p")} AS s FROM model GROUP BY 1),
      |cconst AS (SELECT cc.class, s + ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)) AS cst
      |  FROM cc JOIN cls ON cc.class = cls.label, tot),
      |dc AS (SELECT p.id, p.label, m.class, ${dsum("m.wt")} AS mm
      |  FROM pres p JOIN model m ON p.w = m.w GROUP BY 1, 2, 3),
      |lp AS (SELECT id, label, dc.class, ${r6("cst + mm")} AS log_post
      |  FROM dc JOIN cconst ON dc.class = cconst.class),
      |sm AS (SELECT *, max(log_post) OVER (PARTITION BY id) AS mx FROM lp),
      |e AS (SELECT *, ${r6("exp(log_post - mx)")} AS ee FROM sm),
      |dn AS (SELECT *, CAST(sum(CAST(ee AS DECIMAL(38,6))) OVER (PARTITION BY id) AS DOUBLE) AS den FROM e),
      |scored AS (SELECT id, label, class, log_post, ${r6("ee / den")} AS posterior FROM dn)""".stripMargin

  /** md5-derived 32-bit hash (matches [[TextFunctions.md5Hash32]]). */
  private[catalog] def h32(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr),1,8)) AS BIGINT)"

  /** The lang-ID detection SELECT (doc_id, lang_pred), DuckDB dialect —
    * shared by the q_lang_id oracle and the q_kappa agreement oracle
    * (which nests it as a CTE body; DuckDB accepts WITH inside a CTE).
    */
  private[catalog] def langIdSelectSql: String = {
    val langs = TextFunctions.Stopwords.map(_._1)
    val hitCols = langs
      .map(l => s"len(list_filter(toks, x -> list_contains(${stopwordSqlLists(l)}, x))) AS h_$l")
      .mkString(", ")
    val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
    val pick = langs.map(l => s"WHEN h_$l = $best THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, ${wordTokensSql("text")} AS toks FROM documents),
       |h AS (SELECT doc_id, $hitCols FROM t)
       |SELECT doc_id, CASE WHEN $best = 0 THEN 'und' $pick ELSE 'und' END AS lang_pred FROM h""".stripMargin
  }

  private[catalog] val stopwordSqlLists: Map[String, String] =
    TextFunctions.Stopwords.toMap.map { case (l, ws) => l -> ws.map(w => s"'$w'").mkString("[", ",", "]") }

  /** Quantile probes shared by the q_quantiles Spark call and oracle. */
  private[catalog] val QuantilePs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
}
