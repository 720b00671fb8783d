package graft
package catalog

import graft.operators._
import graft.sources.Tables
import Shared._
import org.apache.spark.sql.functions._

/** Relational operators over the TPC-H tables and events: joins (as-of,
  * range, bloom, fuzzy, salted), reshaping, SCD2/merge, diff and layout.
  */
object RelationalQueries {

  /** Interleave width shared by the q_zorder Spark column and its
    * generated oracle SQL.
    */
  private val ZOrderBits = 16

  /** Engine-stable row fingerprint for [[Diff]]: nulls to sentinels,
    * timestamps to epoch micros, doubles to 1e-6-scaled integers (NaN
    * spelled out — DuckDB cannot cast NaN to BIGINT).
    */
  private def diffFingerprint: org.apache.spark.sql.Column =
    md5(concat_ws("|",
      coalesce(col("user_id").cast("string"), lit("~")),
      coalesce(unix_micros(col("ts")).cast("string"), lit("~")),
      coalesce(col("event_type"), lit("~")),
      coalesce(
        when(isnan(col("value")), lit("nan"))
          .otherwise(floor(col("value") * 1000000).cast("string")),
        lit("~"))))

  val all: Seq[QueryDef] = Seq(
    // TPC-H Q5 shape: local-supplier revenue per nation — a 6-table
    // join: the small dims (supplier/nation/region) broadcast; the
    // orders and customer joins are key equi-joins the fact legitimately
    // shuffles for at scale (AQE upgrades them to broadcast when the
    // filtered sides fit)
    QueryDef("q5_local_supplier", { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cust = Tables.customer(s, dir)
      val supp = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(graft.functions.Portable.r6(
          col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(38,6)"))
          .cast("double").as("revenue"))
    },
      s"""SELECT n_name,
        |  CAST(CAST(sum(CAST(${r6("l_extendedprice*(1-l_discount)")} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem, orders, supplier, customer, nation, region
        |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND o_custkey = c_custkey
        |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin),

    // golden-record survivorship over the fuzzy part-name entities
    QueryDef("q_golden", (s, dir) =>
      FuzzyJoin
        .goldenRecords(
          Tables.part(s, dir).select(col("p_partkey"), col("p_name"), col("p_retailprice")),
          "p_partkey", "p_name", maxDist = 4,
          extraAggs = Seq(max(col("p_retailprice")).as("max_price")))
        .select(col("entity_id"), col("n_members"), col("first_id"), col("canonical_name"),
          graft.functions.Portable.r6(col("max_price")).as("max_price")),
      s"""WITH RECURSIVE t AS (SELECT DISTINCT lower(p_name) AS name FROM part WHERE lower(p_name) <> ''),
        |tok AS (SELECT DISTINCT name, unnest(list_filter(string_split_regex(name, '[^a-z]+'), x -> x <> '')) AS tk FROM t),
        |cand AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
        |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.name < b.name),
        |pr AS (SELECT a_name, b_name FROM cand WHERE levenshtein(a_name, b_name) <= 4),
        |ids AS (SELECT p_partkey AS id, lower(p_name) AS name, p_retailprice AS price FROM part),
        |nm AS (SELECT name, min(id) AS nid FROM ids WHERE name <> '' GROUP BY 1),
        |e0 AS (SELECT a.nid AS ia, b.nid AS ib FROM pr JOIN nm a ON a.name = pr.a_name
        |       JOIN nm b ON b.name = pr.b_name),
        |e AS (SELECT ia AS src, ib AS dst FROM e0 UNION SELECT ib, ia FROM e0),
        |reach AS (SELECT src AS id, src AS r FROM e
        |          UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
        |clusters AS (SELECT id AS nid, min(r) AS lbl FROM reach GROUP BY 1),
        |ent AS (SELECT ids.id, coalesce(lbl, nm.nid, ids.id) AS entity_id, ids.name, ids.price
        |  FROM ids LEFT JOIN nm ON nm.name = ids.name
        |  LEFT JOIN clusters ON clusters.nid = nm.nid),
        |rk AS (SELECT entity_id, name, row_number() OVER (PARTITION BY entity_id ORDER BY len(name) DESC, name DESC) AS rn FROM ent),
        |g AS (SELECT entity_id, count(*) AS n_members, min(id) AS first_id, max(price) AS mp FROM ent GROUP BY 1)
        |SELECT g.entity_id, g.n_members, g.first_id, rk.name AS canonical_name,
        |  ${r6("mp")} AS max_price
        |FROM g JOIN (SELECT entity_id, name FROM rk WHERE rn = 1) rk USING (entity_id)""".stripMargin),

    // sorted-neighborhood blocking over part names (window 3, dist <= 4)
    QueryDef("q_sorted_blocking", (s, dir) =>
      FuzzyJoin.sortedNeighborPairs(Tables.part(s, dir), "p_name", maxDist = 4, windowSize = 3),
      """WITH t AS (SELECT DISTINCT lower(p_name) AS name FROM part
        |  WHERE p_name IS NOT NULL AND lower(p_name) <> ''),
        |r AS (SELECT name, substr(name, 1, 2) AS block,
        |    row_number() OVER (PARTITION BY substr(name, 1, 2) ORDER BY name) AS rnk FROM t),
        |p AS (SELECT a.name AS a_name, b.name AS b_name
        |  FROM r a JOIN r b ON a.block = b.block AND b.rnk IN (a.rnk + 1, a.rnk + 2))
        |SELECT a_name, b_name, CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(a_name, b_name) <= 4""".stripMargin),

    QueryDef("q1_pricing", { (s, dir) =>
      val li = Tables.lineitem(s, dir).filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      // r6 in DOUBLE space before the decimal cast: the engines' native
      // double->decimal rounding disagrees at 10^-6 boundaries, and at
      // millions of rows those per-row diffs accumulate past one ulp of
      // the ~1e10 totals (caught by the sf1 spot-run). floor(x*1e6+0.5)
      // is identical IEEE arithmetic everywhere, so every row's decimal
      // is bit-identical and the exact sums match at any scale.
      def dec(c: org.apache.spark.sql.Column) =
        graft.functions.Portable.r6(c).cast("decimal(38,6)")
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))).cast("double").as("sum_disc_price"),
          sum(dec((col("l_extendedprice") * (lit(1) - col("l_discount"))) * (lit(1) + col("l_tax"))))
            .cast("double").as("sum_charge"),
          sum(dec(col("l_discount"))).cast("double").as("__sum_disc"),
          count(lit(1)).as("count_order")
        )
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .withColumn("avg_price", col("sum_base_price") / col("count_order"))
        .withColumn("avg_disc", col("__sum_disc") / col("count_order"))
        .drop("__sum_disc")
    },
      s"""WITH a AS (SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(${r6("l_quantity")} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(${r6("l_extendedprice")} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(${r6("l_extendedprice*(1-l_discount)")} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(${r6("(l_extendedprice*(1-l_discount))*(1+l_tax)")} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  CAST(CAST(sum(CAST(${r6("l_discount")} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge, count_order,
        |  sum_qty/count_order AS avg_qty, sum_base_price/count_order AS avg_price, sum_disc/count_order AS avg_disc
        |FROM a""".stripMargin),

    QueryDef("q3_shipping", { (s, dir) =>
      val cutoff = lit("1998-03-15").cast("timestamp")
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
      // no broadcast hint on customer: it's fact-sized at scale; the
      // planner/AQE picks broadcast at small SF from stats on its own.
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(38,6)"))
          .cast("double").as("revenue"))
        .select(col("l_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(20)
    },
      s"""SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
        |  ${dsum("l_extendedprice*(1-l_discount)")} AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin),

    // semi/anti joins: customers with a high-priority order but no
    // returned lineitem — broadcast LeftSemi + LeftAnti, zero fact shuffle
    QueryDef("q_cust_semi_anti", { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val ord = Tables.orders(s, dir)
      val returned = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"))
      val urgent = ord.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      cust
        .join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_semi")
        .join(returned, cust("c_custkey") === returned("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |  AND c_custkey NOT IN (
        |    SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |    WHERE l_returnflag = 'R')""".stripMargin),

    QueryDef("q_top_customers", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(38,6)"))
          .cast("double").as("revenue"))
      // orderBy+limit compiles to TakeOrderedAndProject: each partition
      // keeps its local top 10, the driver merges — no global window over
      // the customer table. The rank window that follows only ever sees
      // the 10 surviving rows (bounded by the limit), which is the one
      // legitimate use of a partition-less window.
      rev.orderBy(col("revenue").desc, col("c_custkey").asc).limit(10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("revenue").desc, col("c_custkey").asc)).cast("long"))
    },
      s"""WITH r AS (SELECT c.c_custkey, c.c_name,
        |  ${dsum("l_extendedprice*(1-l_discount)")} AS revenue
        |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |rr AS (SELECT c_custkey, c_name, revenue,
        |  CAST(row_number() OVER (ORDER BY revenue DESC, c_custkey) AS BIGINT) AS "rank" FROM r)
        |SELECT * FROM rr WHERE "rank" <= 10""".stripMargin),

    // as-of join: every event picks up the most recent purchase at or
    // before its own time for the same user (DuckDB native ASOF LEFT JOIN
    // oracle). Right side pre-aggregated to one row per (user, ts) so the
    // tie winner is engine-independent.
    QueryDef("q_asof", { (s, dir) =>
      val e = ev(s, dir)
      val purchases = e
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      AsofJoin
        .asof(
          e.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
          purchases,
          on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          rightCols = Seq("value"), rightPrefix = "purchase_")
        .select(
          col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"), col("event_type"),
          unix_micros(col("purchase_ts")).as("purchase_time_us"),
          col("purchase_value").as("purchase_value"))
    },
      """WITH p AS (SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS time_us, e.event_type,
        |  epoch_us(p.ts) AS purchase_time_us, p.purchase_value
        |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin),

    // range join: events located inside per-user session intervals via the
    // bin-bucketed interval join (DuckDB BETWEEN-join oracle). Sessions of
    // one user never overlap (gap > threshold), so each event lands in
    // exactly one interval.
    QueryDef("q_range_join", { (s, dir) =>
      val e = ev(s, dir)
      val sessions = Sessionize
        .sessionSummaries(e, "user_id", "ts", gapUs = 1800L * 1000000L, tieBreakCol = "event_id")
        .select(col("user_id"), col("session_seq"), col("start_us"), col("end_us"))
      val points = e
        .filter(col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"))
      RangeJoin
        .intervalJoin(points, sessions, on = Seq("user_id"),
          tCol = "time_us", startCol = "start_us", endCol = "end_us",
          binWidth = 6L * 3600 * 1000000) // 6h bins vs ~30min-gap sessions
        .select(col("event_id"), col("user_id"), col("time_us"), col("session_seq"))
    },
      """WITH t AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE ts IS NOT NULL),
        |sq AS (SELECT user_id, ts,
        |  CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_seq
        |  FROM t),
        |sessions AS (SELECT user_id, session_seq,
        |    min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |  FROM sq GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS time_us, s.session_seq
        |FROM events e JOIN sessions s
        |  ON e.user_id = s.user_id AND epoch_us(e.ts) BETWEEN s.start_us AND s.end_us
        |WHERE e.ts IS NOT NULL""".stripMargin),

    // snapshot diff vs a simulated next ingest: every 7th event deleted,
    // values doubled for every 5th user. Fingerprints use engine-stable
    // forms (epoch micros, 1e-6-scaled integer values).
    QueryDef("q_diff", { (s, dir) =>
      val e = ev(s, dir)
      val next = e
        .filter(col("event_id") % 7 =!= 0)
        .withColumn("value",
          when(col("user_id") % 5 === 0, col("value") * 2).otherwise(col("value")))
      Diff
        .snapshotDiff(e, next, Seq("event_id"), diffFingerprint)
        .select(col("event_id"), col("status"))
    },
      {
      val fpSql =
        """md5(concat_ws('|',
          |  coalesce(CAST(user_id AS VARCHAR), '~'),
          |  coalesce(CAST(epoch_us(ts) AS VARCHAR), '~'),
          |  coalesce(event_type, '~'),
          |  coalesce(CASE WHEN isnan(VALUE_EXPR) THEN 'nan'
          |           ELSE CAST(CAST(floor(VALUE_EXPR * 1000000) AS BIGINT) AS VARCHAR) END, '~')))""".stripMargin
      val oldFp = fpSql.replace("VALUE_EXPR", "value")
      val newFp = fpSql.replace(
        "VALUE_EXPR", "(CASE WHEN user_id % 5 = 0 THEN value * 2 ELSE value END)")
      s"""WITH o AS (SELECT event_id, $oldFp AS fp FROM events),
         |n AS (SELECT event_id, $newFp AS fp FROM events WHERE event_id % 7 <> 0),
         |j AS (SELECT coalesce(o.event_id, n.event_id) AS event_id,
         |  CASE WHEN o.event_id IS NULL THEN 'added'
         |       WHEN n.event_id IS NULL THEN 'removed'
         |       WHEN o.fp <> n.fp THEN 'changed' END AS status
         |  FROM o FULL JOIN n ON o.event_id = n.event_id)
         |SELECT event_id, status FROM j WHERE status IS NOT NULL""".stripMargin
    }),

    // fuzzy join: part-name pairs within 4 edits, token-blocked (never
    // all-pairs); the dictionary-level linkage step of record matching.
    QueryDef("q_fuzzy", (s, dir) =>
      FuzzyJoin
        .fuzzyPairs(Tables.part(s, dir).select(col("p_name")), "p_name", maxDist = 4)
        .select(col("a_name"), col("b_name"), col("dist")),
      """WITH t AS (SELECT DISTINCT lower(p_name) AS name FROM part WHERE lower(p_name) <> ''),
        |tok AS (SELECT DISTINCT name, unnest(list_filter(string_split_regex(name, '[^a-z]+'), x -> x <> '')) AS tk FROM t),
        |cand AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
        |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.name < b.name)
        |SELECT a_name, b_name, CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(a_name, b_name) <= 4""".stripMargin),

    // same blocking, Jaro-Winkler scorer (native codegen'd expression,
    // oracle = DuckDB's jaro_winkler_similarity)
    QueryDef("q_fuzzy_jw", (s, dir) =>
      FuzzyJoin
        .fuzzyPairsJaroWinkler(Tables.part(s, dir).select(col("p_name")), "p_name",
          minSim = 0.88)
        .select(col("a_name"), col("b_name"),
          graft.functions.Portable.r6(col("sim")).as("sim")),
      s"""WITH t AS (SELECT DISTINCT lower(p_name) AS name FROM part WHERE lower(p_name) <> ''),
        |tok AS (SELECT DISTINCT name, unnest(list_filter(string_split_regex(name, '[^a-z]+'), x -> x <> '')) AS tk FROM t),
        |cand AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
        |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.name < b.name)
        |SELECT a_name, b_name,
        |  ${r6("jaro_winkler_similarity(a_name, b_name)")} AS sim
        |FROM cand WHERE jaro_winkler_similarity(a_name, b_name) >= 0.88""".stripMargin),

    // salted join must be indistinguishable from the plain join (the
    // oracle IS the plain join) — parity proof for the skew-mitigation
    // path
    QueryDef("q_salted", { (s, dir) =>
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))
      Skew
        .saltedJoin(o, c, Seq("o_custkey"), salts = 8)
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          col("c_name"), col("c_mktsegment"))
    },
      """SELECT o_orderkey, o_custkey AS custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin),

    // groupBy().pivot() with an explicit value list (no extra
    // distinct-scan job) — long-to-wide reshaping
    QueryDef("q_pivot", (s, dir) =>
      ev(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        // fill ONLY the pivoted counts — an unscoped fill would also
        // rewrite a NULL user_id group key to 0
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view")),
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin),

    // bloom-pre-filtered semi join; parity contract — the oracle is the
    // PLAIN semi join, the sketch only thins the shuffle
    QueryDef("q_bloom", (s, dir) =>
      BloomJoin
        .semiJoin(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber")),
          Tables.orders(s, dir).filter(col("o_totalprice") > 400000).select(col("o_orderkey")),
          "l_orderkey", "o_orderkey", expectedKeys = 100000)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber")),
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)""".stripMargin),

    // Morton z-value for two-dimensional layout clustering
    QueryDef("q_zorder", (s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        ZOrder.interleave(col("l_partkey"), col("l_suppkey"), bits = ZOrderBits).as("zvalue")),
      {
      val terms = (0 until ZOrderBits).flatMap { i =>
        Seq(
          s"(((l_partkey >> $i) & 1) << ${2 * i})",
          s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |CAST($terms AS BIGINT) AS zvalue FROM lineitem""".stripMargin
    }),

    // CDC log compaction: latest event per (user, type) via max-struct
    // (one partial-aggregated shuffle, not a window over every version)
    QueryDef("q_compact", (s, dir) =>
      Compact
        .latestPerKey(ev(s, dir), Seq("user_id", "event_type"), Seq("ts", "event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value")),
      """SELECT user_id, event_type, event_id, ts_us, value FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin),

    // CDC MERGE/upsert: a derived change batch (every 10th event updated,
    // a sparse set of brand-new keys) applied onto the event log — one
    // key-anti-join + union, never a full-outer join of wide rows
    QueryDef("q_upsert", { (s, dir) =>
      val e = ev(s, dir)
      val updates = e.filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") * 2)
        .withColumn("event_type", lit("upd"))
      val inserts = e.filter(col("event_id") % 1000 === 1)
        .withColumn("event_id", col("event_id") + 20000000L)
        .withColumn("event_type", lit("ins"))
      Merge.upsert(e, updates.unionByName(inserts), Seq("event_id"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
    },
      """WITH upd AS (
        |  SELECT event_id, user_id, ts, 'upd' AS event_type, value * 2 AS value
        |  FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT event_id + 20000000, user_id, ts, 'ins' AS event_type, value
        |  FROM events WHERE event_id % 1000 = 1)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.event_type, e.value
        |FROM events e WHERE e.event_id NOT IN (SELECT event_id FROM upd)
        |UNION ALL
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM upd""".stripMargin),

    // SCD2 validity intervals per (user, type) version chain: valid_to =
    // next version's timestamp, open interval while current
    QueryDef("q_scd2", (s, dir) =>
      Scd2
        .history(ev(s, dir).filter(col("ts").isNotNull),
          Seq("user_id", "event_type"), "ts", "event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current").cast("long").as("is_current")),
      """SELECT event_id, user_id, event_type,
        |  epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER w) AS valid_to_us,
        |  CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM events WHERE ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)""".stripMargin),

    // OLAP cube over (lang, source) with grouping id
    QueryDef("q_cube", (s, dir) =>
      docs(s, dir)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("n_chars").cast("decimal(38,6)")), lit(0).cast("decimal(38,6)"))
            .cast("double").as("chars"),
          grouping_id().as("gid")),
      s"""SELECT lang, source, count(*) AS n,
        |  ${dsum0("n_chars")} AS chars,
        |  GROUPING_ID(lang, source) AS gid
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin),

    // entity resolution: fuzzy-link graph -> connected components
    QueryDef("q_entity", (s, dir) =>
      FuzzyJoin.resolveEntities(
        Tables.part(s, dir).select(col("p_partkey"), col("p_name")),
        "p_partkey", "p_name", maxDist = 4),
      """WITH RECURSIVE t AS (SELECT DISTINCT lower(p_name) AS name FROM part WHERE lower(p_name) <> ''),
        |tok AS (SELECT DISTINCT name, unnest(list_filter(string_split_regex(name, '[^a-z]+'), x -> x <> '')) AS tk FROM t),
        |cand AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
        |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.name < b.name),
        |pr AS (SELECT a_name, b_name FROM cand WHERE levenshtein(a_name, b_name) <= 4),
        |ids AS (SELECT p_partkey AS id, lower(p_name) AS name FROM part),
        |nm AS (SELECT name, min(id) AS nid FROM ids WHERE name <> '' GROUP BY 1),
        |e0 AS (SELECT a.nid AS ia, b.nid AS ib FROM pr JOIN nm a ON a.name = pr.a_name
        |       JOIN nm b ON b.name = pr.b_name),
        |e AS (SELECT ia AS src, ib AS dst FROM e0 UNION SELECT ib, ia FROM e0),
        |reach AS (SELECT src AS id, src AS r FROM e
        |          UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
        |clusters AS (SELECT id AS nid, min(r) AS lbl FROM reach GROUP BY 1)
        |SELECT ids.id, coalesce(lbl, nm.nid, ids.id) AS entity_id
        |FROM ids LEFT JOIN nm ON nm.name = ids.name
        |LEFT JOIN clusters ON clusters.nid = nm.nid""".stripMargin),

    // join-key skew audit over two candidate shuffle keys of events
    QueryDef("q_skew_audit", { (s, dir) =>
      val e = ev(s, dir)
      Skew.keySkewAudit(e, "event_type", topK = 5)
        .unionAll(Skew.keySkewAudit(e, "user_id", topK = 5))
        .select(col("key_col"), col("rank").cast("long").as("rank"), col("key"),
          col("n"), graft.functions.Portable.r6(col("share")).as("share"),
          col("n_rows"), col("n_keys"),
          graft.functions.Portable.r6(col("skew")).as("skew"), col("salts"))
    },
      {
      val audit = (keyCol: String, c: String) =>
        s"""${c}c AS (SELECT CAST($keyCol AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
           |${c}s AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
           |        CAST(max(n) AS BIGINT) AS max_n FROM ${c}c),
           |${c}t AS (SELECT '$keyCol' AS key_col,
           |        CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS "rank", key, n
           |      FROM ${c}c ORDER BY n DESC, key LIMIT 5),
           |$c AS (SELECT key_col, "rank", key, n,
           |        CAST(n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share, n_rows, n_keys,
           |        CAST(max_n AS DOUBLE) / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS skew,
           |        CAST(ceil(CAST(max_n AS DOUBLE) / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))) AS BIGINT) AS salts
           |      FROM ${c}t, ${c}s)""".stripMargin
      s"""WITH ${audit("event_type", "r1")},
         |${audit("user_id", "r2")},
         |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
         |SELECT key_col, "rank", key, n,
         |  ${r6("share")} AS share, n_rows, n_keys,
         |  ${r6("skew")} AS skew, salts
         |FROM u""".stripMargin
    }),

    // Fellegi-Sunter match weights over consecutive-id blocks of 64:
    // block SIZE is fixed, so candidate pairs stay LINEAR in the corpus
    // (a fixed block COUNT grows blocks with N and pairs with N²);
    // data-exact u-probabilities, prior m = 0.9
    QueryDef("q_fs_weights", { (s, dir) =>
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"),
        col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      val ids = c.select(col("c_custkey").cast("long").as("id"))
      val pairs = ids.as("x")
        .join(ids.as("y"),
          floor(col("x.id") / 64.0) === floor(col("y.id") / 64.0) &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      FuzzyJoin.fellegiSunter(c, "c_custkey", pairs,
          Seq("c_mktsegment", "c_nationkey", "bal_bucket"))
        .select(col("id_a"), col("id_b"), col("n_agree"),
          graft.functions.Portable.r6(col("weight")).as("weight"))
    },
      s"""WITH c AS (SELECT c_custkey AS id, c_mktsegment AS f1, c_nationkey AS f2,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS f3
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM c),
        |u1 AS (SELECT CAST(coalesce(sum(CAST(k AS DECIMAL(38,0)) * k), 0) AS DOUBLE) AS s2
        |  FROM (SELECT count(*) AS k FROM c WHERE f1 IS NOT NULL GROUP BY f1)),
        |u2 AS (SELECT CAST(coalesce(sum(CAST(k AS DECIMAL(38,0)) * k), 0) AS DOUBLE) AS s2
        |  FROM (SELECT count(*) AS k FROM c WHERE f2 IS NOT NULL GROUP BY f2)),
        |u3 AS (SELECT CAST(coalesce(sum(CAST(k AS DECIMAL(38,0)) * k), 0) AS DOUBLE) AS s2
        |  FROM (SELECT count(*) AS k FROM c WHERE f3 IS NOT NULL GROUP BY f3)),
        |p AS (SELECT x.id AS id_a, y.id AS id_b FROM c x JOIN c y
        |  ON floor(CAST(x.id AS DOUBLE) / 64.0) = floor(CAST(y.id AS DOUBLE) / 64.0) AND x.id < y.id),
        |j AS (SELECT p.id_a, p.id_b,
        |    a.f1 AS a1, a.f2 AS a2, a.f3 AS a3, b.f1 AS b1, b.f2 AS b2, b.f3 AS b3
        |  FROM p JOIN c a ON a.id = p.id_a JOIN c b ON b.id = p.id_b)
        |SELECT id_a, id_b,
        |  CAST((CASE WHEN a1 IS NOT NULL AND b1 IS NOT NULL AND a1 = b1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a2 IS NOT NULL AND b2 IS NOT NULL AND a2 = b2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN a3 IS NOT NULL AND b3 IS NOT NULL AND a3 = b3 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |  ${r6("(CASE WHEN a1 IS NULL OR b1 IS NULL THEN 0.0 WHEN a1 = b1 THEN ln(0.9 / (u1.s2 / (n * n))) / ln(2.0) ELSE ln((1.0 - 0.9) / (1.0 - u1.s2 / (n * n))) / ln(2.0) END) + (CASE WHEN a2 IS NULL OR b2 IS NULL THEN 0.0 WHEN a2 = b2 THEN ln(0.9 / (u2.s2 / (n * n))) / ln(2.0) ELSE ln((1.0 - 0.9) / (1.0 - u2.s2 / (n * n))) / ln(2.0) END) + (CASE WHEN a3 IS NULL OR b3 IS NULL THEN 0.0 WHEN a3 = b3 THEN ln(0.9 / (u3.s2 / (n * n))) / ln(2.0) ELSE ln((1.0 - 0.9) / (1.0 - u3.s2 / (n * n))) / ln(2.0) END)")} AS weight
        |FROM j, nn, u1, u2, u3""".stripMargin),

    // as-of join, nearest direction: each event tagged with the CLOSEST
    // purchase either side (ties backward) — same single exchange as
    // q_asof's backward scan
    QueryDef("q_asof_nearest", { (s, dir) =>
      val e = ev(s, dir)
      val purchases = e
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      AsofJoin
        .asof(
          e.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
          purchases,
          on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          rightCols = Seq("value"), direction = AsofJoin.Nearest,
          rightPrefix = "purchase_")
        .select(
          col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"), col("event_type"),
          unix_micros(col("purchase_ts")).as("purchase_time_us"),
          col("purchase_value").as("purchase_value"))
    },
      """WITH p AS (SELECT user_id, ts, max(value) AS value
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS time_us, e.event_type,
        |  CASE WHEN pb.ts IS NOT NULL AND (pf.ts IS NULL OR
        |      epoch_us(e.ts) - epoch_us(pb.ts) <= epoch_us(pf.ts) - epoch_us(e.ts))
        |    THEN epoch_us(pb.ts) ELSE epoch_us(pf.ts) END AS purchase_time_us,
        |  CASE WHEN pb.ts IS NOT NULL AND (pf.ts IS NULL OR
        |      epoch_us(e.ts) - epoch_us(pb.ts) <= epoch_us(pf.ts) - epoch_us(e.ts))
        |    THEN pb.value ELSE pf.value END AS purchase_value
        |FROM events e
        |ASOF LEFT JOIN p pb ON e.user_id = pb.user_id AND e.ts >= pb.ts
        |ASOF LEFT JOIN p pf ON e.user_id = pf.user_id AND e.ts <= pf.ts""".stripMargin),

    // blocking-quality audit: what does q_sorted_blocking's +/-2 window
    // lose vs the exact within-block pair set (PC), and what does it
    // save (RR)
    QueryDef("q_blocking_eval", (s, dir) =>
      FuzzyJoin.blockingQuality(Tables.part(s, dir), "p_name",
        maxDist = 4, windowSize = 3),
      s"""WITH base AS (SELECT DISTINCT lower(p_name) AS name FROM part
         |  WHERE p_name IS NOT NULL AND lower(p_name) <> ''),
         |rk AS (SELECT name, substr(name, 1, 2) AS block,
         |    row_number() OVER (PARTITION BY substr(name, 1, 2) ORDER BY name) AS rnk
         |  FROM base),
         |sz AS (SELECT block, count(*) AS bs FROM rk GROUP BY 1),
         |gold AS (SELECT a.name AS a_name, b.name AS b_name FROM rk a JOIN rk b
         |  ON a.block = b.block AND a.rnk < b.rnk
         |  WHERE levenshtein(a.name, b.name) <= 4),
         |cand AS (SELECT a.name AS a_name, b.name AS b_name
         |  FROM rk a, (SELECT unnest([1, 2]) AS off) o, rk b
         |  WHERE b.block = a.block AND b.rnk = a.rnk + o.off
         |    AND levenshtein(a.name, b.name) <= 4),
         |cov AS (SELECT count(*) AS n_covered FROM gold
         |  WHERE EXISTS (SELECT 1 FROM cand WHERE cand.a_name = gold.a_name AND cand.b_name = gold.b_name)),
         |cnt AS (SELECT CAST(sum(bs) AS BIGINT) AS n_names, CAST(count(*) AS BIGINT) AS n_blocks,
         |    CAST(sum(bs * (bs - 1) // 2) AS BIGINT) AS n_block_pairs,
         |    CAST(sum(CASE WHEN bs <= 3 THEN bs * (bs - 1) // 2 ELSE 2 * bs - 3 END) AS BIGINT) AS n_candidates
         |  FROM sz),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n_gold FROM gold)
         |SELECT n_names, n_blocks, n_block_pairs, n_candidates, n_gold,
         |  CAST(n_covered AS BIGINT) AS n_covered,
         |  CASE WHEN n_gold > 0 THEN ${r6("CAST(n_covered AS DOUBLE) / CAST(n_gold AS DOUBLE)")} END AS pair_completeness,
         |  CASE WHEN n_block_pairs > 0 THEN ${r6("1.0 - CAST(n_candidates AS DOUBLE) / CAST(n_block_pairs AS DOUBLE)")} END AS reduction_ratio
         |FROM cnt, g, cov""".stripMargin),

    // as-of join, forward direction: next purchase at-or-after each
    // event (the already-implemented third direction, oracle-paired)
    QueryDef("q_asof_forward", { (s, dir) =>
      val e = ev(s, dir)
      val purchases = e
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("value"))
      AsofJoin
        .asof(
          e.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
          purchases,
          on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          rightCols = Seq("value"), direction = AsofJoin.Forward,
          rightPrefix = "purchase_")
        .select(
          col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"), col("event_type"),
          unix_micros(col("purchase_ts")).as("purchase_time_us"),
          col("purchase_value").as("purchase_value"))
    },
      """WITH p AS (SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS time_us, e.event_type,
        |  epoch_us(p.ts) AS purchase_time_us, p.purchase_value
        |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.ts""".stripMargin),

    // Hilbert layout index over the same 2-D key as q_zorder
    QueryDef("q_hilbert", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.operators.ZOrder.hilbertValue(
          pmod(col("doc_id"), lit(1024L)),
          pmod(col("n_chars"), lit(1024L)), bits = 10).as("h")),
      """WITH b AS (SELECT doc_id, doc_id % 1024 AS x, n_chars % 1024 AS y FROM documents)
        |SELECT doc_id,
        |  list_reduce(
        |    list_prepend([CAST(0 AS BIGINT), x, y],
        |      list_transform(range(0, 10), i -> [9 - i, CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),
        |    (acc, lv) -> [
        |      acc[1] + CAST(pow(2, lv[1]) AS BIGINT) * CAST(pow(2, lv[1]) AS BIGINT) *
        |        xor(3 * (CASE WHEN (acc[2] & CAST(pow(2, lv[1]) AS BIGINT)) > 0 THEN 1 ELSE 0 END),
        |            (CASE WHEN (acc[3] & CAST(pow(2, lv[1]) AS BIGINT)) > 0 THEN 1 ELSE 0 END)),
        |      CASE WHEN (acc[3] & CAST(pow(2, lv[1]) AS BIGINT)) > 0 THEN acc[2]
        |           WHEN (acc[2] & CAST(pow(2, lv[1]) AS BIGINT)) > 0
        |             THEN CAST(pow(2, lv[1]) AS BIGINT) - 1 - acc[3]
        |           ELSE acc[3] END,
        |      CASE WHEN (acc[3] & CAST(pow(2, lv[1]) AS BIGINT)) > 0 THEN acc[3]
        |           WHEN (acc[2] & CAST(pow(2, lv[1]) AS BIGINT)) > 0
        |             THEN CAST(pow(2, lv[1]) AS BIGINT) - 1 - acc[2]
        |           ELSE acc[2] END
        |    ])[1] AS h
        |FROM b""".stripMargin)
  )
}
