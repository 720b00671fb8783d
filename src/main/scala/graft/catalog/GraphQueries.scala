package graft
package catalog

import graft.operators._
import graft.sources.Tables
import graft.text.TextFunctions
import Shared._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the word-adjacency graph of the documents corpus.
  */
object GraphQueries {

  /** Word-adjacency edge table over the documents corpus (consecutive
    * token pairs) — the shared input of the graph family
    * (q_pagerank / q_triangles / q_clustering_coef / q_kcore).
    */
  private def wordAdjacencyEdges(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(TextFunctions.wordTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
    toks.select(explode(zip_with(
      slice(col("ts"), lit(1), size(col("ts")) - 1),
      slice(col("ts"), lit(2), size(col("ts")) - 1),
      (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
  }

  /** Oracle side of [[wordAdjacencyEdges]]: CTEs `tk` (each document's
    * tokens) and one named `edges` with a `(src, dst)` row per adjacent
    * token pair.
    */
  private def wordAdjacencySql(edges: String): String =
    s"""tk AS (SELECT ${wordTokensSql("text")} AS ts FROM documents),
       |$edges AS (SELECT unnest(list_slice(ts, 1, len(ts)-1)) AS src, unnest(list_slice(ts, 2, len(ts))) AS dst
       |  FROM tk WHERE len(ts) >= 2)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // local clustering coefficient over the word-adjacency graph
    // (same edge derivation as q_triangles / q_pagerank)
    QueryDef("q_clustering_coef", { (s, dir) =>
      val edges = wordAdjacencyEdges(s, dir)
      Graph.clusteringCoefficient(edges)
        .select(col("node"), col("degree"), col("n_triangles"),
          graft.functions.Portable.r6(col("coef")).as("coef"))
    },
      s"""WITH ${wordAdjacencySql("ed")},
         |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed WHERE src <> dst),
         |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         |tc AS (SELECT node, count(*) AS n_triangles FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1),
         |dg AS (SELECT node, count(*) AS d FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
         |SELECT dg.node AS node, CAST(d AS BIGINT) AS degree,
         |  CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN d >= 2 THEN ${r6(
                "2.0 * CAST(coalesce(n_triangles, 0) AS DOUBLE) / (CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0))")} END AS coef
         |FROM dg LEFT JOIN tc USING (node)""".stripMargin),

    // bounded k-core peel over the word-adjacency graph (k=3, 3 rounds)
    QueryDef("q_kcore", { (s, dir) =>
      val edges = wordAdjacencyEdges(s, dir)
      Graph.kCorePeel(edges, k = 3, rounds = 3)
        .select(col("node"), col("d").as("degree"))
    },
      {
      val rounds = (1 to 3).map { r =>
        s"""d$r AS (SELECT node, count(*) AS d FROM (SELECT a AS node FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) GROUP BY 1),
           |k$r AS (SELECT node FROM d$r WHERE d >= 3),
           |e$r AS (SELECT e${r - 1}.* FROM e${r - 1} WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${wordAdjacencySql("ed")},
         |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed WHERE src <> dst),
         |$rounds
         |SELECT node, CAST(d AS BIGINT) AS degree
         |FROM (SELECT node, count(*) AS d FROM (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1)""".stripMargin
    }),

    // 3-round damped PageRank over the word-adjacency graph (parallel
    // edges weight naturally); oracle is the same 3 rounds unrolled
    QueryDef("q_pagerank", { (s, dir) =>
      PageRank.pageRank(wordAdjacencyEdges(s, dir), iters = 3)
        .select(col("node"), graft.functions.Portable.r6(col("rank")).as("rank"))
    },
      {
      val contrib = (r: String, c: String) =>
        s"""$c AS (SELECT e.dst AS node, sum(CAST($r.rank / deg.deg AS DECIMAL(38,12))) AS m
           |  FROM e JOIN $r ON e.src = $r.node JOIN deg ON e.src = deg.src GROUP BY 1)""".stripMargin
      val relax = (rPrev: String, c: String, r: String) =>
        s"""$r AS (SELECT n.node, 0.15 + 0.85 * CAST(coalesce($c.m, 0) AS DOUBLE) AS rank
           |  FROM n LEFT JOIN $c ON n.node = $c.node)""".stripMargin
      s"""WITH ${wordAdjacencySql("e")},
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM n),
         |${contrib("r0", "c1")}, ${relax("r0", "c1", "r1")},
         |${contrib("r1", "c2")}, ${relax("r1", "c2", "r2")},
         |${contrib("r2", "c3")}, ${relax("r2", "c3", "r3")}
         |SELECT node, ${r6("rank")} AS rank FROM r3""".stripMargin
    }),

    // degree-ordered triangle enumeration over the word-adjacency graph
    // (same edge table as q_pagerank); each triangle once, a < b < c
    QueryDef("q_triangles", { (s, dir) =>
      val edges = wordAdjacencyEdges(s, dir)
      Graph.triangles(edges)
    },
      s"""WITH ${wordAdjacencySql("ed")},
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed WHERE src <> dst)
        |SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin),

    // Adamic-Adar link prediction on the word-adjacency graph
    // (hub centers > deg 64 truncated BEFORE the wedge join)
    QueryDef("q_adamic", (s, dir) =>
      Graph.adamicAdar(wordAdjacencyEdges(s, dir), maxDegree = 64, minCommon = 2L)
        .select(col("a"), col("b"), col("n_common"),
          graft.functions.Portable.r6(col("score")).as("score")),
      s"""WITH ${wordAdjacencySql("ed")},
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed WHERE src <> dst),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |adj AS (SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e),
        |c AS (SELECT adj.z, adj.x, deg.d FROM adj JOIN deg ON adj.z = deg.node
        |      WHERE deg.d >= 2 AND deg.d <= 64),
        |p AS (SELECT l.x AS a, r.x AS b,
        |        CAST(CAST(1 AS DOUBLE) / ln(CAST(l.d AS DOUBLE)) AS DECIMAL(38,12)) AS t
        |      FROM c l JOIN c r ON l.z = r.z AND l.x < r.x),
        |g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common, CAST(sum(t) AS DOUBLE) AS score
        |      FROM p GROUP BY 1, 2),
        |x2 AS (SELECT g.a, g.b, g.n_common, g.score FROM g
        |       LEFT JOIN e ON g.a = e.a AND g.b = e.b WHERE e.a IS NULL)
        |SELECT a, b, n_common, ${r6("score")} AS score
        |FROM x2 WHERE n_common >= 2""".stripMargin),

    // 2-round HITS hubs/authorities over the word-adjacency graph
    // (weighted edges, L1-normalized half-steps; contrast with q_pagerank)
    QueryDef("q_hits", (s, dir) =>
      Hits.hits(wordAdjacencyEdges(s, dir), iters = 2)
        .select(col("node"),
          graft.functions.Portable.r6(col("auth")).as("auth"),
          graft.functions.Portable.r6(col("hub")).as("hub")),
      {
      val mass = (prev: String, inKey: String, outKey: String, c: String) =>
        s"""${c}m AS (SELECT e.$outKey AS node, sum(CAST($prev.s AS DECIMAL(27,12)) * CAST(e.w AS DECIMAL(10,0))) AS m
           |  FROM e JOIN $prev ON e.$inKey = $prev.node GROUP BY 1),
           |${c}t AS (SELECT sum(m) AS t FROM ${c}m),
           |$c AS (SELECT n.node, CASE WHEN t IS NOT NULL AND t <> 0
           |    THEN CAST(coalesce(m, 0) AS DOUBLE) / CAST(t AS DOUBLE) ELSE 0.0 END AS s
           |  FROM n LEFT JOIN ${c}m ON n.node = ${c}m.node, ${c}t)""".stripMargin
      s"""WITH ${wordAdjacencySql("ed")},
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM ed GROUP BY 1, 2),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, CAST(1 AS DOUBLE) AS s FROM n),
         |${mass("h0", "src", "dst", "a1")},
         |${mass("a1", "dst", "src", "h1")},
         |${mass("h1", "src", "dst", "a2")},
         |${mass("a2", "dst", "src", "h2")}
         |SELECT n.node,
         |  ${r6("a2.s")} AS auth,
         |  ${r6("h2.s")} AS hub
         |FROM n JOIN a2 ON n.node = a2.node JOIN h2 ON n.node = h2.node""".stripMargin
    }),

    // personalized PageRank from the s-word seed set (3 rounds):
    // topic-neighborhood proximity, contrast the global q_pagerank.
    // The edge frame is pinned so the seed scan reuses it, not the corpus
    QueryDef("q_ppr", { (s, dir) =>
      import graft.plans.Materialize.PinOps
      val e = wordAdjacencyEdges(s, dir).pin(true)
      val seeds = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .filter(col("node").startsWith("s")).distinct()
      PageRank.personalizedPageRank(e, seeds, iters = 3)
        .select(col("node"), graft.functions.Portable.r6(col("rank")).as("rank"))
    },
      {
      val contrib = (r: String, c: String) =>
        s"""$c AS (SELECT e.dst AS node, sum(CAST($r.rank / deg.deg AS DECIMAL(38,12))) AS m
           |  FROM e JOIN $r ON e.src = $r.node JOIN deg ON e.src = deg.src GROUP BY 1)""".stripMargin
      val relax = (c: String, r: String) =>
        s"""$r AS (SELECT ns.node, 0.15 * ns.seed + 0.85 * CAST(coalesce($c.m, 0) AS DOUBLE) AS rank
           |  FROM ns LEFT JOIN $c ON ns.node = $c.node)""".stripMargin
      s"""WITH ${wordAdjacencySql("e")},
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |ns AS (SELECT node, CASE WHEN node LIKE 's%' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS seed FROM n),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, seed AS rank FROM ns),
         |${contrib("r0", "c1")}, ${relax("c1", "r1")},
         |${contrib("r1", "c2")}, ${relax("c2", "r2")},
         |${contrib("r2", "c3")}, ${relax("c3", "r3")}
         |SELECT node, ${r6("rank")} AS rank FROM r3""".stripMargin
    }),

    // degree assortativity of the word-adjacency graph (hub-hub vs
    // hub-leaf structural fingerprint; one row)
    QueryDef("q_assortativity", (s, dir) =>
      Graph.assortativity(wordAdjacencyEdges(s, dir))
        .select(col("n_nodes"), col("n_edges"),
          graft.functions.Portable.r6(col("r")).as("r")),
      s"""WITH ${wordAdjacencySql("ed")},
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed WHERE src <> dst),
        |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |bi AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |j AS (SELECT CAST(du.d AS DOUBLE) AS x, CAST(dv.d AS DOUBLE) AS y
        |  FROM bi JOIN dg du ON bi.u = du.node JOIN dg dv ON bi.v = dv.node),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m2,
        |    ${dsum("x")} AS sx,
        |    ${dsum("x * y")} AS sxy,
        |    ${dsum("x * x")} AS sxx
        |  FROM j),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM dg)
        |SELECT n_nodes, CAST(m2 // 2 AS BIGINT) AS n_edges,
        |  CASE WHEN (CAST(m2 AS DOUBLE) * sxx - sx * sx) > 0 THEN
        |    ${r6("(CAST(m2 AS DOUBLE) * sxy - sx * sx) / (CAST(m2 AS DOUBLE) * sxx - sx * sx)")}
        |  END AS r
        |FROM m, nn""".stripMargin),

    // modularity audit of the first-letter labeling of the word graph
    // (does an arbitrary coloring bind edges? Q ~ 0 says no — the
    // operator's value is auditing REAL cluster labels the same way)
    QueryDef("q_modularity", { (s, dir) =>
      val e = wordAdjacencyEdges(s, dir)
      val labels = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node")))
        .distinct()
        .withColumn("label", substring(col("node"), 1, 1))
      Graph.modularity(e, labels)
        .select(col("label"), col("n_nodes"), col("n_internal"),
          graft.functions.Portable.r6(col("e_c")).as("e_c"),
          graft.functions.Portable.r6(col("a_c")).as("a_c"),
          graft.functions.Portable.r6(col("q_c")).as("q_c"))
    },
      s"""WITH ${wordAdjacencySql("ed")},
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed WHERE src <> dst),
        |le AS (SELECT a, b, substr(a, 1, 1) AS la, substr(b, 1, 1) AS lb FROM e),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |dm AS (SELECT label, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT la AS label FROM le UNION ALL SELECT lb FROM le) GROUP BY 1),
        |np AS (SELECT substr(node, 1, 1) AS label, CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM (SELECT DISTINCT node FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)) GROUP BY 1),
        |itn AS (SELECT la AS label, CAST(count(*) AS BIGINT) AS lc FROM le WHERE la = lb GROUP BY 1),
        |f AS (SELECT np.label, n_nodes, coalesce(lc, 0) AS n_internal,
        |    CAST(coalesce(lc, 0) AS DOUBLE) / CAST(m AS DOUBLE) AS e_c,
        |    CAST(d AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)) AS a_c
        |  FROM np LEFT JOIN dm USING (label) LEFT JOIN itn USING (label) CROSS JOIN m)
        |SELECT label, n_nodes, CAST(n_internal AS BIGINT) AS n_internal,
        |  ${r6("e_c")} AS e_c,
        |  ${r6("a_c")} AS a_c,
        |  ${r6("e_c - a_c * a_c")} AS q_c
        |FROM f""".stripMargin),

    // LPA communities over the REPEAT co-purchase graph: parts sharing
    // an order ≥ 2 times (the single-co-occurrence edges are noise that
    // welds a dense random blob), 3 synchronous rounds, sizes ≥ 5.
    // Per-order pair generation is bounded by order size — the
    // market-basket shape, never an all-pairs part join
    QueryDef("q_communities", { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // shape note (round 10): the in-bucket pair-explosion alternative
      // (groupBy(ok) → collect_list → orderedPairs, hash-identical) was
      // MEASURED SLOWER at sf10 — 43.2 s median vs this join's 25.4 s
      // bench median, both zero-spill — because collect_list's partial
      // aggregation cannot shrink the 60M-row exchange while the
      // sort-merge join streams it; the r9 single-sample 67 s that
      // prompted the experiment was JIT/GC noise (edges grow exactly
      // 10.0× for 10× data; SURVEY §7, round-10 sf10 entries). Keeping
      // the faster plan.
      // round-13 continuation (guide §2.2; shape C, OPTIMIZATION_r13.md
      // Batch 9): the pair stream repartitions on (a, b) BEFORE the
      // groupBy, so the count's partial aggregate runs post-exchange
      // (EnsureRequirements elides the agg's own exchange) and the map
      // side never builds the near-unique-key hash map whose sort
      // fallback was the measured map-side spill (the partial agg shrank
      // almost nothing — same ~29.5 GB shuffle either way at sf100).
      // Measured same-host,
      // hash-identical output: sf10 16.8/25.8 s (A) -> 12.8/21.6 s (C);
      // sf100 784 s (A) -> 472 s (C) at probe width.
      val edges = li.as("x")
        .join(li.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
        .repartition(col("a"), col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      Graph.communitySizes(edges, iterations = 3, minSize = 5, srcCol = "a", dstCol = "b")
    },
      {
      def round(j: Int): String =
        s"""l$j AS (SELECT node, community FROM (
           |  SELECT n.node, l.community, count(*) AS c,
           |    row_number() OVER (PARTITION BY n.node ORDER BY count(*) DESC, l.community) AS rk
           |  FROM nb n JOIN l${j - 1} l ON n.nb = l.node GROUP BY 1, 2) WHERE rk = 1)""".stripMargin
      s"""WITH p AS (SELECT least(a.l_partkey, b.l_partkey) AS a, greatest(a.l_partkey, b.l_partkey) AS b
         |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |e0 AS (SELECT a, b FROM p GROUP BY 1, 2 HAVING count(*) >= 2),
         |nb AS (SELECT a AS node, b AS nb FROM e0 UNION ALL SELECT b, a FROM e0),
         |l0 AS (SELECT DISTINCT node, node AS community FROM nb),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT community, CAST(count(*) AS BIGINT) AS n_nodes, min(node) AS min_member
         |FROM l3 GROUP BY 1 HAVING count(*) >= 5""".stripMargin
    }),

    // bounded-hop multi-source BFS over the word-adjacency graph from
    // its lexicographically-first word: the blast-radius primitive
    QueryDef("q_khop", { (s, dir) =>
      // DISTINCT edges, cached COLUMNAR, not pinned. BFS reachability
      // only reads the edge SET, so the per-occurrence adjacency rows
      // (~1B at sf100, one per consecutive token pair) collapse to the
      // distinct word-pair graph BEFORE the cache: map-side partial
      // aggregation absorbs the Zipfian duplicate mass in one pass, and
      // every hop joins the collapsed frame instead of re-scanning a
      // billion occurrence rows (the 1,000 s cumulative-GC signature at
      // sf100 was 4 hop-scans of cached per-occurrence strings).
      // Cached columnar rather than pinned: a localCheckpoint stores
      // deserialized on-heap blocks — measured OOM at the bench's 48g
      // and 1415 s of GC even at 96g — while InMemoryRelation's
      // compressed columnar batches (dictionary-coded word pairs) hold
      // the frame in a few GB and spill per-batch. Lineage truncation
      // isn't needed: the hop loop pins its own frontier/visited
      // frames, and every hop's reference to `e` is the one cached
      // scan, so the plan stays flat.
      val e = wordAdjacencyEdges(s, dir).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Graph.kHopDistances(e, e.agg(min(col("src")).as("node")), maxHops = 4)
    },
      s"""WITH RECURSIVE ${wordAdjacencySql("e")},
        |s AS (SELECT min(src) AS node FROM e),
        |r(node, d) AS (SELECT node, 0 FROM s
        |    UNION SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.node WHERE r.d < 4)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist FROM r GROUP BY 1""".stripMargin),

    // one-row graph sanity sheet for the word-adjacency graph
    QueryDef("q_graph_profile", (s, dir) =>
      Graph.profile(wordAdjacencyEdges(s, dir)),
      s"""WITH ${wordAdjacencySql("e")},
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM (SELECT src AS x FROM e UNION SELECT dst FROM e)),
         |de AS (SELECT DISTINCT src, dst FROM e),
         |rr AS (SELECT count(*) AS nr FROM de a
         |  WHERE EXISTS (SELECT 1 FROM de b WHERE b.src = a.dst AND b.dst = a.src)),
         |dg AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
         |m AS (SELECT CAST(max(od) AS BIGINT) AS max_out_deg, count(*) AS nsrc,
         |    CAST(sum(od) AS BIGINT) AS n_edges FROM dg),
         |dc AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_distinct FROM de)
         |SELECT nn.n_nodes, m.n_edges, dc.n_edges_distinct, m.max_out_deg,
         |  ${r6("CAST(m.n_edges AS DOUBLE) / CAST(m.nsrc AS DOUBLE)")} AS avg_out_deg,
         |  CASE WHEN dc.n_edges_distinct > 0 THEN
         |    ${r6("CAST(rr.nr AS DOUBLE) / CAST(dc.n_edges_distinct AS DOUBLE)")}
         |  END AS reciprocity
         |FROM m, nn, dc, rr""".stripMargin)
  )
}
