package graft.operators

import graft.functions.Portable.{dsum0, r6}
import graft.plans.Materialize.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle enumeration over an undirected edge table — the local
  * clustering signal for link-graph curation (spam rings and template
  * farms triangulate; organic link neighborhoods mostly don't).
  *
  * Scale shape: the classic degree-ordered enumeration. Each undirected
  * edge is oriented from its lower-degree endpoint to its higher-degree
  * endpoint, which turns the graph into a DAG in which every triangle
  * has exactly ONE node with two out-edges. Wedges are then a self
  * equi-join of the oriented edges on that center node, and a triangle
  * is a wedge whose far endpoints are themselves an edge (left-semi
  * probe of the undirected edge set). Orienting by degree is what makes
  * this survive skew: a celebrity node of degree d contributes wedges
  * only through edges it RECEIVES (its own out-degree is small), so the
  * wedge count is Σ out-deg², bounded by O(E^1.5) overall instead of
  * Σ deg² — the hub never explodes a single join key. All three steps
  * are hash equi-joins; nothing is collected, no window runs without a
  * partition key.
  *
  * Self-loops and parallel edges are dropped; direction of the input is
  * ignored (a→b and b→a are the same edge).
  */
object Graph {

  /** Canonical undirected simple-edge set (a < b, deduped, loops
    * dropped); pinned — it feeds the degree count, the orientation
    * join, and the closing semi-join.
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull && col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"), greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
      .pin(true)

  private def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("d"))

  /** Every triangle exactly once as (a, b, c) with a < b < c. */
  def triangles(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    trianglesOf(und, degrees(und))
  }

  /** Degree-ordered enumeration over a prebuilt canonical edge set. */
  private def trianglesOf(und: DataFrame, deg: DataFrame): DataFrame = {
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // oriented edges lo→hi (lo = lower (degree, name)); referenced twice
    // by the wedge self-join, so materialize to evaluate the degree
    // joins once
    val oriented = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("lo"),
        when(aFirst, col("b")).otherwise(col("a")).as("hi"))
      .pin(true)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("w"), col("e1.hi").as("x"), col("e2.hi").as("y"))
    wedges
      .join(und,
        least(col("x"), col("y")) === col("a") && greatest(col("x"), col("y")) === col("b"),
        "left_semi")
      .select(array_sort(array(col("w"), col("x"), col("y"))).as("t"))
      .select(col("t")(0).as("a"), col("t")(1).as("b"), col("t")(2).as("c"))
  }

  /** (node, n_triangles): how many triangles each node participates in —
    * the numerator of the local clustering coefficient. Nodes in no
    * triangle are absent.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val t = triangles(edges, srcCol, dstCol)
    t.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node: 2·T / (d·(d−1)) — what
    * fraction of a node's neighbor pairs are themselves connected. The
    * per-node "is this neighborhood a clique or a star" signal behind
    * the graph-level triangle count (template farms ≈ 1, organic hubs
    * ≈ 0). Returns (node, degree, n_triangles, coef); degree-1 nodes
    * have no neighbor pair, so coef is NULL there, and nodes in no
    * triangle get coef 0.
    *
    * The canonical edge set and degree frame are built ONCE and shared
    * with the triangle enumeration (the edge table is pinned; on a
    * cluster set `spark.graft.checkpointDir` for a reliable
    * materialization, as everywhere else). Triangle counts join onto
    * the node-sized degree frame — never onto edges or facts.
    */
  def clusteringCoefficient(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    // consumed by both orientation joins AND the final coefficient join —
    // pin the node-sized frame (lazy) per the multi-consumer convention
    val deg = degrees(und).pin(false)
    val tri = trianglesOf(und, deg)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
    deg
      .join(tri, Seq("node"), "left")
      .select(
        col("node"),
        col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (col("d").cast("double") * (col("d").cast("double") - 1.0))).as("coef"))
  }

  /** Bounded k-core peeling: repeatedly drop nodes of degree < k (and
    * their edges) for `rounds` iterations, returning the surviving
    * (node, degree) frame — the dense-subgraph extraction that isolates
    * spam rings / template farms whose members keep each other's degree
    * up after the long tail peels away. With enough rounds this is THE
    * k-core; a fixed bound keeps the oracle expressible (unrolled CTEs,
    * the PageRank convention) and each round is one degree aggregate +
    * two semi-joins — on a real cluster the edge frame is re-pinned per
    * round exactly like PageRank's rank frames (reliable under
    * `spark.graft.checkpointDir`).
    *
    * NOTE the returned degrees are measured AFTER the last filter round
    * without a final `degree >= k` cut: if the peel has not converged
    * within `rounds`, surviving nodes may still report degree < k (they
    * would be dropped by the next round). Callers wanting only
    * provably-k-core nodes should either raise `rounds` until the frame
    * is stable or apply `filter(col("degree") >= k)` themselves —
    * knowing that the filtered frame can still shrink under more
    * peeling.
    */
  def kCorePeel(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var und = undirected(edges, srcCol, dstCol)
    for (_ <- 1 to rounds) {
      val keep = degrees(und).filter(col("d") >= k).select(col("node"))
      und = und
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .pin(true)
    }
    degrees(und)
  }

  /** One-row graph summary — the sanity sheet read before any iterative
    * graph op is launched at scale: node/edge counts, multi-edge rate
    * (n_edges vs n_edges_distinct — high multiplicity means the input
    * wants a pre-aggregation), reciprocity (directed edges whose
    * reverse exists — near 1 means treat it as undirected and halve the
    * work), and the out-degree extremes that predict join skew
    * ([[graft.operators.Skew]]'s graph twin). Two scans of the edge
    * frame (degree rollup + the reciprocity semi-join), everything else
    * node/one-row-sized.
    */
  def profile(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull)
    val de = e.distinct().pin(false) // reciprocity joins it against itself
    val nodes = e.select(col("__s").as("n")).union(e.select(col("__d")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val recip = de.as("a")
      .join(de.as("b"), col("a.__s") === col("b.__d") && col("a.__d") === col("b.__s"),
        "left_semi")
      .agg(count(lit(1)).as("__nr"))
    val deg = e.groupBy(col("__s")).agg(count(lit(1)).as("__od"))
      .agg(max(col("__od")).as("max_out_deg"),
        count(lit(1)).as("__nsrc"), sum(col("__od")).as("__ne"))
    val dcount = de.agg(count(lit(1)).as("n_edges_distinct"))
    deg
      .crossJoin(broadcast(nodes)) // one-row frames: lint-exempt
      .crossJoin(broadcast(dcount))
      .crossJoin(broadcast(recip))
      .select(
        col("n_nodes"), col("__ne").as("n_edges"), col("n_edges_distinct"),
        col("max_out_deg"),
        r6(col("__ne").cast("double") / col("__nsrc").cast("double")).as("avg_out_deg"),
        when(col("n_edges_distinct") > 0,
          r6(col("__nr").cast("double") / col("n_edges_distinct").cast("double")))
          .as("reciprocity"))
  }

  /** Bounded-hop multi-source BFS: shortest hop-distance from a SEED
    * set to every node within `maxHops`, over the directed edge frame
    * ([[undirected]] the edges first for symmetric reach). The
    * "blast-radius" primitive — what is within k hops of the flagged
    * accounts / contaminated docs / seed URLs — and the exact
    * counterpart of [[adamicAdar]]'s 2-hop wedges at any bounded depth.
    *
    * Level-synchronous frontier iteration, the 100 TB BFS shape: hop h
    * expands only the FRONTIER (nodes first reached at h−1) through one
    * node-keyed equi-join, then anti-joins the visited set — work per
    * hop is O(frontier out-edges), never corpus-wide, and the hop count
    * is a loud ≤ 32 contract (an unbounded BFS on a social graph is a
    * full-graph scan by hop ~6). Visited/frontier frames pin per
    * iteration so the lazy plan never re-expands earlier hops.
    *
    * Output: (node, dist) for every reached node (seeds at 0); nodes
    * beyond `maxHops` are absent, by contract.
    */
  def kHopDistances(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32,
      s"maxHops must be in [1, 32], got $maxHops — deeper reach on a " +
        "connected graph is a full scan; use connected components instead")
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull)
    var visited = seeds.select(seeds.columns.head).toDF("node")
      .filter(col("node").isNotNull).distinct()
      .withColumn("dist", lit(0L)).pin(true)
    var frontier = visited
    var h = 1
    var done = false
    while (h <= maxHops && !done) {
      val next = frontier
        .join(e, frontier("node") === e("__s"))
        .select(col("__d").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        .pin(true)
      if (next.isEmpty) done = true
      else {
        visited = visited.union(next).pin(true)
        frontier = next
        h += 1
      }
    }
    visited
  }

  /** Adamic–Adar link prediction: for every NON-adjacent pair (a, b)
    * with at least `minCommon` common neighbors, score = Σ_z 1/ln(deg z)
    * over the common neighbors z — rare shared neighbors are strong
    * evidence, hub co-membership is nearly none. The standard "which
    * edges are missing" signal for entity-graph completion and related-
    * item candidates.
    *
    * Scale shape: pairs are generated through their common neighbor —
    * adjacency self-joined on the CENTER z — so the cost is Σ deg(z)²
    * over centers, never all-pairs. Centers above `maxDegree` are
    * dropped BEFORE the join (a hub's wedge fan-out is quadratic in its
    * degree while its 1/ln(deg) contribution tends to zero — the
    * classic truncation, and why a celebrity key never explodes one
    * join task). Existing edges leave via a left-anti join against the
    * canonical edge set. 1/ln terms are DECIMAL(38,12)-summed so the
    * reduction order cannot wiggle low bits across engines.
    *
    * Output: (a, b, n_common, score) with a < b, both non-adjacent.
    */
  def adamicAdar(
      edges: DataFrame,
      maxDegree: Int = 64,
      minCommon: Long = 2L,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val und = undirected(edges, srcCol, dstCol)
    val deg = degrees(und)
    val adj = und.select(col("a").as("z"), col("b").as("x"))
      .unionAll(und.select(col("b").as("z"), col("a").as("x")))
    // centers kept ≤ maxDegree (and ≥ 2 — a degree-1 node has no second
    // neighbor to pair); referenced twice by the wedge self-join
    val centers = adj
      .join(
        deg.filter(col("d") >= 2 && col("d") <= maxDegree)
          .select(col("node").as("z"), col("d")),
        "z")
      .pin(true)
    val pairs = centers.as("l")
      .join(centers.as("r"), col("l.z") === col("r.z") && col("l.x") < col("r.x"))
      .select(
        col("l.x").as("a"), col("r.x").as("b"),
        (lit(1.0) / log(col("l.d").cast("double"))).cast("decimal(38,12)").as("__t"))
    pairs
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("__t")).cast("double").as("score"))
      .join(und, Seq("a", "b"), "left_anti")
      .filter(col("n_common") >= minCommon)
  }

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over the (direction-doubled) edge list. r > 0: hubs link to hubs
    * (social/citation structure); r < 0: hubs link to leaves (the
    * hub-and-spoke shape of template farms and scraped link wheels) —
    * a one-number structural fingerprint for graph-shaped corpora.
    *
    * Shape: degrees are one aggregation; attaching them to both edge
    * endpoints is two hash joins against the node-sized degree frame;
    * the correlation is one moment aggregate over the doubled edge
    * list. Degrees are exact integers so every moment sum is exact
    * through DECIMAL — no rounding pin needed anywhere, and the final
    * r is a single fixed double sequence. One row out:
    * (n_nodes, n_edges, r); r NULL when all degrees are equal
    * (zero variance — e.g. a perfect cycle).
    */
  def assortativity(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = degrees(und).pin(false)
    // both orientations, so each undirected edge contributes (du,dv)
    // and (dv,du) — the standard symmetric estimator
    val both = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .join(deg.select(col("node").as("u"), col("d").as("__du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("__dv")), "v")
    val x = col("__du").cast("double")
    val y = col("__dv").cast("double")
    val m = both.agg(
      count(lit(1)).as("__m2"),
      dsum0(x).as("__sx"),
      dsum0(x * y).as("__sxy"),
      dsum0(x * x).as("__sxx"))
    // symmetry: sy = sx, syy = sxx
    val nD = col("__m2").cast("double")
    val cov = nD * col("__sxy") - col("__sx") * col("__sx")
    val v = nD * col("__sxx") - col("__sx") * col("__sx")
    m.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(
        col("n_nodes"),
        (col("__m2") / lit(2)).cast("long").as("n_edges"),
        when(v > 0.0, cov / v).as("r"))
  }

  /** Modularity audit of ANY node labeling: given `labels(node, label)`,
    * per label the node count, internal-edge fraction e_c = L_c/m, the
    * degree mass fraction a_c = D_c/2m, and the modularity contribution
    * q_c = e_c − a_c² (sum over labels = Newman's Q). "Is this
    * partition real community structure or just a coloring" — run it on
    * dedup clusters, domain groupings, or topic labels before trusting
    * them to stratify anything; Q ≈ 0 means the labels don't bind the
    * graph at all.
    *
    * Shape: two hash joins of the edge list against the node-sized
    * label frame (internal edges = label match), one aggregation per
    * side; everything downstream lives on the label-sized frame. All
    * quantities are exact integer counts until the final three divides
    * — one fixed double sequence, no rounding pin needed. Unlabeled
    * nodes keep their degree mass under label NULL so Q stays honest
    * (dropping them would inflate every a_c).
    */
  def modularity(
      edges: DataFrame,
      labels: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      nodeCol: String = "node",
      labelCol: String = "label"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val lab = labels
      .select(col(nodeCol).as("node"), col(labelCol).as("label"))
      .groupBy("node").agg(first(col("label")).as("label"))
      .pin(false)
    val withLabs = und
      .join(lab.select(col("node").as("a"), col("label").as("__la")), Seq("a"), "left")
      .join(lab.select(col("node").as("b"), col("label").as("__lb")), Seq("b"), "left")
      .pin(false)
    val m = withLabs.agg(count(lit(1)).as("__m"))
    // degree mass per label (directed-doubled), node count per label
    val degMass = withLabs
      .select(col("__la").as("label"))
      .unionAll(withLabs.select(col("__lb").as("label")))
      .groupBy("label").agg(count(lit(1)).as("__d"))
    val nodesPer = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .distinct()
      .join(lab, Seq("node"), "left")
      .groupBy("label").agg(count(lit(1)).as("n_nodes"))
    val internal = withLabs
      .filter(col("__la").isNotNull && col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("__lc"))
    val mD = col("__m").cast("double")
    val eC = coalesce(col("__lc"), lit(0L)).cast("double") / mD
    val aC = col("__d").cast("double") / (lit(2.0) * mD)
    nodesPer
      .join(degMass, Seq("label"), "left")
      .join(internal, Seq("label"), "left")
      .crossJoin(broadcast(m)) // one-row totals frame: lint-exempt
      .select(
        col("label"),
        col("n_nodes"),
        coalesce(col("__lc"), lit(0L)).as("n_internal"),
        eC.as("e_c"),
        aC.as("a_c"),
        (eC - aC * aC).as("q_c"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) over the undirected simple graph: every node starts labeled
    * with itself; each round it adopts the most frequent label among its
    * neighbors (ties → minimum label, so the whole run is deterministic —
    * the async random-order variant is not reproducible and therefore
    * not auditable). The cheap communities-at-scale pass whose output
    * [[modularity]] then audits ("is this partition real structure").
    *
    * `iterations` is a bounded contract (≤ `maxIterations`, loud
    * require): each round is two key-shuffles (neighbor-label expand →
    * per-node majority window) over the edge list — the Pregel
    * iteration shape, linear in |E| per round, nothing global. Plain
    * LPA oscillates on bipartite structure under synchronous update;
    * bounded rounds make that a fixed cost, not a convergence hazard
    * (run modularity on the output to decide if more rounds help).
    *
    * Output: (node, community) for every non-isolated node.
    */
  def labelPropagation(
      edges: DataFrame,
      iterations: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIterations: Int = 8): DataFrame = {
    require(iterations >= 1 && iterations <= maxIterations,
      s"iterations must be in [1, $maxIterations], got $iterations — " +
        "each round is a full edge shuffle; a deeper sweep wants a real Pregel loop")
    val und = undirected(edges, srcCol, dstCol)
    // both directions: every node sees every neighbor. PINNED
    // (localCheckpoint), not columnar-cached — measured BOTH ways in
    // round 13 on interleaved same-host pairs: a MEMORY_AND_DISK
    // InMemoryRelation read ~2x FASTER at sf10 (39.6-47.7 s vs
    // 78.1-95.8 s for the whole q_communities) but ~1.5x SLOWER at
    // sf100 (311-357 s vs 195-249 s), and sf100 is where the absolute
    // cost lives, so the pin stays. The upstream co-purchase self-join
    // (the expensive subtree) runs once per variant either way; the
    // crossover is in how the materialized frame re-reads across the
    // LPA rounds. Round-2 candidate: size-adaptive storage.
    val nbrs = und.select(col("a").as("node"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nb")))
      .pin(true)
    var labels = nbrs.select(col("node")).distinct()
      .select(col("node"), col("node").as("community"))
    for (_ <- 1 to iterations) {
      // majority pick as a hash-aggregate struct-min instead of a
      // row_number window: min((-count, label)) IS (max count, tie min
      // label) — the same winner the (__c desc, __lbl asc) window chose,
      // without the per-round partition SORT a WindowExec needs, and
      // with map-side partial aggregation shrinking the exchange
      // (guide §2.2)
      labels = nbrs
        .join(labels.select(col("node").as("nb"), col("community").as("__lbl")), "nb")
        .groupBy(col("node"), col("__lbl"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("__c")).as("__nc"), col("__lbl"))).as("__w"))
        .select(col("node"), col("__w.__lbl").as("community"))
    }
    labels
  }

  /** [[labelPropagation]] summarized to community sizes ≥ `minSize` —
    * the label-frame-sized report (community id = its minimum member
    * keeps the id stable across runs regardless of which member named
    * the community).
    */
  def communitySizes(
      edges: DataFrame,
      iterations: Int,
      minSize: Long,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    labelPropagation(edges, iterations, srcCol, dstCol)
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_member"))
      .filter(col("n_nodes") >= minSize)
      .select(col("community"), col("n_nodes"), col("min_member"))
}
