package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation — the Pregel-shaped workload class
  * (PageRank here; the near-dup clustering in [[Dedup]] is the other
  * resident: pointer-jumping connected components). The reference has
  * no graph surface at all (`/root/reference/src/` is a two-Lambda
  * row-wise ETL); this exists because a training-data engine needs the
  * iterated join-aggregate shape — link-graph quality signals, citation
  * ranks, crawl-frontier scoring all reduce to it.
  *
  * == Scale shape (the part that must survive 100 TB) ==
  * Per iteration exactly two wide ops, both keyed and partial-agg
  * friendly:
  *   1. `edges ⋈ ranks` on `src` — the edge table is joined AGAINST
  *      each round, so it is degree-joined once, persisted, and its
  *      hash partitioning on `src` is reused every round (the cached
  *      `InMemoryRelation` keeps `HashPartitioning(src)`, so only the
  *      |V|-row rank frame shuffles to meet it — never the |E|-row
  *      edge table again).
  *   2. `groupBy(dst).sum` — the message shuffle. Map-side partial
  *      aggregation compacts per-partition messages to ≤|V| rows
  *      before the wire, which is what makes a 100 TB edge list
  *      tractable: the shuffle carries node-cardinality partials, not
  *      edge-cardinality messages.
  * The rank frame is re-frozen each round ([[Pins.freeze]], local or
  * reliable per [[Pins.ReliableCheckpointKey]]) and the round it
  * supersedes is freed, so lineage stays O(1) across rounds instead of
  * growing a 2-wide-ops-per-iteration plan tree, a mid-schedule
  * re-evaluation can never observe a different shuffle, and only the
  * last round stays pinned. Every iterative loop below follows the same
  * discipline, and frees its loop-invariant pins once the loop ends
  * unless the result reads them. Driver state:
  * nothing — no collect anywhere; convergence is fixed-round by
  * contract (callers wanting a delta-based stop should census
  * `abs(r-r_prev)` themselves, one extra keyed join).
  *
  * == Exactness (why the gate can hash-match DuckDB) ==
  * Ranks are BIGINT micros end-to-end. Init 1 000 000 per node; each
  * round `r'(v) = 150 000 + Σ_{u→v} floor(85·r(u) / (100·outdeg(u)))`
  * — damping 0.85 and teleport 0.15 expressed as integer ratios, the
  * one division a floor-div of non-negative BIGINTs (identical in
  * Spark's `div` and DuckDB's `//`). No double ever exists, so
  * partial-agg merge order, partitioning, and engine cannot move a
  * rank by even a micro. Headroom: Σ ranks ≤ |V|·1e6 and 85·r(u) ≤
  * 85·|V|·1e6 — overflow needs |V| ≳ 1e11 nodes in ONE graph; the
  * docstring contract caps support at 1e10 nodes.
  *
  * == Semantics choices (documented, deterministic) ==
  * - Dangling nodes (outdeg 0) contribute nothing: their mass is
  *   DROPPED, not redistributed — the variant with no global
  *   all-nodes broadcast term, hence no extra shuffle. Consequence:
  *   Σ ranks is not conserved; ranks remain a valid relative ordering
  *   (the common search-engine simplification).
  * - The node universe is an explicit frame, not inferred from edges,
  *   so isolated nodes exist and hold the teleport floor 150 000 after
  *   any round ≥ 1 (inferring nodes from edges silently drops them).
  * - Self-loops and parallel edges are honored as given (a parallel
  *   edge doubles that neighbor's contribution) — dedup upstream if
  *   that is not the intent.
  */
object Graph {

  /** PageRank in exact BIGINT micros. `nodes` is the node universe
    * (one row per node id); `edges` the directed edge list. Returns
    * `(node, rank_micro)` after exactly `iters` rounds (iters = 0
    * returns the uniform init). Contract: ids non-negative longs,
    * |V| ≤ 1e10 (integer headroom, see object doc). */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String, iters: Int): DataFrame =
    pagerankKeyed(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")), "src", "dst",
      nodes.select(col(nodeCol).cast("long").as("node")), "node", iters)

  /** Exact per-node triangle counts via degree orientation — the
    * "forward" algorithm (Schank & Wagner 2005; the shape Cohen's
    * MapReduce triangle paper and every Spark/Trino implementation
    * use). Input is an arbitrary edge list: it is canonicalized to an
    * undirected simple graph first (self-loops dropped, both directions
    * and parallel edges collapsed), so counts are graph-theoretic
    * triangles, not artifacts of edge-list encoding.
    *
    * == Why orientation is the 100 TB shape ==
    * The naive wedge join (`e ⋈ e` on the shared endpoint) fans out
    * Σ deg(v)² wedges — one celebrity node with 10⁷ followers yields
    * 10¹⁴ wedges and the job is dead. Orienting every edge from its
    * (degree, id)-smaller endpoint to the larger bounds every node's
    * OUT-degree by O(√m) regardless of its true degree (a node of
    * out-degree d has d neighbors of degree ≥ its own, so d·d ≤ 2m),
    * which caps the wedge fan-out at Σ outdeg(v)² ≤ m^{3/2} — the
    * known worst-case-optimal bound for triangle enumeration. The
    * orientation order must be TOTAL (degree ties broken by id) or
    * triangles with tied corners would be dropped or double-counted.
    *
    * Plan: canonical dedup (one shuffle on the edge pair), a node-
    * cardinality degree agg, two edge-table joins against that small
    * degree frame, the wedge self-join on the shared origin, and the
    * closing semi-join on the (v,w) pair — every shuffle keyed, no
    * cartesian, no window, no driver state. The oriented edge table is
    * frozen once ([[Pins.freeze]]) because three operators scan it; the
    * result reads it, so it stays pinned until the caller's
    * [[Pins.scoped]] block ends (same lifetime contract as
    * `Dedup.prefixFilterJoin`).
    *
    * Returns `(node, n_triangles)` — one row per node in `nodes`
    * (isolated and triangle-free nodes report 0), each triangle
    * crediting all three corners. Σ n_triangles = 3 × (global triangle
    * count). */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String): DataFrame = {
    val n = nodes.select(col(nodeCol).cast("long").as("node"))
    val canon = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = canon.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Orient a→b iff (deg(a), a) < (deg(b), b); carry the destination's
    // order key so the wedge join below can order neighbor pairs
    // without another degree join.
    val oriented = Pins.freeze(canon
      .join(deg.select(col("node").as("a"), col("deg").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("_db")), "b")
      .select(
        when(col("_da") < col("_db") ||
             (col("_da") === col("_db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("_db").as("dv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("_da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    // Wedges from each origin u: out-neighbor pairs (v, w) with v ≺ w
    // in the SAME (deg, id) order the orientation used — the closing
    // edge, if present, is then oriented exactly v→w.
    val e1 = oriented.select(col("u"), col("v"), col("dv"))
    val e2 = oriented.select(col("u"), col("v").as("w"), col("dv").as("dw"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("dv") < col("dw") ||
              (col("dv") === col("dw") && col("v") < col("w")))
    val triangles = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"), "left_semi")
      .select(col("u"), col("v"), col("w"))
    val perNode = triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    n.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("t"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient per node — triangles over wedges,
    * `lcc = 2T / (d(d−1))`, the standard "how clique-like is this
    * node's neighborhood" signal (spam rings score high, crawl hubs
    * low). Composes [[triangleCounts]] with a degree census over the
    * same canonical simple graph; the ratio is emitted as exact
    * trunc-micros (`2T·10⁶ div d(d−1)`, non-negative operands — same
    * in DuckDB's `//`), so no double ever exists. Nodes of degree < 2
    * have no wedges: lcc_micro is 0 by convention (documented; NULL
    * would poison downstream averages silently). Returns
    * (node, deg, n_triangles, lcc_micro). */
  def clusteringCoeff(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String): DataFrame = {
    val canon = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = canon.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    triangleCounts(edges, srcCol, dstCol, nodes, nodeCol)
      .join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        col("n_triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          expr("(2 * n_triangles * 1000000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  /** Common-neighbors + Adamic–Adar link prediction: for every node
    * pair sharing ≥ `minCommon` neighbors, the count and the AA score
    * Σ_{u ∈ N(v)∩N(w)} 1/ln(deg(u)) — the classic "who should be
    * linked" signal (rare shared neighbors weigh more than hubs).
    * Contributions are quantized per neighbor —
    * `floor(10⁶/ln(deg) + 0.5)` — and SUMMED AS INTEGERS, so the
    * score is partial-agg-order-proof and oracles cell-for-cell; the
    * ln is the one double op, shape-shared with the oracle. deg(u) ≥ 2
    * for any wedge center, so ln is never 0.
    *
    * Scale note — this is NOT the triangle join: a common-neighbor
    * CENSUS needs every wedge, not just ≺-minimal ones, so the
    * fan-out is inherently Σ deg(u)² and degree orientation cannot
    * save it. The standard mitigation is what real link-prediction
    * pipelines do and `maxDegree` implements: drop hub centers above
    * the cap before the wedge self-join (their AA contribution is the
    * smallest anyway — 1/ln(deg) vanishes exactly where the fan-out
    * explodes), bounding the join at |V|·cap². Returns
    * (v, w, common_n, aa_micro, already_linked) with (v, w) id-ordered
    * canonical; `already_linked` distinguishes triangle closure from
    * genuine link candidates without forcing a policy here. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Int = 2, maxDegree: Int = 1000): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val canon = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = canon.select(explode(array(col("a"), col("b"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("deg"))
    // deg ≥ 2: a degree-1 node cannot center a wedge, and its ln(1)=0
    // would divide-by-zero eagerly here (ANSI) before the self-join
    // could exclude it
    val nb = canon.select(col("a").as("u"), col("b").as("x"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("x")))
      .join(deg.filter(col("deg") >= 2 && col("deg") <= maxDegree), Seq("u"))
      .withColumn("aa1",
        floor(lit(1000000.0) / log(col("deg").cast("double")) + lit(0.5))
          .cast("long"))
    val pairs = nb.select(col("u"), col("x").as("v"), col("aa1"))
      .join(nb.select(col("u"), col("x").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
      .groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("common_n"), sum(col("aa1")).as("aa_micro"))
      .filter(col("common_n") >= minCommon)
    pairs
      .join(canon.select(col("a").as("v"), col("b").as("w"),
          lit(true).as("_l")), Seq("v", "w"), "left")
      .select(col("v"), col("w"), col("common_n"), col("aa_micro"),
        coalesce(col("_l"), lit(false)).as("already_linked"))
  }

  /** Bounded-round k-core peeling: `rounds` iterations of "drop every
    * node whose CURRENT degree < k, with all its edges". After enough
    * rounds this converges to the k-core (the maximal subgraph of
    * min-degree ≥ k); with a fixed round budget it is the k-core's
    * upper approximation, and the per-node output says exactly which
    * round — `round_removed` (0 = survived all rounds) plus the
    * surviving subgraph degree `final_deg` (0 for peeled nodes) — so a
    * caller can both test membership and see convergence (no node
    * peeled in the last round ⇒ converged; the gate's fixture
    * converges, checked by the oracle replay itself).
    *
    * Scale shape: per round one degree census (hash agg at node
    * cardinality) and two anti-joins of the edge table against the
    * just-peeled node set (NOT the full removed set — only this
    * round's delta, so the anti-join's small side stays the frontier);
    * the shrinking edge table is re-frozen per round to keep lineage
    * O(1), same discipline as [[pagerank]]. Driver state: nothing. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 100, s"rounds must be in [1,100], got $rounds")
    val n = nodes.select(col(nodeCol).cast("long").as("node"))
    var live = Pins.freeze(edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // removed-set accumulator: (node, round_removed); node-cardinality
    var removed = n.limit(0).select(col("node"), lit(0L).as("round_removed"))
    for (r <- 1 to rounds) {
      val deg = live.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      // this round's frontier = not-yet-removed nodes lacking a ≥k
      // degree — which uniformly catches under-k nodes, isolated
      // nodes, AND nodes orphaned when a prior round took their last
      // edge (those have NO degree row, so a deg<k filter alone would
      // silently leave them "alive" forever)
      val frontier = n
        .join(removed.select(col("node")), Seq("node"), "left_anti")
        .join(deg.filter(col("deg") >= k).select(col("node")),
          Seq("node"), "left_anti")
      val f = Pins.freeze(frontier.select(col("node")))
      val nextRemoved = Pins.freeze(
        removed.unionByName(f.select(col("node"), lit(r.toLong).as("round_removed"))))
      val nextLive = Pins.freeze(live
        .join(f.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(f.select(col("node").as("b")), Seq("b"), "left_anti"))
      Seq(f, removed, live).foreach(Pins.free)
      removed = nextRemoved
      live = nextLive
    }
    val finalDeg = live.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("final_deg"))
    n.join(removed, Seq("node"), "left")
      .join(finalDeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("round_removed"), lit(0L)).as("round_removed"),
        coalesce(col("final_deg"), lit(0L)).as("final_deg"))
  }

  /** [[pagerank]] over ARBITRARY node key types (strings — TextRank's
    * word nodes — or composites): identical integer recurrence and
    * per-round plan, minus the long cast. The key column's type is the
    * caller's; everything else (persisted degree-joined edges, exact
    * BIGINT micro ranks, dangling-mass and parallel-edge semantics)
    * follows the [[pagerank]] contract verbatim. */
  def pagerankKeyed(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String, iters: Int): DataFrame = {
    require(iters >= 0 && iters <= 1000, s"iters must be in [0,1000], got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // persist the node universe when rounds will read it: every round's
    // universe-restore join (and the rank init) re-evaluated the
    // caller's node PLAN — one scan per round for a frame that never
    // changes (opt guide §1.2). |V| rows, bounded; released after the
    // last round (safe: each round's result is eagerly frozen, nothing
    // lazy reads n). With no rounds the returned plan reads n itself,
    // so it stays unpersisted — a cache entry nothing would free.
    val universe = nodes.select(col(nodeCol).as("node"))
    val n = if (iters > 0) universe.persist() else universe

    // Degree-join once; persist so every round reuses the hash(src)
    // partitioning instead of re-shuffling the edge table.
    val ed = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .persist()
    var ranks = n.select(col("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      val next = Pins.freeze(round(ed, ranks, n))
      Pins.free(ranks)
      ranks = next
    }
    ed.unpersist()
    if (iters > 0) n.unpersist()
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** Bounded-round multi-source BFS: hop distance from a seed SET over
    * the undirected simple graph — the reachability primitive under
    * crawl-depth audits, contamination blast-radius ("everything within
    * k hops of a flagged doc"), and social-distance features. Returns
    * `(node, dist)` for every node in `nodes`: 0 for seeds, the MINIMUM
    * hop count for nodes reached within `maxRounds`, and -1 (not NULL —
    * a join-shaped downstream would silently drop NULLs) for nodes not
    * reached. Seeds not present in `nodes` are ignored; a node both
    * seeded and reachable reports 0 (seed status wins by construction —
    * the round-0 frontier claims it first).
    *
    * == Scale shape ==
    * Classic frontier expansion, the Pregel BFS: per round one keyed
    * join (frontier ⋈ adjacency — the frontier side is whatever the
    * graph's expansion makes it, so no broadcast hint: AQE may pick one
    * when a round's frontier is genuinely small), one `distinct` at
    * candidate cardinality, and one anti-join against the visited set.
    * Visited and frontier are re-frozen per round so lineage stays O(1)
    * across rounds — the [[pagerank]] discipline. Driver state:
    * nothing. Total work is
    * O(Σ_r |frontier_r ⋈ adj|) = O(m) over all rounds on a connected
    * sweep — each undirected edge is crossed at most twice. */
  def bfsLayers(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String, seeds: DataFrame, seedCol: String,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 0 && maxRounds <= 1000,
      s"maxRounds must be in [0,1000], got $maxRounds")
    val n = nodes.select(col(nodeCol).cast("long").as("node"))
    val canon = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // adjacency, both directions — BFS walks the undirected graph
    val adj = Pins.freeze(
      canon.select(col("a").as("u"), col("b").as("v"))
        .unionByName(canon.select(col("b").as("u"), col("a").as("v"))))
    var frontier = Pins.freeze(
      n.join(seeds.select(col(seedCol).cast("long").as("node")).distinct(),
        Seq("node"), "left_semi"))
    var visited = Pins.freeze(
      frontier.select(col("node"), lit(0L).as("dist")))
    for (r <- 1 to maxRounds) {
      val next = Pins.freeze(
        adj.join(frontier.select(col("node").as("u")), Seq("u"))
          .select(col("v").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti"))
      val nextVisited = Pins.freeze(visited.unionByName(
        next.select(col("node"), lit(r.toLong).as("dist"))))
      Seq(frontier, visited).foreach(Pins.free)
      frontier = next
      visited = nextVisited
    }
    Seq(adj, frontier).foreach(Pins.free)
    n.join(visited, Seq("node"), "left")
      .select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** Bounded-round synchronous label propagation (Raghavan et al.
    * 2007) — community detection: every node starts as its own label
    * and each round adopts the MOST FREQUENT label among its
    * neighbors, ties broken toward the smallest label — a total,
    * deterministic rule (the original algorithm's random tie-break is
    * exactly what a reproducible pipeline cannot ship). Distinct from
    * connected components: CC merges everything reachable; LPA's
    * majority dynamics find internally-dense regions and can hold a
    * boundary between two communities connected by a thin bridge.
    * Isolated nodes (and any node with no neighbors after edge
    * canonicalization) keep their current label.
    *
    * Synchronous update: all round-r labels derive from round-(r−1)
    * labels. With the deterministic tie-break the fixed round budget
    * gives a reproducible (if not globally converged) labeling; emit
    * `rounds` high enough that the census stabilizes for your graph,
    * or compare successive rounds yourself (one extra join).
    *
    * Scale shape per round: one keyed join (adjacency ⋈ labels — the
    * [[pagerank]] message pattern: only the node-cardinality label
    * frame moves to meet the cached adjacency partitioning), one hash
    * agg at (node, label) grain with map-side partials, one max_by
    * argmax agg at node grain, one node-universe restore join; labels
    * re-pinned per round (O(1) lineage). No windows, no driver state.
    * Returns (node, label). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0 && rounds <= 100,
      s"rounds must be in [0,100], got $rounds")
    val n = nodes.select(col(nodeCol).cast("long").as("node"))
    val canon = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = Pins.freeze(
      canon.select(col("a").as("u"), col("b").as("v"))
        .unionByName(canon.select(col("b").as("u"), col("a").as("v"))))
    var labels = Pins.freeze(n.select(col("node"), col("node").as("label")))
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.select(col("node").as("u"), col("label")), Seq("u"))
        .groupBy(col("v"), col("label"))
        .agg(count(lit(1)).as("_n"))
        .groupBy(col("v"))
        .agg(max_by(col("label"), struct(col("_n"), (lit(0L) - col("label"))))
          .as("_new"))
      val next = Pins.freeze(labels
        .join(votes, col("node") === col("v"), "left")
        .select(col("node"), coalesce(col("_new"), col("label")).as("label")))
      Pins.free(labels)
      labels = next
    }
    Pins.free(adj)
    labels
  }

  /** Bounded-round multi-source shortest paths (synchronous
    * Bellman–Ford) — [[bfsLayers]]'s weighted sibling: minimum total
    * edge WEIGHT from a seed set, for cost-distance features
    * ("latency to nearest replica", "hops × quality to a trusted
    * source"). Weights are non-negative BIGINTs by contract (negative
    * weights would need the full |V|−1 rounds AND a negative-cycle
    * check; this op's fixed budget is the scale contract).
    *
    * State is the REACHED-ONLY frame (node, dist): per round the
    * messages `dist(u) + w` join the edge table, union the previous
    * frame, and one min-aggregate keeps the best — no NULL algebra
    * anywhere, relaxation and first-reach are the same code path.
    * With rounds ≥ the (weighted) diameter this IS the exact
    * shortest-path table; under-budgeted rounds give upper bounds on
    * frontier nodes (documented — same convention as [[bfsLayers]]'
    * budget truncation). Unreached nodes report -1.
    *
    * Scale shape per round: one keyed join (edges ⋈ dist — the
    * pagerank message pattern), one union, one min hash-agg with
    * map-side partials; dist re-pinned per round (O(1) lineage).
    * Directed edges as given — pass both directions for an undirected
    * walk. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, nodes: DataFrame, nodeCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0 && rounds <= 1000,
      s"rounds must be in [0,1000], got $rounds")
    val n = nodes.select(col(nodeCol).cast("long").as("node"))
    val e = Pins.freeze(edges.select(
      col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"),
      col(weightCol).cast("long").as("w")))
    var dist = Pins.freeze(
      n.join(seeds.select(col(seedCol).cast("long").as("node")).distinct(),
          Seq("node"), "left_semi")
        .select(col("node"), lit(0L).as("d")))
    for (_ <- 1 to rounds) {
      val msgs = e.join(dist.select(col("node").as("u"), col("d")), Seq("u"))
        .select(col("v").as("node"), (col("d") + col("w")).as("d"))
      val next = Pins.freeze(
        dist.unionByName(msgs).groupBy("node").agg(min(col("d")).as("d")))
      Pins.free(dist)
      dist = next
    }
    Pins.free(e)
    n.join(dist, Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(-1L)).as("dist"))
  }

  /** Bounded-round TEMPORAL reachability: earliest arrival from a seed
    * set along TIME-RESPECTING paths — each hop's edge timestamp must
    * be ≥ the arrival time at its source (non-decreasing along the
    * path, the standard temporal-graph semantics). This is what plain
    * reachability gets WRONG on interaction data: a structural path
    * u→v→w where the v→w contact happened BEFORE u→v cannot carry
    * influence/contagion/information, and this op refuses it. Seeds
    * carry their own start times (exposure instants).
    *
    * Same reached-only state machine as [[shortestPaths]] with arrival
    * = the edge's own timestamp instead of an additive cost: per round
    * the state joins the edge table on the source, the `edge_ts ≥
    * arrival` filter enforces time order, and a min hash-agg keeps
    * the earliest arrival per node. Non-decreasing (≥, not >) by
    * documented convention: two contacts at the same instant chain.
    * Unreached nodes report -1; a seed's arrival is its start time.
    * Scale shape identical to [[shortestPaths]]. */
  def temporalReachability(edges: DataFrame, srcCol: String, dstCol: String,
      tsCol: String, nodes: DataFrame, nodeCol: String,
      seeds: DataFrame, seedCol: String, startCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0 && rounds <= 1000,
      s"rounds must be in [0,1000], got $rounds")
    val n = nodes.select(col(nodeCol).cast("long").as("node"))
    val e = Pins.freeze(edges.select(
      col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"),
      col(tsCol).cast("long").as("t")))
    var arr = Pins.freeze(
      seeds.select(col(seedCol).cast("long").as("node"),
          col(startCol).cast("long").as("a"))
        .groupBy("node").agg(min(col("a")).as("a"))
        .join(n, Seq("node"), "left_semi"))
    for (_ <- 1 to rounds) {
      val msgs = e.join(arr.select(col("node").as("u"), col("a")), Seq("u"))
        .filter(col("t") >= col("a"))
        .select(col("v").as("node"), col("t").as("a"))
      val next = Pins.freeze(
        arr.unionByName(msgs).groupBy("node").agg(min(col("a")).as("a")))
      Pins.free(arr)
      arr = next
    }
    Pins.free(e)
    n.join(arr, Seq("node"), "left")
      .select(col("node"), coalesce(col("a"), lit(-1L)).as("earliest_arrival"))
  }

  /** One PageRank round: message join + per-dst partial-agg sum + node-
    * universe restore. Exposed for plan-shape assertions — the contract
    * is "two wide ops, edge side served from cache, no broadcast of
    * anything node-cardinality, no cartesian". */
  private[graft] def round(ed: DataFrame, ranks: DataFrame,
      n: DataFrame): DataFrame = {
    val inMass = ed.join(ranks, col("src") === col("node"))
      .select(col("dst"), expr("(85 * r) div (100 * deg)").as("c"))
      .groupBy("dst").agg(sum("c").as("in_mass"))
    n.join(inMass, col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(150000L) + coalesce(col("in_mass"), lit(0L))).as("r"))
  }
}
