package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import Fixtures._

/** Graph algorithms over the planted doc and event graphs. */
object GraphGates {

  /** Chord formulas of (doc_id, n_nodes) that plant the doc graphs:
    * ring + 2-chord + the ×31 hash chord (the triangle fixture), its
    * k-core variant with a ×2 chord, the ×31 chord alone (the sparse
    * fixture), and PageRank's two hash chords. */
  private val triangleChords = Seq("(doc_id + 1) % n_nodes",
    "(doc_id + 2) % n_nodes", "(doc_id * 31 + 7) % n_nodes")
  private val kcoreChords = Seq("(doc_id + 1) % n_nodes",
    "(doc_id + 2) % n_nodes", "(doc_id * 2 + 1) % n_nodes")
  private val sparseChords = Seq("(doc_id * 31 + 7) % n_nodes")
  private val pagerankChords =
    Seq("(doc_id * 31 + 7) % n_nodes", "(doc_id * 17 + 3) % n_nodes")

  /** A planted doc graph: the nodes (doc_id) and an edge (src, dst) from
    * every doc to each of its `chords`. */
  private def plantedGraph(s: SparkSession, dir: String, chords: Seq[String])
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val cnt = docs.agg(count(lit(1)).as("n_nodes"))
    val dst =
      if (chords.size == 1) expr(chords.head)
      else explode(array(chords.map(expr): _*))
    (docs, docs.crossJoin(broadcast(cnt))
      .select(col("doc_id").as("src"), dst.as("dst")))
  }

  /** SQL twin of [[plantedGraph]]'s edges as CTEs: `nn` (the node
    * count), `raw` (the directed chords) and `e` (canonical undirected
    * pairs a < b, self-loops dropped; named `eName`). */
  private def plantedEdgesSql(chords: Seq[String], eName: String = "e"): String = {
    val raw =
      if (chords.size == 1) s"  SELECT doc_id AS s, ${chords.head} AS d\n  FROM documents, nn"
      else (s"  SELECT doc_id AS s, ${chords.head} AS d FROM documents, nn" +:
        chords.tail.map(c => s"  SELECT doc_id, $c FROM documents, nn"))
        .mkString("\n  UNION ALL\n")
    s"""nn AS (SELECT count(*) AS n_nodes FROM documents),
       |raw AS (
       |$raw),
       |$eName AS MATERIALIZED (
       |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
       |  FROM raw WHERE s <> d)""".stripMargin
  }

  val all: Seq[Gate] = Seq(

    // Connected components as a first-class graph op — the pointer-
    // jumping min-label propagation (Dedup.clusterPairs: O(log L)
    // rounds even on chain graphs, edges cached pre-partitioned on the
    // join key, convergence witnessed by a one-row label-sum aggregate)
    // run on a planted chain+bridge graph: decade chains (k→k+1 except
    // at k%10==9) merged sparsely by +100 bridges at k%97==0. The
    // oracle computes components INDEPENDENTLY via a recursive-CTE
    // reachability closure and min(root) — a different algorithm
    // entirely, so agreement certifies the fixpoint, not the
    // implementation.
    Gate("graph_connected_components", (s, dir) => {
      val nodes = Tables.customer(s, dir).select(col("c_custkey").as("k"))
        .filter(col("k") < 3000)
      val e1 = nodes.filter(col("k") % 10 =!= 9)
        .select(col("k").as("id_a"), (col("k") + 1).as("id_b"))
      val e2 = nodes.filter(col("k") % 97 === 0)
        .select(col("k").as("id_a"), (col("k") + 100).as("id_b"))
      val edges = e1.unionByName(e2)
        .join(nodes.withColumnRenamed("k", "id_b"), Seq("id_b"), "left_semi")
      val cc = graft.ops.Dedup.clusterPairs(edges)
      val sizes = cc.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, Seq("cluster"))
        .select(col("id"), col("cluster"), col("cluster_size"))
        .orderBy("id")
    },
      // Independent algorithm: undirected reachability closure (recursive
      // CTE, UNION-deduped) then min(root) per node — the component
      // minimum reached by a different route than pointer jumping.
      """WITH RECURSIVE nodes AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey < 3000),
        |e AS (
        |  SELECT src, dst FROM (
        |    SELECT k AS src, k + 1 AS dst FROM nodes WHERE k % 10 <> 9
        |    UNION ALL
        |    SELECT k AS src, k + 100 AS dst FROM nodes WHERE k % 97 = 0) t
        |  WHERE dst IN (SELECT k FROM nodes)),
        |ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |reach AS (
        |  SELECT src AS id, src AS root FROM ue
        |  UNION
        |  SELECT ue.dst AS id, r.root FROM reach r JOIN ue ON ue.src = r.id),
        |cc AS (SELECT id, min(root) AS cluster FROM reach GROUP BY id),
        |sz AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY 1)
        |SELECT cc.id, cc.cluster, sz.cluster_size
        |FROM cc JOIN sz USING (cluster) ORDER BY id""".stripMargin),

    // Iterative graph computation — distributed PageRank in exact
    // BIGINT micros over a formula-planted doc graph: every doc links
    // to (id·31+7) mod N and (id·17+3) mod N, the oracle regenerates
    // the identical edge list, so the hash certifies FIVE full rounds
    // of the iterated join-aggregate (the Pregel shape — edge table
    // degree-joined once and persisted, only node-cardinality rank
    // frames move per round). See ops/Graph.scala for the contract.
    Gate("graph_pagerank", (s, dir) => {
      val (docs, edges) = plantedGraph(s, dir, pagerankChords)
      graft.ops.Graph.pagerank(edges, "src", "dst", docs, "doc_id", iters = 5)
        .orderBy("node")
    },
      pagerankOracle(5)),

    // Exact triangle census (degree-oriented "forward" algorithm) over
    // a planted graph: ring + 2-chord makes every {i, i+1, i+2} a
    // triangle by construction, and a multiplicative hash chord adds
    // irregular cross-links. The oracle regenerates the identical edge
    // list and counts canonical a<b<c corner triples, so the hash
    // certifies canonicalization (self-loops, both directions, dup
    // edges), the orientation's total order, the wedge join, and the
    // closing semi-join in one number per node.
    Gate("graph_triangles", (s, dir) => {
      val (docs, edges) = plantedGraph(s, dir, triangleChords)
      graft.ops.Graph.triangleCounts(edges, "src", "dst", docs, "doc_id")
        .orderBy("node")
    },
      s"""WITH ${plantedEdgesSql(triangleChords)},
        |tri AS MATERIALIZED (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri),
        |c AS (SELECT node, count(*) AS t FROM corners GROUP BY node)
        |SELECT d.doc_id AS node, CAST(coalesce(c.t, 0) AS BIGINT) AS n_triangles
        |FROM documents d LEFT JOIN c ON c.node = d.doc_id
        |ORDER BY node""".stripMargin),

    // Local clustering coefficient — triangles over wedges as exact
    // trunc-micros on the same planted graph (spam rings score high,
    // hubs low); degree<2 nodes are 0 by documented convention.
    Gate("graph_clustering_coeff", (s, dir) => {
      val (docs, edges) = plantedGraph(s, dir, triangleChords)
      graft.ops.Graph.clusteringCoeff(edges, "src", "dst", docs, "doc_id")
        .orderBy("node")
    },
      s"""WITH ${plantedEdgesSql(triangleChords)},
        |tri AS MATERIALIZED (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri),
        |c AS (SELECT node, count(*) AS t FROM corners GROUP BY node),
        |dg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node)
        |SELECT d.doc_id AS node,
        |  CAST(coalesce(dg.deg, 0) AS BIGINT) AS deg,
        |  CAST(coalesce(c.t, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN coalesce(dg.deg, 0) >= 2
        |    THEN (2 * coalesce(c.t, 0) * 1000000) // (dg.deg * (dg.deg - 1))
        |    ELSE 0 END AS BIGINT) AS lcc_micro
        |FROM documents d
        |LEFT JOIN c ON c.node = d.doc_id
        |LEFT JOIN dg ON dg.node = d.doc_id
        |ORDER BY node""".stripMargin),

    // Common-neighbors + Adamic–Adar link prediction over the planted
    // graph: per-neighbor contributions quantized to micros BEFORE the
    // sum (integer totals — partial-agg-order-proof), hub cap inactive
    // here (max degree 6) but part of the op contract. The oracle
    // replays the full wedge census with the identical ln shape;
    // already_linked distinguishes triangle closure from genuine
    // candidates.
    Gate("graph_adamic_adar", (s, dir) => {
      val (_, edges) = plantedGraph(s, dir, triangleChords)
      graft.ops.Graph.adamicAdar(edges, "src", "dst", minCommon = 2)
        .orderBy("v", "w")
    },
      s"""WITH ${plantedEdgesSql(triangleChords)},
        |dg AS (
        |  SELECT u, count(*) AS deg FROM (
        |    SELECT a AS u FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |nb AS MATERIALIZED (
        |  SELECT n.u, n.x,
        |    CAST(floor(1000000.0 / ln(CAST(dg.deg AS DOUBLE)) + 0.5)
        |         AS BIGINT) AS aa1
        |  FROM (SELECT a AS u, b AS x FROM e
        |        UNION ALL SELECT b, a FROM e) n
        |  JOIN dg ON dg.u = n.u WHERE dg.deg BETWEEN 2 AND 1000),
        |p AS (
        |  SELECT n1.x AS v, n2.x AS w, count(*) AS common_n,
        |         sum(n1.aa1) AS aa_micro
        |  FROM nb n1 JOIN nb n2 ON n1.u = n2.u AND n1.x < n2.x
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.v, p.w, CAST(common_n AS BIGINT) AS common_n,
        |  CAST(aa_micro AS BIGINT) AS aa_micro,
        |  (e2.a IS NOT NULL) AS already_linked
        |FROM p LEFT JOIN e e2 ON e2.a = p.v AND e2.b = p.w
        |ORDER BY v, w""".stripMargin),

    // Bounded-round k-core peeling (k=5, 3 rounds). The planted graph
    // differs from the triangle gate's deliberately: the ×31 chord is
    // a BIJECTION (gcd(31, N)=1 ⇒ degree exactly 6 everywhere — k-core
    // peeling is vacuous, measured before this formula was chosen), so
    // the ring carries a ×2 chord instead, whose in-degree is 0 or 2 —
    // at every SF the peel cascades through all three rounds (2 / 5 /
    // 6 nodes at sf0.01) and leaves real survivors. The oracle replays
    // every round as chained CTEs — a node peeled one round early or
    // late anywhere flips the hash, including the orphaned-node case
    // (a node whose last edge vanished peels NEXT round, not never).
    Gate("graph_kcore", (s, dir) => {
      val (docs, edges) = plantedGraph(s, dir, kcoreChords)
      graft.ops.Graph.kCorePeel(edges, "src", "dst", docs, "doc_id",
          k = 5, rounds = 3)
        .orderBy("node")
    },
      s"""WITH ${plantedEdgesSql(kcoreChords, "e0")},
        |d1 AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
        |w1 AS MATERIALIZED (
        |  SELECT doc_id AS node FROM documents
        |  EXCEPT SELECT node FROM d1 WHERE deg >= 5),
        |e1 AS MATERIALIZED (
        |  SELECT a, b FROM e0
        |  WHERE a NOT IN (SELECT node FROM w1)
        |    AND b NOT IN (SELECT node FROM w1)),
        |d2 AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
        |w2 AS MATERIALIZED (
        |  SELECT doc_id AS node FROM documents
        |  EXCEPT SELECT node FROM w1
        |  EXCEPT SELECT node FROM d2 WHERE deg >= 5),
        |e2 AS MATERIALIZED (
        |  SELECT a, b FROM e1
        |  WHERE a NOT IN (SELECT node FROM w2)
        |    AND b NOT IN (SELECT node FROM w2)),
        |d3 AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
        |w3 AS MATERIALIZED (
        |  SELECT doc_id AS node FROM documents
        |  EXCEPT SELECT node FROM w1
        |  EXCEPT SELECT node FROM w2
        |  EXCEPT SELECT node FROM d3 WHERE deg >= 5),
        |e3 AS MATERIALIZED (
        |  SELECT a, b FROM e2
        |  WHERE a NOT IN (SELECT node FROM w3)
        |    AND b NOT IN (SELECT node FROM w3)),
        |d4 AS (SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1)
        |SELECT d.doc_id AS node,
        |  CAST(CASE
        |    WHEN d.doc_id IN (SELECT node FROM w1) THEN 1
        |    WHEN d.doc_id IN (SELECT node FROM w2) THEN 2
        |    WHEN d.doc_id IN (SELECT node FROM w3) THEN 3
        |    ELSE 0 END AS BIGINT) AS round_removed,
        |  CAST(coalesce(d4.deg, 0) AS BIGINT) AS final_deg
        |FROM documents d LEFT JOIN d4 ON d4.node = d.doc_id
        |ORDER BY node""".stripMargin),

    // Bounded-round multi-source BFS — hop distance from the seed set
    // {doc_id % 97 == 0} over the SPARSE planted graph (only the ×31
    // functional chord: undirected mean degree 2, so distances spread
    // across the full round budget and the -1 unreached branch is
    // exercised at every SF, unlike the dense triangle fixture whose
    // expander diameter collapses BFS to 2 hops). The oracle replays
    // the expansion as a recursive CTE with min(dist) — a node reached
    // one round early/late, a missed seed, or a leak past the round
    // budget each flip the hash.
    Gate("graph_bfs", (s, dir) => {
      val (docs, edges) = plantedGraph(s, dir, sparseChords)
      val seeds = docs.filter(col("doc_id") % 97 === 0)
      graft.ops.Graph.bfsLayers(edges, "src", "dst", docs, "doc_id",
          seeds, "doc_id", maxRounds = 4)
        .orderBy("node")
    },
      // Recursive-CTE BFS replay: frontier expansion as UNION-deduped
      // (node, dist) reachability bounded by the round budget, then
      // min(dist) per node; unreached nodes pin -1 via the left join.
      s"""WITH RECURSIVE ${plantedEdgesSql(sparseChords)},
        |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |r AS (
        |  SELECT doc_id AS node, 0 AS dist FROM documents WHERE doc_id % 97 = 0
        |  UNION
        |  SELECT adj.v AS node, r.dist + 1 AS dist
        |  FROM r JOIN adj ON adj.u = r.node WHERE r.dist < 4),
        |m AS (SELECT node, min(dist) AS dist FROM r GROUP BY node)
        |SELECT d.doc_id AS node, CAST(coalesce(m.dist, -1) AS BIGINT) AS dist
        |FROM documents d LEFT JOIN m ON m.node = d.doc_id
        |ORDER BY node""".stripMargin),

    // Temporal reachability — earliest arrival along TIME-RESPECTING
    // paths (each hop's contact time ≥ arrival at its source): the
    // contagion/influence question plain reachability answers wrongly
    // when a downstream contact happened before the upstream one.
    // Contact times by formula ((a·13) % 1000, same both directions);
    // seeds doc_id % 97 == 0 exposed at t=0; 6 rounds, chained
    // union-min CTE replay.
    Gate("graph_temporal_reach", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val cnt = docs.agg(count(lit(1)).as("n_nodes"))
      val base = docs.crossJoin(broadcast(cnt)).select(
        col("doc_id").as("a"), expr("(doc_id * 31 + 7) % n_nodes").as("b"))
        .withColumn("t", expr("(a * 13) % 1000"))
      val edges = base.select(col("a").as("src"), col("b").as("dst"), col("t"))
        .unionByName(base.select(col("b").as("src"), col("a").as("dst"), col("t")))
      graft.ops.Graph.temporalReachability(edges, "src", "dst", "t",
          docs, "doc_id",
          docs.filter(col("doc_id") % 97 === 0).withColumn("t0", lit(0L)),
          "doc_id", "t0", rounds = 6)
        .orderBy("node")
    },
      """WITH nn AS (SELECT count(*) AS n_nodes FROM documents),
        |base AS (
        |  SELECT doc_id AS a, (doc_id * 31 + 7) % n_nodes AS b,
        |    (doc_id * 13) % 1000 AS t
        |  FROM documents, nn),
        |adj AS MATERIALIZED (
        |  SELECT a AS u, b AS v, t FROM base
        |  UNION ALL SELECT b, a, t FROM base),
        |a0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS ar
        |  FROM documents WHERE doc_id % 97 = 0),
        |a1 AS MATERIALIZED (SELECT node, min(ar) AS ar FROM (
        |  SELECT * FROM a0 UNION ALL
        |  SELECT e.v, e.t FROM adj e JOIN a0 p ON p.node = e.u AND e.t >= p.ar)
        |  GROUP BY node),
        |a2 AS MATERIALIZED (SELECT node, min(ar) AS ar FROM (
        |  SELECT * FROM a1 UNION ALL
        |  SELECT e.v, e.t FROM adj e JOIN a1 p ON p.node = e.u AND e.t >= p.ar)
        |  GROUP BY node),
        |a3 AS MATERIALIZED (SELECT node, min(ar) AS ar FROM (
        |  SELECT * FROM a2 UNION ALL
        |  SELECT e.v, e.t FROM adj e JOIN a2 p ON p.node = e.u AND e.t >= p.ar)
        |  GROUP BY node),
        |a4 AS MATERIALIZED (SELECT node, min(ar) AS ar FROM (
        |  SELECT * FROM a3 UNION ALL
        |  SELECT e.v, e.t FROM adj e JOIN a3 p ON p.node = e.u AND e.t >= p.ar)
        |  GROUP BY node),
        |a5 AS MATERIALIZED (SELECT node, min(ar) AS ar FROM (
        |  SELECT * FROM a4 UNION ALL
        |  SELECT e.v, e.t FROM adj e JOIN a4 p ON p.node = e.u AND e.t >= p.ar)
        |  GROUP BY node),
        |a6 AS (SELECT node, min(ar) AS ar FROM (
        |  SELECT * FROM a5 UNION ALL
        |  SELECT e.v, e.t FROM adj e JOIN a5 p ON p.node = e.u AND e.t >= p.ar)
        |  GROUP BY node)
        |SELECT doc.doc_id AS node,
        |  CAST(coalesce(a6.ar, -1) AS BIGINT) AS earliest_arrival
        |FROM documents doc LEFT JOIN a6 ON a6.node = doc.doc_id
        |ORDER BY node""".stripMargin),

    // Bounded-round multi-source WEIGHTED shortest paths (synchronous
    // Bellman–Ford, reached-only state — no NULL algebra) over the
    // sparse chord graph with per-edge weights 1 + (a+b) % 7; seeds
    // doc_id % 97 == 0, 6 rounds. The oracle replays every round as a
    // chained union-min CTE — a relaxation applied a round early or
    // late anywhere flips the hash.
    Gate("graph_shortest_paths", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val cnt = docs.agg(count(lit(1)).as("n_nodes"))
      val base = docs.crossJoin(broadcast(cnt)).select(
        col("doc_id").as("a"), expr("(doc_id * 31 + 7) % n_nodes").as("b"))
        .withColumn("w", expr("1 + (a + b) % 7"))
      val edges = base.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionByName(base.select(col("b").as("src"), col("a").as("dst"), col("w")))
      graft.ops.Graph.shortestPaths(edges, "src", "dst", "w", docs, "doc_id",
          docs.filter(col("doc_id") % 97 === 0), "doc_id", rounds = 6)
        .orderBy("node")
    },
      """WITH nn AS (SELECT count(*) AS n_nodes FROM documents),
        |base AS (
        |  SELECT doc_id AS a, (doc_id * 31 + 7) % n_nodes AS b
        |  FROM documents, nn),
        |adj AS MATERIALIZED (
        |  SELECT a AS u, b AS v, 1 + (a + b) % 7 AS w FROM base
        |  UNION ALL
        |  SELECT b, a, 1 + (a + b) % 7 FROM base),
        |d0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS d
        |  FROM documents WHERE doc_id % 97 = 0),
        |d1 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT e.v, p.d + e.w FROM adj e JOIN d0 p ON p.node = e.u)
        |  GROUP BY node),
        |d2 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT e.v, p.d + e.w FROM adj e JOIN d1 p ON p.node = e.u)
        |  GROUP BY node),
        |d3 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT e.v, p.d + e.w FROM adj e JOIN d2 p ON p.node = e.u)
        |  GROUP BY node),
        |d4 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT * FROM d3 UNION ALL
        |  SELECT e.v, p.d + e.w FROM adj e JOIN d3 p ON p.node = e.u)
        |  GROUP BY node),
        |d5 AS MATERIALIZED (SELECT node, min(d) AS d FROM (
        |  SELECT * FROM d4 UNION ALL
        |  SELECT e.v, p.d + e.w FROM adj e JOIN d4 p ON p.node = e.u)
        |  GROUP BY node),
        |d6 AS (SELECT node, min(d) AS d FROM (
        |  SELECT * FROM d5 UNION ALL
        |  SELECT e.v, p.d + e.w FROM adj e JOIN d5 p ON p.node = e.u)
        |  GROUP BY node)
        |SELECT doc.doc_id AS node, CAST(coalesce(d6.d, -1) AS BIGINT) AS dist
        |FROM documents doc LEFT JOIN d6 ON d6.node = doc.doc_id
        |ORDER BY node""".stripMargin),

    // Synchronous label propagation (3 rounds, deterministic smallest-
    // label tie-break) over the same sparse chord graph — majority
    // dynamics, not reachability: communities stay finer than the
    // connected components. The oracle replays all three rounds as
    // chained argmax CTEs; one wrong vote, tie, or isolated-node
    // carry-over anywhere flips the hash.
    Gate("graph_label_prop", (s, dir) => {
      val (docs, edges) = plantedGraph(s, dir, sparseChords)
      graft.ops.Graph.labelPropagation(edges, "src", "dst", docs, "doc_id",
          rounds = 3)
        .orderBy("node")
    },
      s"""WITH ${plantedEdgesSql(sparseChords)},
        |adj AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |l0 AS (SELECT doc_id AS node, doc_id AS lbl FROM documents),
        |c1 AS (SELECT adj.v AS node, l.lbl, count(*) AS n
        |  FROM adj JOIN l0 l ON l.node = adj.u GROUP BY 1, 2),
        |w1 AS (SELECT node, lbl,
        |  ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, lbl ASC) AS rn
        |  FROM c1),
        |l1 AS MATERIALIZED (
        |  SELECT l0.node, coalesce(w.lbl, l0.lbl) AS lbl FROM l0
        |  LEFT JOIN (SELECT node, lbl FROM w1 WHERE rn = 1) w
        |    ON w.node = l0.node),
        |c2 AS (SELECT adj.v AS node, l.lbl, count(*) AS n
        |  FROM adj JOIN l1 l ON l.node = adj.u GROUP BY 1, 2),
        |w2 AS (SELECT node, lbl,
        |  ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, lbl ASC) AS rn
        |  FROM c2),
        |l2 AS MATERIALIZED (
        |  SELECT l1.node, coalesce(w.lbl, l1.lbl) AS lbl FROM l1
        |  LEFT JOIN (SELECT node, lbl FROM w2 WHERE rn = 1) w
        |    ON w.node = l1.node),
        |c3 AS (SELECT adj.v AS node, l.lbl, count(*) AS n
        |  FROM adj JOIN l2 l ON l.node = adj.u GROUP BY 1, 2),
        |w3 AS (SELECT node, lbl,
        |  ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, lbl ASC) AS rn
        |  FROM c3),
        |l3 AS (
        |  SELECT l2.node, coalesce(w.lbl, l2.lbl) AS lbl FROM l2
        |  LEFT JOIN (SELECT node, lbl FROM w3 WHERE rn = 1) w
        |    ON w.node = l2.node)
        |SELECT node, lbl AS label FROM l3 ORDER BY node""".stripMargin)
  )
}
