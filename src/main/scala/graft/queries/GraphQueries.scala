package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Caches, DedupOps, Similarity}

import Shared.t

/** Graph algorithms: components, PageRank, paths, cores and
  * link prediction. */
object GraphQueries {

  val all: Seq[QueryDef] = Seq(

    // CONNECTED COMPONENTS (DedupOps.connectedComponents): pair list →
    // dedup groups by iterative min-label propagation. The edge list is
    // deterministic chains (doc_id → doc_id+1 within each decade), so
    // the oracle is the closed form component = floor(doc_id/10)*10 —
    // and chains are label propagation's WORST case (9 hops), proving
    // convergence, not just star graphs.
    QueryDef("q70_connected_components", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val edges = ids.filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"))
      DedupOps.connectedComponents(edges)
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
      // closed form: chains within each decade of doc ids, so the
      // component representative is the decade floor (nodes that appear
      // in any edge = all docs, since every decade chains 0..9)
      """SELECT doc_id, (doc_id // 10) * 10 AS component
         FROM documents
         ORDER BY doc_id"""),

    // The SAME chain graph through the ALTERNATING STAR algorithm
    // (Graph.connectedComponentsStar, Kiveris et al.): edge-rewriting
    // CC for high-diameter adversarial graphs, vs q70's pointer
    // jumping — two algorithms, one oracle-checked contract.
    QueryDef("q96_cc_star", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val edges = ids.filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"))
      graft.ops.Graph.connectedComponentsStar(edges)
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, (doc_id // 10) * 10 AS component
         FROM documents
         ORDER BY doc_id"""),

    // PAGERANK (ops.Graph.pageRank): 3 damped iterations over a
    // two-family link graph (doc → doc+1, doc → doc+3) — corpus
    // link-analysis for source weighting. Damping 0.75 on purpose:
    // exactly representable in binary AND decimal, so both engines fold
    // the same constants. Sorted-fold contribution sums.
    QueryDef("q78_pagerank", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val tgt1 = ids.select(col("doc_id").as("dst"))
      val e1 = ids.filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
        .join(tgt1, Seq("dst"))
      val e2 = ids.filter(col("doc_id") % 10 < 7)
        .select(col("doc_id").as("src"), (col("doc_id") + 3).as("dst"))
        .join(tgt1, Seq("dst"))
      graft.ops.Graph.pageRank(e1.unionByName(e2), iters = 3,
          damping = 0.75)
        .select(col("node").as("doc_id"), round(col("pr"), 6).as("pr"))
        .orderBy("doc_id")
    },
      // Constants 0.25/0.75/1.0 are exact in decimal AND binary, so
      // DuckDB's decimal literal folding and Spark's double folding agree
      // (0.85 would NOT: decimal(1.0-0.85)::DOUBLE != double 1.0-0.85).
      """WITH ids AS (SELECT doc_id FROM documents),
         e AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 <> 9
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 3
           WHERE a.doc_id % 10 < 7),
         nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS deg
                 FROM e GROUP BY 1),
         pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes),
         s1 AS (SELECT e.v AS node,
                  list_sum(list_sort(list(p.pr / d.deg))) AS s
                FROM e JOIN deg d USING (u) JOIN pr0 p ON p.node = e.u
                GROUP BY 1),
         pr1 AS (SELECT n.node,
                   0.25 + 0.75 * coalesce(s, CAST(0.0 AS DOUBLE)) AS pr
                 FROM nodes n LEFT JOIN s1 USING (node)),
         s2 AS (SELECT e.v AS node,
                  list_sum(list_sort(list(p.pr / d.deg))) AS s
                FROM e JOIN deg d USING (u) JOIN pr1 p ON p.node = e.u
                GROUP BY 1),
         pr2 AS (SELECT n.node,
                   0.25 + 0.75 * coalesce(s, CAST(0.0 AS DOUBLE)) AS pr
                 FROM nodes n LEFT JOIN s2 USING (node)),
         s3 AS (SELECT e.v AS node,
                  list_sum(list_sort(list(p.pr / d.deg))) AS s
                FROM e JOIN deg d USING (u) JOIN pr2 p ON p.node = e.u
                GROUP BY 1),
         pr3 AS (SELECT n.node,
                   0.25 + 0.75 * coalesce(s, CAST(0.0 AS DOUBLE)) AS pr
                 FROM nodes n LEFT JOIN s3 USING (node))
         SELECT node AS doc_id, round(pr, 6) AS pr
         FROM pr3 ORDER BY doc_id"""),

    // TRIANGLE COUNTING (Graph.triangleCount): per-node triangle
    // participation over a three-family doc link graph — the
    // clustering-coefficient numerator. Degree-ordered edge orientation
    // caps wedge fan-out at O(√E) per node (Suri & Vassilvitskii), so
    // no "last reducer" even on celebrity nodes; three key-equality
    // shuffle joins, each triangle found exactly once.
    QueryDef("q128_triangle_count", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val tgt = ids.select(col("doc_id").as("dst"))
      def fam(off: Int, keep: Column): DataFrame =
        ids.filter(keep)
          .select(col("doc_id").as("src"), (col("doc_id") + off).as("dst"))
          .join(tgt, Seq("dst"))
      val edges = fam(1, col("doc_id") % 10 =!= 9)
        .unionByName(fam(2, col("doc_id") % 10 < 8))
        .unionByName(fam(3, col("doc_id") % 10 < 7))
      graft.ops.Graph.triangleCount(edges)
        .select(col("node").as("doc_id"), col("triangles"))
        .orderBy("doc_id")
    },
      // Orientation-free enumeration: the triangle SET is independent of
      // the degree ordering the engine uses, so the oracle counts over
      // canonical (a<b) edges directly.
      """WITH ids AS (SELECT doc_id FROM documents),
         raw AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 <> 9
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 2
           WHERE a.doc_id % 10 < 8
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 3
           WHERE a.doc_id % 10 < 7),
         e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
               FROM raw WHERE u <> v),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1
           JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         n AS (SELECT x AS node FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
         SELECT node AS doc_id, count(*) AS triangles
         FROM n GROUP BY 1 ORDER BY 1"""),

    // MULTI-SOURCE BFS (Graph.bfsHops): minimum hop distance from a
    // sparse seed set over the q128 link graph — one key-equality join +
    // one integer-min groupBy per round, lineage truncated; integer min
    // is order-independent, so deterministic on any partitioning.
    QueryDef("q134_bfs_hops", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val tgt = ids.select(col("doc_id").as("dst"))
      def fam(off: Int, keep: Column): DataFrame =
        ids.filter(keep)
          .select(col("doc_id").as("src"), (col("doc_id") + off).as("dst"))
          .join(tgt, Seq("dst"))
      val edges = fam(1, col("doc_id") % 10 =!= 9)
        .unionByName(fam(2, col("doc_id") % 10 < 8))
        .unionByName(fam(3, col("doc_id") % 10 < 7))
      val sources = ids.filter(col("doc_id") % 97 === 0)
      graft.ops.Graph.bfsHops(edges, sources, maxHops = 5)
        .select(col("node").as("doc_id"), col("hops").cast("long")
          .as("hops"))
        .orderBy("doc_id")
    },
      // UNION (not UNION ALL) in the recursive arm keeps the state
      // bounded at |V|·maxHops distinct (node, hops) rows.
      """WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
         raw AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 <> 9
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 2
           WHERE a.doc_id % 10 < 8
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 3
           WHERE a.doc_id % 10 < 7),
         und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
                 FROM raw WHERE u <> v),
         e AS (SELECT a AS u, b AS v FROM und
               UNION ALL SELECT b, a FROM und),
         walk(node, hops) AS (
           SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
           UNION
           SELECT e.v, walk.hops + 1
           FROM walk JOIN e ON e.u = walk.node
           WHERE walk.hops < 5)
         SELECT node AS doc_id, CAST(min(hops) AS BIGINT) AS hops
         FROM walk GROUP BY 1 ORDER BY 1"""),

    // DEGREE DISTRIBUTION of the q128 link graph: the 30-second skew
    // diagnostic every graph job should run before choosing its join
    // strategy (celebrity nodes ⇒ orientation/salting). Two shuffles:
    // per-node degree, then degree histogram.
    QueryDef("q138_degree_stats", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val tgt = ids.select(col("doc_id").as("dst"))
      def fam(off: Int, keep: Column): DataFrame =
        ids.filter(keep)
          .select(col("doc_id").as("src"), (col("doc_id") + off).as("dst"))
          .join(tgt, Seq("dst"))
      val raw = fam(1, col("doc_id") % 10 =!= 9)
        .unionByName(fam(2, col("doc_id") % 10 < 8))
        .unionByName(fam(3, col("doc_id") % 10 < 7))
      val und = raw.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val deg = und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      deg.groupBy("degree")
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("example"))
        .orderBy("degree")
    },
      """WITH ids AS (SELECT doc_id FROM documents),
         raw AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 <> 9
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 2
           WHERE a.doc_id % 10 < 8
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 3
           WHERE a.doc_id % 10 < 7),
         und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
                 FROM raw WHERE u <> v),
         deg AS (
           SELECT node, count(*) AS degree FROM (
             SELECT a AS node FROM und UNION ALL SELECT b FROM und)
           GROUP BY 1)
         SELECT degree, count(*) AS n_nodes, min(node) AS example
         FROM deg GROUP BY 1 ORDER BY 1"""),

    // WEIGHTED SHORTEST PATHS (Graph.sssp): 4 Bellman-Ford rounds over
    // the link graph with edge weight = id offset (1/2/3) — after round
    // k the cost is the exact minimum over ≤k-edge paths, which is what
    // the bounded recursive-CTE oracle replays. Integer min state.
    QueryDef("q139_weighted_sssp", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val tgt = ids.select(col("doc_id").as("dst"))
      def fam(off: Int, keep: Column): DataFrame =
        ids.filter(keep)
          .select(col("doc_id").as("src"),
            (col("doc_id") + off).as("dst"), lit(off.toLong).as("w"))
          .join(tgt, Seq("dst"))
      val edges = fam(1, col("doc_id") % 10 =!= 9)
        .unionByName(fam(2, col("doc_id") % 10 < 8))
        .unionByName(fam(3, col("doc_id") % 10 < 7))
      val sources = ids.filter(col("doc_id") % 97 === 0)
      graft.ops.Graph.sssp(edges, sources, maxIter = 4)
        .select(col("node").as("doc_id"), col("cost"))
        .orderBy("doc_id")
    },
      """WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
         raw AS (
           SELECT a.doc_id AS u, b.doc_id AS v, 1 AS w
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 <> 9
           UNION ALL
           SELECT a.doc_id, b.doc_id, 2
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 2
           WHERE a.doc_id % 10 < 8
           UNION ALL
           SELECT a.doc_id, b.doc_id, 3
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 3
           WHERE a.doc_id % 10 < 7),
         und AS (
           SELECT least(u, v) AS a, greatest(u, v) AS b,
             min(w)::BIGINT AS w
           FROM raw WHERE u <> v GROUP BY 1, 2),
         e AS (SELECT a AS u, b AS v, w FROM und
               UNION ALL SELECT b, a, w FROM und),
         walk(node, cost, hops) AS (
           SELECT doc_id, CAST(0 AS BIGINT), 0 FROM documents
           WHERE doc_id % 97 = 0
           UNION
           SELECT e.v, walk.cost + e.w, walk.hops + 1
           FROM walk JOIN e ON e.u = walk.node
           WHERE walk.hops < 4)
         SELECT node AS doc_id, min(cost) AS cost
         FROM walk GROUP BY 1 ORDER BY 1"""),

    // ADAMIC–ADAR LINK PREDICTION over the synthetic doc graph (q128's
    // edge family): common-neighbor scores with hub downweighting —
    // the graph-ML feature for "which docs should be linked". Degree
    // cap 64 bounds wedge fan-out (documented recall trade, the
    // MinHash-maxBucket contract); scores fold in sorted order so the
    // oracle replays them bit-for-bit.
    QueryDef("q160_adamic_adar", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val tgt = ids.select(col("doc_id").as("dst"))
      def fam(off: Int, keep: Column): DataFrame =
        ids.filter(keep)
          .select(col("doc_id").as("src"), (col("doc_id") + off).as("dst"))
          .join(tgt, Seq("dst"))
      val edges = fam(1, col("doc_id") % 10 =!= 9)
        .unionByName(fam(2, col("doc_id") % 10 < 8))
        .unionByName(fam(3, col("doc_id") % 10 < 7))
      graft.ops.Graph.adamicAdar(edges, maxDeg = 64)
        .orderBy("u", "w")
    },
      """WITH ids AS (SELECT doc_id FROM documents),
         raw AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 <> 9
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 2
           WHERE a.doc_id % 10 < 8
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 3
           WHERE a.doc_id % 10 < 7),
         e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
               FROM raw WHERE u <> v),
         adj AS (SELECT a AS z, b AS x FROM e
                 UNION ALL SELECT b, a FROM e),
         deg AS (SELECT z, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
         c AS (
           SELECT adj.z, adj.x, deg.deg
           FROM adj JOIN deg USING (z)
           WHERE deg.deg BETWEEN 2 AND 64),
         wg AS (
           SELECT l.x AS u, r.x AS w, l.deg AS deg
           FROM c l JOIN c r ON l.z = r.z AND l.x < r.x)
         SELECT u, w, count(*)::BIGINT AS n_common,
           round(list_sum(list_sort(list(1.0 / ln(deg)))), 6) AS aa_score
         FROM wg GROUP BY 1, 2 ORDER BY 1, 2"""),

    // K-CORE PEEL (3 rounds, k=3) over the same doc graph: iteratively
    // drop nodes with degree < k in the surviving subgraph — the
    // standard dense-subgraph / spam-farm filter. A FIXED round count
    // makes the operator a pure function of the edge set (the q78/q116
    // static-unroll gate idiom); convergence to the true k-core is
    // property-tested in GraphSpec.
    QueryDef("q161_kcore", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val tgt = ids.select(col("doc_id").as("dst"))
      def fam(off: Int, keep: Column): DataFrame =
        ids.filter(keep)
          .select(col("doc_id").as("src"), (col("doc_id") + off).as("dst"))
          .join(tgt, Seq("dst"))
      val edges = fam(1, col("doc_id") % 10 =!= 9)
        .unionByName(fam(2, col("doc_id") % 10 < 8))
        .unionByName(fam(3, col("doc_id") % 10 < 7))
      graft.ops.Graph.kCorePeel(edges, k = 3, rounds = 3)
        .orderBy("node")
    },
      """WITH ids AS (SELECT doc_id FROM documents),
         raw AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 10 <> 9
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 2
           WHERE a.doc_id % 10 < 8
           UNION ALL
           SELECT a.doc_id, b.doc_id
           FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 3
           WHERE a.doc_id % 10 < 7),
         e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
               FROM raw WHERE u <> v),
         adj AS (SELECT a AS u, b AS v FROM e
                 UNION ALL SELECT b, a FROM e),
         d0 AS (SELECT u, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
         s0 AS (SELECT u FROM d0 WHERE deg >= 3),
         a1 AS (
           SELECT adj.u, adj.v FROM adj
           JOIN s0 ON adj.u = s0.u JOIN s0 t ON adj.v = t.u),
         d1 AS (SELECT u, count(*)::BIGINT AS deg FROM a1 GROUP BY 1),
         s1 AS (SELECT u FROM d1 WHERE deg >= 3),
         a2 AS (
           SELECT adj.u, adj.v FROM adj
           JOIN s1 ON adj.u = s1.u JOIN s1 t ON adj.v = t.u),
         d2 AS (SELECT u, count(*)::BIGINT AS deg FROM a2 GROUP BY 1)
         SELECT u AS node, deg FROM d2 WHERE deg >= 3 ORDER BY node"""),

    // DEGREE DISTRIBUTION with log2 binning (graph profiling beside
    // q128/q160 — the first thing to check before any graph algorithm
    // at 100 TB): exact distinct-edge degrees, bins via binary-string
    // length (⌊log2⌋+1 — pure integer, no float log), per-bin counts
    // and degree range. Two key-equality aggregations.
    QueryDef("q190_degree_histogram", (s, dir) => {
      val deg = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .groupBy("l_partkey").agg(count(lit(1)).as("deg"))
      deg.withColumn("bin", length(bin(col("deg"))).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"), sum(col("deg")).as("n_edges"))
        .orderBy("bin")
    },
      """WITH e AS (
           SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         d AS (
           SELECT l_partkey, count(*)::BIGINT AS deg FROM e GROUP BY 1)
         SELECT length(bin(deg))::BIGINT AS bin,
           count(*)::BIGINT AS n_nodes, min(deg)::BIGINT AS min_deg,
           max(deg)::BIGINT AS max_deg, sum(deg)::BIGINT AS n_edges
         FROM d GROUP BY 1 ORDER BY 1"""),

    // PERSONALIZED PAGERANK in EXACT INTEGER MASS (topic-sensitive
    // ranking, Haveliwala WWW'02, floor-division arithmetic): masses
    // are 10¹² micro-units, spread = (m·85)÷100÷deg with deterministic
    // truncation, so every round is a plain integer sum — no float
    // fold, no ordering sensitivity, and the oracle replays it
    // bit-exactly with `//`. 3 unrolled rounds over the symmetric
    // supplier↔part graph (suppliers even ids, parts odd); one
    // edge-join + one sum-groupBy per round — the q78 plan shape.
    // CHECKPOINTED-GRAIN iteration (the graph-family idiom,
    // ops/Graph.scala): edges/deg materialize ONCE and every round's
    // node-grain mass is checkpointed, so round N+1's plan starts from
    // an RDD scan instead of re-expanding N rounds of lineage — the
    // same change that cut q220's 84 scans to 2 (r09); the 100 TB form
    // is the Pregel contract (edge relation persisted across
    // supersteps, vertex state materialized per superstep).
    QueryDef("q194_ppr", (s, dir) => {
      val e0 = t(s, dir, "lineitem")
        .select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst")).distinct()
      val edges = Caches.small(e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"))))
      val deg = Caches.small(
        edges.groupBy("src").agg(count(lit(1)).as("deg")))
      val seeds = Caches.small(t(s, dir, "supplier")
        .filter(col("s_suppkey") % 10 === 0)
        .select((col("s_suppkey") * 2).as("node")))
      val restart = seeds.select(col("node"),
        lit(150000000000L).as("r"))
      var mass = seeds.select(col("node"), lit(1000000000000L).as("m"))
      // LAZY round frames (r15): each round's mass has exactly ONE
      // consumer — the next round's spread join (or the final top-20)
      // — so the per-round localCheckpoint was three blocking jobs of
      // pure tax; the 3-round plan is a linear DAG over the
      // checkpointed edges/deg/seeds and evaluates in one job. (The
      // checkpointed-grain idiom stays right for loops whose round
      // frame is consumed 2-3× — the suffix family's r14 A/B.)
      for (_ <- 1 to 3) {
        val spread = mass.join(edges, col("node") === col("src"))
          .join(deg, Seq("src"))
          .select(col("dst").as("node"),
            expr("(m * 85) div 100 div deg").as("c"))
        mass = spread.unionByName(restart.select(col("node"),
            col("r").as("c")))
          .groupBy("node").agg(sum(col("c")).as("m"))
      }
      mass.withColumn("rk", row_number().over(
          Window.orderBy(col("m").desc, col("node"))))
        .filter(col("rk") <= 20)
        .select(col("rk"), col("node"), col("m").as("mass_micro"))
        .orderBy("rk")
    },
      """WITH e0 AS (
           SELECT DISTINCT l_suppkey * 2 AS src,
             l_partkey * 2 + 1 AS dst
           FROM lineitem),
         e AS (
           SELECT src, dst FROM e0
           UNION ALL SELECT dst AS src, src AS dst FROM e0),
         dg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
         seeds AS (
           SELECT s_suppkey * 2 AS node FROM supplier
           WHERE s_suppkey % 10 = 0),
         m0 AS (SELECT node, 1000000000000::BIGINT AS m FROM seeds),
         m1 AS (
           SELECT node, sum(c)::BIGINT AS m FROM (
             SELECT e.dst AS node, (m.m * 85) // 100 // dg.deg AS c
             FROM m0 m JOIN e ON m.node = e.src JOIN dg ON e.src = dg.src
             UNION ALL
             SELECT node, 150000000000::BIGINT AS c FROM seeds)
           GROUP BY 1),
         m2 AS (
           SELECT node, sum(c)::BIGINT AS m FROM (
             SELECT e.dst AS node, (m.m * 85) // 100 // dg.deg AS c
             FROM m1 m JOIN e ON m.node = e.src JOIN dg ON e.src = dg.src
             UNION ALL
             SELECT node, 150000000000::BIGINT AS c FROM seeds)
           GROUP BY 1),
         m3 AS (
           SELECT node, sum(c)::BIGINT AS m FROM (
             SELECT e.dst AS node, (m.m * 85) // 100 // dg.deg AS c
             FROM m2 m JOIN e ON m.node = e.src JOIN dg ON e.src = dg.src
             UNION ALL
             SELECT node, 150000000000::BIGINT AS c FROM seeds)
           GROUP BY 1)
         SELECT row_number() OVER (ORDER BY m DESC, node) AS rk,
           node, m AS mass_micro
         FROM m3 QUALIFY rk <= 20 ORDER BY rk"""),

    // TOP PRINCIPAL COMPONENT by DISTRIBUTED POWER ITERATION — the
    // eigensolver that never FORMS the d x d Gram (the OPQ path
    // tree-aggregates a Gram and eigendecomposes driver-side, fine
    // while d^2 is model-sized; power iteration is the big-d shape:
    // two matvec scans per round, 1-/d-row frames between). Three
    // statically-unrolled rounds from the uniform 1/sqrt(d) start,
    // per-round renormalize + 9-dp rounding; the oracle replays every
    // fold. dim = -1 carries lambda/n, the top covariance eigenvalue.
    QueryDef("q366_power_iteration", (s, dir) => {
      Similarity.powerIterationTop(t(s, dir, "embeddings"), "vec_id",
          "embedding", dims = 64, iters = 3)
        .orderBy("dim")
    },
      // three power-iteration rounds unrolled: per-vector dot = sorted
      // fold over its 64 products; per-dim sums = two-level sorted fold
      // within md5(vec_id) subbuckets; renormalize + round-9 per round
      """WITH e AS (
           SELECT vec_id, j, embedding[(j+1)::INT]::DOUBLE AS x
           FROM embeddings CROSS JOIN unnest(range(0, 64)) AS t(j)),
         mu AS (
           SELECT j, list_sum(list_sort(list(s1))) / any_value(nd) AS m FROM (
             SELECT j,
               ('0x' || substring(md5('0:' || vec_id::VARCHAR), 1, 12))::BIGINT
                 % 4096 AS sb,
               list_sum(list_sort(list(x))) AS s1,
               (SELECT count(*) FROM embeddings)::DOUBLE AS nd
             FROM e GROUP BY 1, 2) GROUP BY j),
         c AS (SELECT e.vec_id, e.j, e.x - mu.m AS x FROM e JOIN mu USING (j)),
         v0 AS (SELECT j, 0.125 AS v FROM range(0, 64) t(j)),
         s_1 AS (
           SELECT vec_id, list_sum(list_sort(list(c.x * v0.v))) AS s
           FROM c JOIN v0 USING (j) GROUP BY vec_id),
         w_1 AS (
           SELECT j, list_sum(list_sort(list(s1))) AS w FROM (
             SELECT c.j,
               ('0x' || substring(md5('0:' || c.vec_id::VARCHAR), 1, 12))::BIGINT
                 % 4096 AS sb,
               list_sum(list_sort(list(c.x * s_1.s))) AS s1
             FROM c JOIN s_1 USING (vec_id) GROUP BY 1, 2) GROUP BY j),
         l_1 AS (SELECT sqrt(list_sum(list_sort(list(w * w)))) AS l FROM w_1),
         v_1 AS (SELECT j, round(w / (SELECT l FROM l_1), 9) AS v FROM w_1),
         s_2 AS (
           SELECT vec_id, list_sum(list_sort(list(c.x * v_1.v))) AS s
           FROM c JOIN v_1 USING (j) GROUP BY vec_id),
         w_2 AS (
           SELECT j, list_sum(list_sort(list(s1))) AS w FROM (
             SELECT c.j,
               ('0x' || substring(md5('0:' || c.vec_id::VARCHAR), 1, 12))::BIGINT
                 % 4096 AS sb,
               list_sum(list_sort(list(c.x * s_2.s))) AS s1
             FROM c JOIN s_2 USING (vec_id) GROUP BY 1, 2) GROUP BY j),
         l_2 AS (SELECT sqrt(list_sum(list_sort(list(w * w)))) AS l FROM w_2),
         v_2 AS (SELECT j, round(w / (SELECT l FROM l_2), 9) AS v FROM w_2),
         s_3 AS (
           SELECT vec_id, list_sum(list_sort(list(c.x * v_2.v))) AS s
           FROM c JOIN v_2 USING (j) GROUP BY vec_id),
         w_3 AS (
           SELECT j, list_sum(list_sort(list(s1))) AS w FROM (
             SELECT c.j,
               ('0x' || substring(md5('0:' || c.vec_id::VARCHAR), 1, 12))::BIGINT
                 % 4096 AS sb,
               list_sum(list_sort(list(c.x * s_3.s))) AS s1
             FROM c JOIN s_3 USING (vec_id) GROUP BY 1, 2) GROUP BY j),
         l_3 AS (SELECT sqrt(list_sum(list_sort(list(w * w)))) AS l FROM w_3),
         v_3 AS (SELECT j, round(w / (SELECT l FROM l_3), 9) AS v FROM w_3),
         nn AS (SELECT count(*)::DOUBLE AS n FROM embeddings)
         SELECT j::BIGINT AS dim, round(v, 6) + 0.0 AS loading FROM v_3
         UNION ALL
         SELECT -1, round((SELECT l FROM l_3) / (SELECT n FROM nn), 6) + 0.0
         ORDER BY dim"""),
  )
}
