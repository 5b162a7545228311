package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.SortedSumD.{sortedSum => ssum}

/** Iterative graph algorithms in pure DataFrame ops — the PageRank
  * companion to [[DedupOps.connectedComponents]]: corpus link-analysis
  * for source weighting (rank pretraining domains by citation structure)
  * without a graph framework dependency.
  *
  * Scale (100 TB of edges): each iteration is one shuffle join of the
  * rank vector against the edge list plus one groupBy — the same O(E)
  * per-pass shape GraphX/Pregel run, expressed relationally so AQE
  * handles skew and the edge frame's partitioning is reused across
  * iterations (persisted once). No driver-side graph, no collect.
  *
  * Determinism contract: per-node contribution sums run through a
  * TWO-LEVEL sorted fold (`array_sort` + `aggregate` within 4096
  * source-hash buckets, then over the sorted subtotals), so the IEEE
  * addition order is identical in any engine while no aggregation
  * buffer holds a hub node's whole in-neighborhood — DuckDB replays
  * iterations bit-for-bit
  * (choose a damping factor exactly representable in binary AND decimal
  * — 0.75, 0.5 — when oracle-gating, so literal folding agrees too).
  */
object Graph {

  /** `iters` rounds of damped PageRank over a directed edge list.
    * Per-node constant form: pr = (1−d) + d·Σ pr(u)/outdeg(u) (ranks
    * sum to N, not 1 — the per-page variant of Brin/Page; dangling mass
    * is dropped, documented standard for ranking use). Returns
    * `(node, pr)` for every node with at least one edge.
    *
    * Plan depth is bounded for any `iters`: each round nests a join and
    * two aggregations, so the rank vector is re-checkpointed
    * ([[Caches.iteration]]) after every 5th round that is not the last.
    * The returned plan therefore holds at most 5 rounds, and `iters` ≤ 5
    * still evaluates in one job. */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
               iters: Int = 3, damping: Double = 0.75): DataFrame = {
    val nodes = Caches.small(
      edges.select(col(src).as("node"))
        .union(edges.select(col(dst).as("node"))).distinct())
    val outDeg = edges.groupBy(col(src).as("__u"))
      .agg(count(lit(1)).cast("double").as("__deg"))
    val e = Caches.small(
      edges.select(col(src).as("__u"), col(dst).as("__v"))
        .join(outDeg, "__u"))
    var pr = nodes.withColumn("pr", lit(1.0))
    var held: Option[DataFrame] = None
    for (i <- 1 to iters) {
      // Two-level sorted fold: level 1 within 4096 source-hash buckets,
      // level 2 over the sorted bucket subtotals. A web-scale hub node's
      // in-degree is power-law-unbounded, so a single-level fold would
      // collect its whole in-neighborhood into one aggregation buffer;
      // bucketing caps every buffer at O(deg/4096) or O(4096) while the
      // summation order stays a pure function of the (source,
      // contribution) multiset — still bit-identical on any layout.
      // (For in-degree ≤ 2 the result is bitwise UNCHANGED vs the
      // single-level fold: IEEE addition of two doubles is commutative.)
      val l1 = e.join(pr, col("__u") === col("node"))
        .select(col("__v").as("node"),
          pmod(xxhash64(col("__u")), lit(4096)).as("__b"),
          (col("pr") / col("__deg")).as("__c"))
        .groupBy("node", "__b")
        .agg(ssum(collect_list(col("__c"))).as("__sb"))
      val sums = l1.groupBy("node")
        .agg(ssum(collect_list(col("__sb"))).as("__s"))
      // LAZY round frame (r15): pr has exactly ONE consumer — the next
      // round's contribution join (or the caller, for the last round)
      // — so the per-round localCheckpoint was a pure blocking-job tax
      // (the r14 dsir lesson: eager checkpoints of once-consumed
      // frames cost more than the lineage they truncate; contrast the
      // suffix rounds, consumed 2-3×, where LAZY measured slower). Up
      // to 5 rounds form a linear DAG over the two checkpointed frames
      // (nodes, e) and evaluate in one job; beyond that the plan-depth
      // bound checkpoints pr and releases the checkpoint it replaces.
      pr = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping)
            + lit(damping) * coalesce(col("__s"), lit(0.0))).as("pr"))
      if (i % 5 == 0 && i < iters) {
        val cp = Caches.iteration(pr)
        held.foreach(Caches.release)
        held = Some(cp)
        pr = cp
      }
    }
    pr
  }

  /** Normalize an edge frame to canonical undirected form: (a<b),
    * self-loops dropped, deduplicated. */
  private def canon(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()

  private def symm(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the adversarial-graph companion to
    * [[DedupOps.connectedComponents]]'s pointer jumping.
    *
    * Why both exist: pointer jumping carries a LABEL TABLE (|V| rows)
    * through every round and joins it against the full edge list —
    * great when the graph is star/clique-shaped (near-dup graphs).
    * Star contraction instead REWRITES THE EDGE LIST toward a star per
    * component; its intermediate state shrinks monotonically on
    * high-diameter graphs (long chains, lattices, web-crawl tendrils),
    * converges in O(log n) alternations with per-round work O(|E|),
    * and needs no per-node label join. Per round: two groupBy-min's
    * and two key-equality joins — shuffle-partitioned, no broadcast of
    * anything data-sized, lineage truncated per round.
    *
    * Returns (node, component) with component = the component's minimum
    * node id — identical output contract to the pointer-jumping form
    * (equivalence property-tested in GraphSpec). */
  def connectedComponentsStar(pairs: DataFrame, idA: String = "id_a",
                              idB: String = "id_b",
                              maxIter: Int = 30): DataFrame = {
    // Convergence signature: (row count, order-independent hash XOR —
    // sound over these DISTINCT edge rows; wraps nothing under ANSI).
    // Equal edge sets ⇒ equal signatures, so a signature CHANGE proves
    // non-convergence; only on signature EQUALITY do we run the
    // authoritative set-diff (once, at the converged round) — sound
    // under hash collisions. Since r15 the signature RIDES the round
    // checkpoint's own materialization job (Caches.smallCountedXor),
    // so a round costs ONE blocking action where it previously paid
    // checkpoint + a separate signature agg.
    val (e0, n0, x0) = Caches.smallCountedXor(
      canon(pairs.select(col(idA).as("u"), col(idB).as("v"))),
      xxhash64(col("a"), col("b")))
    var e = e0
    var eSig = (n0, x0)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // LARGE-STAR: per node u, m = min(N(u) ∪ {u}); connect every
      // strictly-larger neighbor to m
      val se = symm(e)
      val lsMin = se.groupBy("u").agg(min(col("v")).as("__mv"))
      val ls = canon(se.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("__mv")).as("v")))
      // SMALL-STAR: per node u, m = min of its strictly-smaller
      // neighbors; connect those neighbors (and u) to m
      val ss0 = symm(ls)
      val smaller = ss0.filter(col("v") < col("u"))
      val ssMin = smaller.groupBy("u").agg(min(col("v")).as("__mv"))
      val (ss, sn, sx) = Caches.smallCountedXor(canon(
        smaller.join(ssMin, "u")
          .select(col("v").as("u"), col("__mv").as("v"))
          .unionByName(ssMin.select(col("u"), col("__mv").as("v")))),
        xxhash64(col("a"), col("b")))
      val ssSig = (sn, sx)
      converged = ssSig == eSig && ss.except(e).isEmpty
      e = ss
      eSig = ssSig
      i += 1
    }
    // converged edge set is a star per component rooted at its min:
    // non-roots appear as `b` with the root as `a`; roots label themselves
    val members = e.select(col("b").as("node"), col("a").as("component"))
      .groupBy("node").agg(min("component").as("component"))
    val roots = e.select(col("a").as("node")).distinct()
      .join(members, Seq("node"), "left_anti")
      .withColumn("component", col("node"))
    members.unionByName(roots)
  }

  /** Per-node TRIANGLE COUNTS by degree-ordered node iteration (Suri &
    * Vassilvitskii, "Counting Triangles and the Curse of the Last
    * Reducer", WWW'11) — clustering-coefficient / community-density
    * signal over a link graph.
    *
    * Scale (100 TB of edges): the naive wedge join keys wedges on their
    * CENTER, so a celebrity node with in-degree d produces d² wedge
    * candidates in one task — the "last reducer" pathology. Orienting
    * every undirected edge from its lower-(degree, id) endpoint to the
    * higher one bounds every oriented out-degree by O(√|E|), which caps
    * the per-node wedge fan-out at O(|E|) total regardless of skew.
    * Three key-equality shuffle joins, no broadcast of anything
    * data-sized, each triangle materialized exactly once.
    *
    * Input: any edge list; self-loops dropped, direction and duplicates
    * ignored. Returns `(node, triangles)` for nodes in ≥1 triangle. */
  def triangleCount(edges: DataFrame, src: String = "src",
                    dst: String = "dst"): DataFrame = {
    // materialize once: the canonical edge set feeds the degree agg and
    // both sides of the orientation join, and the oriented set feeds
    // three plan branches (two wedge arms + the closing probe) — without
    // the checkpoint Spark would recompute the whole upstream edge
    // subtree for every consumer
    val und = Caches.small(
      canon(edges.select(col(src).as("u"), col(dst).as("v"))))
    // total order (degree, id): ties broken by id, so orientation is a
    // pure function of the edge set
    val deg = symm(und).groupBy(col("u").as("n"))
      .agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val aFirst = struct(col("da").as("d"), col("a").as("n")) <
      struct(col("db").as("d"), col("b").as("n"))
    val oriented = Caches.small(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("x"),
      when(aFirst, col("b")).otherwise(col("a")).as("y"),
      // carry the head's (deg, id) rank so wedge arms order without
      // re-joining degrees
      when(aFirst, struct(col("db").as("d"), col("b").as("n")))
        .otherwise(struct(col("da").as("d"), col("a").as("n"))).as("yr")))
    // wedges centered at x: two out-edges (x→y1), (x→y2) with y1 ≺ y2
    // in (deg,id) order — the closing edge, if present, is oriented
    // y1→y2 under the same total order
    val lhs = oriented.select(col("x"), col("y").as("y1"),
      col("yr").as("r1"))
    val rhs = oriented.select(col("x"), col("y").as("y2"),
      col("yr").as("r2"))
    val wedges = lhs.join(rhs, Seq("x")).filter(col("r1") < col("r2"))
      .select(col("x"), col("y1"), col("y2"))
    val closing = oriented.select(col("x").as("y1"), col("y").as("y2"))
    val tris = wedges.join(closing, Seq("y1", "y2"))
    tris.select(explode(array(col("x"), col("y1"), col("y2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** Multi-source BFS: minimum hop count from any source node, bounded
    * at `maxHops` — reachability/radius analysis (e.g. citation distance
    * from a trusted seed set for crawl-frontier prioritization).
    *
    * Scale: DELTA-FRONTIER expansion — per round the edge list joins
    * ONLY the nodes discovered in the previous round (the frontier),
    * not the whole reached set, so per-round join cost is O(frontier ·
    * avg-degree) and Σ over all rounds is O(E) exactly once per reached
    * edge (each node enters the frontier exactly once — a node's hop
    * count never improves after first discovery under unit weights).
    * New nodes are isolated with one anti-join against the reached set;
    * the distance table itself is append-only (no re-aggregation).
    * State is (node, hops) integers, lineage truncated per round; the
    * loop exits early when the frontier empties. Set semantics per
    * level ⇒ deterministic on any partitioning. Unreached nodes are
    * absent (no sentinel).
    *
    * `frontierSizes`, when supplied, receives the per-round frontier
    * row count (already materialized, so counting is free) — the
    * spec's evidence that joined rows track the frontier, not the
    * reached set. */
  def bfsHops(edges: DataFrame, sources: DataFrame,
              src: String = "src", dst: String = "dst",
              maxHops: Int = 6,
              frontierSizes: Option[scala.collection.mutable.Buffer[Long]] =
                None): DataFrame = {
    val e = Caches.small(symm(canon(
      edges.select(col(src).as("u"), col(dst).as("v")))))
    var dist = Caches.small(
      sources.select(col(sources.columns.head).as("node"))
        .distinct().withColumn("hops", lit(0)))
    var frontier = dist
    var h = 0
    var empty = frontier.isEmpty
    while (h < maxHops && !empty) {
      h += 1
      // all candidates this round share hops = h, so dedup is a
      // distinct on node; the anti-join keeps only first discoveries
      val cand = e.join(frontier, col("u") === col("node"))
        .select(col("v").as("node")).distinct()
      // frontier row count rides the checkpoint materialization (r15:
      // Caches.smallCountedTrue) — the emptiness test and the spec's
      // frontier-size evidence both read it, so a round costs ONE
      // blocking action where it previously paid checkpoint + count /
      // isEmpty
      val (f, fn) = Caches.smallCountedTrue(
        cand.join(dist, Seq("node"), "left_anti")
          .withColumn("hops", lit(h)),
        lit(true))
      frontier = f
      frontierSizes.foreach(_ += fn)
      empty = fn == 0L
      if (!empty) dist = Caches.small(dist.unionByName(frontier))
    }
    dist
  }

  /** Single/multi-source SHORTEST PATHS with integer edge weights:
    * `maxIter` Bellman-Ford relaxation rounds over an UNDIRECTED
    * weighted edge list — after round k, `cost` is the exact minimum
    * over paths of ≤ k edges (the textbook invariant, so a bounded
    * oracle can replay it; preserved by frontier relaxation — any
    * ≤k-edge path that beats the ≤(k−1)-edge optimum ends in an edge
    * from a node improved at round k−1, the queue optimization of
    * classic Bellman-Ford).
    *
    * Scale: DELTA-FRONTIER relaxation — per round the edge list joins
    * ONLY the rows whose cost improved in the previous round, not the
    * full distance table, so per-round cost is O(frontier·avg-degree)
    * instead of O(reached·avg-degree); on web graphs the frontier
    * collapses after the effective diameter while the reached set keeps
    * growing. Candidates min-combine per node, then one left join
    * against current costs isolates strict improvements; integer min ⇒
    * order-independent, bit-identical to the full-table form (spec-
    * asserted). Lineage truncated per round; early exit on an empty
    * frontier. Duplicate edges keep their MINIMUM weight (canonical
    * form). `frontierSizes` as in [[bfsHops]]. */
  def sssp(edges: DataFrame, sources: DataFrame,
           src: String = "src", dst: String = "dst", weight: String = "w",
           maxIter: Int = 4,
           frontierSizes: Option[scala.collection.mutable.Buffer[Long]] =
             None): DataFrame = {
    val und = edges
      .filter(col(src) =!= col(dst))
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"),
        col(weight).cast("long").as("w"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
    val e = Caches.small(
      und.select(col("a").as("u"), col("b").as("v"), col("w"))
        .unionByName(
          und.select(col("b").as("u"), col("a").as("v"), col("w"))))
    var dist = Caches.small(
      sources.select(col(sources.columns.head).as("node"))
        .distinct().withColumn("cost", lit(0L)))
    var frontier = dist
    var it = 0
    var empty = frontier.isEmpty
    while (it < maxIter && !empty) {
      it += 1
      val cand = e.join(frontier, col("u") === col("node"))
        .select(col("v").as("node"), (col("cost") + col("w")).as("cost"))
        .groupBy("node").agg(min(col("cost")).as("cost"))
      // fused frontier count — same shape as [[bfsHops]] (r15)
      val (f, fn) = Caches.smallCountedTrue(
        cand.join(dist.select(col("node"), col("cost").as("__old")),
            Seq("node"), "left")
          .filter(col("__old").isNull || col("cost") < col("__old"))
          .select(col("node"), col("cost")),
        lit(true))
      frontier = f
      frontierSizes.foreach(_ += fn)
      empty = fn == 0L
      if (!empty) dist = Caches.small(
        dist.unionByName(frontier)
          .groupBy("node").agg(min(col("cost")).as("cost")))
    }
    dist
  }

  /** Adamic–Adar link prediction: for every non-adjacent-or-adjacent
    * pair (u, w) sharing at least one neighbor, score = Σ_z 1/ln(deg z)
    * over common neighbors z — the classic common-neighbor index that
    * downweights hub-mediated similarity (Adamic & Adar, "Friends and
    * neighbors on the Web", Social Networks 25, 2003).
    *
    * Scale (web graphs): wedge fan-out through a center z is
    * deg(z)², power-law-unbounded — the same last-reducer hazard as
    * naive triangle counting. `maxDeg` caps it: hub centers above the
    * cap are EXCLUDED from wedge generation (documented recall trade,
    * same contract as MinHash's maxBucket) so per-center work is
    * ≤ maxDeg² and the candidate volume is Σ min(deg, maxDeg)² — linear
    * in |E| for a fixed cap. Everything is key-equality joins +
    * one groupBy; nothing data-sized is broadcast or collected.
    *
    * Determinism: the per-pair score folds 1/ln(deg) contributions in
    * `array_sort` order (buffer bounded by min(deg, maxDeg) — the
    * common-neighbor count), so IEEE addition order is a pure function
    * of the multiset and a SQL oracle replays it bit-for-bit.
    *
    * Returns (u, w, n_common, aa_score) with u < w. */
  def adamicAdar(edges: DataFrame, src: String = "src",
                 dst: String = "dst", maxDeg: Int = 64): DataFrame = {
    val und = Caches.small(
      canon(edges.select(col(src).as("u"), col(dst).as("v"))))
    val adj = symm(und.select(col("a"), col("b")))
      .select(col("u").as("z"), col("v").as("x"))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("deg"))
    val centers = Caches.small(
      adj.join(deg.filter(col("deg").between(2, maxDeg)), Seq("z")))
    val wedges = centers.select(col("z"), col("x").as("u"), col("deg"))
      .join(centers.select(col("z"), col("x").as("w")), Seq("z"))
      .filter(col("u") < col("w"))
    wedges.groupBy("u", "w")
      .agg(count(lit(1)).as("n_common"),
        round(ssum(collect_list(lit(1.0) / log(col("deg")))), 6)
          .as("aa_score"))
  }

  /** Fixed-round k-core peel: `rounds` iterations of "drop every node
    * whose degree within the surviving subgraph is < k". With enough
    * rounds this converges to the classic k-core (the maximal subgraph
    * of minimum degree ≥ k — Seidman, "Network structure and minimum
    * degree", 1983); a FIXED round count keeps the operator a pure
    * function of (edge set, k, rounds) so a SQL oracle can replay it
    * by static unrolling, exactly like the q78/q116 iteration gates.
    *
    * Scale: each round is one self-semi-join of the edge list against
    * the survivor set (key equality on both endpoints) plus one
    * count groupBy — O(|E|) per round, survivor set shrinks
    * monotonically, lineage truncated per round via localCheckpoint.
    * No per-node state beyond (node, degree) integers.
    *
    * Returns (node, deg): survivors after `rounds` peels with their
    * degree in the LAST evaluated subgraph. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
                src: String = "src", dst: String = "dst"): DataFrame = {
    val und = Caches.small(
      canon(edges.select(col(src).as("u"), col(dst).as("v"))))
    var surv: Option[DataFrame] = None
    var last: DataFrame = null
    for (_ <- 1 to rounds) {
      val e = surv match {
        case None => und
        case Some(sv) =>
          und.join(sv.select(col("node").as("a")), Seq("a"))
            .join(sv.select(col("node").as("b")), Seq("b"))
      }
      val deg = symm(e).groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
      last = Caches.small(deg.filter(col("deg") >= k))
      surv = Some(last)
    }
    last
  }
}
