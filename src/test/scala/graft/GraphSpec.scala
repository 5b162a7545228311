package graft

import graft.ops.Graph

/** PageRank in DataFrame ops: hand-checked fixpoint + determinism. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("Caches counted checkpoints: a NULL predicate counts as false, " +
    "and an input already carrying the helper's column is rejected") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import graft.ops.Caches
    val df = spark.range(0, 6).toDF("id")
    // ids 4, 5 TRUE; 2, 3 FALSE; 0, 1 NULL
    val (cp, n) = Caches.smallCountedTrue(df,
      when(col("id") >= 4, lit(true)).when(col("id") >= 2, lit(false)))
    assert(n === 2L)
    assert(cp.columns.toSeq === Seq("id") && cp.count() === 6L)
    intercept[IllegalArgumentException] {
      Caches.smallCountedTrue(df.withColumn("__graft_flag", lit(1)), lit(true))
    }
    intercept[IllegalArgumentException] {
      Caches.smallCountedXor(df.withColumn("__graft_h", lit(1L)), col("id"))
    }
  }

  test("pageRank: hand-computed star graph (a->c, b->c) reaches its " +
    "fixpoint values") {
    val edges = Seq(("a", "c"), ("b", "c")).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 3, damping = 0.75)
      .as[(String, Double)].collect().toMap
    // sources never receive mass: (1-d) = 0.25 from iteration 1 on;
    // c's fixpoint: 0.25 + 0.75*(0.25 + 0.25) = 0.625
    assert(got("a") === 0.25 && got("b") === 0.25)
    assert(got("c") === 0.625)
  }

  test("pageRank: iters beyond the checkpoint period match a " +
    "driver-side power iteration, and the plan depth stays bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val edges = Seq(("a", "c"), ("b", "c")).toDF("src", "dst")
    val outDeg = Map("a" -> 1.0, "b" -> 1.0)
    val d = 0.75
    var want = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    for (_ <- 1 to 12) want = want.keys.map { v =>
      val s = Seq("a" -> "c", "b" -> "c").collect {
        case (u, `v`) => want(u) / outDeg(u) }.sorted.sum
      v -> ((1 - d) + d * s)
    }.toMap
    val got = Graph.pageRank(edges, iters = 12, damping = d)
      .as[(String, Double)].collect().toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (v, p) => assert(math.abs(got(v) - p) < 1e-12, v) }
    def joins(iters: Int) = Graph.pageRank(edges, iters = iters)
      .queryExecution.analyzed.collect { case j: Join => j }.size
    assert(joins(20) <= joins(5))
  }

  test("pageRank: partition-count invariant (sorted-fold sums) and " +
    "more-linked nodes rank higher") {
    val edges = (1L to 60L).flatMap { i =>
      Seq((i, 100L), (i, if (i % 2 == 0) 101L else 100L))
    }.toDF("src", "dst")
    val a = Graph.pageRank(edges.repartition(3), iters = 3)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(edges.repartition(11), iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(a === b)
    assert(a(100L) > a(101L)) // 90 in-links vs 30
  }

  test("connectedComponentsStar equals pointer-jumping CC on random " +
    "graphs and on an adversarial long chain") {
    import graft.ops.{DedupOps, Graph}
    val rng = new scala.util.Random(23)
    val n = 80
    val rand = (0 until 100)
      .map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // high-diameter adversary: a 400-node path (plus a reversed tail so
    // edge direction never matters)
    val chain = (0L until 399L).map(i => (i + 1000L, i + 1001L))
    for (edges <- Seq(rand, chain)) {
      val df = edges.toDF("id_a", "id_b")
      val pj = DedupOps.connectedComponents(df)
        .as[(Long, Long)].collect().toMap
      val star = Graph.connectedComponentsStar(df)
        .as[(Long, Long)].collect().toMap
      assert(star === pj)
    }
    // the chain collapses to a single component rooted at its min
    val star = Graph.connectedComponentsStar(chain.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect()
    assert(star.map(_._2).distinct.toSeq === Seq(1000L))
    assert(star.length === 400)
  }

  test("triangleCount matches brute-force enumeration on random graphs " +
    "and ignores direction/duplicates/self-loops") {
    val rng = new scala.util.Random(7)
    val n = 40
    val raw = (0 until 220)
      .map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
    // brute force over the canonical simple graph
    val und = raw.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val expect = scala.collection.mutable.Map.empty[Long, Long]
    for {
      Seq(x, y, z) <- nodes.combinations(3)
      if und((x, y)) && und((y, z)) && und((x, z))
      v <- Seq(x, y, z)
    } expect(v) = expect.getOrElse(v, 0L) + 1L
    // feed the RAW edges (directed, duplicated, self-looped)
    val got = Graph.triangleCount(raw.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got === expect.toMap)
    // partition invariance
    val got11 = Graph.triangleCount(raw.toDF("src", "dst").repartition(11))
      .as[(Long, Long)].collect().toMap
    assert(got11 === expect.toMap)
  }

  test("sssp: weighted distances prefer the cheap long way round, " +
    "duplicate edges keep min weight, k-round horizon holds") {
    // triangle 1-2-3 with an expensive direct edge 1-3: cost(3) should
    // be 2 via 1-2-3, not 10 direct; duplicate (1,3) edges keep min
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L),
      (3L, 1L, 12L), (3L, 4L, 5L)).toDF("src", "dst", "w")
    val got = Graph.sssp(edges, Seq(1L).toDF("node"), maxIter = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 7L))
    // with ONE round, only direct edges are relaxed: 3 costs 10
    val one = Graph.sssp(edges, Seq(1L).toDF("node"), maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(one(3L) === 10L && one(2L) === 1L)
  }

  test("bfsHops: hand-checked hop distances, multi-source min, and the " +
    "maxHops horizon") {
    // path 1-2-3-4-5-6-7-8 plus a shortcut 1-5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (1L, 5L)).toDF("src", "dst")
    val one = Graph.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    // via the shortcut: 5 is 1 hop, 6 is 2, 7 is 3; 8 beyond horizon
    assert(one === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 1,
      6L -> 2, 7L -> 3))
    // multi-source: min over seeds 1 and 8
    val multi = Graph.bfsHops(edges, Seq(1L, 8L).toDF("node"),
        maxHops = 2).as[(Long, Int)].collect().toMap
    assert(multi(7L) === 1 && multi(6L) === 2 && multi(5L) === 1)
  }

  test("delta-frontier evidence: BFS joins each node exactly once " +
    "(Σ frontier sizes = reached − sources, per-level match), sssp is " +
    "bit-identical to full-table Bellman-Ford at every horizon, and " +
    "both exit early on an empty frontier") {
    val rng = new scala.util.Random(11)
    val n = 120
    val raw = (0 until 300).map(_ =>
      (rng.nextInt(n).toLong, rng.nextInt(n).toLong, 1L + rng.nextInt(9)))
    val wdf = raw.toDF("src", "dst", "w")
    // --- BFS: frontier sizes ARE the per-level discovery counts ---
    val fs = scala.collection.mutable.Buffer.empty[Long]
    val got = Graph.bfsHops(wdf, Seq(0L).toDF("node"), maxHops = 20,
        frontierSizes = Some(fs))
      .as[(Long, Int)].collect()
    val byHop = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(fs.takeWhile(_ > 0).zipWithIndex.forall { case (sz, i) =>
      byHop.getOrElse(i + 1, 0L) == sz })
    assert(fs.sum === got.length - 1) // each non-source node joined once
    // early exit: far fewer than 20 rounds actually ran (diameter of a
    // dense-ish random graph), and at most one trailing empty round
    assert(fs.size < 20 && fs.count(_ == 0L) <= 1)
    // --- SSSP: driver-side ≤k-edge-path Bellman-Ford reference ---
    def bfRef(k: Int): Map[Long, Long] = {
      val canon = raw.filter(t => t._1 != t._2)
        .groupMapReduce(t => (math.min(t._1, t._2), math.max(t._1, t._2)))(
          _._3)(math.min)
      val adj = canon.toSeq.flatMap { case ((a, b), w) =>
        Seq((a, b, w), (b, a, w)) }
      var dist = Map(0L -> 0L)
      for (_ <- 1 to k) {
        val relaxed = adj.flatMap { case (u, v, w) =>
          dist.get(u).map(d => v -> (d + w)) }
        dist = (dist.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
      }
      dist
    }
    for (k <- Seq(1, 2, 4)) {
      val sfs = scala.collection.mutable.Buffer.empty[Long]
      val s = Graph.sssp(wdf, Seq(0L).toDF("node"), maxIter = k,
          frontierSizes = Some(sfs))
        .as[(Long, Long)].collect().toMap
      assert(s === bfRef(k), s"horizon k=$k")
      // the frontier shrinks below the reached set once costs settle
      if (k == 4) assert(sfs.last <= sfs.max)
    }
  }

  test("adamicAdar matches a brute-force reference and respects the " +
    "degree cap") {
    // path 1-2-3-4-5 plus a hub 9 linked to 1..5
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L), (9L, 5L))
    val df = raw.toDF("src", "dst")
    def ref(maxDeg: Int): Map[(Long, Long), (Long, Double)] = {
      val adj = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      val deg = adj.view.mapValues(_.size.toLong).toMap
      val centers = adj.keys.filter(z => deg(z) >= 2 && deg(z) <= maxDeg)
      centers.toSeq.flatMap { z =>
        val ns = adj(z).toSeq.sorted
        for (u <- ns; w <- ns if u < w) yield ((u, w), deg(z))
      }.groupMap(_._1)(_._2).map { case (k, ds) =>
        k -> (ds.size.toLong,
          BigDecimal(ds.map(d => 1.0 / math.log(d.toDouble)).sorted.sum)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    for (cap <- Seq(64, 4)) { // cap=4 excludes the degree-5 hub
      val got = Graph.adamicAdar(df, maxDeg = cap)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => ((r._1, r._2), (r._3, r._4))).toMap
      assert(got === ref(cap), s"maxDeg=$cap")
    }
    // the hub contributes to pair scores only under the larger cap
    assert(ref(64)((1L, 3L))._1 == 2L && ref(4)((1L, 3L))._1 == 1L)
  }

  test("kCorePeel: hand-checked peel and convergence to the true " +
    "k-core on a clique with pendant chains") {
    // 4-clique {1,2,3,4} + chain 4-5-6-7 + triangle {7,8,9}
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L),
      (7L, 9L))
    val df = raw.toDF("src", "dst")
    // k=3: round 1 drops 5,6,8,9?? no — 8,9 have degree 2, 5,6 degree 2,
    // 7 degree 3. Round 1 survivors: {1,2,3,4,7}; round 2: 7's neighbors
    // are gone → 7 drops, 4 drops to degree 3 → stays; fixpoint {1,2,3,4}.
    val r1 = Graph.kCorePeel(df, k = 3, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1.keySet === Set(1L, 2L, 3L, 4L, 7L))
    val r2 = Graph.kCorePeel(df, k = 3, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2.keySet === Set(1L, 2L, 3L, 4L))
    assert(r2.values.toSet === Set(3L)) // the clique's internal degrees
    // convergence: further rounds are a fixpoint (true 3-core)
    val r5 = Graph.kCorePeel(df, k = 3, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(r5 === r2)
    // k=2: minimum degree of the whole graph is 2 (the chain interior
    // sits between two anchored endpoints), so nothing peels — the
    // 2-core is the full node set
    val k2 = Graph.kCorePeel(df, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(k2.keySet === (1L to 9L).toSet)
    // pendant vertex 10 off node 1 DOES peel at k=2, and its removal
    // doesn't cascade (1 keeps degree ≥ 2)
    val k2p = Graph.kCorePeel(df.unionByName(Seq((1L, 10L))
        .toDF("src", "dst")), k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(k2p.keySet === (1L to 9L).toSet)
  }

  test("integer-mass PPR (the q194 arithmetic): total mass never " +
    "exceeds spread+restart budget and is partition-layout invariant") {
    import org.apache.spark.sql.functions._
    // replicate q194's round arithmetic on a small symmetric graph
    val e0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val seeds = Seq(1L).toDF("node")
    val restart = seeds.select(col("node"), lit(150000000000L).as("r"))
    def run(parts: Int): Map[Long, Long] = {
      var mass = seeds.select(col("node"), lit(1000000000000L).as("m"))
        .repartition(parts)
      for (_ <- 1 to 3) {
        val spread = mass.join(edges, col("node") === col("src"))
          .join(deg, Seq("src"))
          .select(col("dst").as("node"),
            expr("(m * 85) div 100 div deg").as("c"))
        mass = spread.unionByName(
            restart.select(col("node"), col("r").as("c")))
          .groupBy("node").agg(sum(col("c")).as("m"))
      }
      mass.as[(Long, Long)].collect().toMap
    }
    val m1 = run(1)
    // floor-division truncation only LOSES mass: per round,
    // total ≤ 0.85·prev_total + restart, so the fixpoint bound is the
    // initial 10¹² — truncation can only push the sum BELOW it
    assert(m1.values.sum <= 1000000000000L, m1.toString)
    assert(m1.values.forall(_ >= 0))
    // bit-identical across partition layouts (plain integer sums)
    assert(run(7) === m1)
  }
}
