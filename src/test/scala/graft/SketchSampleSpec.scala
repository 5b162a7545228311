package graft

import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, Sampling, Sketches, TextAnalysis}

/** Sketch-pruned heavy hitters, weighted sampling, BM25, and the
  * end-to-end fuzzy-dedup composition. */
class SketchSampleSpec extends SparkSpec {
  import spark.implicits._

  test("hll register merge is LOSSLESS: max-per-bucket over per-source " +
    "registers equals the registers of the unioned stream, so the " +
    "merged estimate equals the direct whole-stream estimate") {
    val df = (0 until 2000)
      .map(i => (s"src${i % 3}", s"user${i % 457}"))
      .toDF("src", "u")
    val bySrc = Sketches.hllRegistersBy(df, col("src"), col("u"), p = 6)
    val merged = bySrc.groupBy("bucket").agg(max(col("mx")).as("mx"))
    val direct = Sketches
      .hllRegistersBy(df, lit("all"), col("u"), p = 6)
      .select("bucket", "mx")
    assert(merged.orderBy("bucket").collect().toSeq ===
      direct.orderBy("bucket").collect().toSeq)
    val estM = Sketches.hllEstimateFromRegisters(merged, Seq.empty, 6)
      .select("est_distinct").head.getDouble(0)
    // 457 distinct at p=6: estimate within the ~13% rse regime
    assert(math.abs(estM - 457.0) / 457.0 < 0.3)
  }

  test("heavyHitterCandidates: every key above the n/capacity bound " +
    "survives, and eviction actually prunes the light tail") {
    // 8 partitions, 4000 unique light keys + 3 heavy keys (freq 500
    // each): n = 5500, capacity 20 → bound n/20 = 275 < 500.
    val light = (0 until 4000).map(i => s"u$i")
    val heavy = Seq.fill(500)("h1") ++ Seq.fill(500)("h2") ++
      Seq.fill(500)("h3")
    val df = spark.sparkContext
      .parallelize(scala.util.Random.shuffle(light ++ heavy), 8)
      .toDF("k")
    val cand = Sketches.heavyHitterCandidates(df, "k", capacity = 20)
      .as[String].collect().toSet
    assert(Set("h1", "h2", "h3").subsetOf(cand))
    // per-partition summaries hold <= capacity keys each
    assert(cand.size <= 8 * 20)
  }

  test("heavyHitters: recounted candidate frequencies are EXACT (match " +
    "a full groupBy count on the same keys)") {
    val data = Seq.fill(300)("a") ++ Seq.fill(200)("b") ++
      (0 until 900).map(i => s"x$i")
    val df = spark.sparkContext.parallelize(data, 6).toDF("k")
    val hh = Sketches.heavyHitters(df, "k", capacity = 10)
      .as[(String, Long)].collect().toMap
    assert(hh("a") === 300L && hh("b") === 200L)
    val exact = df.groupBy("k").count().as[(String, Long)].collect().toMap
    hh.foreach { case (k, c) => assert(exact(k) === c) }
  }

  test("weightedSample: deterministic across runs and partitionings, " +
    "exactly k rows, and inclusion tracks weight") {
    val df = (1 to 400).map(i => (i.toLong, if (i <= 200) 1000 else 1))
      .toDF("id", "w")
    def run(parts: Int) =
      Sampling.weightedSample(df.repartition(parts), "id", col("w"),
        k = 40, salt = "s").select("id").as[Long].collect().toSet
    val a = run(4)
    assert(a === run(13)) // pure function of (key, salt, weight)
    assert(a.size === 40)
    // ids 1-200 carry 1000× the weight: they should dominate the draw
    assert(a.count(_ <= 200) >= 35)
  }

  test("bm25: matches the closed-form score on a hand-checked corpus " +
    "and ranks the rare-term doc above the common-term doc") {
    val docs = Seq(
      (1L, "rare alpha beta"),
      (2L, "common alpha beta"),
      (3L, "common gamma delta"),
      (4L, "common epsilon zeta")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text",
        terms = Seq("rare", "common"))
      .orderBy("doc_id")
      .as[(Long, Double, Long)].collect().toSeq
    // all four docs have dl = 3 = avgdl, so the length norm is 1 and
    // score = idf * (k1+1)/(1 + k1) = idf  (tf = 1 everywhere)
    val n = 4.0
    def idf(dfq: Double) = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(
      (1L, r4(idf(1.0)), 1L),
      (2L, r4(idf(3.0)), 1L),
      (3L, r4(idf(3.0)), 1L),
      (4L, r4(idf(3.0)), 1L)))
    assert(got.head._2 > got(1)._2) // rare term outranks common term
  }

  test("kmvDistinctGrouped: exact below k, within 20% above k, and " +
    "partition-invariant") {
    val df = ((1 to 10).map(i => ("small", s"u$i")) ++
      (1 to 2000).map(i => ("big", s"v$i"))).toDF("g", "u")
    def run(parts: Int) =
      Sketches.kmvDistinctGrouped(df.repartition(parts), Seq("g"),
        org.apache.spark.sql.functions.col("u"), k = 64)
        .as[(String, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val a = run(4)
    assert(a === run(9))
    assert(a("small")._1 === 10.0 && a("small")._2 === 10L) // exact path
    assert(math.abs(a("big")._1 - 2000.0) / 2000.0 < 0.2)   // estimate
  }

  test("featureHash: deterministic, bounded buckets, sign-cancellation " +
    "(same word always same signed bucket; disjoint vocab -> disjoint " +
    "contributions)") {
    val docs = Seq(
      (1L, "alpha alpha alpha"),
      (2L, "alpha"),
      (3L, "beta")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.featureHash(docs, "doc_id", "text", buckets = 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.forall(r => r._2 >= 0 && r._2 < 8))
    val byDoc = got.groupBy(_._1)
    // same token → same (bucket, ±1): doc1 = 3 × doc2's single entry
    val d1 = byDoc(1L).head; val d2 = byDoc(2L).head
    assert(d1._2 === d2._2 && d1._3 === 3 * d2._3 && math.abs(d2._3) === 1L)
  }

  test("fuzzy dedup end-to-end: near-dup chain clusters transitively " +
    "(a~b, b~c, a!~c) and the canonical keeper is the min id") {
    // b shares most trigrams with both a and c; a and c share few.
    val docs = Seq(
      (10L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (20L, "w1 w2 w3 w4 w5 w6 w7 x9"), // ~ doc 10 (j = 5/7 ≈ 0.71)
      (30L, "x0 w2 w3 w4 w5 w6 w7 x9"), // ~ doc 20, j(10,30) = 4/8 < 0.6
      (40L, "z1 z2 z3 z4 z5 z6 z7 z8")  // singleton
    ).toDF("doc_id", "text")
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.6)
    val cc = DedupOps.connectedComponents(pairs.select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(cc(10L) === 10L && cc(20L) === 10L && cc(30L) === 10L)
    assert(!cc.contains(40L)) // no edges → not in the pair graph
  }

  test("countMin: one-sided error (est >= exact for EVERY key), sketch " +
    "size bounded by depth*width, and partition-layout independence") {
    val data = (0 until 2000).map(i => s"k${i % 137}") ++
      Seq.fill(400)("hot")
    val df = spark.sparkContext.parallelize(data, 7).toDF("w")
    val sk = Sketches.countMin(df, col("w"), depth = 4, width = 64)
    assert(sk.count() <= 4L * 64)
    val exact = df.groupBy("w").count().as[(String, Long)].collect().toMap
    val probes = exact.keys.toSeq.toDF("w")
    val est = Sketches.countMinLookup(sk, probes, "w", depth = 4, width = 64)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, c) => assert(est(k) >= c, s"undercount at $k") }
    // hot key with 400 extra hits: estimate within the εn CM bound for
    // a 64-wide sketch over ~2400 rows (ε = e/64 → slack < ~103)
    assert(est("hot") >= exact("hot") && est("hot") <= exact("hot") + 150)
    // hash-of-key cells: independent of input partitioning
    val sk2 = Sketches.countMin(df.repartition(3), col("w"), 4, 64)
    assert(sk.except(sk2).isEmpty && sk2.except(sk).isEmpty)
  }

  test("countMinWeighted over per-key counts is CELL-IDENTICAL to " +
    "countMin over the raw rows (the q311 one-scan rewrite's " +
    "equivalence), including under a filtered key subset") {
    val data = (0 until 2000).map(i => s"k${i % 137}") ++
      Seq.fill(400)("hot")
    val df = spark.sparkContext.parallelize(data, 7).toDF("w")
    val kc = df.groupBy("w").agg(count(lit(1)).as("c"))
    val raw = Sketches.countMin(df, col("w"), depth = 4, width = 64)
    val weighted = Sketches.countMinWeighted(kc, col("w"), col("c"),
      depth = 4, width = 64)
    assert(raw.except(weighted).isEmpty && weighted.except(raw).isEmpty)
    // filtered subset: weighting only the keys a predicate keeps equals
    // sketching only that subset's raw rows (q311's b side, cb > 0)
    val sub = df.filter(col("w") =!= "hot")
    val rawSub = Sketches.countMin(sub, col("w"), 3, 16)
    val wSub = Sketches.countMinWeighted(kc.filter(col("w") =!= "hot"),
      col("w"), col("c"), 3, 16)
    assert(rawSub.except(wSub).isEmpty && wSub.except(rawSub).isEmpty)
  }

  test("q311 exact_pairs is the inner-join size: null l_partkey rows " +
    "never equi-join, so they add no pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q311").toString
    val late = java.sql.Timestamp.valueOf("2001-01-01 00:00:00")
    val early = java.sql.Timestamp.valueOf("1999-01-01 00:00:00")
    Seq[(Option[Long], java.sql.Timestamp)](
      (Some(1L), late), (Some(1L), early), (Some(1L), late),
      (Some(2L), late), (Some(3L), early),
      (None, late), (None, late), (None, early))
      .toDF("l_partkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val b = li.filter(col("l_shipdate") > lit("2000-01-01").cast("timestamp"))
    val joined = li.select("l_partkey").join(b.select("l_partkey"),
      "l_partkey").count()
    assert(joined === 7L) // key 1: 3·2, key 2: 1·1, key 3: 1·0
    val out = SparkEntry.queries("q311_join_size_cm")(spark, dir).head()
    assert(out.getAs[Long]("exact_pairs") === joined)
  }

  test("countMin: sketches MERGE by cell-wise addition (sketch of " +
    "union == summed sketches)") {
    val a = Seq.fill(50)("x").toDF("w")
    val b = (Seq.fill(30)("x") ++ Seq.fill(20)("y")).toDF("w")
    val merged = Sketches.countMin(a, col("w"), 3, 16)
      .unionByName(Sketches.countMin(b, col("w"), 3, 16))
      .groupBy("d", "bucket").agg(sum("cnt").as("cnt"))
    val whole = Sketches.countMin(a.unionByName(b), col("w"), 3, 16)
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
  }

  test("hllEstimate: raw-regime accuracy within 3 standard errors, " +
    "linear-counting regime near-exact, and partition-layout independent") {
    val big = (0 until 5000).map(i => s"user$i").toDF("k")
    val Array((est, _)) = Sketches.hllEstimate(big, col("k"), p = 6)
      .as[(Double, Long)].collect()
    // σ ≈ 1.04/√64 = 13% → 3σ band
    assert(est > 5000 * 0.61 && est < 5000 * 1.39, s"est=$est")
    val re = Sketches.hllEstimate(big.repartition(11), col("k"), p = 6)
      .as[(Double, Long)].collect()
    assert(re.head._1 === est)
    val small = (0 until 10).map(i => s"u$i").toDF("k")
    val Array((estS, nzS)) = Sketches.hllEstimate(small, col("k"), p = 6)
      .as[(Double, Long)].collect()
    // linear counting: est = 64·ln(64/V), V = 64 − nz — near-exact here
    assert(nzS <= 10 && math.abs(estS - 10.0) < 2.0, s"est=$estS nz=$nzS")
  }

  test("groupCentroids: matches the brute-force per-group per-dim mean " +
    "and is partition-layout independent") {
    val rows = Seq(
      ("a", Array(1.0f, 2.0f, 3.0f)),
      ("a", Array(3.0f, 2.0f, 1.0f)),
      ("b", Array(10.0f, 0.0f, -2.0f)))
    val df = rows.toDF("g", "v")
    val got = graft.ops.Similarity.groupCentroids(df, "g", "v")
      .as[(String, Int, Double)].collect()
      .map { case (g, p, c) => (g, p) -> c }.toMap
    assert(got(("a", 0)) === 2.0 && got(("a", 1)) === 2.0 &&
      got(("a", 2)) === 2.0)
    assert(got(("b", 0)) === 10.0 && got(("b", 2)) === -2.0)
    val re = graft.ops.Similarity.groupCentroids(df.repartition(5), "g", "v")
      .as[(String, Int, Double)].collect()
      .map { case (g, p, c) => (g, p) -> c }.toMap
    assert(re === got)
  }
}
