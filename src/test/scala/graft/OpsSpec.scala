package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.functions.VectorExpressions
import graft.ops.{DedupOps, Similarity, TextAnalysis}

/** Training-data operator behavior: vector math correctness, dedup-family
  * invariants, text-analysis determinism. */
class OpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("DotProductD: codegen'd native expression computes an exact " +
    "sequential dot product (incl. empty and null inputs)") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array.empty[Float], Array.empty[Float])
    ).toDF("a", "b")
    val got = df.select(VectorExpressions.dotd($"a", $"b")).as[Double]
      .collect().toSeq
    assert(got === Seq(32.0, 0.0))
    val withNull = Seq((null: Array[Float], Array(1.0f))).toDF("a", "b")
      .select(VectorExpressions.dotd($"a", $"b")).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("chunkDedup: a chunk repeated across documents survives only in its " +
    "first (doc, position) occurrence; survivors reassemble in order") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // chunks: [a b c d e] [f g h i j]
      (2L, "a b c d e x y z w v"), // first chunk duplicates doc 1's
      (3L, "f g h i j")            // duplicates doc 1's second chunk
    ).toDF("doc_id", "text")
    val got = DedupOps.chunkDedup(docs, "doc_id", "text", width = 5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, "a b c d e f g h i j"),
      (2L, 2L, 1L, "x y z w v"),
      (3L, 1L, 0L, "")))
  }

  test("bpeTrain is truly iterative: rank 2 pairs tokens MERGED at " +
    "rank 1, and training stops early when no pairs remain") {
    val docs = Seq((1L, "abab abab"), (2L, "abab")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.bpeTrain(docs, "text", numMerges = 3)
      .orderBy("rank").as[(Long, String)].collect().toSeq
    // iter1: 'a b' (cnt 6) beats 'b a' (3); apply -> every word [ab,ab];
    // iter2: 'ab ab' — a pair of MERGED tokens, impossible for the
    // static first-iteration table; apply -> [abab]; iter3: exhausted.
    assert(got === Seq((1L, "a b"), (2L, "ab ab")))
  }

  test("bpeTrainBatched == bpeTrain merge table on a disjoint-candidate " +
    "fixture; a shared-token conflict is deferred to the next round's " +
    "recount (hand-computed acceptance)") {
    // EQUALITY fixture: all candidates token-disjoint with separated
    // counts ('a b' 10 > 'd e' 6 > 'f g' 4; merging creates no new
    // pairs) — one batched round must reproduce the sequential
    // trainer's table exactly, in 1 pair recount instead of 4.
    val eq = Seq((1L, ("ab " * 10) + ("de " * 6) + ("fg " * 4)))
      .toDF("doc_id", "text")
    val seqTab = graft.ops.TextAnalysis.bpeTrain(eq, "text", numMerges = 5)
      .orderBy("rank").as[(Long, String)].collect().toSeq
    val batTab = graft.ops.TextAnalysis
      .bpeTrainBatched(eq, "text", rounds = 2, batch = 4)
      .orderBy("rank").as[(Long, String)].collect().toSeq
    assert(seqTab === Seq((1L, "a b"), (2L, "d e"), (3L, "f g")))
    assert(batTab === seqTab)

    // CONFLICT fixture: 'b c' (6) shares a token with the round's top
    // candidate 'a b' (10), so it is deferred; the disjoint 'd e' (5)
    // and 'f g' (4) are accepted in the same round, and the round-2
    // recount picks 'b c' up — same merge SET as sequential, with the
    // deferral visible in the rank order (the documented conservative
    // trade for 1/batch the driver round trips).
    val cf = Seq((1L, ("ab " * 10) + ("bc " * 6) + ("de " * 5) +
      ("fg " * 4))).toDF("doc_id", "text")
    val seqCf = graft.ops.TextAnalysis.bpeTrain(cf, "text", numMerges = 6)
      .orderBy("rank").as[(Long, String)].collect().toSeq
    val batCf = graft.ops.TextAnalysis
      .bpeTrainBatched(cf, "text", rounds = 3, batch = 4)
      .orderBy("rank").as[(Long, String)].collect().toSeq
    assert(seqCf === Seq((1L, "a b"), (2L, "b c"), (3L, "d e"),
      (4L, "f g")))
    assert(batCf === Seq((1L, "a b"), (2L, "d e"), (3L, "f g"),
      (4L, "b c")))
    assert(batCf.map(_._2).toSet === seqCf.map(_._2).toSet)
  }

  test("bpeEncode: rank-ordered merges apply greedily left-to-right " +
    "(hand-computed token counts)") {
    // vocab: aaab (freq 2), aab (1) -> merges rank1 ('a a', cnt 5),
    // rank2 ('a b', cnt 3). aaab -> [aa,a,b] -> [aa,ab] = 2 tokens;
    // aab -> [aa,b] = 2 tokens.
    val docs = Seq((1L, "aaab aab"), (2L, "aaab")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .bpeEncode(docs, "doc_id", "text", numMerges = 2)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 4L), (2L, 1L, 2L)))
  }

  test("dupSpans: overlapping duplicated k-grams merge into one maximal " +
    "span; within-doc repeats count; clean docs report zero") {
    val docs = Seq(
      (1L, "a b c d e f"),       // shares "a b c","b c d" with doc 2
      (2L, "a b c d x y"),
      (3L, "z z z z"),           // "z z z" twice WITHIN the doc
      (4L, "unique words only here")
    ).toDF("doc_id", "text")
    val got = DedupOps.dupSpans(docs, "doc_id", "text", k = 3, minCount = 2L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 6L, 1L, 4L, 0.6667), // positions 0,1 merge -> [0,4)
      (2L, 6L, 1L, 4L, 0.6667),
      (3L, 4L, 1L, 4L, 1.0),    // the whole doc is one duplicated span
      (4L, 4L, 0L, 0L, 0.0)))
  }

  test("quantizeInt8: exact half-up codes, zero vector gets scale 0 and " +
    "all-zero codes, dequant stays within half a step") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .as[(Long, Seq[Int], Double)].collect()
      .map { case (i, c, s) => i -> ((c, s)) }.toMap
    assert(got(1L) === ((Seq(64, -127, 32), 1.0))) // round(63.5) = 64 half-up
    assert(got(2L) === ((Seq(0, 0, 0), 0.0)))
    val (codes, scale) = got(1L)
    for ((c, x) <- codes.zip(Seq(0.5, -1.0, 0.25)))
      assert(math.abs(c * scale / 127.0 - x) <= scale / 254.0 + 1e-12)
  }

  test("editDistancePairs: shared-prefix near-dups verified by threshold, " +
    "distant pairs and capped hot blocks excluded") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // ed=3 to 1
      (3L, "the quick brown cow sleeps under a warm tree and more"), // same prefix, far
      (4L, "completely different text with no shared prefix at all"),
      // a hot block: 5 docs sharing one prefix, cap=4 drops them all
      (10L, "hot block prefix A"), (11L, "hot block prefix B"),
      (12L, "hot block prefix C"), (13L, "hot block prefix D"),
      (14L, "hot block prefix E")
    ).toDF("doc_id", "text")
    val got = DedupOps.editDistancePairs(docs, "doc_id", "text",
        prefixLen = 16, lenBand = 20, maxDist = 5, maxBlock = 4)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got === Seq((1L, 2L, 3)))
    // widened threshold admits the same-prefix-but-far pair too
    val wide = DedupOps.editDistancePairs(docs, "doc_id", "text",
        prefixLen = 16, lenBand = 20, maxDist = 40, maxBlock = 4)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    assert(wide((1L, 2L)) === 3 && wide.contains((1L, 3L)))
  }

  test("connectedComponents equals a union-find reference on random " +
    "graphs (incl. isolated pairs, chains, and merged clusters)") {
    val rng = new scala.util.Random(17)
    val n = 60
    val edges = (0 until 80)
      .map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x
      else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    } // min always wins as root, so each set's root IS its min node
    val nodes = edges.flatMap(t => Seq(t._1, t._2)).distinct
    val expect = nodes.map(v => v -> find(v.toInt).toLong).toMap
    val got = DedupOps.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got === expect)
  }

  test("packSequences: greedy contiguous fill — seq id and offset follow " +
    "the running token count") {
    import graft.ops.Packing
    val df = Seq((0L, 100L), (1L, 300L), (2L, 200L), (3L, 50L))
      .toDF("id", "tk")
    val got = Packing.packSequences(df, "id", lit(0), $"tk", seqLen = 256)
      .orderBy("id").select("seq_id", "seq_offset")
      .as[(Long, Long)].collect().toSeq
    // tokens-before: 0, 100, 400, 600 → seq 0,0,1,2; offset 0,100,144,88
    assert(got === Seq((0L, 0L), (0L, 100L), (1L, 144L), (2L, 88L)))
  }

  test("contaminatedDocs: a train doc sharing an n-gram with the eval set " +
    "is flagged with the shared count; clean docs are not") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),   // shares "quick brown fox"
      (2L, "totally clean text here now"), // no overlap
      (3L, "quick brown fox quick brown fox again") // distinct shingles only
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "a quick brown fox appeared")).toDF("doc_id", "text")
    val got = DedupOps.contaminatedDocs(train, eval_, "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (3L, 1L)))
  }

  test("domainMix: per-domain rates are honored deterministically; " +
    "unknown domains fall back to the default") {
    val df = (1 to 2000).map(i =>
      (i.toLong, s"src${i % 4}")).toDF("doc_id", "source")
    val kept = graft.ops.Sampling.domainMix(df, "doc_id", "source",
      Map("src0" -> 0, "src1" -> 100), defaultPct = 50, salt = "t")
    val bySrc = kept.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(!bySrc.contains("src0"))           // rate 0: none kept
    assert(bySrc("src1") === 500L)            // rate 100: all kept
    // default 50%: roughly half (hash-based, deterministic)
    assert(bySrc("src2") > 175 && bySrc("src2") < 325)
    // deterministic under repartitioning
    val again = graft.ops.Sampling.domainMix(df.repartition(7), "doc_id",
      "source", Map("src0" -> 0, "src1" -> 100), 50, "t")
    assert(again.orderBy("doc_id").collect().toSeq ===
      kept.orderBy("doc_id").collect().toSeq)
  }

  test("TopKByScore: map-side-mergeable top-k — merge of partial buffers " +
    "equals the global top-k, ties break by key ascending") {
    val agg = new graft.functions.TopKByScore(3)
    val rows = Seq((5.0, 10L), (9.0, 2L), (9.0, 1L), (1.0, 7L), (7.0, 3L))
    // reduce in one pass
    val direct = rows.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(direct) === "1,2,3")
    // reduce in two arbitrary partitions, then merge
    val (p1, p2) = rows.splitAt(2)
    val merged = agg.merge(p1.foldLeft(agg.zero)(agg.reduce),
      p2.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged) === "1,2,3")
    // via the SQL surface
    val topk = udaf(agg)
    val got = Seq((5.0, 10L), (9.0, 2L), (7.0, 3L), (8.0, 4L))
      .toDF("score", "key").agg(topk($"score", $"key")).as[String]
      .head()
    assert(got === "2,4,3")
  }

  test("stratifiedTake: exactly n per stratum (fewer when the stratum is " +
    "small), deterministic across partitionings") {
    val df = (1 to 100).map(i => (i.toLong, if (i <= 90) "big" else "small"))
      .toDF("id", "g")
    val a = graft.ops.Sampling.stratifiedTake(df, Seq("g"), "id", 7, "s1")
    val counts = a.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts === Map("big" -> 7L, "small" -> 7L))
    val b = graft.ops.Sampling.stratifiedTake(df.repartition(7), Seq("g"),
      "id", 7, "s1")
    assert(a.orderBy("g", "id").collect().toSeq ===
      b.orderBy("g", "id").collect().toSeq)
    // a stratum smaller than n yields the whole stratum
    val tiny = graft.ops.Sampling.stratifiedTake(df, Seq("g"), "id", 20, "s1")
      .filter($"g" === "small")
    assert(tiny.count() === 10)
  }

  test("cosine: identical vectors -> 1.0, orthogonal -> 0.0") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      round(Similarity.cosine($"a", $"b"), 6).as("same"),
      round(Similarity.cosine($"a", $"c"), 6).as("orth")).head()
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 0.0)
  }

  test("session_window boundary: an event arriving EXACTLY `gap` after " +
    "the previous one merges into the same session (inclusive boundary) " +
    "— the contract the q52 oracle's strict `>` predicate encodes") {
    val boundary = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"))  // == gap
    ).toDF("user_id", "ts")
    val merged = boundary
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .count().count()
    assert(merged === 1L) // inclusive: newStart <= sessionEnd merges
    val past = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00.001")) // > gap
    ).toDF("user_id", "ts")
    val split = past
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .count().count()
    assert(split === 2L)
  }

  test("exact dedup groups: identical normalized texts share a fingerprint") {
    val df = Seq((1L, "Hello  World"), (2L, " hello world "), (3L, "autre"))
      .toDF("doc_id", "text")
    val g = DedupOps.exactGroups(df, "doc_id", "text").orderBy("keeper")
      .select("n", "keeper").as[(Long, Long)].collect().toSeq
    assert(g === Seq((2L, 1L), (1L, 3L)))
  }

  test("minhash/LSH: exact duplicates are ALWAYS candidates; jaccard " +
    "verification scores them 1.0") {
    val base = "un deux trois quatre cinq six sept huit neuf dix " +
      "onze douze treize quatorze quinze"
    val df = Seq((1L, base), (2L, base), (3L, "texte totalement different " +
      "sans aucun chevauchement de bigrammes avec le premier document"))
      .toDF("doc_id", "text")
    val cand = DedupOps.minhashCandidates(df, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))
    val verified = DedupOps.jaccardVerifiedPairs(df, "doc_id", "text",
      threshold = 0.9).as[(Long, Long, Double)].collect().toSeq
    assert(verified === Seq((1L, 2L, 1.0)))
  }

  test("simhash: identical texts get identical signatures; signatures " +
    "fit in 32 bits; candidates include the identical pair") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val sigs = DedupOps.simhash(df, "doc_id", "text")
    val m = sigs.as[(Long, Long)].collect().toMap
    assert(m(1L) === m(2L))
    assert(m.values.forall(s => s >= 0 && s < (1L << 32)))
    val cand = DedupOps.simhashCandidates(sigs, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))
  }

  test("jaccardPairs exact baseline agrees with the LSH-verified value " +
    "on a true near-dup") {
    val a = "le chat mange la souris verte dans le jardin fleuri ce matin"
    val b = "le chat mange la souris verte dans le jardin fleuri ce soir"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val exact = DedupOps.jaccardPairs(df, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().head
    val lsh = DedupOps.jaccardVerifiedPairs(df, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().head
    assert(exact === lsh)
  }

  test("langId: marker-dominant texts classify with fixed tie priority") {
    val df = Seq(
      (1L, "the cat and the dog of a farm"),
      (2L, "le chat et la souris et un chien"),
      (3L, "xyz qrs tuv"),
      (4L, "\u4e2d\u6587\u6587\u672c\u6d4b\u8bd5")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextAnalysis.langId($"text"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "fr", 3L -> "und", 4L -> "zh"))
  }

  test("token counts: BPE-ish splits punctuation and digit runs") {
    val got = Seq("hello, world42 x!").toDF("text")
      .select(TextAnalysis.tokenCountWs($"text").as("ws"),
        TextAnalysis.tokenCountBpeIsh($"text").as("bpe"))
      .as[(Int, Int)].head()
    // ws: [hello,, world42, x!]; bpe: [hello , world 42 x !]
    assert(got === ((3, 6)))
  }

  test("ivf: query finds itself first in its own cluster") {
    val rng = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rng.nextFloat() - 0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val centroids = df.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    val query = df.filter($"vec_id" === 0).select($"embedding".as("q"))
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding",
      centroids, "cid", "cv")
    assert(assigned.count() === 40)
    val top = Similarity.ivfTopK(assigned, "vec_id", "embedding",
      centroids, "cid", "cv", query, k = 3)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 0L && top.head._2 === 1.0)
  }

  test("FirstByOrder typed Aggregator equals keep-first dedup") {
    val data = Seq(("k1", 3L, "third"), ("k1", 1L, "first"),
      ("k2", 5L, "only"), ("k1", 2L, "second"))
    val ds = data.toDF("key", "ord", "v").as[(String, Long, String)]
    val got = ds.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(graft.functions.FirstByOrder.forString.toColumn)
      .collect().toMap
    assert(got === Map("k1" -> "first", "k2" -> "only"))
  }

  test("hash sampling: split is a pure function of the key (stable " +
    "across partitionings) and roughly proportional") {
    import graft.ops.Sampling
    val df = (0L until 2000L).toDF("id")
    val s1 = df.select($"id", Sampling.split($"id", 80, 10).as("s"))
    val s2 = df.repartition(13)
      .select($"id", Sampling.split($"id", 80, 10).as("s"))
    assert(s1.orderBy("id").collect().toSeq === s2.orderBy("id").collect().toSeq)
    val counts = s1.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 130 && counts("val") < 280)
  }

  test("kmeans-trained IVF: recovers well-separated clusters and the " +
    "trained index finds the query's true neighbors") {
    val rng = new scala.util.Random(3)
    // three tight clusters around orthogonal axes in R^6
    def jitter(base: Array[Float]) =
      base.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f)
    val bases = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f))
    val vecs = (0L until 90L).map(i => (i, jitter(bases((i % 3).toInt))))
    val df = vecs.toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      k = 3, iters = 3)
    assert(centroids.count() === 3)
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding",
      centroids, "cid", "cv")
    // every vector of the same residue class lands in the same cluster
    val byClass = assigned.withColumn("cls", $"vec_id" % 3)
      .groupBy("cls").agg(countDistinct("cluster").as("nc"))
      .select("nc").as[Long].collect().toSeq
    assert(byClass === Seq(1L, 1L, 1L))
    val query = df.filter($"vec_id" === 0).select($"embedding".as("q"))
    val top = Similarity.ivfTopK(assigned, "vec_id", "embedding",
      centroids, "cid", "cv", query, k = 5)
      .as[(Long, Double)].collect()
    assert(top.head._1 === 0L)
    assert(top.forall(_._1 % 3 == 0)) // neighbors are all from cluster 0
  }

  test("KMV sketch: exact below k, within 25% of truth above k, and " +
    "invariant under repartitioning (the plan IS the merge)") {
    import graft.ops.Sketches
    val small = (1L to 40L).map(i => s"v$i").toDF("t")
    val ex = Sketches.kmvDistinct(small, $"t", 64).head()
    assert(ex.getDouble(0) === 40.0 && ex.getLong(1) === 40L)
    val big = (1L to 5000L).map(i => s"item-$i").toDF("t")
    val est = Sketches.kmvDistinct(big, $"t", 256).head().getDouble(0)
    assert(est > 5000 * 0.75 && est < 5000 * 1.25, est)
    val est13 = Sketches.kmvDistinct(big.repartition(13), $"t", 256)
      .head().getDouble(0)
    assert(est13 === est) // mergeable: partitioning cannot change the sketch
  }

  test("PQ: every vector gets m codes in [0,k); a codebook vector " +
    "reconstructs exactly, so ADC top-1 is the query itself at 0") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 64)
    assert(cb.count() === 64) // m*k codewords
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, 4, 64)
    val n = emb.count()
    assert(codes.count() === n * 4)
    assert(codes.agg(min($"code"), max($"code")).as[(Long, Long)].head()
      ._2 < 16)
    val query = emb.filter($"vec_id" === 0).select($"embedding".as("q"))
    val top = Similarity.pqTopK(codes, "vec_id", cb, query, 4, 64, 3)
      .as[(Long, Double)].collect()
    assert(top.head === ((0L, 0.0))) // vec 0 is a codeword: zero ADC
  }

  test("planesForCorpus: bucket size stays ~constant as the corpus grows") {
    assert(Similarity.planesForCorpus(2000, 128) === 4)
    assert(Similarity.planesForCorpus(200000, 128) === 11)
    assert(Similarity.planesForCorpus(200000000L, 128) === 21)
    // E[B] = n / 2^p lands within [targetBucket/2, targetBucket]
    for (n <- Seq(10000L, 1000000L, 5000000000L)) {
      val p = Similarity.planesForCorpus(n, 256)
      val b = n.toDouble / math.pow(2, p)
      assert(b <= 256.0 && b > 128.0, s"n=$n p=$p b=$b")
    }
  }

  test("trained PQ codebooks: per-subspace k-means places codewords so " +
    "ADC retrieves the query's cluster") {
    val rng = new scala.util.Random(7)
    def jitter(base: Array[Float]) =
      base.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f)
    val bases = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0f, 1f, 0f),
      Array(0f, 0f, 1f, 0f, 1f, 0f, 0f, 0f))
    val df = (0L until 90L).map(i => (i, jitter(bases((i % 3).toInt))))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooksTrained(df, "vec_id", "embedding",
      m = 2, k = 3, dims = 8)
    assert(cb.count() === 6) // m subspaces x k codewords
    val codes = Similarity.pqEncode(df, "vec_id", "embedding", cb, 2, 8)
    val query = df.filter($"vec_id" === 0).select($"embedding".as("q"))
    val top = Similarity.pqTopK(codes, "vec_id", cb, query, 2, 8, 10)
      .as[(Long, Double)].collect()
    assert(top.nonEmpty && top.forall(_._1 % 3 == 0)) // all from cluster 0
  }

  test("OPQ-lite rotation: orthonormal (norms and pairwise dots " +
    "preserved), deterministic across partitionings, and PQ on rotated " +
    "vectors still retrieves the query's cluster") {
    val dims = 8
    val r = Similarity.rotationMatrix(dims, seed = 3)
    // R·Rᵀ = I
    for (i <- 0 until dims; j <- 0 until dims) {
      val d = (0 until dims).map(k => r(i)(k) * r(j)(k)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
    val rng = new scala.util.Random(11)
    def jitter(base: Array[Float]) =
      base.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f)
    val bases = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0f, 1f, 0f),
      Array(0f, 0f, 1f, 0f, 1f, 0f, 0f, 0f))
    val df = (0L until 90L).map(i => (i, jitter(bases((i % 3).toInt))))
      .toDF("vec_id", "embedding")
    val rot = Similarity.opqRotate(df, "vec_id", "embedding", dims, seed = 3)
    // norms preserved
    val norms = df.join(rot, "vec_id")
      .select(Similarity.dot($"embedding", $"embedding").as("n0"),
        Similarity.dot($"rvec", $"rvec").as("n1"))
      .as[(Double, Double)].collect()
    assert(norms.forall { case (n0, n1) => math.abs(n0 - n1) < 1e-9 })
    // deterministic under repartitioning
    val rot2 = Similarity.opqRotate(df.repartition(7), "vec_id",
      "embedding", dims, seed = 3)
    assert(rot.orderBy("vec_id").collect().toSeq ===
      rot2.orderBy("vec_id").collect().toSeq)
    // PQ over rotated vectors: same retrieval behavior as unrotated
    val cb = Similarity.pqCodebooksTrained(rot, "vec_id", "rvec",
      m = 2, k = 3, dims = dims)
    val codes = Similarity.pqEncode(rot, "vec_id", "rvec", cb, 2, dims)
    val query = rot.filter($"vec_id" === 0).select($"rvec".as("q"))
    val top = Similarity.pqTopK(codes, "vec_id", cb, query, 2, dims, 10)
      .as[(Long, Double)].collect()
    assert(top.nonEmpty && top.forall(_._1 % 3 == 0))
  }

  test("pcaRotation (trained OPQ): orthonormal; decorrelates anisotropic " +
    "data and deals variance across subspaces far more evenly than the " +
    "identity layout") {
    val dims = 8; val m = 2
    // anisotropic: dims 0..3 carry all the signal (and are correlated),
    // dims 4..7 are near-constant — identity PQ gives subspace 0 all
    // the variance and subspace 1 none
    val rng = new scala.util.Random(13)
    val df = (0L until 400L).map { i =>
      val t = rng.nextGaussian(); val u = rng.nextGaussian()
      (i, Array(t, t + 0.1 * u, -t, u, 0.01 * rng.nextGaussian(),
        0.01 * rng.nextGaussian(), 0.01 * rng.nextGaussian(),
        0.01 * rng.nextGaussian()).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val r = Similarity.pcaRotation(df, "embedding", dims, m)
    // orthonormal rows
    for (i <- 0 until dims; j <- 0 until dims) {
      val d = (0 until dims).map(k => r(i)(k) * r(j)(k)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
    // per-subspace variance share, before vs after rotation
    def subVariance(vecs: Seq[Array[Double]]): Array[Double] = {
      val n = vecs.length.toDouble
      val mean = Array.tabulate(dims)(k => vecs.map(_(k)).sum / n)
      val vars = Array.tabulate(dims)(k =>
        vecs.map(v => math.pow(v(k) - mean(k), 2)).sum / n)
      Array.tabulate(m)(s =>
        (0 until dims / m).map(k => vars(s * (dims / m) + k)).sum)
    }
    val plain = df.select($"embedding".cast("array<double>"))
      .as[Array[Double]].collect().toSeq
    val rotated = Similarity.rotateWith(df, "vec_id", "embedding", r)
      .select($"rvec").as[Array[Double]].collect().toSeq
    def imbalance(sv: Array[Double]) = sv.max / math.max(sv.min, 1e-12)
    val before = imbalance(subVariance(plain))
    val after = imbalance(subVariance(rotated))
    assert(after < before / 10,
      s"rotation should balance subspace variance: before=$before after=$after")
  }

  test("opqTrain (full OPQ alternation): rotation stays orthonormal, " +
    "the training objective does not regress across alternations, and " +
    "the final rotation+codebooks beat identity-layout PQ on " +
    "anisotropic data") {
    val dims = 8; val m = 2; val k = 8
    val rng = new scala.util.Random(29)
    val df = (0L until 300L).map { i =>
      val t = rng.nextGaussian(); val u = rng.nextGaussian()
      (i, Array(t, t + 0.1 * u, -t, u, 0.01 * rng.nextGaussian(),
        0.01 * rng.nextGaussian(), 0.01 * rng.nextGaussian(),
        0.01 * rng.nextGaussian()).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val (r, books, errs) = Similarity.opqTrain(df, "vec_id", "embedding",
      dims, m, k, outerIters = 3)
    // orthonormal after Procrustes updates
    for (i <- 0 until dims; j <- 0 until dims) {
      val d = (0 until dims).map(a => r(i)(a) * r(j)(a)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
    // objective tracked per alternation; final <= first (small slack:
    // the k-means inner step is a heuristic, not an exact argmin)
    assert(errs.length === 3)
    assert(errs.last <= errs.head * 1.01,
      s"OPQ objective regressed: ${errs.toSeq}")
    // end-to-end: quantization error of the trained (R, books) vs
    // identity-layout PQ with the same budget
    def qErr(rot: org.apache.spark.sql.DataFrame,
             cb: org.apache.spark.sql.DataFrame): Double = {
      val codes = Similarity.pqEncode(rot, "vec_id", "rvec", cb, m, dims)
      val bk = cb.select($"j".as("bj"), $"c".as("bc"), $"cv".as("bcv"))
      val y = codes.join(bk, $"j" === $"bj" && $"code" === $"bc")
        .select($"vec_id", $"j", $"bcv".as("cv"))
        .groupBy("vec_id")
        .agg(flatten(array_sort(collect_list(struct($"j", $"cv")))
          .getField("cv")).as("y"))
      rot.join(y, "vec_id").select($"rvec", $"y")
        .as[(Array[Double], Array[Double])].collect()
        .map { case (x, yv) =>
          x.zip(yv).map { case (a, b) => (a - b) * (a - b) }.sum }.sum
    }
    val rotated = Similarity.rotateWith(df, "vec_id", "embedding", r)
    val identity = df.select($"vec_id",
      $"embedding".cast("array<double>").as("rvec"))
    val idBooks = Similarity.pqCodebooksTrained(identity, "vec_id",
      "rvec", m, k, dims)
    val opqErr = qErr(rotated, books)
    val idErr = qErr(identity, idBooks)
    assert(opqErr < idErr,
      s"trained OPQ should beat identity PQ: opq=$opqErr id=$idErr")
  }

  test("IVF-PQ: residual-encoded search retrieves the query's cluster; " +
    "a residual-codeword vector reconstructs to ADC 0") {
    val rng = new scala.util.Random(5)
    def jitter(base: Array[Float]) =
      base.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f)
    val bases = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 0f, 1f, 0f),
      Array(0f, 0f, 1f, 0f, 1f, 0f, 0f, 0f))
    val df = (0L until 90L).map(i => (i, jitter(bases((i % 3).toInt))))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      k = 3, iters = 3)
    val resid = Similarity.ivfResiduals(df, "vec_id", "embedding",
      centroids, "cid", "cv")
    val cb = Similarity.pqCodebooks(resid, "vec_id", "rv", m = 2, k = 4,
      dims = 8)
    val codes = Similarity.ivfPqEncode(resid, "vec_id", cb, m = 2, dims = 8)
    val query = df.filter($"vec_id" === 0).select($"embedding".as("q"))
    val top = Similarity.ivfPqTopK(codes, "vec_id", centroids, "cid", "cv",
      cb, query, m = 2, dims = 8, k = 5, nprobe = 1)
      .as[(Long, Double)].collect()
    assert(top.head === ((0L, 0.0))) // vec 0's residual IS a codeword
    assert(top.forall(_._1 % 3 == 0)) // probed cluster only
  }

  test("bucketed embedding near-dup: subset of the brute-force oracle " +
    "with identical cosines, and the plan has no theta join / corpus " +
    "broadcast") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val bucketed = Similarity.cosineNearDupPairsBucketed(emb, "vec_id",
      "embedding", 0.4, planesPerTable = 4, tables = 8, dims = 64)
    val got = bucketed.as[(Long, Long, Double)].collect().toSet
    // every emitted pair is a true near-dup with the exact same cosine
    assert(got.subsetOf(brute))
    // the 8 × 4-plane tables recall most of the (all-borderline,
    // cos 0.4-0.7) true pairs on this corpus — deterministic, not flaky,
    // because hyperplanes and data are both fixed
    assert(got.size >= (brute.size * 6) / 10, s"${got.size}/${brute.size}")
    // candidate generation must be a key-equality join: no cartesian /
    // broadcast-nested-loop stage anywhere in the physical plan
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bucketed embedding near-dup: exact duplicates co-bucket in every " +
    "table, so recall at cos=1 is guaranteed") {
    val rng = new scala.util.Random(11)
    val v0 = Array.fill(64)(rng.nextFloat() - 0.5f)
    val others = (2L until 40L).map(i =>
      (i, Array.fill(64)(rng.nextFloat() - 0.5f)))
    val df = ((0L, v0) +: (1L, v0.clone()) +: others).toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupPairsBucketed(df, "vec_id",
      "embedding", 0.99, planesPerTable = 4, tables = 8, dims = 64)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((0L, 1L, 1.0)))
  }

  test("knnJoin: LSH-recalled neighbors carry exact brute-force cosines " +
    "and ranks; the plan has no cartesian / corpus broadcast") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val knn = Similarity.knnJoin(emb, "vec_id", "embedding", k = 3,
      planesPerTable = 4, tables = 8, dims = 64)
    val got = knn.as[(Long, Long, Double, Int)].collect()
    // every query gets at most k neighbors, ranked 1..k by cos desc
    val byQ = got.groupBy(_._1)
    byQ.values.foreach { ns =>
      assert(ns.length <= 3)
      val sorted = ns.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to ns.length).toSeq)
      assert(sorted.map(-_._3).toSeq === sorted.map(-_._3).toSeq.sorted)
    }
    // emitted cosines are the exact pairwise values (spot-check against
    // the O(n²) brute pair list at this tiny SF)
    val brute = Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", -1.0)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, c) => Seq((a, b) -> c, (b, a) -> c) }.toMap
    got.foreach { case (q, n, c, _) => assert(brute((q, n)) === c) }
    val plan = knn.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bpePairCounts: hand-checked frequency-weighted adjacent pairs " +
    "from the distinct vocabulary") {
    val docs = Seq("aab aab", "ab").toDF("text")
    val got = graft.ops.TextAnalysis.bpePairCounts(docs, "text", topK = 10)
      .as[(String, Long)].collect().toSeq
    // vocab: aab(freq 2) → "a a"×2, "a b"×2 ; ab(freq 1) → "a b"×1
    assert(got === Seq(("a b", 3L), ("a a", 2L)))
  }

  test("Associations.rules: hand-computed support/confidence/lift, " +
    "duplicate items in a basket count once") {
    // baskets: {x,y} {x,y} {x} {y,z} — x:3, y:3, z:1, xy:2, yz:1, N=4
    val b = Seq((1L, "x"), (1L, "y"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (4L, "y"), (4L, "z")).toDF("basket", "item")
    val got = graft.ops.Associations.rules(b, "basket", "item")
      .select("item_a", "item_b", "pair_n", "a_n", "b_n", "support",
        "confidence", "lift")
      .as[(String, String, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.size === 4) // x→y, y→x, y→z, z→y
    val xy = got(("x", "y"))
    assert(xy._3 === 2L && xy._4 === 3L && xy._5 === 3L)
    assert(xy._6 === 0.5) // 2/4
    assert(math.abs(xy._7 - 2.0 / 3) < 1e-15) // 2/3
    assert(math.abs(xy._8 - 8.0 / 9) < 1e-15) // (2/4)/((3/4)(3/4))
    val zy = got(("z", "y"))
    assert(zy._7 === 1.0 && math.abs(zy._8 - 4.0 / 3) < 1e-15)
  }

  test("sortedNeighborhoodPairs: exactly the rank-adjacent pairs under " +
    "the sort key (n·window pairs, equi-join plan), matching a " +
    "brute-force rank self-join") {
    val df = Seq((1L, "delta"), (2L, "alpha"), (3L, "charlie"),
      (4L, "bravo"), (5L, "echo"), (6L, "apple"))
      .toDF("id", "name")
    val got = graft.ops.DedupOps
      .sortedNeighborhoodPairs(df, col("name"), window = 2)
      .select(col("a.id").as("ia"), col("b.id").as("ib"), col("gap"))
      .as[(Long, Long, Long)].collect().toSet
    // sorted by name: alpha(2) apple(6) bravo(4) charlie(3) delta(1)
    // echo(5) → ranks 1..6; pairs = (i, i+1) and (i, i+2)
    val byRank = Seq(2L, 6L, 4L, 3L, 1L, 5L)
    val want = (for {
      i <- byRank.indices; d <- 1 to 2 if i + d < byRank.size
    } yield (byRank(i), byRank(i + d), d.toLong)).toSet
    assert(got === want)
    assert(got.size === 2 * 6 - 3) // n·w − w(w+1)/2 boundary shortfall
  }

  test("tfidfTopK: corpus-wide term gets idf 0 and never outranks a " +
    "distinctive term; k bounds per-doc rows") {
    val docs = Seq((1L, "the cat the"), (2L, "the dog"), (3L, "the"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 2)
    val top = got.filter(col("rk") === 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // 'the' is in all 3 docs → idf ln(1)=0; distinctive terms win
    assert(top(1L) === "cat" && top(2L) === "dog")
    assert(top(3L) === "the") // only term, score 0, still ranked
    assert(got.groupBy("doc_id").count()
      .filter(col("count") > 2).count() === 0)
  }

  /** 48 seeded 64-dim vectors in three loose clusters, as `array<float>`;
    * the float values are exact in double. */
  private def knnVectors: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(5)
    val centers = Seq.fill(3)(Array.fill(64)(rnd.nextFloat() - 0.5f))
    (0L until 48L).map(i => (i, centers((i % 3).toInt)
      .map(c => c + (rnd.nextFloat() - 0.5f) * 0.6f)))
  }

  test("knnJoin casts the vector once: no band-key generator holds a " +
    "cast of an array column") {
    val knn = Similarity.knnJoin(knnVectors.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, planesPerTable = 4, tables = 8,
      dims = 64)
    val gens = knn.queryExecution.optimizedPlan.collect {
      case g: Generate => g.generator }
    // the band-key generator is there: its children hold the dot products
    assert(gens.exists(_.find(_.prettyName == "dot_product_d").isDefined),
      gens)
    val arrayCasts = gens.flatMap(_.collect {
      case c: Cast if c.child.dataType.isInstanceOf[ArrayType] => c })
    assert(arrayCasts.isEmpty, knn.queryExecution.optimizedPlan)
  }

  test("knnJoin returns the same rows on array<float> and array<double> " +
    "input, and the rows pinned before the cast moved out of the " +
    "band-key generator") {
    val floats = knnVectors.toDF("vec_id", "embedding")
    val doubles = knnVectors.map { case (i, v) => (i, v.map(_.toDouble)) }
      .toDF("vec_id", "embedding")
    def rowsOf(df: DataFrame) =
      Similarity.knnJoin(df, "vec_id", "embedding", k = 3,
          planesPerTable = 4, tables = 8, dims = 64)
        .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    val got = rowsOf(floats)
    assert(got === rowsOf(doubles))
    // row count and digest measured on the previous banding, which cast
    // the vector inside the band-key generator
    assert((got.size, got.mkString(";").hashCode) === ((144, 2143206691)))
  }

  test("fuzzyPairs: both sides of the block-pair join read one hash " +
    "exchange on the block columns with the planned shuffle partition " +
    "count, and the pairs equal a brute-force reference") {
    val rnd = new scala.util.Random(3)
    val stems = Seq("anna", "bernd", "carla", "dieter", "emil")
    val people = (0L until 120L).map { i =>
      val s = stems(rnd.nextInt(stems.size))
      val name = if (rnd.nextBoolean()) s else s + ('a' + rnd.nextInt(3)).toChar
      (i, name, rnd.nextInt(3), if (rnd.nextBoolean()) "x" else "y")
    }
    val df = people.toDF("id", "name", "nat", "seg")
    val pairs = DedupOps.fuzzyPairs(df, "id", "name",
      blockCols = Seq("nat", "seg"), maxDist = 1)
    // collected through `pairs` itself, so its adaptive plan is final
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, na, ta, sa) <- people; (ib, nb, tb, sb) <- people
      if ia < ib && ta == tb && sa == sb && lev(na, nb) <= 1
    } yield (ia, ib, lev(na, nb).toLong)).sorted
    assert(got === want)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the exchange each side of a join reads, through its query stage
    def exchanges(side: SparkPlan) = collect(side) {
      case s: ShuffleQueryStageExec => s.shuffle }
    def onBlocks(e: ShuffleExchangeLike) =
      e.outputPartitioning match {
        case HashPartitioning(exprs, n) =>
          n == parts && exprs.map(_.references.head.name) == Seq("nat", "seg")
        case _ => false
      }
    val plan = pairs.queryExecution.executedPlan
    val pairJoins = collect(plan) {
      case j: BaseJoinExec
          if j.children.forall(c => exchanges(c).exists(onBlocks)) => j }
    assert(pairJoins.size === 1, plan)
    val sides = pairJoins.head.children.map(c => exchanges(c).filter(onBlocks))
    assert(sides.forall(_.size == 1), plan)
    assert(sides(0).head eq sides(1).head, plan)
  }
}
