package graft

import org.apache.spark.sql.catalyst.expressions.Md5
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, TextAnalysis}

/** Prefix-doubling suffix-rank dedup (DedupOps.prefixDoublingDupStarts)
  * vs a brute-force L-gram reference, across power-of-two and general L
  * (the overlap-pair path), plus DSIR log-weight invariants. */
class SuffixDedupSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Brute force: duplicated length-L run starts by direct gram count. */
  private def bruteStarts(docs: Seq[(Long, Seq[String])], L: Int,
                          minCount: Int = 2): Set[(Long, Int)] = {
    val grams = for {
      (id, ws) <- docs
      p <- 0 to ws.length - L
    } yield ((id, p), ws.slice(p, p + L).mkString(" "))
    val counts = grams.groupBy(_._2).view.mapValues(_.size).toMap
    grams.collect { case ((id, p), g) if counts(g) >= minCount => (id, p) }
      .toSet
  }

  private def corpus(seed: Int, nDocs: Int, len: Int, vocab: Int) = {
    val rnd = new scala.util.Random(seed)
    (0L until nDocs).map(id =>
      (id, Seq.fill(len + rnd.nextInt(len))("w" + rnd.nextInt(vocab))))
  }

  private def run(docs: Seq[(Long, Seq[String])], L: Int): Set[(Long, Int)] = {
    val toks = docs.toDF("doc_id", "ws")
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "w")))
    DedupOps.prefixDoublingDupStarts(toks, "doc_id", "p", "w", L)
      .as[(Long, Int)].collect().toSet
  }

  test("prefix doubling matches the brute-force gram reference at " +
    "power-of-two L (2, 8) on a high-collision random corpus") {
    for (l <- Seq(2, 8); seed <- Seq(1, 2)) {
      val docs = corpus(seed, nDocs = 12, len = 30, vocab = 4)
      assert(run(docs, l) === bruteStarts(docs, l), s"L=$l seed=$seed")
    }
  }

  test("general L (3, 12): the overlap-pair key — (rank_m(p), " +
    "rank_m(p+L-m)), m = 2^floor(log2 L) — is exact, not just the " +
    "power-of-two path") {
    for (l <- Seq(3, 12); seed <- Seq(3, 4)) {
      val docs = corpus(seed, nDocs = 10, len = 40, vocab = 3)
      assert(run(docs, l) === bruteStarts(docs, l), s"L=$l seed=$seed")
    }
  }

  test("runs never cross document boundaries, and a doc shorter than L " +
    "contributes nothing") {
    val docs = Seq(
      (0L, Seq("a", "b", "c", "d")), // suffix 'c d' + next doc's prefix
      (1L, Seq("c", "d", "a", "b")), // would fake an L=4 dup if crossed
      (2L, Seq("a", "b")))           // shorter than L
    assert(run(docs, 4) === bruteStarts(docs, 4))
    assert(run(docs, 4) === Set.empty)
    // the L=2 dups it DOES have are found
    assert(run(docs, 2) === bruteStarts(docs, 2))
    assert(run(docs, 2).nonEmpty)
  }

  test("identical 8-token prefixes in different docs are one dup pair: " +
    "rank equality is exactly gram equality") {
    val shared = Seq("x1", "x2", "x3", "x4", "x5", "x6", "x7", "x8")
    val docs = Seq(
      (0L, shared ++ Seq("tail0")),
      (1L, Seq("head1") ++ shared),
      (2L, Seq("u1", "u2", "u3", "u4", "u5", "u6", "u7", "u8")))
    assert(run(docs, 8) === Set((0L, 0), (1L, 1)))
  }

  test("suffixRanks is the dense 1..K LEXICOGRAPHIC rank of the " +
    "depth-run — order-consistent, not just equality classes " +
    "(depth 8 exercises the radix-4 merged round)") {
    for (seed <- Seq(7, 8); depth <- Seq(2, 4, 8)) {
      val docs = corpus(seed, nDocs = 8, len = 20, vocab = 3)
      val toks = docs.toDF("doc_id", "ws")
        .select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "w")))
      val got = DedupOps.suffixRanks(toks, "doc_id", "p", "w", depth)
        .as[(Long, Int, Long)].collect()
      val runs = (for {
        (id, ws) <- docs; p <- 0 to ws.length - depth
      } yield ((id, p), ws.slice(p, p + depth).mkString(" "))).toMap
      val lexRank = runs.values.toSeq.distinct.sorted.zipWithIndex
        .map { case (g, i) => g -> (i + 1L) }.toMap
      assert(got.length === runs.size, s"seed=$seed depth=$depth")
      for ((id, p, r) <- got)
        assert(r === lexRank(runs((id, p))),
          s"seed=$seed depth=$depth pos=($id,$p)")
    }
  }

  private def lcpPairs(docs: Seq[(Long, Seq[String])], depth: Int) =
    DedupOps.suffixLcpPairs(docs.toDF("doc_id", "ws"), "doc_id", "ws", depth)
      .as[(Long, Long, Int, Long, Int, Long)].collect().sortBy(_._1).toSeq

  /** Brute force: sort all depth-runs by (space-joined run, id, pos),
    * pair neighbours, count common leading tokens. */
  private def bruteLcpPairs(docs: Seq[(Long, Seq[String])], depth: Int) = {
    val runs = (for {
      (id, ws) <- docs; p <- 0 to ws.length - depth
    } yield (id, p, ws.slice(p, p + depth)))
      .sortBy { case (id, p, run) => (run.mkString(" "), id, p) }
    runs.zip(runs.drop(1)).zipWithIndex.map {
      case (((idL, pL, rL), (idR, pR, rR)), i) =>
        val lcp = rL.zip(rR).takeWhile { case (a, b) => a == b }.length
        (i + 1L, idL, pL, idR, pR, lcp.toLong)
    }
  }

  test("suffixLcpPairs on a hand-computed corpus: adjacency in suffix " +
    "order and exact lcp per adjacent pair") {
    val docs = Seq((0L, Seq("a", "b", "c", "d", "e")),
                   (1L, Seq("a", "b", "c", "x", "y")))
    // suffix order of the depth-4 runs: [a b c d](0,0), [a b c x](1,0),
    // [b c d e](0,1), [b c x y](1,1) → lcps 3, 0, 2
    assert(lcpPairs(docs, depth = 4) === Seq(
      (1L, 0L, 0, 1L, 0, 3L),
      (2L, 1L, 0, 0L, 1, 0L),
      (3L, 0L, 1, 1L, 1, 2L)))
  }

  test("suffixLcpPairs matches a brute-force sorted-suffix reference " +
    "(depth 4, 8 and 16) on high-collision random corpora, including " +
    "full-depth ties (lcp = depth)") {
    for (depth <- Seq(4, 8, 16); seed <- Seq(5, 6)) {
      val random = corpus(seed, nDocs = 10, len = 25, vocab = 3)
      // a planted copy of doc 0's head makes a full-depth tie certain
      // at every depth (a random depth-16 tie over 3 tokens is not)
      val docs = random :+ (10L, random.head._2.take(depth + 3))
      val want = bruteLcpPairs(docs, depth)
      assert(lcpPairs(docs, depth) === want, s"depth=$depth seed=$seed")
      assert(want.exists(_._6 == depth.toLong),
        s"fixture should contain a full-depth tie (depth=$depth seed=$seed)")
    }
  }

  test("suffixLcpPairs orders suffixes by the space-joined gram even when " +
    "a token carries a sub-0x20 control character") {
    val vocab = Seq("a", "a\u0001", "a\u0001b", "b", "a b")
    for (depth <- Seq(2, 4); seed <- Seq(11, 12)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 8L).map(id =>
        (id, Seq.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))))
      val want = bruteLcpPairs(docs, depth)
      // the fixture is only a check if tokenwise order differs here
      val runs = for ((_, ws) <- docs; p <- 0 to ws.length - depth)
        yield ws.slice(p, p + depth)
      import Ordering.Implicits.seqOrdering
      assert(runs.sorted != runs.sortBy(_.mkString(" ")),
        s"depth=$depth seed=$seed")
      assert(lcpPairs(docs, depth) === want, s"depth=$depth seed=$seed")
    }
  }

  test("suffixLcpPairs builds and collects in at most 5 jobs at depth 4 " +
    "and 8: one gram sort, not one numberRows per depth level") {
    val docs = corpus(9, nDocs = 6, len = 20, vocab = 4).toDF("doc_id", "ws")
    for (depth <- Seq(4, 8)) {
      val jobs = jobExecutions(
        DedupOps.suffixLcpPairs(docs, "doc_id", "ws", depth).collect())
      assert(jobs.size <= 5, s"depth=$depth: ${jobs.size} jobs")
    }
  }

  test("a token carrying a sub-0x20 control character fails the " +
    "suffixRanks contract gate loudly (tokenwise order would diverge " +
    "from the space-joined gram sort) — not as an opaque mismatch") {
    val docs = Seq((0L, Seq("aa", "aa\u0001x", "bb")),
                   (1L, Seq("aa", "cc", "bb")))
    val toks = docs.toDF("doc_id", "ws")
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "w")))
    val e = intercept[IllegalArgumentException] {
      DedupOps.suffixRanks(toks, "doc_id", "p", "w", depth = 2).collect()
    }
    assert(e.getMessage.contains("control character"))
    // a clean corpus of the same shape passes
    val clean = Seq((0L, Seq("aa", "ax", "bb")), (1L, Seq("aa", "cc", "bb")))
      .toDF("doc_id", "ws")
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "w")))
    assert(DedupOps.suffixRanks(clean, "doc_id", "p", "w", depth = 2)
      .count() === 4L)
  }

  test("DSIR log-weights: target-looking docs score above pool-looking " +
    "docs, and every doc gets exactly one row") {
    val target = (0L until 20L).map(i =>
      (i, "alpha beta gamma delta alpha beta", true))
    val raw = (20L until 40L).map(i =>
      (i, "omega psi chi phi omega psi", false))
    val mixedRaw = Seq((40L, "alpha beta gamma omega", false))
    val df = (target ++ raw ++ mixedRaw).toDF("doc_id", "text", "tgt")
    val got = TextAnalysis.dsirLogWeights(df, "doc_id", "text",
        isTarget = col("tgt"), buckets = 64)
      .as[(Long, Boolean, Long, Double)].collect()
    assert(got.length === 41)
    val byId = got.map(r => r._1 -> r._4).toMap
    // pure-target vocabulary scores strictly above pure-pool vocabulary
    assert(byId(0L) > byId(20L))
    // the half-target raw doc lands strictly between the two poles
    assert(byId(40L) > byId(20L) && byId(40L) < byId(0L))
    // token counts ride along
    assert(got.find(_._1 == 40L).get._3 === 4L)
  }

  test("duplicatedKeyRows equals groupBy -> count filter -> join back on " +
    "a high-collision frame with null keys") {
    val rnd = new scala.util.Random(7)
    def maybe[T](v: T): Option[T] = if (rnd.nextInt(6) == 0) None else Some(v)
    val df = (0 until 400).map(i =>
        (maybe(rnd.nextInt(15)), maybe("k" + rnd.nextInt(8)), i.toLong))
      .toDF("k1", "k2", "payload")
    val keys = Seq("k1", "k2")
    val dup = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(keys.map(col): _*)
    val joined = df.join(dup, keys)
      .as[(Option[Int], Option[String], Long)].collect().sortBy(_._3).toSeq
    val got = DedupOps.duplicatedKeyRows(df, keys)
      .select("k1", "k2", "payload")
      .as[(Option[Int], Option[String], Long)].collect().sortBy(_._3).toSeq
    assert(got === joined)
    assert(got.nonEmpty && got.size < 400, got.size)
    // null-key rows are frequent enough to form groups of 2 or more,
    // which a bare window count would keep
    assert(df.filter(col("k1").isNull).groupBy("k2").count()
      .filter(col("count") >= 2).count() > 0)
  }

  test("q359 builds its gram hash keys once: md5 sits in exactly one " +
    "operator of the executed plan, a projection") {
    val plan = SparkEntry.queries("q359_gram_hash_dedup")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan
    val md5Nodes = collect(plan) {
      case p if p.expressions.exists(_.find {
        case _: Md5 => true
        case _ => false
      }.isDefined) => p
    }
    assert(md5Nodes.size === 1 && md5Nodes.head.isInstanceOf[ProjectExec],
      plan.toString)
  }
}
