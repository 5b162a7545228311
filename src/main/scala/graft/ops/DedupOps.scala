package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.TextFunctions

/** Near/exact-duplicate detection for training-data pipelines: exact
  * (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design (100 TB): the only quadratic step anywhere is the
  * candidate-pair verification, and candidates are always generated by a
  * key-equality join (shared shingle / shared LSH band / shared SimHash
  * band) — i.e. a plain shuffle join Spark parallelizes by key, never a
  * cross join. Signatures are map-side only. All hashing is the md5-based
  * 48-bit scheme from [[TextFunctions.md5Hash48]] so every stage is
  * deterministic and reproducible in any engine with md5 (the DuckDB
  * oracles replay it bit-for-bit).
  */
object DedupOps {

  /** Distinct word n-gram shingles from a MATERIALIZED words-array
    * column. The two-step words→shingles split matters for performance:
    * higher-order lambdas are interpreted (CodegenFallback, no common-
    * subexpression elimination), so if the lambda references the
    * split-normalize EXPRESSION rather than a bound attribute, the whole
    * regex+split chain re-executes once per array element. Callers
    * materialize the words column behind a projection barrier first
    * (see `withShingles`). */
  def shinglesFromWords(w: Column, n: Int = 2): Column = {
    val idx = when(size(w) >= n, sequence(lit(1), size(w) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(idx, i =>
      concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
  }

  /** Convenience single-expression form (fine for one-off small inputs;
    * the pipelines below use the materialized two-step form). */
  def shingles(text: Column, n: Int = 2): Column =
    shinglesFromWords(split(TextFunctions.normalizeText(text), " "), n)

  /** (id, shingle-array) with the words array materialized through an
    * exchange barrier so lambdas see a bound attribute, not the
    * normalize+split expression. The round-robin repartition also spreads
    * a single-split parquet across the cluster before the heavy stages. */
  private def withShingles(df: DataFrame, id: String, text: String, n: Int) = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.select(col(id).as("__id"),
        split(TextFunctions.normalizeText(col(text)), " ").as("__w"))
      .repartition(par)
      .select(col("__id"), shinglesFromWords(col("__w"), n).as("__shs"))
  }

  /** Public form of the prepared (__id, __shs) shingle frame — the
    * input the `...OnShingles` variants accept, so ONE
    * normalize+split+shingle pass (the dominant map work of every
    * pipeline here) can feed several pipelines over the same corpus
    * (r15: q316 builds the exact-Jaccard profile AND the LSH candidate
    * set; before, each ran its own full shingle pass). The caller owns
    * the lifecycle: persist it before handing it to two consumers,
    * unpersist after their eager stages are materialized. */
  def shingleFrame(df: DataFrame, id: String, text: String,
                   n: Int = 2): DataFrame =
    withShingles(df, id, text, n)

  /** Exact-duplicate groups: md5 fingerprint → group → keeper = min id.
    * One shuffle on the 128-bit fingerprint; canonical representative
    * selection is just `min`. */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), TextAnalysis.fingerprint(col(text)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), min(col(id)).as("keeper"))

  /** Exploded (id, shingle) relation from a (__id, __shs) frame —
    * building block for Jaccard and MinHash.
    *
    * `explode_outer` + null-filter instead of plain `explode` on purpose:
    * for non-outer generates the optimizer infers a `size(arrayExpr) > 0`
    * filter and pushes it to the scan, re-substituting the whole
    * interpreted shingle lambda there — measured at ~30× the cost of the
    * explode itself on this corpus. The outer form generates a single
    * null row for empty arrays, which the cheap output-column filter
    * drops. */
  private def explodedShingles(sh: DataFrame) =
    sh.select(col("__id"), explode_outer(col("__shs")).as("sh"))
      .filter(col("sh").isNotNull)

  /** Exact n-gram Jaccard similarity pairs >= `threshold`.
    * Candidates come from a self-equi-join on the shingle (co-occurring
    * docs only), grouped to intersection counts; |A∪B| = mA + mB − |A∩B|.
    *
    * `maxDf` > 0 applies a document-frequency cut first (prefix-filtering
    * style): shingles present in more than `maxDf` documents are dropped
    * from the shingle universe BEFORE pairing, and per-doc sizes are
    * recomputed over the surviving universe, so the similarity stays a
    * true Jaccard — just over discriminative shingles. This is what makes
    * the op survive scale-up: the join fan-out is Σ df², so one stop-word
    * shingle shared by 30% of a 100 TB corpus would otherwise dominate
    * everything. MinHash below is the fully sub-quadratic path. */
  def jaccardPairs(df: DataFrame, id: String, text: String,
                   n: Int = 2, threshold: Double = 0.1,
                   maxDf: Int = 0): DataFrame =
    jaccardPairsOnShingles(withShingles(df, id, text, n), threshold, maxDf)

  /** [[jaccardPairs]] over a PREPARED (__id, __shs) frame
    * ([[shingleFrame]]'s shape): same plan from the explode on. */
  def jaccardPairsOnShingles(sh: DataFrame, threshold: Double = 0.1,
                             maxDf: Int = 0): DataFrame = {
    val e0 = explodedShingles(sh)
    val e = if (maxDf <= 0) e0 else {
      val rare = e0.groupBy("sh").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("sh")
      e0.join(rare, Seq("sh"))
    }
    val m = e.groupBy("__id").agg(count(lit(1)).as("__m"))
    // materialized: both self-join sides read the SAME computed frame —
    // without this each side re-runs the exploded shingle lambda and
    // the m-join (~2× the dominant cost of the whole operator)
    val em = Caches.small(e.join(m, Seq("__id")))
    val a = em.select(col("__id").as("id_a"), col("__m").as("m_a"), col("sh"))
    val b = em.select(col("__id").as("id_b"), col("__m").as("m_b"), col("sh"))
    a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "m_a", "m_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("m_a") + col("m_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Prime modulus for the affine MinHash permutation family. */
  val MinhashP = 2147483647L // 2^31 - 1

  /** k-th affine permutation of a base hash already reduced mod MinhashP.
    * One md5 per shingle total — the per-function variety comes from the
    * cheap (2k+1)·h + 7919k mod p family, not from k md5 passes (16×
    * less hashing than the naive form; exactly replayed by the oracle). */
  private def affinePerm(h1: Column, k: Int): Column =
    (lit(2L * k + 1) * h1 + lit(7919L * k)) % MinhashP

  /** MinHash signatures: one row per doc with `sig` = array of the
    * `numHashes` min-permuted shingle hashes. One explode + one groupBy
    * with `numHashes` partial-aggregated mins — map-side combine does
    * most of the work before the single shuffle on the doc id. */
  def minhashSignatures(df: DataFrame, id: String, text: String,
                        numHashes: Int = 16, n: Int = 2): DataFrame =
    signaturesFromShingles(withShingles(df, id, text, n), numHashes)
      .withColumnRenamed("__id", id)

  /** MinHash signatures from a prepared (__id, __shs) frame — lets one
    * persisted shingle frame feed BOTH signature generation and Jaccard
    * verification (see [[jaccardVerifiedPairs]]). */
  private def signaturesFromShingles(sh: DataFrame,
                                     numHashes: Int): DataFrame = {
    // The explicit exchange between the h1 projection and the group-mins
    // is a common-subexpression barrier: with the default partial-agg
    // plan, CollapseProject inlines the md5+conv chain into every one of
    // the `numHashes` partial min expressions (16× the hashing work —
    // measured 3-7× slower). Shuffling the raw (id, 8-byte hash) rows is
    // far cheaper than re-hashing; the affine permutations after the
    // exchange are three integer ops each.
    val e = explodedShingles(sh)
      .withColumn("h1", TextFunctions.md5Hash48(col("sh")) % MinhashP)
      .select(col("__id"), col("h1"))
      .repartition(col("__id"))
    val minCols = (0 until numHashes).map(k =>
      min(affinePerm(col("h1"), k)).as(s"__mh$k"))
    e.groupBy("__id").agg(minCols.head, minCols.tail: _*)
      .select(col("__id"),
        array((0 until numHashes).map(k => col(s"__mh$k")): _*).as("sig"))
  }

  /** MinHash+LSH candidate pairs: band the signature (`rowsPerBand`
    * consecutive mins per band), bucket-join on (band, band-key), emit
    * distinct co-bucketed pairs. Probability of candidacy for Jaccard s
    * is 1-(1-s^r)^b — tune (numHashes, rowsPerBand) per corpus.
    *
    * `maxBucket` > 0 drops buckets larger than the cap before pairing —
    * the standard LSH skew guard: a band value shared by B documents
    * contributes B²/2 pairs while carrying almost no signal (it is a
    * globally-common signature fragment, exactly the skewed-key hazard a
    * 100 TB self-join cannot afford). Measured on this corpus, cap=10
    * keeps 97% of true near-dup recall with 5× fewer candidates. */
  def minhashCandidates(df: DataFrame, id: String, text: String,
                        numHashes: Int = 16, rowsPerBand: Int = 2,
                        n: Int = 2, maxBucket: Int = 0): DataFrame =
    candidatesFromShingles(withShingles(df, id, text, n),
      numHashes, rowsPerBand, maxBucket)

  /** [[minhashCandidates]] over a PREPARED (__id, __shs) frame
    * ([[shingleFrame]]'s shape): same plan from the signature stage
    * on. */
  def minhashCandidatesOnShingles(sh: DataFrame, numHashes: Int = 16,
                                  rowsPerBand: Int = 2,
                                  maxBucket: Int = 0): DataFrame =
    candidatesFromShingles(sh, numHashes, rowsPerBand, maxBucket)

  /** The shared LSH blocking tail: persist a (__id, band_key) frame for
    * its multiple consumers, optionally drop hot buckets (the skew
    * guard), self-join within buckets, and MATERIALIZE the (small)
    * distinct pair list so the banded cache is released before
    * returning — no unpersist obligation lands on the caller. Used by
    * MinHash banding here and sign-LSH bucketing in [[Similarity]]. */
  private[ops] def blockedPairs(banded: DataFrame,
                                maxBucket: Int): DataFrame = {
    val banded0 = banded
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = if (maxBucket <= 0) banded0 else {
      val small = banded0.groupBy("band_key")
        .agg(count(lit(1)).as("__bc"))
        .filter(col("__bc") <= maxBucket).select("band_key")
      banded0.join(small, Seq("band_key"))
    }
    val l = capped.select(col("__id").as("id_a"), col("band_key"))
    val r = capped.select(col("__id").as("id_b"), col("band_key"))
    val pairs = Caches.small(
      l.join(r, Seq("band_key"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct())
    banded0.unpersist()
    pairs
  }

  /** LSH candidate pairs from a prepared (__id, __shs) frame. */
  private def candidatesFromShingles(sh: DataFrame, numHashes: Int,
                                     rowsPerBand: Int,
                                     maxBucket: Int): DataFrame = {
    val bands = numHashes / rowsPerBand
    val sig = signaturesFromShingles(sh, numHashes)
    val bandKeys = (0 until bands).map { b =>
      concat_ws(":", (lit(b.toString) +: (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1).cast("string"))): _*)
    }
    // The banded frame feeds BOTH sides of the self-join (and the bucket
    // census): without persisting, Spark recomputes the whole
    // shingle→hash→group-min chain once per consumer. Signatures are
    // id + numHashes longs — tiny relative to the corpus — so caching
    // them is the textbook LSH trade (same as persisting an ML model's
    // transformed features between stages).
    blockedPairs(sig.select(col("__id"),
      explode(array(bandKeys: _*)).as("band_key")), maxBucket)
  }

  /** The scalable near-dup pipeline: MinHash-LSH candidates, then exact
    * Jaccard verification computed ONLY on candidate pairs (set
    * intersection of the two shingle arrays). Sub-quadratic end-to-end;
    * recall is the LSH candidacy probability, precision is exact. */
  def jaccardVerifiedPairs(df: DataFrame, id: String, text: String,
                           n: Int = 2, threshold: Double = 0.1,
                           numHashes: Int = 16, rowsPerBand: Int = 2,
                           maxBucket: Int = 0): DataFrame = {
    // ONE shingle frame, persisted, shared by BOTH candidate generation
    // (shingle→minhash→bands) and verification (a-/b-side array joins) —
    // normalization+shingling, the dominant map work, runs exactly once.
    val sh = withShingles(df, id, text, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = candidatesFromShingles(sh, numHashes, rowsPerBand, maxBucket)
    val verified = Caches.small(
      cands
        .join(sh.toDF("id_a", "sh_a"), Seq("id_a"))
        .join(sh.toDF("id_b", "sh_b"), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", round(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"),
          4))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"))
    sh.unpersist()
    verified
  }

  /** Shingle-CONTAINMENT verification over the LSH candidate pairs —
    * the quote/excerpt detector. Containment C = |A∩B| / min(|A|,|B|)
    * finds a short document embedded in a long one, the case Jaccard
    * structurally misses (|A∩B|/|A∪B| stays small when |B| ≫ |A|, so a
    * verbatim excerpt never clears a Jaccard threshold). Same
    * sub-quadratic shape as [[jaccardVerifiedPairs]]: one persisted
    * shingle frame, LSH candidates, exact set arithmetic only on the
    * candidate slice. Emits both metrics (rounded) plus the raw set
    * sizes so callers can classify near-dup vs quote from one pass. */
  def containmentVerifiedPairs(df: DataFrame, id: String, text: String,
                               n: Int = 2, threshold: Double = 0.5,
                               numHashes: Int = 16, rowsPerBand: Int = 2,
                               maxBucket: Int = 0): DataFrame = {
    val sh = withShingles(df, id, text, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = candidatesFromShingles(sh, numHashes, rowsPerBand, maxBucket)
    val verified = Caches.small(
      cands
        .join(sh.toDF("id_a", "sh_a"), Seq("id_a"))
        .join(sh.toDF("id_b", "sh_b"), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("n_a", size(col("sh_a")))
        .withColumn("n_b", size(col("sh_b")))
        .withColumn("containment", round(col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 4))
        .withColumn("jaccard", round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 4))
        .filter(col("containment") >= threshold)
        .select("id_a", "id_b", "n_a", "n_b", "inter", "jaccard",
          "containment"))
    sh.unpersist()
    verified
  }

  /** Blocked fuzzy (edit-distance) matching: pairs form ONLY inside a
    * block (equality on `blockCols` — the block key is the op's recall
    * scope and bounds the pair space, keeping the join sub-quadratic),
    * then a THRESHOLDED levenshtein (banded O(maxDist·len) DP) verifies.
    * Output: (id_a, id_b, dist) with dist <= maxDist.
    *
    * SCALE SHAPE (two guards on block density, both semantics-visible):
    *
    * 1. EXACT-COLLAPSE FIRST (always on, output-identical): identical
    *    (block, text) rows collapse to one representative before any
    *    pairwise work — dist is a function of the texts alone, so rep
    *    pairs expand back to id pairs losslessly (dist-0 intra-group
    *    pairs come from the group sizes). The DP cost then scales with
    *    DISTINCT texts per block, not rows: a corpus that grows by
    *    duplication (the dominant growth mode in crawl data, and
    *    exactly what the ScaleUp replica corpus does) stays ~linear
    *    where the naive self-join was quadratic. This is the standard
    *    exact-dedup-before-fuzzy ordering (C4/RefinedWeb pipelines).
    *
    * 2. AUTO SALT on representative density (derived from one cheap
    *    count-shaped agg, no caller knob): if the max distinct-text
    *    count per block exceeds `targetRepsPerBlock`, the block key is
    *    widened with xxhash64(text) % s. Identical-text pairs are
    *    UNAFFECTED (they never cross the join); non-identical recall
    *    narrows to 1/s — the documented recall-scope trade of a salted
    *    block key, taken only when genuinely-distinct density would
    *    otherwise go quadratic. s = 1 at every gate SF (and at the 10×
    *    replica corpus, where the collapse absorbs all the growth), so
    *    the DuckDB oracle replays bit-exactly. */
  def fuzzyPairs(df: DataFrame, id: String, text: String,
                 blockCols: Seq[String], maxDist: Int,
                 targetRepsPerBlock: Int = 512,
                 densityHint: Option[Long] = None): DataFrame =
    scoredBlockPairs(df, id, text, blockCols,
      score = (ta, tb) => levenshtein(ta, tb, maxDist + 1).cast("long"),
      crossKeep = _.between(0, maxDist),
      selfScore = lit(0L), out = "dist",
      targetRepsPerBlock = targetRepsPerBlock, densityHint = densityHint)

  /** Generalized collapse-then-pair blocking (the [[fuzzyPairs]] scale
    * shape with a pluggable pair scorer): `score(text_a, text_b)` runs
    * once per DISTINCT-text pair inside a block, `crossKeep` filters
    * the scored cross pairs, and identical-text pairs expand with the
    * constant `selfScore` (the scorer's value on equal inputs) without
    * being scored pairwise. Output: (id_a, id_b, <out>).
    *
    * CONTRACT (advisor r08): `score` MUST be SYMMETRIC —
    * score(a,b) == score(b,a). Scoring happens on min-group-id rep
    * orientation while the emitted pair is re-ordered via
    * least/greatest on member ids, so an asymmetric scorer would
    * silently attach flipped scores wherever the two orderings
    * disagree (every current scorer — Levenshtein, Jaro-Winkler,
    * Jaccard — is symmetric). `selfScore` pairs (identical texts)
    * BYPASS `crossKeep` by design: the caller asserts the scorer's
    * equal-input value is always a keeper (dist 0 / similarity 1).
    *
    * `densityHint`: max DISTINCT texts in any one block, when the
    * caller already knows it (or a safe upper bound). Without it, ONE
    * eager count-shaped census job runs AT PLAN-CONSTRUCTION TIME to
    * size the salt — surprising for a DataFrame-returning API (merely
    * building the plan executes two Spark jobs, repeated on every
    * rebuild); with it, construction is lazy like every other op. */
  def scoredBlockPairs(df: DataFrame, id: String, text: String,
                       blockCols: Seq[String],
                       score: (Column, Column) => Column,
                       crossKeep: Column => Column,
                       selfScore: Column, out: String,
                       targetRepsPerBlock: Int = 512,
                       densityHint: Option[Long] = None): DataFrame = {
    // an empty block key would silently degenerate into an O(n²) cross
    // join — the opposite of this op's contract
    require(blockCols.nonEmpty, "fuzzyPairs requires at least one block column")
    require(targetRepsPerBlock > 0, "targetRepsPerBlock must be positive")
    val members = df.select(
      (col(id).as("__mid") +: col(text).as("__mt") +: blockCols.map(col)): _*)
    val reps = members.groupBy(("__mt" +: blockCols).map(col): _*)
      .agg(min(col("__mid")).as("__gid"), count(lit(1)).as("__gn"))
    val densest = densityHint.getOrElse {
      val maxReps = reps.groupBy(blockCols.map(col): _*)
        .agg(count(lit(1)).as("__bn"))
        .agg(max(col("__bn"))).collect()(0)
      if (maxReps.isNullAt(0)) 0L else maxReps.getLong(0)
    }
    val salts = math.max(1L,
      math.ceil(densest.toDouble / targetRepsPerBlock).toLong)
    val salted =
      if (salts == 1L) reps
      else reps.withColumn("__salt", pmod(xxhash64(col("__mt")), lit(salts)))
    val joinKeys = if (salts == 1L) blockCols else blockCols :+ "__salt"
    // The pair join's work is quadratic in a block's reps, not linear in
    // its bytes, so both sides read one hash exchange on the join keys
    // with the planned shuffle partition count: an exchange the join
    // itself plans is coalesced by AQE to a byte target, which packs a
    // small rep frame (a few hundred KB expanding to ~1 M scored pairs)
    // into 1–2 tasks (measured at local[4] on q46's panel: 2 pair
    // tasks before, 4 after). A count-fixed repartition is also outside
    // AQE's skew-join splitting, so a hot block is bounded only by the
    // salt above: about `targetRepsPerBlock` reps per join key.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val byBlock = salted.repartition(parts, joinKeys.map(col): _*)
    val a = byBlock.select((col("__gid").as("gid_a") +:
      col("__mt").as("text_a") +: joinKeys.map(col)): _*)
    val b = byBlock.select((col("__gid").as("gid_b") +:
      col("__mt").as("text_b") +: joinKeys.map(col)): _*)
    // distinct-text rep pairs (dist >= 1 possible) + dist-0 self pairs
    // for multi-member groups; both expand through the SAME member join
    val crossPairs = a.join(b, joinKeys)
      .filter(col("gid_a") < col("gid_b"))
      .select((Seq(col("gid_a"), col("gid_b"), col("text_a"),
        col("text_b")) ++ blockCols.map(col)): _*)
      .withColumn(out, score(col("text_a"), col("text_b")))
      .filter(crossKeep(col(out)))
    val selfPairs = reps.filter(col("__gn") >= 2)
      .select((Seq(col("__gid").as("gid_a"), col("__gid").as("gid_b"),
        col("__mt").as("text_a"), col("__mt").as("text_b")) ++
        blockCols.map(col) :+ selfScore.as(out)): _*)
    val repPairs = crossPairs.unionByName(selfPairs)
    // expand rep pairs back to id pairs: two equi-joins on
    // (block, text) — every member of group A pairs with every member
    // of group B (lossless: dist is a function of the texts); same-group
    // pairs keep each unordered pair once via __ida < __idb
    val ma = members.select(
      (col("__mid").as("__ida") +: col("__mt").as("text_a") +:
        blockCols.map(col)): _*)
    val mb = members.select(
      (col("__mid").as("__idb") +: col("__mt").as("text_b") +:
        blockCols.map(col)): _*)
    repPairs
      .join(ma, "text_a" +: blockCols)
      .join(mb, "text_b" +: blockCols)
      .filter(col("gid_a") =!= col("gid_b") || col("__ida") < col("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col(out))
  }

  /** 32-bit SimHash over whitespace tokens (with multiplicity): bit j of
    * the signature is the sign of Σ_tokens (2·bit_j(md5Hash48(token))−1).
    * Computed via a (token × bit) explode — two narrow shuffles, no
    * pairwise work; near-dup candidates then come from banding the
    * signature (`simhashBands`). */
  def simhash(df: DataFrame, id: String, text: String,
              bits: Int = 32): DataFrame = {
    // Shape: (1) pre-aggregate token multiplicities per doc — the rest
    // scales with per-doc vocabulary, not token count; (2) ONE groupBy
    // with `bits` integer-op sum aggregates instead of a bits× row
    // explosion. bit_j votes Σ cnt·(2b_j−1) = 2·Σ cnt·b_j − Σcnt.
    // No exchange barrier between the md5 projection and the groupBy:
    // unlike MinHash's interpreted-lambda hazard, everything here stays
    // inside WholeStageCodegen where subexpression elimination evaluates
    // the (CollapseProject-inlined) md5 once per row — measured ~2×
    // faster without the extra shuffle.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val toks = df.repartition(par)
      .select(col(id).as("__id"),
        explode_outer(TextAnalysis.tokens(col(text))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy("__id", "w").agg(count(lit(1)).as("cnt"))
      .select(col("__id"), col("cnt"), TextFunctions.md5Hash48(col("w")).as("h"))
    val sums = (0 until bits).map(j =>
      sum(col("cnt") * expr(s"(h >> $j) & CAST(1 AS BIGINT)")).as(s"__s$j"))
    val agged = toks.groupBy("__id")
      .agg(sum(col("cnt")).as("__t"), sums: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"__s$j") * 2 - col("__t") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agged.select(col("__id").as(id), sig.as("simhash"))
  }

  /** SimHash near-dup candidates: split the signature into `bands` bit
    * ranges; docs sharing any band value are candidates (Hamming-distance
    * analogue of MinHash banding). */
  def simhashCandidates(sigs: DataFrame, id: String,
                        bits: Int = 32, bands: Int = 4): DataFrame = {
    val width = bits / bands
    val mask = (1L << width) - 1
    val keys = (0 until bands).map { b =>
      concat_ws(":", lit(b.toString),
        expr(s"(simhash >> ${b * width}) & CAST($mask AS BIGINT)").cast("string"))
    }
    val banded = sigs.select(col(id).as("__id"),
      explode(array(keys: _*)).as("band_key"))
    val l = banded.select(col("__id").as("id_a"), col("band_key"))
    val r = banded.select(col("__id").as("id_b"), col("band_key"))
    l.join(r, Seq("band_key")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Train/eval DECONTAMINATION: flag training documents sharing any
    * word n-gram with a (small) benchmark/eval corpus — the standard
    * pretraining hygiene pass that keeps test sets out of the training
    * mix. Returns (id, n_shared) for contaminated training docs only.
    *
    * Scale (100 TB train, benchmark-sized eval): the eval side's
    * distinct shingles are a broadcastable artifact (benchmarks are
    * MBs, not TBs), so the check is a map-side broadcast semi-join on
    * the training scan — no shuffle of the training corpus at all; the
    * only aggregation is per-doc counting of matched shingles. If the
    * eval side ever outgrows broadcast, the same code path becomes a
    * plain shuffle join on the shingle key — still key-equality, never
    * pairwise. */
  def contaminatedDocs(train: DataFrame, eval_ : DataFrame, id: String,
                       text: String, n: Int = 5): DataFrame = {
    // materialized-words form (withShingles), NOT the single-expression
    // shingles(): the interpreted shingle lambda would re-run
    // normalize+split once per array element (no CSE under
    // CodegenFallback) — measured 8× slower on the bench corpus
    // explode_outer + null-filter, NOT plain explode: the non-outer
    // generate makes the optimizer infer `size(__shs) > 0` and push it
    // to the scan with the whole interpreted shingle lambda
    // re-substituted — the same ~10× hazard explodedShingles documents.
    def sh(df: DataFrame) = withShingles(df, id, text, n)
      .select(col("__id"), explode_outer(col("__shs")).as("__sh"))
      .filter(col("__sh").isNotNull)
    val evalSh = sh(eval_).select("__sh").distinct()
    sh(train)
      .join(broadcast(evalSh), Seq("__sh"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_shared")) // shingles are pre-distinct per doc
      .select(col("__id").as(id), col("n_shared"))
  }

  /** CONNECTED COMPONENTS over a near-dup pair list — the step that
    * turns pairwise candidates (MinHash/SimHash/cosine/fuzzy pairs)
    * into dedup GROUPS (keep one doc per component). Iterative min-label
    * propagation in pure DataFrame ops: every node repeatedly adopts
    * the smallest label among itself and its neighbors until a pass
    * changes nothing. Returns (node, component) with component = min
    * node id in the component.
    *
    * Scale (100 TB): each iteration is one shuffle join on the edge key
    * for the neighbor-min step plus one label-on-label join for the
    * POINTER JUMP (lbl ← lbl(lbl), the Shiloach–Vishkin shortcut) —
    * O(E) + O(V) work per pass, no driver-side graph. The jump doubles
    * the distance a label covers each pass, so convergence is
    * O(log diameter) passes, not O(diameter): a 1000-link chain closes
    * in ~10 passes instead of ~1000, and the tiny star/clique clusters
    * near-dup graphs actually produce close in 2. Lineage is truncated
    * per iteration (localCheckpoint) so the loop's plan does not
    * grow. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIter: Int = 25): DataFrame = {
    val sym = pairs.select(col(idA).as("u"), col(idB).as("v"))
      .union(pairs.select(col(idB).as("u"), col(idA).as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = Caches.small(
      sym.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // materialized first: the self-join below on a plan containing
      // the union trips Catalyst's Union constraint rewrite (attribute
      // map miss); a flat LogicalRDD self-join deduplicates cleanly.
      // The node's label at iteration start RIDES ALONG as __old
      // (r15): the labels branch contributes exactly one row per node,
      // so min(__old) over the group — neighbor rows carry a typed
      // null, which min ignores — recovers it without the separate
      // jumped ⋈ labels join the old convergence check paid.
      val prop = Caches.small(
        labels.join(sym, col("node") === col("u"))
          .select(col("v").as("node"), col("lbl"),
            when(lit(false), col("lbl")).as("__old"))
          .unionByName(labels.select(col("node"), col("lbl"),
            col("lbl").as("__old")))
          .groupBy("node").agg(min("lbl").as("lbl"),
            min("__old").as("__old")))
      // pointer jump: adopt the label's own label. Labels are always
      // node ids present in `labels` (they start as self and only
      // min-combine), so the left join misses only when lbl is already
      // a root; coalesce keeps it then. The convergence test — did any
      // node's label drop this pass? labels only decrease, so lbl <
      // __old iff changed — rides the checkpoint materialization
      // itself (smallCountedTrue): one action per iteration where the
      // former shape paid checkpoint + join + isEmpty.
      val (jumped, changed) = Caches.smallCountedTrue(
        prop.join(
            prop.select(col("node").as("__ln"), col("lbl").as("__ll")),
            col("lbl") === col("__ln"), "left")
          .select(col("node"),
            coalesce(col("__ll"), col("lbl")).as("lbl"), col("__old")),
        col("lbl") < col("__old"))
      converged = changed == 0L
      labels = jumped.select("node", "lbl")
      i += 1
    }
    sym.unpersist()
    labels.select(col("node"), col("lbl").as("component"))
  }

  /** C4-style duplicate-span removal, relationally: split each document
    * into fixed-width non-overlapping word chunks, keep only the FIRST
    * corpus-wide occurrence of each chunk text (global order = (doc id,
    * chunk position)), and reassemble the survivors in document order.
    * Returns (id, n_chunks, n_kept, clean_text).
    *
    * Scale (100 TB): duplicate detection is pure key equality — one
    * groupBy to form chunks (keys = (doc, chunk), cardinality ≈ corpus
    * words / width), one window over chunk text for the keep-first rank
    * (cardinality = distinct chunks), one reassembly groupBy on doc id.
    * No all-pairs step anywhere; it parallelizes like a word count. A
    * pathological hot chunk (the same boilerplate line a billion times)
    * lands in one rank partition — at that scale swap the window for a
    * min(struct(doc,chunk)) pre-aggregation per chunk text; the window
    * form is kept because it is a single pass. */
  def chunkDedup(df: DataFrame, id: String, text: String,
                 width: Int = 5): DataFrame = {
    val words = df
      .select(col(id).as("__id"),
        posexplode(split(TextFunctions.normalizeText(col(text)), " "))
          .as(Seq("pos", "w")))
    val chunks = words
      .groupBy(col("__id"), (col("pos") / width).cast("int").as("chunk_id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x("w"))).as("chunk"))
    val keepRank = Window.partitionBy(col("chunk"))
      .orderBy(col("__id"), col("chunk_id"))
    chunks
      .withColumn("__rn", row_number().over(keepRank))
      .groupBy(col("__id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__rn") === 1,
            struct(col("chunk_id"), col("chunk"))))),
          x => x("chunk"))).as("clean_text"))
      .select(col("__id").as(id), col("n_chunks"), col("n_kept"),
        col("clean_text"))
  }

  /** Duplicate-SPAN detection — the relational form of suffix-array
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): a token span is duplicated if its
    * length-`k` word gram occurs ≥ `minCount` times corpus-wide
    * (including within one document). Per document, duplicated gram
    * start positions are merged into maximal intervals (gaps-and-
    * islands over a running max of span ends), yielding
    * (id, n_tokens, n_dup_spans, dup_tokens, dup_frac).
    *
    * Where the paper builds one giant suffix array, this builds k-gram
    * POSTING COUNTS — same duplicated-substring semantics at fixed
    * granularity k, but expressed as two key-equality shuffles that
    * parallelize like a word count: (1) gram → count (map-side
    * combined; only grams with count ≥ minCount survive the filter),
    * (2) the gram stream semi-joined back on gram (AQE handles hot
    * boilerplate grams), then one per-doc window for the interval
    * merge. No suffix sort, no driver state, no pair join anywhere. */
  def dupSpans(df: DataFrame, id: String, text: String,
               k: Int = 8, minCount: Long = 2L): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val words = df
      .select(col(id).as("__id"),
        split(TextFunctions.normalizeText(col(text)), " ").as("__w"))
      .repartition(par) // projection barrier: lambdas bind the array, not the regex chain
    val gramArr = when(size(col("__w")) >= k,
        transform(sequence(lit(1), size(col("__w")) - (k - 1)), i =>
          concat_ws(" ", (0 until k).map(j => element_at(col("__w"), i + j)): _*)))
      .otherwise(array().cast("array<string>"))
    val grams = words
      .select(col("__id"), posexplode_outer(gramArr).as(Seq("pos", "__g")))
      .filter(col("__g").isNotNull)
    val dupGrams = grams.groupBy("__g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__g")
    val dupPos = grams.join(dupGrams, Seq("__g"))
      .select(col("__id"), col("pos"))
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + k)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dupPos
      .withColumn("__new", when(
        prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1).otherwise(0))
      .withColumn("__island",
        sum(col("__new")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = islands.groupBy(col("__id"), col("__island"))
      .agg(min(col("pos")).as("__s"), (max(col("pos")) + k).as("__e"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("__e") - col("__s")).as("dup_tokens"))
    words.select(col("__id"), size(col("__w")).cast("long").as("n_tokens"))
      .join(spans, Seq("__id"), "left")
      .select(col("__id").as(id), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 4).as("dup_frac"))
  }

  /** Edit-distance near-duplicate pairs: prefix-block candidate
    * generation + THRESHOLDED Levenshtein verification. Returns
    * (id_a, id_b, edit_dist) for pairs sharing a `prefixLen`-char text
    * prefix whose lengths differ ≤ `lenBand` and whose Levenshtein
    * distance ≤ `maxDist`.
    *
    * Scale (100 TB): candidates come from an equi-join on the prefix
    * block key — never a cross join — and hot blocks (boilerplate
    * sharing one prefix corpus-wide) are dropped by the `maxBlock` cap
    * BEFORE pairing, exactly like MinHash's bucket cap, so the worst
    * block contributes ≤ maxBlock²/2 pairs. Verification uses Spark's
    * banded `levenshtein(l, r, threshold)` (O(maxDist·n) per pair, not
    * O(n²)), and the length-band filter runs before it so the DP never
    * sees a pair it could not accept. */
  def editDistancePairs(df: DataFrame, id: String, text: String,
                        prefixLen: Int = 16, lenBand: Int = 20,
                        maxDist: Int = 20, maxBlock: Int = 64): DataFrame = {
    val base = df.select(col(id).as("__id"), col(text).as("__t"),
      substring(col(text), 1, prefixLen).as("__blk"),
      length(col(text)).as("__len"))
    val keptBlocks = base.groupBy("__blk").count()
      .filter(col("count") <= maxBlock).select("__blk")
    val blocked = base.join(keptBlocks, "__blk")
    val lhs = blocked.select(col("__blk"), col("__id").as("id_a"),
      col("__t").as("__ta"), col("__len").as("__la"))
    val rhs = blocked.select(col("__blk"), col("__id").as("id_b"),
      col("__t").as("__tb"), col("__len").as("__lb"))
    lhs.join(rhs, Seq("__blk"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= lenBand)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** SORTED-NEIGHBORHOOD candidate pairs (Hernández & Stolfo, SIGMOD
    * '95 — the classic record-linkage blocking the reference's
    * intended-scope `recordlinkage` library ships as
    * `SortedNeighbourhood`, `requirements.txt:25`): rank every record
    * by `sortKey`, emit each record paired with its next `window`
    * neighbors in rank order. Output: (a, b, gap) where a/b are the
    * full input rows as structs and gap = rank(b) − rank(a) ∈
    * [1, window].
    *
    * SCALE SHAPE: candidate volume is EXACTLY n·window — linear in the
    * corpus by construction, the property that makes SNM the
    * go-to blocking when equality blocks go density-quadratic. The
    * global rank comes from [[graft.engine.Dedup.numberRows]] (range-
    * partition + partition-offset two-phase — no single-partition
    * sort), and the neighbor pairing is an EQUI-join on rank (the
    * window explodes map-side into rank+d probe keys), so no range
    * join / nested-loop shape appears at any size. `sortKey` must be
    * unique per row for a deterministic pairing (callers append a
    * tiebreak column). */
  def sortedNeighborhoodPairs(df: DataFrame, sortKey: Column,
                              window: Int): DataFrame = {
    require(window >= 1, "sortedNeighborhoodPairs needs window >= 1")
    val rowCols = df.columns.map(col)
    val ranked = graft.engine.Dedup.numberRows(df, sortKey, "__snm_rank")
    val left = ranked.select(struct(rowCols: _*).as("a"),
      col("__snm_rank").as("__ra"))
    val right = ranked.select(struct(rowCols: _*).as("b"),
      col("__snm_rank").as("__rb"))
    left
      .withColumn("gap",
        explode(array((1 to window).map(d => lit(d.toLong)): _*)))
      .withColumn("__rb", col("__ra") + col("gap"))
      .join(right, Seq("__rb"))
      .select(col("a"), col("b"), col("gap"))
  }

  /** Stride-1 positional L-grams from a per-doc token stream
    * (`posexplode` shape: dense 0-based positions): one row per
    * position with a full L-token forward run, `gram` = the
    * space-joined run. The shared front half of the substring-dedup
    * family (q351/q353); tail positions with fewer than L tokens left
    * are dropped (concat_ws SKIPS nulls — an unfiltered tail would
    * emit short grams that collide with each other). */
  def posGrams(toks: DataFrame, id: String, pos: String, tok: String,
               L: Int): DataFrame = {
    require(L >= 1, s"posGrams needs L >= 1, got $L")
    val byDoc = Window.partitionBy(col(id)).orderBy(col(pos))
    val leads = (1 until L).foldLeft(toks) { (df, k) =>
      df.withColumn(s"__w$k", lead(col(tok), k).over(byDoc))
    }
    // L = 1 has no lead columns and nothing to filter: every token is
    // its own gram
    val full = if (L == 1) leads
               else leads.filter(col(s"__w${L - 1}").isNotNull)
    full.select(col(id), col(pos),
      concat_ws(" ",
        col(tok) +: (1 until L).map(k => col(s"__w$k")): _*).as("gram"))
  }

  /** The 100 TB-shape twin of [[posGrams]]: the same stride-1
    * positional L-gram stream, but keyed by TWO independent
    * 48-bit md5-derived hashes of the gram (seeds 1 and 2) instead of
    * the L-token string. The gram string is still formed map-side
    * (projection work inside whole-stage codegen, never shuffled) and
    * immediately reduced to (h1, h2): every downstream shuffle —
    * the gram-count groupBy and the duplicated-key semi-join — then
    * carries 16 bytes per key where the string form carries
    * ~6·L (L=8 ≈ 50 B, L=64 ≈ 400 B). Collision odds for a false
    * duplicate are ~2⁻⁹⁶ per pair under the two independent seeds —
    * negligible at any corpus size; the string form stays the
    * oracle-exact reference (q351), this is the deployment key
    * (SCALE.md §6m). Both halves are DuckDB-replayable:
    * ('0x'||substring(md5(seed||':'||gram),1,12))::BIGINT, the
    * [[graft.engine.TextFunctions.md5Hash48]] contract. */
  def posGramHashes(toks: DataFrame, id: String, pos: String, tok: String,
                    L: Int): DataFrame =
    posGrams(toks, id, pos, tok, L)
      .select(col(id), col(pos),
        TextFunctions.md5Hash48(col("gram"), seed = 1).as("h1"),
        TextFunctions.md5Hash48(col("gram"), seed = 2).as("h2"))

  /** The rows of `df` whose key (the `keys` tuple) occurs at least
    * twice, all columns kept — the duplicated-gram filter of the
    * substring-dedup queries q351/q353/q359. One window count over
    * the key partitioning: a single exchange, and the key projection
    * (the gram string, or its md5 hashes) runs once. The equivalent
    * `groupBy(keys).count → filter → join back` reads the key frame
    * twice, so each side of the join re-runs that projection.
    *
    * Null keys never qualify, as that equi-join drops them; a plain
    * window would count them as one group. They are counted as 0
    * rather than filtered out first: the optimizer pushes an
    * `isNotNull` filter on a computed key below the projection that
    * computes it, which evaluates the key expression a second time.
    *
    * Skew trade-off: every row of one key lands in one window task,
    * which buffers the whole group; the semi-join's probe side can be
    * split by AQE's skew-join handling, and its count is map-side
    * combined. Measured at local[4] on 1.86 M gram-hash rows where one
    * boilerplate 8-gram holds 25 % of them, the window ran 2.2–2.3×
    * faster than the semi-join (5.7 vs 12.8 s at 4 shuffle partitions;
    * 5.3 vs 12.4 s at 16, with broadcast off and a 1 MB skew-join
    * threshold), and its slowest task took no longer than without the
    * hot gram. Not measured where one gram's rows outgrow a task's
    * memory, so this is not yet the 100 TB form. [[dupSpans]] (q103)
    * therefore keeps the semi-join as the skew-safe form, and
    * [[prefixDoublingDupStarts]] keeps it because its key frame is
    * checkpointed, so the join re-runs no key projection. */
  def duplicatedKeyRows(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "duplicatedKeyRows needs at least one key")
    val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
    df.withColumn("__kc", count(when(keyed, lit(1)))
        .over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__kc") >= 2)
      .drop("__kc")
  }

  /** Merge duplicated-START positions (each covering [pos, pos+L))
    * into maximal per-doc spans: a new span opens when the gap to the
    * previous duplicated start exceeds L. Returns (id, span start
    * `st`, EXCLUSIVE end `en`). Equal-width intervals make the plain
    * lag rule exact — no running-max-of-ends needed. Shared by the
    * substring-dedup family (q351/q353/q354). */
  def mergeSpans(hits: DataFrame, id: String, pos: String,
                 L: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(id)).orderBy(col(pos))
    hits
      .withColumn("__brk",
        when(col(pos) - lag(col(pos), 1).over(byDoc) <= L, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("__span", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(id), col("__span"))
      .agg(min(col(pos)).as("st"), (max(col(pos)) + L).as("en"))
      .select(col(id), col("st"), col("en"))
  }

  /** ORDER-CONSISTENT SUFFIX RANKS at `depth` (a power of two ≥ 2):
    * one row per (id, pos) whose document still has `depth` tokens
    * from pos on, with `__r` = the DENSE 1..K lexicographic rank of
    * that depth-token run among all distinct depth-token runs in the
    * corpus — the corpus suffix array truncated at `depth`, held as a
    * rank table. Equal runs share a rank (duplicate detection is rank
    * equality, q354) and rank order is TOKENWISE lexicographic run
    * order — tokens compared as whole strings, runs compared
    * position by position. Tokenwise order coincides with the
    * SPACE-JOINED gram sort (what q357's DuckDB dense_rank oracle
    * checks) iff no token contains a character below 0x20: a token
    * that extends another with a control character would sort below
    * the space separator in the joined string but above it tokenwise.
    * Whitespace-normalized text satisfies this for every printable
    * corpus; tokenwise is also the semantically right order for token
    * runs (it never splits a token).
    *
    * Construction is prefix doubling: a depth-2 seed ranks the
    * DISTINCT adjacent token pairs (one round cheaper than seeding at
    * depth 1), then each round turns depth-k ranks into depth-2k or
    * depth-4k ranks by numbering the distinct (rank(p), rank(p+k)[,
    * rank(p+2k), rank(p+3k)]) tuples in lex order — radix 4 whenever
    * the remaining depth allows (r14: tuple lex order equals run
    * order at any radix, so ranks are integer-identical to the binary
    * ladder's while depth 8 pays ONE post-seed round instead of two).
    * INVARIANT carried through the rounds: after the depth-d
    * stage the frame holds exactly the per-doc positions 0..len-d,
    * still densely consecutive — so lead(k) is always "the rank d
    * tokens later" and no NULL bookkeeping is needed; too-short docs
    * drop out entirely.
    *
    * Each round frame is materialized via [[Caches.iteration]] —
    * localCheckpoint under the hood (same mechanism as
    * [[Caches.small]], and the same executor-loss/no-recompute caveat
    * APPLIES; Caches.scala documents that accepted trade), but with
    * the explicit-release CONTRACT these corpus-sized frames need
    * (one row per token position, advisor r11): a round consumes its
    * input three times (pair census twice inside numberRows, once in
    * the rank join) — without materialization the self-referencing
    * lineage recomputes every upstream round per use, turning log
    * depth rounds into ~3^rounds work. Each round frame is
    * RELEASED as soon as the next one is materialized, so live
    * storage stays ~2 frames at any depth; only the final round's
    * frame outlives the loop (the returned rank join reads it — the
    * ContextCleaner frees it on GC, the [[Caches.small]]
    * lifecycle). */
  def suffixRanks(toks: DataFrame, id: String, pos: String, tok: String,
                  depth: Int): DataFrame = {
    require(depth >= 2 && Integer.highestOneBit(depth) == depth,
      s"suffixRanks needs a power-of-two depth >= 2, got $depth")
    val byDoc = Window.partitionBy(col(id)).orderBy(col(pos))
    val p0 = Caches.iteration(toks
      .withColumn("__t2", lead(col(tok), 1).over(byDoc))
      .filter(col("__t2").isNotNull)
      .select(col(id), col(pos), col(tok).as("__a"), col("__t2").as("__b")))
    val seed = graft.engine.Dedup.numberRows(
      p0.select(col("__a"), col("__b")).distinct(),
      struct(col("__a"), col("__b")), "__nr")
    // Contract gate (advisor r11): tokenwise rank order coincides with
    // the space-joined gram sort ONLY when no token carries a sub-0x20
    // character (tokens() strips \s, so e.g. 0x01 survives). Fail
    // loudly instead of letting a violating corpus surface as an
    // opaque oracle hash mismatch. The scan runs on the SEED rank
    // table (r14) — numberRows has already materialized the distinct
    // pair frame internally, so this reads the vocab-grain checkpoint
    // instead of re-scanning the corpus-grain p0 as before; coverage
    // is identical (every rank-participating token appears in some
    // distinct adjacent pair; single-token docs never reach p0, but
    // they contribute no ranks either).
    require(seed.filter(col("__a").rlike("[\\x00-\\x1f]") ||
        col("__b").rlike("[\\x00-\\x1f]")).isEmpty,
      "suffixRanks: a corpus token carries a control character below " +
        "0x20 — tokenwise rank order would diverge from the " +
        "space-joined gram sort (see scaladoc)")
    var cur = p0.join(seed, Seq("__a", "__b"))
      .select(col(id), col(pos), col("__nr").as("__r"))
    var prevRound = p0
    var k = 2
    while (k < depth) {
      // RADIX-4 rounds where the remaining depth allows (r14
      // optimization): rank_{4k}(p) = dense rank of the 4-tuple
      // (rank_k(p), rank_k(p+k), rank_k(p+2k), rank_k(p+3k)) — the
      // same sparse-table identity as the binary step, one level
      // deeper. Tuple lex order equals depth-4k run order, so the
      // dense ranks are INTEGER-IDENTICAL to two binary rounds'
      // (SuffixDedupSpec locks this against the literal gram sort);
      // what changes is the round count — depth 8 runs seed + ONE
      // round instead of seed + two — trading 2 longs of extra key
      // width in the distinct/rank/join of the merged round for a
      // whole round's window + census + rank + join. All three leads
      // ride ONE window pass (one exchange + sort).
      val arity = if (depth / k >= 4) 4 else 2
      val leads = (1 until arity).foldLeft(cur) { (df, j) =>
        df.withColumn(s"__t$j", lead(col("__r"), j * k).over(byDoc))
      }
      val keyCols = "__a" +: (1 until arity).map(j => s"__t$j")
      val paired = Caches.iteration(leads
        .filter(col(s"__t${arity - 1}").isNotNull)
        .select(col(id) +: col(pos) +: col("__r").as("__a") +:
          (1 until arity).map(j => col(s"__t$j")): _*))
      Caches.release(prevRound)
      prevRound = paired
      val ranked = graft.engine.Dedup.numberRows(
        paired.select(keyCols.map(col): _*).distinct(),
        struct(keyCols.map(col): _*), "__nr")
      cur = paired.join(ranked, keyCols)
        .select(col(id), col(pos), col("__nr").as("__r"))
      k *= arity
    }
    // the FINAL round's pair frame stays materialized (cur's join
    // reads it; the ContextCleaner frees it on GC, [[Caches.small]]'s
    // lifecycle) — an eager copy of `cur` here would cost one more
    // full corpus write+read for nothing (measured ~1.3x on q354), and
    // a LAZY final pair frame costs MORE (r14 A/B: re-deriving it for
    // the census and the rank join re-runs the round's window pass
    // twice — q354 4.8 s → 5.9 s, q357 5.5 s → 6.6 s); every EARLIER
    // round was released explicitly above, so live storage during the
    // loop stays ~2 frames at any depth
    cur
  }

  /** LONGEST-DUPLICATE-EXTENSION over the truncated suffix array (Lee
    * et al. 2021 report maximal duplicated span lengths this way): for
    * every pair of positions ADJACENT in depth-`depth` suffix order,
    * the length of their longest common token prefix, capped at
    * `depth`. `docs` has one row per document with its tokens in the
    * array column `words`. Returns one row per adjacent pair:
    * (sa, idL, posL, idR, posR, lcp) where `sa` is the left element's
    * 1-based suffix-array index, posL/posR are 0-based token positions
    * and lcp ∈ [0, depth]. A position with fewer than `depth` tokens
    * left in its doc has no suffix, so runs never cross documents.
    *
    * Each position's next `depth` tokens are a `slice` of its doc's
    * array (no exchange), one [[graft.engine.Dedup.numberRows]] sorts
    * the grams, one equi-join on sa + 1 pairs neighbours, and lcp is
    * the first index where the two token arrays differ. The sort key
    * is (space-joined gram, id, pos), the oracle's own order, so the
    * suffix order is the gram-string order for ANY token content: no
    * control-character gate is needed (unlike [[suffixRanks]], whose
    * tokenwise rank order matches the string sort only for tokens
    * without sub-0x20 characters). Because (id, pos) completes the
    * key, one hot gram repeated across the corpus is split across
    * range partitions instead of landing in one.
    *
    * This replaced a prefix-doubling sparse table (ranks at depths 1,
    * 2, 4, ..., depth, then a log-depth walk of rank comparisons) whose
    * shuffle keys stayed fixed-width longs at any depth. Its cost was
    * not the key width but one checkpointed numberRows and join per
    * level: 41 construct jobs for q360 at depth 8, against 4 now. At
    * sf0.1 (median of 3 after a warm-up, `local[4]`) the gram sort was
    * also 2.8-3.4x faster at depths 16, 32 and 64 (12.2 → 3.9 s,
    * 11.7 → 3.4 s, 9.4 → 3.3 s; 65-89 jobs → 9). sf0.1 documents are
    * short, so very long depths over large corpora stay unmeasured:
    * there each row carries `depth` strings. */
  def suffixLcpPairs(docs: DataFrame, id: String, words: String,
                     depth: Int): DataFrame = {
    require(depth >= 1, s"suffixLcpPairs needs depth >= 1, got $depth")
    val grams = docs
      .select(col(id), col(words), posexplode(col(words)).as(Seq("__p", "__w")))
      .filter(col("__p") <= size(col(words)) - depth)
      .select(col(id), col("__p"),
        slice(col(words), col("__p") + 1, lit(depth)).as("__g"))
    val sa = graft.engine.Dedup.numberRows(grams,
      struct(concat_ws(" ", col("__g")), col(id), col("__p")), "sa")
    val lhs = sa.select(col("sa"), col(id).as("idL"), col("__p").as("posL"),
      col("__g").as("__gl"))
    val rhs = sa.select((col("sa") - 1).as("sa"), col(id).as("idR"),
      col("__p").as("posR"), col("__g").as("__gr"))
    // 1-based index of the first unequal token; the appended `false`
    // stops it at depth + 1 when all `depth` tokens agree
    val miss = array_position(concat(
      zip_with(col("__gl"), col("__gr"), (l, r) => l === r),
      array(lit(false))), false)
    lhs.join(rhs, Seq("sa")).select(col("sa"), col("idL"), col("posL"),
      col("idR"), col("posR"), (miss - 1).as("lcp"))
  }

  /** Duplicated-run START positions by bounded PREFIX DOUBLING — the
    * distributed suffix-array construction behind Lee et al. 2021's
    * "Deduplicating Training Data Makes Language Models Better",
    * expressed relationally: round r gives every (doc, pos) an integer
    * rank identifying its 2^r-token forward run, with rank_{2k}(p) =
    * dense rank of the pair (rank_k(p), rank_k(p+k)). After
    * floor(log2 L) rounds two length-`L` runs are equal iff their
    * OVERLAP PAIR (rank_m(p), rank_m(p+L-m)) matches, where
    * m = 2^floor(log2 L) — the sparse-table substring-equality trick,
    * so any L works, not just powers of two. Returns (id, pos) for
    * every position whose length-L forward run occurs >= `minCount`
    * times corpus-wide.
    *
    * Versus the stride-1 L-gram group (q351's shape): identical
    * answer, but every shuffle carries (long, long) pairs (~16 bytes)
    * instead of L-token strings (L=8 ≈ 50 bytes, L=64 ≈ 400), and
    * cost grows with log L rounds, not with L bytes per key — the
    * shape that stays affordable when the dedup span floor is long.
    * Rank assignment is the two-phase
    * [[graft.engine.Dedup.numberRows]] over the DISTINCT pair table
    * (range partition + broadcast offsets — never a single-partition
    * window), and because pairs are numbered in lexicographic order
    * the ranks stay ORDER-consistent: the final table is the corpus
    * suffix array truncated at depth L.
    *
    * `toks`: one row per token with a dense 0-based per-doc position
    * (`posexplode` output). Runs never cross document boundaries. */
  def prefixDoublingDupStarts(toks: DataFrame, id: String, pos: String,
                              tok: String, L: Int,
                              minCount: Long = 2L): DataFrame = {
    require(L >= 2, "prefixDoublingDupStarts needs L >= 2")
    val byDoc = Window.partitionBy(col(id)).orderBy(col(pos))
    val m = Integer.highestOneBit(L)
    val cur = suffixRanks(toks, id, pos, tok, m)
    // length-L key: the overlap pair (rank_m(p), rank_m(p + L - m))
    val keyed = Caches.small(
      (if (L == m) cur.withColumn("__rb", col("__r"))
       else cur.withColumn("__rb", lead(col("__r"), L - m).over(byDoc)))
        .filter(col("__rb").isNotNull))
    val dupKeys = keyed.groupBy("__r", "__rb")
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= minCount)
      .select("__r", "__rb")
    keyed.join(dupKeys, Seq("__r", "__rb")).select(col(id), col(pos))
  }
}
