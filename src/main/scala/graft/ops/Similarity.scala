package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SortedSumD.{sortedSum => ssum}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Numeric contract: all arithmetic is done in double after an explicit
  * element cast, and reductions are sequential left folds over the array
  * index order (`aggregate`), so results are bit-reproducible across
  * engines (the DuckDB oracle folds the same way) — float inputs are
  * exactly representable as doubles.
  *
  * Scale design (100 TB of vectors):
  *  - `cosineTopK` is the brute-force baseline: one broadcast of the query
  *    vector, a map-side score, and a `TakeOrderedAndProject` (no global
  *    sort materialization).
  *  - `ivfAssign`/`ivfTopK` is the scale path: a k-means-style inverted
  *    file where each vector is assigned to its nearest centroid once
  *    (map-side against broadcast centroids), searches probe only the
  *    query's cluster(s) — a partition-pruned fraction of the corpus.
  *    Centroid choice here is deterministic (seeded by vector id) rather
  *    than trained; swap in ML k-means centroids without changing the
  *    query shape.
  */
object Similarity {

  /** Sequential left-to-right dot product — the codegen'd native
    * expression (graft.functions.DotProductD), bit-identical to a left
    * fold and to the oracle's list_sum(list_transform(...)). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotd(a, b)

  /** Cosine similarity (null/zero-norm safe: yields null via try_divide). */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Single query vector (as a one-row DF with column `q`) broadcast
    * against the corpus; top-k by cosine with id tie-break. */
  def cosineTopK(corpus: DataFrame, id: String, vec: String,
                 query: DataFrame, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(query))
      .select(col(id), round(cosine(col(vec), col("q")), 4).as("cos"))
    scored.orderBy(col("cos").desc, col(id)).limit(k)
  }

  /** Per-group mean embedding (centroid) in LONG form: one row per
    * (group, dimension) with the group's mean of that dimension.
    * posexplode turns the n×d corpus into n·d scalar rows map-side; ONE
    * (group, pos)-keyed aggregation produces |groups|·d cells — the
    * standard class-prototype / cluster-profile computation, and the
    * shape `kmeansCentroids`' update step uses internally.
    *
    * Determinism: the per-cell mean folds its values in SORTED order
    * (collect_list → array_sort → fold) through a TWO-LEVEL fold —
    * level 1 within 4096 buckets of `bucket` (a per-row column such as
    * the vector id; defaults to a hash of the value itself), level 2
    * over the sorted bucket subtotals — so the double sum is a pure
    * function of the (bucket, value) multiset: bit-reproducible across
    * partition layouts and engines, while no aggregation buffer ever
    * holds more than O(cell/4096) or O(4096) doubles. A single-level
    * sorted fold would collect a whole cluster's values into one buffer
    * (an OOM when one label covers a 100 TB corpus' share of rows). */
  def groupCentroids(df: DataFrame, group: String, vec: String,
                     bucket: Option[Column] = None): DataFrame = {
    val exploded = bucket match {
      case Some(bc) => df.select(col(group), bc.as("__bsrc"),
        posexplode(col(vec)).as(Seq("pos", "v")))
      case None => df
        .select(col(group), posexplode(col(vec)).as(Seq("pos", "v")))
        .withColumn("__bsrc", xxhash64(col("v")))
    }
    val l1 = exploded
      .groupBy(col(group), col("pos"),
        pmod(col("__bsrc"), lit(4096)).as("__b"))
      // denominator = count(v), NOT count(*): collect_list silently drops
      // null elements, so a null vector component must also leave the
      // denominator or it would deflate that dimension's mean
      .agg(ssum(collect_list(col("v").cast("double"))).as("__s1"),
        count(col("v")).as("__n1"))
    l1.groupBy(col(group), col("pos"))
      .agg((ssum(collect_list(col("__s1")))
        / sum(col("__n1"))).as("centroid"))
  }

  /** Lloyd-iteration k-means centroids in pure DataFrame ops, for
    * training the IVF index: deterministic init (the k lowest-id
    * vectors), assignment by max cosine against broadcast centroids,
    * update by element-wise mean (posexplode → per-dimension avg →
    * array reassembly). Each iteration is one broadcast-scored map pass
    * plus one (cluster, dim)-keyed aggregation — no cartesian anything,
    * so it scales to corpus size × k × dims, and centroids stay a
    * broadcastable model artifact. Float-sum ordering makes training
    * bit-nondeterministic across cluster layouts (like any distributed
    * k-means), so trained-IVF is validated by behavior tests rather than
    * the bit-exact DuckDB oracle (the seeded-centroid q24 covers that). */
  def kmeansCentroids(corpus: DataFrame, id: String, vec: String,
                      k: Int, iters: Int = 3,
                      init: Option[DataFrame] = None,
                      metric: String = "cosine"): DataFrame = {
    require(Set("cosine", "l2")(metric), s"metric cosine|l2, got $metric")
    // warm start: an (cid, cv) frame from a previous training round —
    // Lloyd is monotone from its init, which makes alternating schemes
    // (OPQ) monotone instead of re-rolling a fresh local optimum
    var centroids = init.getOrElse(
        corpus.orderBy(col(id)).limit(k)
          .select(col(id).as("cid"), col(vec).cast("array<double>").as("cv")))
      .persist()
    centroids.count()
    for (_ <- 1 to iters) {
      // the assignment metric must MATCH the downstream objective: IVF
      // probes by cosine, but PQ quantization error is squared-L2, and
      // only an L2 assignment + mean update is monotone in it
      val assigned =
        if (metric == "cosine")
          ivfAssign(corpus, id, vec, centroids, "cid", "cv")
        else l2Assign(corpus, id, vec, centroids)
      val next = assigned
        .select(col("cluster"),
          posexplode(col(vec).cast("array<double>")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cv"))
        .select(col("cluster").as("cid"), col("cv"))
        .persist()
      next.count()
      centroids.unpersist()
      centroids = next
    }
    centroids
  }

  /** Nearest-centroid assignment by squared-L2 (rounded for argmin
    * stability, centroid-id tie-break) — the PQ-objective counterpart
    * of [[ivfAssign]]'s cosine form. */
  private def l2Assign(corpus: DataFrame, id: String, vec: String,
                       centroids: DataFrame): DataFrame = {
    val scored = corpus.crossJoin(broadcast(centroids))
      .select(col(id), col(vec), col("cid"),
        round(dist2(col(vec).cast("array<double>"), col("cv")), 6).as("__d"))
    val w = Window.partitionBy(col(id)).orderBy(col("__d"), col("cid"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(id), col(vec), col("cid").as("cluster"))
  }

  /** Assign every vector to its nearest centroid (max cosine, centroid-id
    * tie-break). `centroids` must be small enough to broadcast — it is a
    * model artifact, not data-scaled. */
  def ivfAssign(corpus: DataFrame, id: String, vec: String,
                centroids: DataFrame, cid: String, cvec: String): DataFrame = {
    val scored = corpus.crossJoin(broadcast(centroids))
      .select(col(id), col(vec), col(cid),
        round(cosine(col(vec), col(cvec)), 6).as("__cs"))
    val w = Window.partitionBy(col(id)).orderBy(col("__cs").desc, col(cid))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(id), col(vec), col(cid).as("cluster"))
  }

  /** IVF search: score only vectors in the query's own cluster(s).
    * `nprobe` > 1 widens recall by probing the next-nearest centroids. */
  def ivfTopK(assigned: DataFrame, id: String, vec: String,
              centroids: DataFrame, cid: String, cvec: String,
              query: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    val qClusters = centroids.crossJoin(broadcast(query))
      .select(col(cid).as("cluster"),
        round(cosine(col(cvec), col("q")), 6).as("__cs"))
      .orderBy(col("__cs").desc, col("cluster"))
      .limit(nprobe)
      .select("cluster")
    assigned.join(broadcast(qClusters), Seq("cluster"))
      .crossJoin(broadcast(query))
      .select(col(id), round(cosine(col(vec), col("q")), 4).as("cos"))
      .orderBy(col("cos").desc, col(id))
      .limit(k)
  }

  /** Deterministic md5-derived hyperplane component: h_p[d] =
    * (md5_48("p_d") mod 1000)/500 − 1 ∈ [−1,1). Any engine with md5 can
    * replay the family bit-for-bit (the DuckDB oracles do). */
  private def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    (java.lang.Long.parseLong(hex, 16) % 1000L).toDouble / 500.0 - 1.0
  }

  /** Random-hyperplane sign-LSH bucket per vector: bit p of the bucket is
    * the sign of v·h_p (hyperplanes from [[planeComponent]]). Bucketing is
    * map-side only; near-dup search then runs per bucket, which bounds
    * the pair space the way MinHash banding does for text. */
  def lshBuckets(corpus: DataFrame, id: String, vec: String,
                 planes: Int, dims: Int): DataFrame = {
    val bucket = (0 until planes).map { p =>
      // typedlit: ONE array Literal node per plane (array(lit,…) would be
      // a dims-children CreateArray — ~2k expression nodes over all
      // planes, paid in analysis + codegen time on every run)
      val plane = typedlit(Array.tabulate(dims)(d => planeComponent(p, d)))
      when(dot(col(vec), plane) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
    corpus.select(col(id), bucket.as("bucket"))
  }

  /** Deployment rule for the sign-LSH family, MEASURED in SCALE.md §6g
    * (the 10× replica point): planes per table ≈ log₂(corpus /
    * targetBucketRows), so per-bucket density — and the candidate pair
    * space PER ROW — stays constant as the corpus grows. Held fixed,
    * the pair space grows quadratically (104 M vs 14.2 M candidates at
    * the 10× replica point). Clamped to [minPlanes, 20]; the gate SFs
    * pin small literal plane counts so the DuckDB oracles replay
    * bit-for-bit, and ScaleRuleSpec machine-checks this rule on a
    * synthetic 10× corpus. */
  def adaptivePlanes(corpusRows: Long, targetBucketRows: Long = 125L,
                     minPlanes: Int = 4): Int = {
    require(corpusRows > 0 && targetBucketRows > 0,
      "adaptivePlanes needs positive row counts")
    val needed = math.ceil(math.log(corpusRows.toDouble / targetBucketRows)
      / math.log(2.0)).toInt
    math.min(20, math.max(minPlanes, needed))
  }

  /** The `tables` per-table band-key expressions over the
    * `array<double>` column `vec` ([[asDoubleVectors]]) — shared
    * by [[lshBandKeys]] and the fused banded projection in
    * [[scoredBandPairs]]. */
  private def bandKeyExprs(vec: String, planesPerTable: Int, tables: Int,
                           dims: Int): Seq[Column] =
    (0 until tables).map { t =>
      val bucket = (0 until planesPerTable).map { p =>
        val plane = typedlit(Array.tabulate(dims)(d =>
          planeComponent(t * planesPerTable + p, d)))
        when(dot(col(vec), plane) >= 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
      concat_ws(":", lit(t.toString), bucket.cast("string"))
    }

  /** Multi-table sign-LSH band keys: `tables` independent hash tables,
    * each bucketing on `planesPerTable` hyperplanes (global plane index
    * t·planesPerTable + p, same deterministic family as [[lshBuckets]]).
    * One output row per (vector, table) — the blocking relation for
    * bucketed near-dup search. Multiple tables are the standard sign-LSH
    * recall lever: a true near-dup pair only needs to agree in ONE
    * table's bucket (P[miss] = (1 − (1 − θ/π)^planes)^tables).
    *
    * The vector is cast to `array<double>` in a projection below the
    * generator: cast inside the generator, it would run once per
    * hyperplane dot product (`tables × planesPerTable` times per row),
    * as a generator's children get no subexpression elimination. */
  def lshBandKeys(corpus: DataFrame, id: String, vec: String,
                  planesPerTable: Int, tables: Int, dims: Int): DataFrame =
    asDoubleVectors(corpus, id, vec).select(col("__id"),
      explode(array(bandKeyExprs("__pv", planesPerTable, tables, dims): _*))
        .as("band_key"))

  /** (__id, __pv): the id and the vector cast once to `array<double>`,
    * the input of every band-key generator. */
  private def asDoubleVectors(corpus: DataFrame, id: String,
                              vec: String): DataFrame =
    corpus.select(col(id).as("__id"), col(vec).cast("array<double>").as("__pv"))

  /** Parameter scaling law for sign-LSH blocking: the planes-per-table
    * that keeps the EXPECTED bucket size near `targetBucket` for an
    * `n`-vector corpus (E[B] = n / 2^p under a balanced hash). Grow the
    * corpus 100× → p grows by ~6.6 — bucket size, and therefore the
    * per-bucket pair work, stays constant; spend `tables` to win the
    * recall lost to narrower buckets (P[pair co-buckets somewhere] =
    * 1 − (1 − (1−θ/π)^p)^tables). */
  def planesForCorpus(n: Long, targetBucket: Int): Int =
    math.max(1, math.ceil(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)

  /** Embedding near-duplicate pairs, the SCALE path: LSH-bucket blocking
    * (key-equality join on (table, bucket) — never a cross join, never a
    * corpus-sized broadcast), then exact cosine verification on the
    * candidate pairs only.
    *
    * 100 TB design: the pair space is bounded by Σ_buckets B²/2 per
    * table; `planesPerTable` controls expected bucket size (2^planes
    * buckets — raise it as the corpus grows so B stays bounded),
    * `maxBucket` is the skew guard that drops degenerate hot buckets
    * (vectors near the hyperplane intersection), and `tables` buys
    * recall. Verification joins candidates back to the vectors by id —
    * two shuffle joins on the id, each pair scored once with the
    * codegen'd dot. Exact recall is achievable only by the O(n²)
    * [[cosineNearDupPairs]], which stays the spec-level test oracle. */
  /** Resolve the planes-per-table geometry for a blocking call:
    * an explicit positive `planesPerTable` wins (the gate SFs pin a
    * literal so the DuckDB oracles replay bit-exactly); `0` derives it
    * from the corpus via [[adaptivePlanes]] — `corpusHint` supplies the
    * row count when the caller already knows it, otherwise ONE cheap
    * `count()` job runs (a column-pruned scan of the id column; at
    * 100 TB that is a metadata-cheap action vs the pair join it sizes).
    * At the gate SFs (500 / 2 000 vectors) the derived value IS the
    * pinned literal 4, so switching a call site to auto changes no
    * oracle row — it only changes the 10×+ behavior, where fixed
    * geometry was measured quadratic (SCALE.md §6g: 74.4 s → 13.2 s at
    * the 10× replica point once planes scale with log₂ corpus). */
  private def resolvePlanes(corpus: DataFrame, id: String,
                            planesPerTable: Int,
                            corpusHint: Option[Long],
                            targetBucket: Int = 125): Int =
    if (planesPerTable > 0) planesPerTable
    else adaptivePlanes(corpusHint.getOrElse(corpus.select(col(id)).count()),
      targetBucket)

  /** Shared SCORE-AT-JOIN tail for the sign-LSH pair family: vectors
    * ride WITH the band keys into the band-key equi-join, and the
    * cosine is projected in the SAME codegen stage the join runs in —
    * the dims-sized array payload never crosses an exchange after the
    * (corpus × tables)-row banded frame is partitioned. The 100×
    * lesson (q23 539 s / q91 ENOSPC): scoring via candidate-pair →
    * id-join pushes pairs × 2·dims·8B through every downstream
    * exchange; scored pairs are 24 bytes. Duplicate co-bucketings
    * re-score the same pair (≤ tables×, CPU-cheap, identical rounded
    * value) and collapse in the 24-byte distinct. */
  private def scoredBandPairs(corpus: DataFrame, id: String, vec: String,
                              planes: Int, tables: Int, dims: Int,
                              maxBucket: Int): DataFrame = {
    // ONE projection builds the banded frame (r15): band keys and the
    // vector payload originate from the same corpus row, so computing
    // them together map-side replaces the former
    // lshBandKeys ⋈ prepped equi-join on __id — which paid two
    // corpus-grain exchanges (the 8×-exploded key frame and the array
    // frame, both hashed by id) purely to reunite columns of one row.
    // The band_key exchange downstream is unchanged; it was always the
    // first (and only) exchange the arrays cross.
    // The cast and the norm run below the generator, once per vector
    // (see [[lshBandKeys]]); in its select list they would run once per
    // emitted band row.
    val banded0 = asDoubleVectors(corpus, id, vec)
      .withColumn("__pn", sqrt(dot(col("__pv"), col("__pv"))))
      .select(col("__id"), col("__pv"), col("__pn"),
        explode(array(bandKeyExprs("__pv", planes, tables, dims): _*))
          .as("band_key"))
    val banded =
      if (maxBucket <= 0) banded0
      else banded0.join(
        banded0.groupBy("band_key").agg(count(lit(1)).as("__c"))
          .filter(col("__c") <= maxBucket).select("band_key"),
        Seq("band_key"))
    val a = banded.select(col("band_key"), col("__id").as("id_a"),
      col("__pv").as("va"), col("__pn").as("na"))
    val b = banded.select(col("band_key"), col("__id").as("id_b"),
      col("__pv").as("vb"), col("__pn").as("nb"))
    // shuffle-hash: hash-join the banded sides (the build fits — it is
    // corpus × tables / shuffle partitions); SMJ would sort array rows
    a.join(b.hint("shuffle_hash"), Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(try_divide(dot(col("va"), col("vb")), col("na") * col("nb")), 4)
          .as("cos"))
  }

  def cosineNearDupPairsBucketed(corpus: DataFrame, id: String, vec: String,
                                 threshold: Double, planesPerTable: Int = 0,
                                 tables: Int = 8, dims: Int = 64,
                                 maxBucket: Int = 0,
                                 corpusHint: Option[Long] = None): DataFrame = {
    val planes = resolvePlanes(corpus, id, planesPerTable, corpusHint)
    // threshold filter BEFORE the distinct: only surviving near-dups
    // pay the dedup shuffle
    scoredBandPairs(corpus, id, vec, planes, tables, dims, maxBucket)
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** SemDeDup-style SEMANTIC dedup: cluster the corpus (assignment
    * against broadcast centroids), pick each cluster's exemplar (max
    * cosine to the centroid, id tie-break), and drop members too similar
    * to their exemplar. The embedding-space analogue of MinHash dedup
    * for paraphrase-level duplicates (public recipe: Abbas et al.'s
    * SemDeDup — cluster, then prune within clusters).
    *
    * Scale shape: assignment is map-side against a broadcast model;
    * exemplar choice is one window per cluster; the similarity test is
    * ONE member⋈exemplar equi-join on the cluster id — linear in corpus
    * size, never pairwise (the full SemDeDup intra-cluster pair matrix
    * is bounded instead by comparing to the single exemplar, the
    * keep-one-representative special case).
    *
    * Returns (id, cluster, cs [cosine to centroid], cos_ex [cosine to
    * exemplar], keep ∈ {0,1}): keep = exemplar itself, or member with
    * cos_ex below `threshold`. */
  def semanticDedup(corpus: DataFrame, id: String, vec: String,
                    centroids: DataFrame, cid: String, cvec: String,
                    threshold: Double): DataFrame = {
    val assigned = ivfAssign(corpus, id, vec, centroids, cid, cvec)
    val cvecs = broadcast(
      centroids.select(col(cid).as("cluster"), col(cvec).as("__cv")))
    val scored = assigned.join(cvecs, Seq("cluster"))
      .select(col(id), col(vec), col("cluster"),
        round(cosine(col(vec), col("__cv")), 6).as("cs"))
    val w = Window.partitionBy("cluster").orderBy(col("cs").desc, col(id))
    val ranked = scored.withColumn("__rn", row_number().over(w))
    val exemplars = ranked.filter(col("__rn") === 1)
      .select(col("cluster"), col(vec).as("__ev"), col(id).as("__eid"))
    ranked.join(exemplars, Seq("cluster"))
      .withColumn("cos_ex", round(cosine(col(vec), col("__ev")), 4))
      .select(col(id), col("cluster"), col("cs"), col("cos_ex"),
        (col(id) === col("__eid") || col("cos_ex") < lit(threshold))
          .cast("long").as("keep"))
  }

  /** Covariance of embedding dimension pairs (i <= j < dims), long form
    * (i, j, cov) — the Gram/covariance profile that drives whitening,
    * PCA sanity checks, and feature diagnostics. Map-side expansion to
    * d(d+1)/2 cells per row; the cell sums run a TWO-LEVEL sorted fold
    * (level 1 within 4096 buckets of `bucket` — a per-row column such
    * as the vector id — level 2 over the sorted subtotals), so the
    * doubles stay a pure function of the (bucket, value) multiset
    * (bit-reproducible cross-engine, q82 discipline) while no
    * aggregation buffer holds a whole cell: d(d+1)/2 cells over a
    * 100 TB corpus would each collect every row in a single-level
    * fold. With `bucket = None` the single-level fold is kept for
    * small frames. */
  def dimCovariance(df: DataFrame, vec: String, dims: Int,
                    bucket: Option[Column] = None): DataFrame = {
    val base = bucket match {
      case Some(bc) => df.select(pmod(bc, lit(4096)).as("__b"), col(vec))
      case None => df.select(lit(0).as("__b"), col(vec))
    }
    val cells = base.select(col("__b"), explode(expr(
      s"""flatten(transform(sequence(0, ${dims - 1}), i ->
            transform(sequence(i, ${dims - 1}), j -> named_struct(
              'i', i, 'j', j,
              'xi', CAST(element_at($vec, i + 1) AS DOUBLE),
              'xj', CAST(element_at($vec, j + 1) AS DOUBLE)))))"""))
      .as("c"))
      .select(col("__b"), col("c.i").as("i"), col("c.j").as("j"),
        col("c.xi").as("xi"), col("c.xj").as("xj"))
    def sfold(c: Column) = ssum(collect_list(c))
    val l1 = cells.groupBy("i", "j", "__b")
      .agg(sfold(col("xi") * col("xj")).as("sxy1"),
        sfold(col("xi")).as("sx1"), sfold(col("xj")).as("sy1"),
        count(lit(1)).as("n1"))
    l1.groupBy("i", "j")
      .agg(sfold(col("sxy1")).as("sxy"),
        sfold(col("sx1")).as("sx"), sfold(col("sy1")).as("sy"),
        sum(col("n1")).cast("double").as("n"))
      .select(col("i"), col("j"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 6)
          .as("cov"))
  }

  /** Batch k-NN JOIN: every vector's top-k neighbors in one distributed
    * pass — the all-queries form of ANN (labeling, retrieval-augmented
    * dedup, graph construction), vs [[cosineTopK]]'s single query.
    *
    * Scale path: candidates come from the SAME multi-table sign-LSH
    * blocking as near-dup search (key-equality join on band keys —
    * never a cross join), mirrored into a directed relation so each
    * vector ranks its own candidate list; two id-keyed shuffle joins
    * attach vectors, one window takes per-query top-k (WindowGroupLimit
    * pushes the k-cut below the shuffle). Recall is the LSH contract:
    * a true neighbor is seen iff it co-buckets in ≥1 table — spend
    * `tables` for recall, `planesPerTable` to bound bucket size (grow
    * with the corpus per [[planesForCorpus]]), `maxBucket` to drop
    * degenerate hot buckets. */
  def knnJoin(corpus: DataFrame, id: String, vec: String, k: Int,
              planesPerTable: Int = 0, tables: Int = 8, dims: Int = 64,
              maxBucket: Int = 0,
              corpusHint: Option[Long] = None): DataFrame = {
    // planesPerTable = 0 (the default) derives the blocking geometry
    // from the corpus — see [[resolvePlanes]]. kNN uses a TIGHTER
    // target bucket (32) than near-dup blocking: every co-bucketed
    // pair becomes a SCORED candidate here (no threshold pre-filter),
    // so per-vector candidates ≈ tables·bucket — 125-row buckets give
    // ~500 scored neighbors per vector for a top-3 query, paying 4×
    // the pair volume 32-row buckets already recall from. Only the
    // 500-vector sf0.01 ORACLE tier derives the pinned 4 under
    // targetBucket=32 (2 000 vectors derive 6, and the q91/q298 DuckDB
    // oracles would diverge there) — Verify asserts derived == 4 for
    // the verify SF before dumping any auto-geometry oracle rows.
    val planes = resolvePlanes(corpus, id, planesPerTable, corpusHint,
      targetBucket = 32)
    // score-at-join (see [[scoredBandPairs]]): arrays never cross an
    // exchange; the distinct + direction union + top-k window all run
    // on 24-byte (id, id, cos) rows
    val scored0 = scoredBandPairs(corpus, id, vec, planes, tables, dims,
      maxBucket).distinct()
    // direction mirror via explode (r15): the former
    // scored0 UNION scored0-swapped duplicated the WHOLE candidate
    // subtree in the plan — the band join and the distinct each ran
    // twice (exchange reuse shares only the shuffles, not the join or
    // the final distinct agg above them). One generator over the
    // 24-byte scored rows emits both directions map-side.
    val scored = scored0
      .select(explode(array(
        struct(col("id_a").as("qid"), col("id_b").as("nid"), col("cos")),
        struct(col("id_b").as("qid"), col("id_a").as("nid"), col("cos"))))
        .as("__e"))
      .select(col("__e.qid").as("qid"), col("__e.nid").as("nid"),
        col("__e.cos").as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- product quantization (PQ) --------------------------------------

  /** Squared L2 distance via three sequential dot folds (bit-identical
    * to the oracle's three list_sums — NOT algebraically refactored). */
  private def dist2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Deterministic PQ codebooks: subspace `j` of the `k` lowest-id
    * vectors (same seeding idea as q24's IVF centroids — swap in
    * per-subspace k-means without changing the query shape). One row per
    * (subspace j, code c): the 16-dim codeword. Model-artifact-sized:
    * m·k rows, always broadcastable. */
  def pqCodebooks(corpus: DataFrame, id: String, vec: String,
                  m: Int, k: Int, dims: Int): DataFrame = {
    val subDim = dims / m
    corpus.filter(col(id) < k)
      .select(col(id).cast("long").as("c"),
        col(vec).cast("array<double>").as("v"))
      .select(explode(sequence(lit(0), lit(m - 1))).as("j"), col("c"),
        col("v"))
      .select(col("j"), col("c"),
        expr(s"slice(v, j*$subDim+1, $subDim)").as("cv"))
  }

  /** TRAINED PQ codebooks: per-subspace Lloyd k-means (reusing
    * [[kmeansCentroids]] on each subspace's projected corpus) instead of
    * the deterministic first-k seeding. Better codeword placement →
    * lower quantization error; the trade is float-sum training
    * nondeterminism across cluster layouts (like any distributed
    * k-means), so trained-PQ is validated by behavior tests while the
    * seeded [[pqCodebooks]] carries the bit-exact oracle (q49) — the
    * same split as trained vs seeded IVF. Driver loops over the m
    * subspaces; each iteration is fully distributed. */
  def pqCodebooksTrained(corpus: DataFrame, id: String, vec: String,
                         m: Int, k: Int, dims: Int,
                         iters: Int = 3,
                         init: Option[DataFrame] = None): DataFrame = {
    val subDim = dims / m
    (0 until m).map { j =>
      val sub = corpus.select(col(id),
        expr(s"slice(cast($vec as array<double>), ${j * subDim + 1}, $subDim)")
          .as("sv"))
      val subInit = init.map(b => b.filter(col("j") === j)
        .select(col("c").as("cid"), col("cv")))
      // l2 metric: PQ minimizes squared-L2 reconstruction error, so the
      // codebook training must too (cosine training optimizes a
      // different objective and breaks OPQ's monotone alternation)
      val cents = kmeansCentroids(sub, id, "sv", k, iters, subInit, "l2")
      // rank centroids by cid so codes are dense 0..k-1
      val w = Window.orderBy(col("cid"))
      cents.withColumn("c", row_number().over(w).cast("long") - 1)
        .select(lit(j).as("j"), col("c"), col("cv"))
    }.reduce(_.unionByName(_))
  }

  /** PQ-encode the corpus: per (vector, subspace), the code of the
    * nearest codeword (squared-L2, rounded for cross-engine argmin
    * stability, code-id tie-break). Map-side scoring against the
    * broadcast codebook + one keyed window — scales with corpus × m·k,
    * never pairwise. Output: (id, j, code) — the compressed
    * representation is m small ints per vector (dims·4 bytes → m bytes
    * at k ≤ 256), which is the point of PQ at 100 TB. */
  def pqEncode(corpus: DataFrame, id: String, vec: String,
               codebooks: DataFrame, m: Int, dims: Int): DataFrame = {
    val subDim = dims / m
    val sub = corpus
      .select(col(id), col(vec).cast("array<double>").as("v"))
      .select(col(id), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("v"))
      .select(col(id), col("j"), expr(s"slice(v, j*$subDim+1, $subDim)").as("sv"))
    val scored = sub.join(broadcast(codebooks), Seq("j"))
      .select(col(id), col("j"), col("c"),
        round(dist2(col("sv"), col("cv")), 6).as("d"))
    val w = Window.partitionBy(col(id), col("j"))
      .orderBy(col("d"), col("c"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(id), col("j"), col("c").as("code"))
  }

  /** The shared ADC tail: join codes to the broadcast (…, j, code) → d
    * distance table and sum each id's m entries in a DETERMINISTIC
    * j-ascending fold (the bit-reproducibility-critical piece — one
    * implementation serves plain PQ and IVF-PQ). */
  private def adcTopK(codes: DataFrame, id: String, table: DataFrame,
                      joinKeys: Seq[String], k: Int): DataFrame =
    codes.join(broadcast(table), joinKeys)
      .groupBy(col(id))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("j"), col("d")))),
        lit(0.0), (a, x) => a + x.getField("d")), 4).as("adc"))
      .orderBy(col("adc"), col(id))
      .limit(k)

  /** Asymmetric-distance (ADC) top-k over PQ codes: precompute the
    * query's m·k distance table (broadcast — it IS the whole lookup
    * structure), then the shared [[adcTopK]] fold. No full vectors are
    * touched at query time — that is PQ's speed. */
  def pqTopK(codes: DataFrame, id: String, codebooks: DataFrame,
             query: DataFrame, m: Int, dims: Int, k: Int): DataFrame = {
    val subDim = dims / m
    val qsub = query
      .select(explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("q").cast("array<double>").as("qv"))
      .select(col("j"), expr(s"slice(qv, j*$subDim+1, $subDim)").as("qs"))
    val table = codebooks.join(qsub, Seq("j"))
      .select(col("j"), col("c").as("code"),
        round(dist2(col("qs"), col("cv")), 6).as("d"))
    adcTopK(codes, id, table, Seq("j", "code"), k)
  }

  // ---- IVF-PQ (residual-encoded inverted file) ------------------------

  /** Residual vectors after IVF assignment: r = v − centroid(cluster),
    * map-side zip_with against the broadcast centroid model. Output:
    * (id, cluster, rv). PQ on residuals beats PQ on raw vectors because
    * residual magnitudes are small — the same codebook budget spends
    * its precision near the data. */
  def ivfResiduals(corpus: DataFrame, id: String, vec: String,
                   centroids: DataFrame, cid: String,
                   cvec: String): DataFrame = {
    val assigned = ivfAssign(corpus, id, vec, centroids, cid, cvec)
    assigned.join(broadcast(centroids.select(col(cid).as("cluster"),
        col(cvec).cast("array<double>").as("__cv"))), Seq("cluster"))
      .select(col(id), col("cluster"),
        zip_with(col(vec).cast("array<double>"), col("__cv"),
          (a, b) => a - b).as("rv"))
  }

  /** PQ-encode IVF residuals, keeping the cluster id alongside the
    * codes: (id, cluster, j, code) — the complete IVF-PQ index is this
    * frame plus the two model artifacts (centroids, codebooks). The
    * residual frame is consumed twice (encode + cluster join), so it is
    * persisted for the build and the resulting index — m small ints per
    * vector, orders smaller than the vectors — is materialized, exactly
    * like a real index build writing its output. */
  def ivfPqEncode(residuals: DataFrame, id: String, codebooks: DataFrame,
                  m: Int, dims: Int): DataFrame = {
    val r = residuals
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codes = Caches.small(
      pqEncode(r, id, "rv", codebooks, m, dims)
        .join(r.select(col(id), col("cluster")), Seq(id)))
    r.unpersist()
    codes
  }

  /** IVFADC search: probe the query's `nprobe` nearest clusters; within
    * each, approximate ||q − v||² by the PQ distance of the CLUSTER
    * residual query (q − centroid) against each vector's residual codes.
    * Everything broadcast is model-sized (centroids, codebooks, the
    * nprobe·m·k distance table); the corpus side touches only its m
    * codes — the classic billion-scale ANN layout (inverted file prunes
    * the corpus, PQ compresses what remains). */
  def ivfPqTopK(residualCodes: DataFrame /* id, cluster, j, code */,
                id: String, centroids: DataFrame, cid: String, cvec: String,
                codebooks: DataFrame, query: DataFrame, m: Int, dims: Int,
                k: Int, nprobe: Int = 1): DataFrame = {
    val subDim = dims / m
    // nearest clusters for the query (same rule as ivfTopK)
    val qClusters = centroids.crossJoin(broadcast(query))
      .select(col(cid).as("cluster"),
        round(cosine(col(cvec), col("q")), 6).as("__cs"))
      .orderBy(col("__cs").desc, col("cluster"))
      .limit(nprobe)
      .select("cluster")
    // per probed cluster: residual query = q − centroid, then its
    // (j, code) distance table against the shared residual codebooks
    val qres = qClusters
      .join(broadcast(centroids.select(col(cid).as("cluster"),
        col(cvec).cast("array<double>").as("__cv"))), Seq("cluster"))
      .crossJoin(broadcast(query))
      .select(col("cluster"),
        zip_with(col("q").cast("array<double>"), col("__cv"),
          (a, b) => a - b).as("qr"))
      .select(col("cluster"), explode(sequence(lit(0), lit(m - 1))).as("j"),
        col("qr"))
      .select(col("cluster"), col("j"),
        expr(s"slice(qr, j*$subDim+1, $subDim)").as("qs"))
    val table = qres.join(broadcast(codebooks), Seq("j"))
      .select(col("cluster"), col("j"), col("c").as("code"),
        round(dist2(col("qs"), col("cv")), 6).as("d"))
    // the cluster join key prunes the corpus to the probed clusters
    adcTopK(residualCodes, id, table, Seq("cluster", "j", "code"), k)
  }

  /** Embedding-based near-duplicate pairs: all pairs with cosine >=
    * `threshold`. Brute-force O(n²) pairing — the VERIFICATION BASELINE
    * only (exact recall for tests); the production path is
    * [[cosineNearDupPairsBucketed]], whose candidates come from a
    * key-equality join instead of this theta join. */
  // ---- OPQ-lite: deterministic random rotation before PQ --------------

  /** Deterministic orthonormal rotation matrix (dims×dims): md5-derived
    * uniform entries, modified Gram-Schmidt. The random-rotation
    * baseline from the OPQ literature — it decorrelates/balances
    * variance across PQ subspaces WITHOUT training, so anisotropic
    * embeddings (energy concentrated in a few dims) quantize with a
    * more uniform per-subspace error. Driver-side O(dims³) once per
    * index build; the matrix is a model artifact that broadcasts with
    * the closure (dims=64 → 32 KB). Full OPQ would alternate this
    * rotation with codebook training (needs an SVD per iteration); the
    * rotation slot is the same, so a trained R can replace this one
    * without changing the pipeline. */
  def rotationMatrix(dims: Int, seed: Int = 0): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raw = Array.tabulate(dims, dims) { (i, j) =>
      val h = md.digest(s"$seed:$i:$j".getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(h).getLong(0).toDouble / Long.MaxValue
    }
    val q = Array.ofDim[Double](dims, dims)
    var i = 0
    while (i < dims) {
      val v = raw(i).clone()
      var k = 0
      while (k < i) { // modified Gram-Schmidt: project out q(k) from v
        var d = 0.0
        var j = 0
        while (j < dims) { d += q(k)(j) * v(j); j += 1 }
        j = 0
        while (j < dims) { v(j) -= d * q(k)(j); j += 1 }
        k += 1
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      var j = 0
      while (j < dims) { q(i)(j) = v(j) / n; j += 1 }
      i += 1
    }
    q
  }

  /** Rotate every embedding by [[rotationMatrix]]: (id, rvec) with
    * rvec = R·v. A dense per-row matvec is numeric-kernel work, so it
    * runs as a partition-batched typed stage (same rationale as media
    * decode — an opaque per-row computation, not expression-tree
    * territory): map-side only, no shuffle, primitive-array inner loop.
    * Geometry is preserved exactly up to float ulps (R orthonormal), so
    * downstream PQ/IVF/ADC code is unchanged — rotate, then encode. */
  def opqRotate(df: DataFrame, id: String, vec: String, dims: Int,
                seed: Int = 0): DataFrame = {
    val r = rotationMatrix(dims, seed)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long"),
        col(vec).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        rows.map { case (i, v) =>
          val out = new Array[Double](dims)
          var a = 0
          while (a < dims) {
            var s = 0.0
            var b = 0
            while (b < dims) { s += r(a)(b) * v(b); b += 1 }
            out(a) = s
            a += 1
          }
          (i, out)
        }
      }
      .toDF(id, "rvec")
  }

  /** TOP PRINCIPAL COMPONENT by DISTRIBUTED POWER ITERATION — the
    * big-d eigensolver: [[pcaRotation]] tree-aggregates the full d×d
    * Gram and eigendecomposes driver-side (model-sized only while
    * d² stays small); power iteration never FORMS the Gram — each
    * round is two matvecs against the centered row stream
    * (s_i = cᵢ·v per row, w_j = Σ s_i·c_ij per dim), so it scales to
    * the d where a Gram matrix stops being a broadcastable model
    * (d = 4096 → 128 MB of Gram vs two corpus scans).
    *
    * Deterministic cross-engine (oracle-gated): v₀ = 1/√d uniform
    * (exactly representable for power-of-two d); the per-row dot is a
    * sorted fold over its d products; each per-dim sum is the
    * two-level sorted fold within md5(row-id) subbuckets; each round
    * renormalizes and rounds the loadings to 9 dp (the GD idiom) so
    * drift cannot compound. Constant `iters` rounds; the iterate
    * (v, λ) — d + 1 doubles, model-sized by the same bound the
    * broadcast joins rely on — lives DRIVER-side between rounds
    * (r14), so each round is ONE blocking action: the d-row matvec
    * collect. The corpus-scale centered stream stays distributed and
    * checkpointed. Returns (dim, loading rounded 6 dp) for 0..d-1
    * plus a dim = -1 row carrying λ/n — the top covariance eigenvalue
    * estimate. */
  def powerIterationTop(corpus: DataFrame, id: String, vec: String,
                        dims: Int, iters: Int = 3): DataFrame = {
    require(dims >= 1 && iters >= 1)
    val spark = corpus.sparkSession
    val e = corpus.select(col(id).cast("string").as("__vid"),
      posexplode(col(vec).cast("array<double>")).as(Seq("j", "__x")))
    val sb = pmod(graft.engine.TextFunctions.md5Hash48(col("__vid")),
      lit(4096L))
    val nn = corpus.agg(count(lit(1)).cast("double").as("__n"))
    // lazy: its one consumer is the centered-stream checkpoint build
    // below, so an eager materialization was a pure blocking-job cost
    val mu = e.groupBy(col("j"), sb.as("__sb"))
      .agg(ssum(collect_list(col("__x"))).as("__s1"))
      .groupBy("j").agg(ssum(collect_list(col("__s1"))).as("__sj"))
      .crossJoin(broadcast(nn))
      .select(col("j"), (col("__sj") / col("__n")).as("__m"))
    // centered stream: consumed twice per round — corpus-scale,
    // released after the loop (the Caches.iteration contract)
    val cRows = Caches.iteration(e.join(broadcast(mu), Seq("j"))
      .select(col("__vid"), col("j"), (col("__x") - col("__m"))
        .as("__x")))
    import spark.implicits._
    // The dims-sized iterate lives DRIVER-side between rounds (r14,
    // the trainHashedLogReg pattern): each round runs ONE action — the
    // matvec collect — instead of three blocking checkpoints (w, λ,
    // v). Driver arithmetic replays the former Spark expressions
    // operation for operation: λ = sqrt(ascending-sorted fold of the
    // w²_j), v_j = BigDecimal-HALF-UP-9dp(w_j / λ) — bit-identical to
    // sorted_sum_d + round(col, 9) on the same doubles.
    val round9 = (x: Double) => BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    var v: Seq[(Int, Double)] = (0 until dims)
      .map(_ -> 1.0d / math.sqrt(dims.toDouble))
    var lam = 0.0d
    for (_ <- 1 to iters) {
      val s = cRows.join(broadcast(v.toDF("j", "__v")), Seq("j"))
        .groupBy("__vid")
        .agg(ssum(collect_list(col("__x") * col("__v"))).as("__s"))
      val w = cRows.join(s, Seq("__vid"))
        .groupBy(col("j"), sb.as("__sb"))
        .agg(ssum(collect_list(col("__x") * col("__s"))).as("__s1"))
        .groupBy("j").agg(ssum(collect_list(col("__s1"))).as("__w"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
      val prods = w.map { case (_, x) => x * x }
      java.util.Arrays.sort(prods)
      lam = math.sqrt(prods.foldLeft(0.0d)(_ + _))
      v = w.toSeq.map { case (j, x) => j -> round9(x / lam) }
    }
    Caches.release(cRows)
    v.toDF("j", "__v")
      .select(col("j").cast("long").as("dim"),
        (round(col("__v"), 6) + 0.0).as("loading"))
      .unionByName(nn
        .select(lit(-1L).as("dim"),
          (round(lit(lam) / col("__n"), 6) + 0.0).as("loading")))
  }

  /** JOHNSON–LINDENSTRAUSS random projection with a DISTORTION AUDIT
    * — the dimensionality reduction an ANN pipeline applies before
    * indexing (d → k at ~(1±ε) pairwise-distance fidelity,
    * ε ≈ √(8 ln n / k)), using the ±1/√k sign matrix (Achlioptas
    * 2001: database-friendly projections — no Gaussians needed).
    * Signs are md5-derived from the flattened (row, col) index, so
    * the matrix is a pure FORMULA: nothing is sampled, stored, or
    * broadcast beyond k·d tiny rows, and any engine replays it.
    *
    * The audit half measures what the projection actually did to THIS
    * corpus: a deterministic 1-1 pair sample (vector i vs i + n/2 —
    * an equi-join, never all pairs) compares squared distances before
    * and after, binned at 0.25 grain with per-bin mean ratio. The
    * JL guarantee shows up as mass concentrated around ratio 1; the
    * tails are the vectors a k this small genuinely distorts —
    * the table a capacity planner reads before picking k.
    *
    * Scale: projection is one explode + broadcast join + keyed fold
    * (k·d-row build side); distances are two self-equi-joins on the
    * shifted id; every float fold is sorted (oracle-exact). */
  def jlDistortionAudit(corpus: DataFrame, id: String, vec: String,
                        dims: Int, k: Int): DataFrame = {
    require(dims >= 1 && k >= 1)
    val spark = corpus.sparkSession
    val e = corpus.select(col(id).as("__vid"),
      posexplode(col(vec).cast("array<double>")).as(Seq("j", "__x")))
    val r = Caches.small(spark.range(0, k.toLong)
      .select(col("id").cast("int").as("__t"))
      .crossJoin(broadcast(spark.range(0, dims.toLong)
        .select(col("id").cast("int").as("j"))))
      .select(col("__t"), col("j"),
        (lit(1.0d) - lit(2.0d) *
          pmod(graft.engine.TextFunctions.md5Hash48(
            (col("__t") * dims + col("j")).cast("string"), seed = 1),
            lit(2L)).cast("double")).as("__sgn")))
    val y = e.join(broadcast(r), Seq("j"))
      .groupBy(col("__vid"), col("__t"))
      .agg((ssum(collect_list(col("__sgn") * col("__x")))
        / lit(math.sqrt(k.toDouble))).as("__y"))
    val half = corpus.agg(
      (count(lit(1)) / lit(2)).cast("long").as("__h"))
    val ea = e.crossJoin(broadcast(half))
      .filter(col("__vid") < col("__h"))
    val eb = e.select(col("__vid").as("__vb"), col("j"),
      col("__x").as("__xb"))
    val d2o = ea.join(eb,
        ea("__vid") + ea("__h") === eb("__vb") && ea("j") === eb("j"))
      .groupBy("__vid")
      .agg(ssum(collect_list((col("__x") - col("__xb")) *
        (col("__x") - col("__xb")))).as("__d2o"))
    val ya = y.crossJoin(broadcast(half))
      .filter(col("__vid") < col("__h"))
    val yb = y.select(col("__vid").as("__vb"), col("__t"),
      col("__y").as("__yb"))
    val d2p = ya.join(yb,
        ya("__vid") + ya("__h") === yb("__vb") && ya("__t") === yb("__t"))
      .groupBy("__vid")
      .agg(ssum(collect_list((col("__y") - col("__yb")) *
        (col("__y") - col("__yb")))).as("__d2p"))
    d2o.join(d2p, Seq("__vid"))
      .filter(col("__d2o") > 0.0d)
      .select((col("__d2p") / col("__d2o")).as("__rr"))
      .groupBy(floor(round(col("__rr"), 6) / lit(0.25d)).cast("long")
        .as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        (round(ssum(collect_list(col("__rr"))) / count(lit(1)), 4)
          + 0.0).as("mean_ratio"))
  }

  /** TRAINED OPQ rotation: the covariance eigenbasis, with eigen-dims
    * dealt round-robin (by descending eigenvalue) across the m PQ
    * subspaces so each subspace receives a balanced share of the
    * corpus's variance — the eigenvalue-allocation heart of parametric
    * OPQ, without an iterative codebook/rotation alternation.
    *
    * Distribution of work: the d×d Gram matrix is accumulated per
    * partition in one `mapPartitions` pass (each task emits ONE
    * flattened d² row — the classic tree-aggregation shape, d²·parts
    * values over the wire, corpus never collected), summed
    * element-wise, and eigendecomposed DRIVER-side with cyclic Jacobi
    * (d×d = model-sized; 64×64 is microseconds). Returns the rotation
    * rows ready for [[opqRotate]]'s matvec stage. */
  def pcaRotation(corpus: DataFrame, vec: String, dims: Int,
                  m: Int): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val stats = corpus
      .select(col(vec).cast("array<double>").as("v"))
      .as[Array[Double]]
      .mapPartitions { rows =>
        val gram = new Array[Double](dims * dims)
        val sum = new Array[Double](dims)
        var n = 0L
        rows.foreach { v =>
          var i = 0
          while (i < dims) {
            sum(i) += v(i)
            var j = 0
            while (j < dims) { gram(i * dims + j) += v(i) * v(j); j += 1 }
            i += 1
          }
          n += 1
        }
        Iterator.single((gram, sum, n))
      }
      .collect()
    val n = stats.map(_._3).sum.toDouble
    val gram = new Array[Double](dims * dims)
    val mean = new Array[Double](dims)
    stats.foreach { case (g, s, _) =>
      var k = 0
      while (k < dims * dims) { gram(k) += g(k); k += 1 }
      k = 0
      while (k < dims) { mean(k) += s(k); k += 1 }
    }
    var k = 0
    while (k < dims) { mean(k) /= n; k += 1 }
    // covariance = E[vvᵀ] − μμᵀ
    val cov = Array.tabulate(dims, dims)((i, j) =>
      gram(i * dims + j) / n - mean(i) * mean(j))
    val (eigVals, eigVecs) = jacobiEigen(cov)
    // deal eigen-dims (sorted by descending variance) round-robin over
    // the m subspaces, so subspace s gets ranks s, s+m, s+2m, …
    val order = eigVals.zipWithIndex.sortBy(-_._1).map(_._2)
    val subDim = dims / m
    val dealt = Array.ofDim[Int](dims)
    for (s <- 0 until m; r <- 0 until subDim)
      dealt(s * subDim + r) = order(r * m + s)
    dealt.map(e => eigVecs(e))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-rows). O(d³) per sweep, driver-side,
    * for model-sized d only. */
  private def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 50 && {
      var off = 0.0
      for (i <- 0 until d; j <- i + 1 until d) off += a(i)(j) * a(i)(j)
      off > 1e-18
    }) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-15) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          if (theta == 0.0) 1.0
          else math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        var k = 0
        while (k < d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
          k += 1
        }
        k = 0
        while (k < d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
          val vpk = v(p)(k); val vqk = v(q)(k)
          v(p)(k) = c * vpk - s * vqk
          v(q)(k) = s * vpk + c * vqk
          k += 1
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** FULL OPQ (non-parametric, Ge et al. CVPR'13): alternate codebook
    * training in the rotated space with an orthogonal-Procrustes update
    * of the rotation itself, minimizing true quantization error
    * ‖R·x − y‖² (y = the PQ reconstruction). [[pcaRotation]] is the
    * parametric initialization; each alternation then:
    *   1. rotates the corpus (map-side matvec),
    *   2. trains per-subspace k-means codebooks ([[pqCodebooksTrained]]),
    *   3. PQ-encodes and reconstructs y,
    *   4. accumulates M' = Σ (Rx)yᵀ and the quantization error in ONE
    *      mapPartitions pass (d² + 1 values per task — tree-agg shape,
    *      corpus never collected),
    *   5. solves max tr(R·M) for M = RᵀM' via SVD (driver-side: Jacobi
    *      eigen of MᵀM; d×d is model-sized) → R ← V·Uᵀ.
    * Every distributed step is an existing scale-shaped operator; the
    * only new driver work is d×d linear algebra.
    *
    * Returns (R, codebooks-in-rotated-space, per-iteration quantization
    * error BEFORE each update — strictly the training objective, so the
    * spec can assert it does not increase). */
  def opqTrain(corpus: DataFrame, id: String, vec: String, dims: Int,
               m: Int, k: Int, outerIters: Int = 3, kmeansIters: Int = 3)
      : (Array[Array[Double]], DataFrame, Array[Double]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var r = pcaRotation(corpus, vec, dims, m)
    var books: DataFrame = null
    val errs = Array.newBuilder[Double]
    for (_ <- 1 to outerIters) {
      val rot = Caches.small(rotateWith(corpus, id, vec, r))
      // warm-start codebooks from the previous alternation — with the
      // exact Procrustes R-step this makes the whole loop monotone in
      // the training objective (fresh k-means inits would re-roll a
      // different local optimum each round and can regress)
      books = Caches.small(
        pqCodebooksTrained(rot, id, "rvec", m, k, dims, kmeansIters,
          Option(books)))
      val codes = pqEncode(rot, id, "rvec", books, m, dims)
      // reconstruction y: codewords flattened in subspace order (the
      // codebook is renamed first — codes already derives from it, and
      // rejoining the same lineage trips the ambiguous-self-join check)
      val bk = books.select(col("j").as("__bj"), col("c").as("__bc"),
        col("cv").as("__bcv"))
      val y = codes.join(broadcast(bk),
          col("j") === col("__bj") && col("code") === col("__bc"))
        .select(col(id), col("j"), col("__bcv").as("cv"))
        .groupBy(id)
        .agg(flatten(array_sort(collect_list(struct(col("j"), col("cv"))))
          .getField("cv")).as("y"))
      // one pass: M' = Σ (Rx)·yᵀ and err = Σ ‖Rx − y‖²
      val stats = rot.join(y, id)
        .select(col("rvec"), col("y"))
        .as[(Array[Double], Array[Double])]
        .mapPartitions { rows =>
          val mp = new Array[Double](dims * dims)
          var err = 0.0
          rows.foreach { case (x, yv) =>
            var a = 0
            while (a < dims) {
              val xa = x(a)
              val d = xa - yv(a)
              err += d * d
              var b = 0
              while (b < dims) { mp(a * dims + b) += xa * yv(b); b += 1 }
              a += 1
            }
          }
          Iterator.single((mp, err))
        }
        .collect()
      errs += stats.map(_._2).sum
      val mPrime = new Array[Double](dims * dims)
      stats.foreach { case (g, _) =>
        var i = 0
        while (i < dims * dims) { mPrime(i) += g(i); i += 1 }
      }
      // M = Rᵀ·M'  (x = Rᵀ(Rx); model-sized matmul)
      val mm = Array.tabulate(dims, dims) { (a, b) =>
        var s = 0.0
        var i = 0
        while (i < dims) { s += r(i)(a) * mPrime(i * dims + b); i += 1 }
        s
      }
      r = procrustes(mm)
    }
    (r, books, errs.result())
  }

  /** argmax over orthogonal R of tr(R·M): M = UΣVᵀ → R = V·Uᵀ. SVD by
    * Jacobi eigen of MᵀM (V, σ²); U columns = M·v/σ, with Gram-Schmidt
    * completion for (near-)null singular directions. */
  private def procrustes(m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < d) { s += m(k)(i) * m(k)(j); k += 1 }
      s
    }
    val (evals, evecs) = jacobiEigen(mtm) // evecs rows = eigenvectors v_i
    val order = evals.zipWithIndex.sortBy(-_._1).map(_._2)
    val v = order.map(evecs(_))
    val sigma = order.map(i => math.sqrt(math.max(evals(i), 0.0)))
    val u = Array.ofDim[Double](d, d) // u(i) = i-th left-singular vector
    for (i <- 0 until d) {
      val col = new Array[Double](d)
      if (sigma(i) > 1e-10) {
        var a = 0
        while (a < d) {
          var s = 0.0
          var b = 0
          while (b < d) { s += m(a)(b) * v(i)(b); b += 1 }
          col(a) = s / sigma(i)
          a += 1
        }
      } else { // complete the basis deterministically
        col(i % d) = 1.0
      }
      // Gram-Schmidt against earlier u's (no-op for clean directions)
      def orthogonalized(c0: Array[Double]): Array[Double] = {
        val c = c0.clone()
        var p = 0
        while (p < i) {
          var dot = 0.0
          var a = 0
          while (a < d) { dot += u(p)(a) * c(a); a += 1 }
          a = 0
          while (a < d) { c(a) -= dot * u(p)(a); a += 1 }
          p += 1
        }
        c
      }
      var best = orthogonalized(col)
      var n = math.sqrt(best.map(x => x * x).sum)
      if (n < 1e-8) {
        // degenerate direction (tiny/duplicate σ): complete the basis
        // from the standard vector with the LARGEST residual after
        // projection — never normalize catastrophic-cancellation noise
        var e = 0
        while (e < d) {
          val cand = new Array[Double](d)
          cand(e) = 1.0
          val o = orthogonalized(cand)
          val on = math.sqrt(o.map(x => x * x).sum)
          if (on > n) { best = o; n = on }
          e += 1
        }
      }
      u(i) = best.map(_ / n)
    }
    // R(a)(b) = Σ_i v_i(a)·u_i(b)
    val r = Array.tabulate(d, d) { (a, b) =>
      var s = 0.0
      var i = 0
      while (i < d) { s += v(i)(a) * u(i)(b); i += 1 }
      s
    }
    // polish to machine-precision orthonormality (Jacobi SVD leaves
    // ~1e-8 residue; one modified Gram-Schmidt pass over the rows —
    // already near-orthonormal, so the polish is numerically benign)
    for (i <- 0 until d) {
      for (p <- 0 until i) {
        var dot = 0.0
        var a = 0
        while (a < d) { dot += r(p)(a) * r(i)(a); a += 1 }
        a = 0
        while (a < d) { r(i)(a) -= dot * r(p)(a); a += 1 }
      }
      val n = math.sqrt(r(i).map(x => x * x).sum)
      var a = 0
      while (a < d) { r(i)(a) /= n; a += 1 }
    }
    r
  }

  /** [[opqRotate]] with an externally supplied rotation (e.g.
    * [[pcaRotation]]) instead of the seeded random one. */
  def rotateWith(df: DataFrame, id: String, vec: String,
                 r: Array[Array[Double]]): DataFrame = {
    val dims = r.length
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long"), col(vec).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        rows.map { case (i, v) =>
          val out = new Array[Double](dims)
          var a = 0
          while (a < dims) {
            var s = 0.0
            var b = 0
            while (b < dims) { s += r(a)(b) * v(b); b += 1 }
            out(a) = s
            a += 1
          }
          (i, out)
        }
      }
      .toDF(id, "rvec")
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max |xᵢ|, codes = round(127·x/scale) (∈ [−127, 127] by
    * construction; clamped anyway for API robustness). Returns
    * (id, codes: array<int>, scale: double); dequant ≈ code·scale/127.
    * Zero vectors quantize to all-zero codes with scale 0.
    *
    * The standard 4× memory/IO shrink before ANN serving. Pure map-side
    * `transform` over built-ins — codegen'd, no shuffle, no UDF; at
    * 100 TB it runs at scan speed and is the cheap first stage before
    * PQ ([[pqEncode]]) when 8 bit/dim is affordable. All arithmetic in
    * double with binary-exact constants so any engine replays it
    * bit-for-bit. */
  def quantizeInt8(df: DataFrame, id: String, vec: String): DataFrame = {
    val scale = array_max(transform(col(vec), v => abs(v.cast("double"))))
    df.select(col(id), col(vec).as("__v"), scale.as("scale"))
      .select(col(id),
        when(col("scale") === 0.0,
            transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"), v =>
            greatest(lit(-127), least(lit(127),
              round(v.cast("double") * 127.0 / col("scale"), 0).cast("int")))))
          .as("codes"),
        col("scale"))
  }

  def cosineNearDupPairs(corpus: DataFrame, id: String, vec: String,
                         threshold: Double): DataFrame = {
    // Precompute the double-cast vector and its norm ONCE per row (the
    // naive form recomputes both norms for every one of the n² pairs),
    // broadcast the right side, and spread the left side across the
    // cluster — the pair loop then does a single codegen'd dot each.
    val prepped = corpus.select(col(id).as("__pid"),
      col(vec).cast("array<double>").as("__pv"),
      sqrt(dot(col(vec), col(vec))).as("__pn"))
    val spark = corpus.sparkSession
    val a = prepped.toDF("id_a", "va", "na")
      .repartition(spark.sparkContext.defaultParallelism)
    val b = prepped.toDF("id_b", "vb", "nb")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(try_divide(dot(col("va"), col("vb")), col("na") * col("nb")), 4)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }
}
