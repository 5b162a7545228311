package graft

import org.apache.spark.sql.functions._

import graft.engine.{Dedup, Merge}

/** Keep-first dedup, surrogate numbering (gap semantics) and MERGE —
  * reference behaviors P5/J1/J2/S8 (SURVEY.md §2), including the
  * [verified] PATIENT_NUM-gap case, plus idempotence properties
  * (seeded-random generated cases). */
class DedupMergeSpec extends SparkSpec {
  import spark.implicits._

  test("P5 [verified]: numbering BEFORE dedup leaves gaps — dup at " +
    "0-based index 2 yields 1,2,4") {
    val staged = Seq(
      (10L, "alice", "a"), (20L, "bob", "b"),
      (30L, "alice", "a"), // duplicate of row 1 on the key
      (40L, "carol", "c")
    ).toDF("__src_order", "name", "key")
    val got = Dedup.numberThenDedup(staged, Seq("key"),
        col("__src_order"), "PATIENT_NUM")
      .orderBy("PATIENT_NUM")
      .select("PATIENT_NUM", "name")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "alice"), (2L, "bob"), (4L, "carol")))
  }

  test("J1: keep-first picks the FIRST row in order, not an arbitrary one") {
    val df = Seq((3L, "k", "third"), (1L, "k", "first"), (2L, "k", "second"))
      .toDF("ord", "key", "v")
    val got = Dedup.keepFirst(df, Seq("key"), col("ord"))
      .select("v").as[String].collect().toSeq
    assert(got === Seq("first"))
  }

  test("numberRows is a dense global 1..n ranking without a global sort") {
    val df = (1 to 1000).map(i => (i * 7L % 1001, s"r$i")).toDF("ord", "v")
    val got = Dedup.numberRows(df, col("ord"), "rn", partitions = 4)
    val pairs = got.select("ord", "rn").as[(Long, Long)].collect().sortBy(_._1)
    assert(pairs.map(_._2).toSeq === (1L to 1000L))
  }

  test("numberRows values are PARTITION-COUNT invariant (the two-phase " +
    "contract), and the data is shuffled exactly ONCE — a single range " +
    "exchange in the materialized sub-plan, no hashpartitioning" +
    "(__graft_pid) re-exchange, no join in the tail (r13/r14 " +
    "regression lock)") {
    val df = (1 to 2000).map(i => (i * 13L % 2003, i.toLong)).toDF("ord", "v")
    val results = Seq(1, 3, 8).map { p =>
      Dedup.numberRows(df, col("ord"), "rn", partitions = p)
        .select("ord", "rn").as[(Long, Long)].collect().sortBy(_._1).toSeq
    }
    assert(results.distinct.size === 1,
      "numbering changed with partition count")
    // the shuffle lives in the checkpointed sub-plan (r14: numberRows
    // materializes the ranged frame once — see Dedup.scala scaladoc);
    // capture it and assert the one-shuffle shape there
    graft.ops.Caches.startCapture()
    val out = Dedup.numberRows(df, col("ord"), "rn", partitions = 8)
    val sub = graft.ops.Caches.stopCapture().mkString("\n")
    val exchanges = sub.linesIterator.count(_.contains("Exchange "))
    assert(exchanges === 1, s"expected exactly one exchange, got:\n$sub")
    assert(sub.contains("rangepartitioning"), sub)
    assert(!sub.contains("hashpartitioning(__graft_pid"), sub)
    // the tail (post-materialization) plan: pure projection over the
    // checkpoint scan — no exchange, no join, offsets applied as an
    // array-literal lookup
    val tail = out.queryExecution.executedPlan.toString
    assert(!tail.contains("Exchange "), tail)
    assert(!tail.contains("Join"), tail)
  }

  test("numberRows(partitions = 1) numbers in the consumer's job: no " +
    "exchange in its plan, no job to build it, one job to collect it") {
    val df = (1 to 2000).map(i => (i * 13L % 2003, i.toLong)).toDF("ord", "v")
    var out: org.apache.spark.sql.DataFrame = null
    assert(jobExecutions {
      out = Dedup.numberRows(df, col("ord"), "rn", partitions = 1)
    }.isEmpty, "building the one-partition numbering ran a job")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    var got: Seq[(Long, Long)] = Nil
    assert(jobExecutions {
      got = out.select("ord", "rn").as[(Long, Long)].collect().toSeq
    }.size === 1)
    val byOrd = got.sortBy(_._1)
    assert(byOrd.map(_._2) === (1L to 2000L))
    assert(byOrd.map(_._1) === df.select("ord").as[Long].collect().sorted.toSeq)
  }

  test("numberRows is EXACT on wide frames whose payload survives into " +
    "the output, under default AQE coalescing — the r13 two-branch " +
    "form silently dropped rows and duplicated ranks when column " +
    "pruning desynced its two range exchanges and AQE coalesced the " +
    "narrow offsets branch harder than the wide data branch " +
    "(advisor r13, high: 200k rows -> 49,980 survived pre-fix)") {
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
    try {
      val n = 120000
      // incompressible payload: shuffle bytes are lz4-compressed, so a
      // repeat()-style filler coalesces both branches identically and
      // masks the divergence
      val wide = spark.range(n.toLong).selectExpr(
        "cast(id * 2654435761 % 1000003 as long) as ord",
        "concat(" + (0 to 15).map(i => s"md5(cast(id + $i as string))")
          .mkString(",") + ") as payload")
      val out = Dedup.numberRows(wide, col("ord"), "rn")
        .select("rn", "ord", "payload").collect()
      assert(out.length === n, "row count")
      val byRn = out.sortBy(_.getLong(0))
      val rns = byRn.map(_.getLong(0))
      assert(rns.head === 1L && rns.last === n.toLong &&
        rns.distinct.length === n, "ranks not dense 1..n")
      // rank order must follow the order column
      val ords = byRn.map(_.getLong(1))
      assert(ords.zip(ords.tail).forall { case (a, b) => a <= b },
        "rank order diverges from the order column")
    } finally spark.conf
      .unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
  }

  test("numberRows is EXACT on wide frames (payload columns kept) under " +
    "default AQE, with exchange reuse disabled, and under aggressive " +
    "AQE coalescing — the r13 two-branch form silently dropped rows " +
    "and duplicated ranks when column pruning desynced its two range " +
    "exchanges (advisor r13, high)") {
    val n = 60000
    val wide = spark.range(n.toLong).selectExpr(
      "cast(id * 2654435761 % 1000003 as long) as ord",
      "id as k",
      "repeat('x', 64) as payload", // wide enough that pruning diverges
      "cast(id % 97 as double) as w")
    def check(tag: String): Unit = {
      // KEEP the payload columns in the consumed output — this is the
      // shape that breaks the reuse-dependent form (the offsets branch
      // prunes to `ord` alone, the data branch keeps everything)
      val out = Dedup.numberRows(wide, col("ord"), "rn")
        .select("rn", "ord", "k", "payload", "w").collect()
      assert(out.length === n, s"$tag: row count")
      val byRn = out.sortBy(_.getLong(0))
      val rns = byRn.map(_.getLong(0))
      assert(rns.head === 1L && rns.last === n.toLong &&
        rns.distinct.length === n, s"$tag: ranks not dense 1..n")
      // rank order must follow the order column
      val ords = byRn.map(_.getLong(1))
      assert(ords.zip(ords.tail).forall { case (a, b) => a <= b },
        s"$tag: rank order diverges from the order column")
    }
    check("default session (AQE on)")
    val reuse = "spark.sql.exchange.reuse"
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prevAdv = spark.conf.getOption(adv)
    spark.conf.set(reuse, "false")
    spark.conf.set(adv, "65536") // force >1 post-coalesce partition
    try {
      check("exchange.reuse=false + 64KB advisory partitions")
    } finally {
      spark.conf.set(reuse, "true")
      prevAdv match {
        case Some(v) => spark.conf.set(adv, v)
        case None    => spark.conf.unset(adv)
      }
    }
  }

  test("numberAndRunningSum is EXACT on frames wider than the summed " +
    "columns under exchange.reuse=false (same desync class as " +
    "numberRows — the offsets branch prunes to pid+sum inputs)") {
    val n = 20000
    val df = spark.range(n.toLong).selectExpr(
      "cast(id * 48271 % 65537 as long) as ord",
      "cast(1 as long) as one",
      "repeat('p', 48) as payload")
    val reuse = "spark.sql.exchange.reuse"
    spark.conf.set(reuse, "false")
    try {
      val out = Dedup.numberAndRunningSum(df, col("ord"), "rk",
          Seq("csum" -> col("one")))
        .select("rk", "csum", "payload").collect()
      assert(out.length === n)
      val rks = out.map(_.getLong(0)).sorted
      assert(rks.head === 1L && rks.last === n.toLong &&
        rks.distinct.length === n, "ranks not dense 1..n")
      // running sum of 1s under the rank order IS the rank
      assert(out.forall(r => r.getLong(0) === r.getLong(1)),
        "running sum diverges from rank")
    } finally spark.conf.set(reuse, "true")
  }

  test("S8: upsert updates matched keys, inserts new, keeps unmatched") {
    val existing = Seq((1L, "old1", 1L), (2L, "old2", 1L)).toDF("k", "v", "UPLOAD_ID")
    val incoming = Seq((2L, "new2", 2L), (3L, "new3", 2L)).toDF("k", "v", "UPLOAD_ID")
    val got = Merge.upsert(existing, incoming, Seq("k"))
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((1L, "old1", 1L), (2L, "new2", 2L), (3L, "new3", 2L)))
  }

  test("S8 property: merge is idempotent — re-merging the same batch " +
    "changes nothing (5 seeded random cases)") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val rows = List.fill(rng.nextInt(40) + 1)(
        (rng.nextInt(30).toLong, rng.alphanumeric.take(5).mkString))
      val existing = rows.toDF("k", "v")
      val incoming = rows.take(rows.size / 2).map { case (k, v) => (k, v + "'") }
        .distinctBy(_._1).toDF("k", "v")
      val once = Merge.upsert(existing, incoming, Seq("k"))
      val twice = Merge.upsert(once, incoming, Seq("k"))
      assert(twice.orderBy("k", "v").collect().toSeq
        === once.orderBy("k", "v").collect().toSeq)
    }
  }

  test("J2 property: newRows ∪ matched partitions incoming by key presence") {
    val existing = (1 to 50).map(i => (i.toLong, s"e$i")).toDF("k", "v")
    val incoming = (26 to 75).map(i => (i.toLong, s"i$i")).toDF("k", "v")
    val nw = Merge.newRows(incoming, existing, Seq("k"))
    assert(nw.select("k").as[Long].collect().sorted.toSeq
      === (51L to 75L))
  }

  test("snapshotDiff: insert/delete/update classification, unchanged " +
    "dropped, null-to-value transitions classify as update") {
    val v1 = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, None: Option[String], 30.0), (4L, Some("d"), 40.0))
      .toDF("k", "s", "p")
    val v2 = Seq((1L, Some("a"), 10.0), (3L, Some("c"), 30.0),
      (4L, Some("d"), 44.0), (5L, Some("e"), 50.0))
      .toDF("k", "s", "p")
    val got = Merge.snapshotDiff(v1, v2, Seq("k"), Seq("s", "p"))
      .orderBy("k")
      .select("k", "change_type").as[(Long, String)].collect().toSeq
    assert(got === Seq((2L, "delete"), (3L, "update"),
      (4L, "update"), (5L, "insert"))) // key 1 unchanged -> dropped
  }

  test("sortedNeighborhoodPairs (the linkage caller of numberRows) at " +
    "150k wide rows under default AQE: exact adjacent-rank pair " +
    "structure and partition-LAYOUT invariance — the caller-level lock " +
    "for the r13 numberRows hinge (the ranked frame is read twice, as " +
    "left and right of the gap self-join; both reads must see one rank " +
    "assignment whatever the input layout)") {
    val n = 150000
    val base = spark.range(n.toLong).selectExpr(
      // unique, deterministic sort key decoupled from row order, plus
      // an incompressible payload (the advisor-r13 trigger shape)
      "cast(id * 2654435761 % 1000003 as long) * 1000000 + id as sk",
      "md5(cast(id as string)) as payload")
    def pairFingerprint(parts: Int): (Long, Long) = {
      val pairs = graft.ops.DedupOps.sortedNeighborhoodPairs(
        base.repartition(parts), col("sk"), window = 2)
        .select(col("a.sk").as("ska"), col("b.sk").as("skb"), col("gap"))
      val cnt = pairs.count()
      val h = pairs.select(xxhash64(col("ska"), col("skb"), col("gap"))
        .as("h")).agg(bit_xor(col("h"))).head().getLong(0)
      (cnt, h)
    }
    val rs = Seq(1, 4, 16).map(pairFingerprint)
    // rank r pairs with r+1 and r+2: (n-1) + (n-2) pairs exactly —
    // any rank drop/duplication (the pre-fix failure) breaks the count
    assert(rs.head._1 === (n - 1).toLong + (n - 2).toLong, "pair count")
    assert(rs.distinct.size === 1,
      "pair set changed with input partition layout")
  }

  test("snapshotDiff roundtrip property: applying the diff to v1 " +
    "reconstructs v2 exactly (5 seeded random snapshot pairs)") {
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      def snap() = (0 until 60).filter(_ => rng.nextBoolean())
        .map(k => (k.toLong, s"s${rng.nextInt(3)}", rng.nextInt(5).toDouble))
      val v1 = snap().toDF("k", "s", "p")
      val v2 = snap().toDF("k", "s", "p")
      val d = Merge.snapshotDiff(v1, v2, Seq("k"), Seq("s", "p"))
      val touched = d
        .filter(col("change_type").isin("delete", "update")).select("k")
      val replaced = d
        .filter(col("change_type").isin("insert", "update"))
        .select(col("k"), col("new_s").as("s"), col("new_p").as("p"))
      val applied = v1.join(touched, Seq("k"), "left_anti")
        .unionByName(replaced)
      val want = v2.as[(Long, String, Double)].collect().toSet
      val got = applied.as[(Long, String, Double)].collect().toSet
      assert(got === want, s"seed $seed")
    }
  }

  test("dedup idempotence: keepFirst(keepFirst(x)) == keepFirst(x)") {
    val df = (1 to 200).map(i => (i.toLong, (i % 17).toString)).toDF("ord", "key")
    val once = Dedup.keepFirst(df, Seq("key"), col("ord"))
    val twice = Dedup.keepFirst(once, Seq("key"), col("ord"))
    assert(twice.orderBy("ord").collect().toSeq
      === once.orderBy("ord").collect().toSeq)
  }

  test("merkleDiff: pinpoints the bucket of a single changed row, " +
    "checksums are partitioning-invariant") {
    import graft.ops.Integrity
    val vOld = (1L to 400L).map(k => (k, s"v$k")).toDF("k", "s")
    // one update in bucket 1, one delete in bucket 3, bucket 0/2 intact
    val vNew = (1L to 400L).filterNot(_ == 350L)
      .map(k => (k, if (k == 150L) "CHANGED" else s"v$k")).toDF("k", "s")
    val rowRepr = concat_ws("|", col("k"), col("s"))
    val got = Integrity.merkleDiff(vOld, vNew, col("k"), rowRepr, 100L)
      .orderBy("bucket")
      .select("bucket", "status").as[(Long, String)].collect().toSeq
    assert(got === Seq((0L, "match"), (1L, "differ"), (2L, "match"),
      (3L, "differ"), (4L, "match")))
    // checksum invariance under repartitioning
    val a = Integrity.bucketChecksums(vOld.repartition(7), col("k"),
      rowRepr, 100L).orderBy("bucket").collect().toSeq
    val b = Integrity.bucketChecksums(vOld.repartition(2), col("k"),
      rowRepr, 100L).orderBy("bucket").collect().toSeq
    assert(a === b)
  }

  test("scd2: runs collapse to versions, null<->value transitions are " +
    "changes, single current row per key") {
    val hist = Seq(
      (1L, 1L, Some("gold")), (1L, 2L, Some("gold")),
      (1L, 3L, Some("silver")), (1L, 4L, Some("silver")),
      (1L, 5L, Some("gold")),
      (2L, 1L, None: Option[String]), (2L, 2L, Some("bronze")),
      (2L, 3L, None: Option[String]),
      (3L, 7L, Some("gold")))
      .toDF("k", "seq", "tier")
    val got = Merge.scd2(hist, Seq("k"), Seq("seq"), Seq("tier"))
      .orderBy("k", "effective_from")
      .as[(Long, Option[String], Long, Option[Long], Boolean)]
      .collect().toSeq
    assert(got === Seq(
      (1L, Some("gold"), 1L, Some(3L), false),
      (1L, Some("silver"), 3L, Some(5L), false),
      (1L, Some("gold"), 5L, None, true),
      (2L, None, 1L, Some(2L), false),
      (2L, Some("bronze"), 2L, Some(3L), false),
      (2L, None, 3L, None, true),
      (3L, Some("gold"), 7L, None, true)))
  }

  test("scd2 reconstruction property: joining the history back on " +
    "[from, to) intervals recovers every row's tracked value") {
    val rng = new scala.util.Random(11)
    val hist = (1 to 300).map { i =>
      (rng.nextInt(8).toLong, i.toLong, s"v${rng.nextInt(3)}")
    }.toDF("k", "seq", "tv")
    val dim = Merge.scd2(hist, Seq("k"), Seq("seq"), Seq("tv"))
    val joined = hist.as("h").join(dim.as("d"),
      col("h.k") === col("d.k") &&
        col("h.seq") >= col("d.effective_from") &&
        (col("d.effective_to").isNull ||
          col("h.seq") < col("d.effective_to")))
    assert(joined.count() === 300) // every history row covered once
    assert(joined.filter(col("h.tv") =!= col("d.tv")).count() === 0)
    // exactly one current version per key
    val cur = dim.filter(col("is_current")).groupBy("k").count()
    assert(cur.filter(col("count") =!= 1).count() === 0)
  }
}
