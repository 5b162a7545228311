package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Merge, TxLog}

/** The transactional table format: atomic commits, snapshot isolation,
  * time travel, stats-pruned MERGE, concurrency, crash safety, vacuum. */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("txlog").toString + "/tbl"

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag)).toDF("id", "v")

  private def scored(ids: Range) =
    ids.map(i => (i.toLong, s"new$i", i * 1.5)).toDF("id", "v", "score")

  private def part(ids: Range, p: String, tag: String) =
    ids.map(i => (i.toLong, p, tag)).toDF("id", "pc", "v")

  private def dataEntries(root: String): Set[String] =
    Files.list(Paths.get(root, "data")).iterator().asScala
      .map(_.getFileName.toString).toSet

  /** The jobs `body` launches, each as true iff it ran outside any SQL
    * execution. Every TxLog action is a Dataset action and runs inside
    * one; the job parquet schema inference launches to read footers
    * does not. */
  private def jobsDuring(body: => Any): Seq[Boolean] =
    jobExecutions(body).map(_.isEmpty)

  /** What `TxLog.read` returned before manifests carried the schema:
    * `mergeSchema` footer inference over the version's files, then the
    * column mapping. */
  private def inferredRead(root: String, v: Option[Long]): DataFrame = {
    val s = TxLog.snapshot(spark, root, v)
    val df = spark.read.option("mergeSchema", "true")
      .parquet(s.files.map(f => s"$root/${f.path}"): _*)
    s.renames.foldLeft(df.drop(s.dropped: _*)) { case (d, (p, l)) =>
      d.withColumnRenamed(p, l) }
  }

  private def assertSchemaAsInferred(root: String): Unit =
    (1L to TxLog.currentVersion(spark, root)).foreach { v =>
      assert(TxLog.read(spark, root, Some(v)).schema
        === inferredRead(root, Some(v)).schema, s"$root v$v")
    }

  test("append + read: versions accumulate, time travel reproduces " +
    "every committed snapshot") {
    val root = freshRoot()
    assert(TxLog.append(spark, root, rows(0 until 100, "a"), "id") === 1L)
    assert(TxLog.append(spark, root, rows(100 until 150, "b"), "id") === 2L)
    assert(TxLog.currentVersion(spark, root) === 2L)
    assert(TxLog.read(spark, root).count() === 150)
    // time travel: v1 is immutable
    assert(TxLog.read(spark, root, version = Some(1L)).count() === 100)
    assert(TxLog.read(spark, root, Some(1L))
      .agg(max("id")).as[Long].head() === 99L)
  }

  test("merge rewrites ONLY key-range-overlapping files; disjoint files " +
    "are carried into the new version byte-identical") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "old"), "id")
    TxLog.append(spark, root, rows(1000 until 1100, "old"), "id")
    val before = TxLog.snapshot(spark, root)
    val lowFiles = before.files.filter(_.maxKey < 1000).map(_.path).toSet
    assert(lowFiles.nonEmpty)
    // batch hits only the high range
    TxLog.merge(spark, root, rows(1050 until 1150, "new"), "id")
    val after = TxLog.snapshot(spark, root)
    // every low-range file survives with the same path (not rewritten)
    assert(lowFiles.subsetOf(after.files.map(_.path).toSet))
    // and the merge is a correct upsert: no duplicate keys, incoming won
    val df = TxLog.read(spark, root)
    assert(df.count() === 100 + 150)
    assert(df.groupBy("id").count().filter(col("count") > 1).count() === 0)
    val tags = df.filter(col("id") >= 1050 && col("id") < 1100)
      .select("v").distinct().as[String].collect().toSeq
    assert(tags === Seq("new"))
    assert(df.filter(col("id") < 100 && col("v") =!= "old").count() === 0)
  }

  test("Merge.upsertTransactional (the S8 production interface): " +
    "plain-upsert semantics, and key-range-disjoint files survive " +
    "BYTE-identical — same path, same length, same content hash") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "old"), "id")
    TxLog.append(spark, root, rows(1000 until 1100, "old"), "id")
    def digest(rel: String): String = {
      val bytes = Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/$rel"))
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    }
    val before = TxLog.snapshot(spark, root)
    val low = before.files.filter(_.maxKey < 1000).map(_.path)
    assert(low.nonEmpty)
    val lowBytes = low.map(p => p -> (Files.size(
      java.nio.file.Paths.get(s"$root/$p")), digest(p))).toMap
    // the interface under test: same call shape a Delta MERGE INTO user
    // would migrate to, returning the committed post-merge read
    val result = graft.engine.Merge.upsertTransactional(
      spark, root, rows(1050 until 1150, "new"), "id")
    // upsert semantics match the plain-DataFrame Merge.upsert exactly
    assert(result.count() === 100 + 150)
    assert(result.groupBy("id").count()
      .filter(col("count") > 1).count() === 0)
    assert(result.filter(col("id") >= 1050 && col("v") =!= "new")
      .count() === 0)
    assert(result.filter(col("id") < 100 && col("v") =!= "old")
      .count() === 0)
    // untouched files: carried forward in the manifest AND physically
    // byte-identical (no silent rewrite under the same name)
    val after = TxLog.snapshot(spark, root)
    assert(low.toSet.subsetOf(after.files.map(_.path).toSet))
    for (p <- low) {
      val (sz, dg) = lowBytes(p)
      assert(Files.size(java.nio.file.Paths.get(s"$root/$p")) === sz,
        s"$p length changed")
      assert(digest(p) === dg, s"$p bytes changed")
    }
  }

  test("merge into an empty table is the initial load; an empty batch " +
    "is a no-op commit-wise") {
    val root = freshRoot()
    assert(TxLog.merge(spark, root, rows(0 until 10, "x"), "id") === 1L)
    assert(TxLog.read(spark, root).count() === 10)
    assert(TxLog.merge(spark, root, rows(0 until 0, "y"), "id") === 1L)
    assert(TxLog.currentVersion(spark, root) === 1L)
  }

  test("crash before the manifest commit: orphan data files are " +
    "invisible to readers and swept by vacuum") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 50, "a"), "id")
    // simulate a writer that died after writing data, before committing:
    // drop an unreferenced parquet straight into data/
    rows(900 until 950, "ghost").coalesce(1)
      .write.parquet(s"$root/data/orphan-stage")
    val orphan = new java.io.File(s"$root/data/orphan-stage")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(s"$root/data/orphan.parquet")
    assert(orphan.renameTo(dest))
    assert(TxLog.read(spark, root).count() === 50) // still the old snapshot
    // default grace window: a FRESH unreferenced file is indistinguishable
    // from an in-flight commit's data, so vacuum must leave it alone
    TxLog.vacuum(spark, root, keepVersions = 1)
    assert(dest.exists())
    // no concurrent writers (graceMs = 0): the orphan is swept
    TxLog.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(!dest.exists()) // orphan swept
    assert(TxLog.read(spark, root).count() === 50)
  }

  test("optimistic concurrency: a committed rival version makes the " +
    "append retry on top of it — both writers' rows land") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 10, "a"), "id")
    // simulate a rival writer that committed version 2 first: clone v1's
    // manifest (same files) as v2 via the public snapshot + raw format
    val snap = TxLog.snapshot(spark, root)
    val body = (Seq("graft-txlog v1", "2") ++ snap.files.map(f =>
      s"${f.path}\t${f.rows}\t${f.minKey}\t${f.maxKey}")).mkString("\n")
    Files.write(java.nio.file.Paths.get(
      s"$root/_txlog/${"%020d".format(2)}.manifest"), body.getBytes("UTF-8"))
    // this append targets v2, loses the CAS, retries, lands at v3
    assert(TxLog.append(spark, root, rows(10 until 20, "b"), "id") === 3L)
    assert(TxLog.read(spark, root).count() === 20)
  }

  test("vacuum keeps the retained window readable and drops older " +
    "versions' exclusive files and manifests") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 30, "a"), "id")
    val v1Files = TxLog.snapshot(spark, root).files.map(_.path)
    TxLog.overwrite(spark, root, rows(0 until 5, "b"), "id")
    // pre-vacuum: time travel to v1 still works
    assert(TxLog.read(spark, root, Some(1L)).count() === 30)
    TxLog.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(TxLog.read(spark, root).count() === 5)
    // v1's files are gone from disk, and so is its manifest
    v1Files.foreach(p => assert(!new java.io.File(s"$root/$p").exists(), p))
    assert(!new java.io.File(
      s"$root/_txlog/${"%020d".format(1)}.manifest").exists())
    intercept[IllegalArgumentException] {
      TxLog.read(spark, root, Some(1L))
    }
  }

  test("streaming sink: foreachBatch + TxLog.merge gives a " +
    "transactional, idempotent-per-key micro-batch warehouse") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "seed"), "id")
    val ms = MemoryStream[(Long, String)]
    ms.addData((50L, "upd1"), (51L, "upd1"))
    ms.addData((52L, "upd2"), (200L, "ins"))
    val q = ms.toDF.toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TxLog.merge(spark, root, batch, "id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val df = TxLog.read(spark, root)
    assert(df.count() === 101) // 100 seed + 1 true insert
    assert(df.groupBy("id").count().filter(col("count") > 1).count() === 0)
    assert(df.filter(col("id") === 52L).select("v").as[String].head()
      === "upd2")
    // each micro-batch was one atomic commit
    assert(TxLog.currentVersion(spark, root) >= 2L)
  }

  test("merge pruning bound: with sequence-correlated keys the touched " +
    "read set is a small fraction of the table's files") {
    val root = freshRoot()
    // 10 appends of disjoint 100-key ranges → >= 10 disjoint files
    (0 until 10).foreach(i =>
      TxLog.append(spark, root,
        rows(i * 100 until (i + 1) * 100, s"t$i").repartition(2), "id"))
    val before = TxLog.snapshot(spark, root)
    TxLog.merge(spark, root, rows(350 until 370, "upd"), "id")
    val after = TxLog.snapshot(spark, root)
    val survivors = before.files.map(_.path).toSet
      .intersect(after.files.map(_.path).toSet)
    // only the range-overlapping files (range 300-399's) were rewritten
    val rewritten = before.files.map(_.path).toSet -- survivors
    assert(rewritten.nonEmpty &&
      rewritten.size <= before.files.size / 5,
      s"${rewritten.size}/${before.files.size} files rewritten")
    assert(TxLog.read(spark, root).count() === 1000)
  }

  test("compact bin-packs small files into tight key ranges, preserves " +
    "content and time travel, and restores merge pruning") {
    val root = freshRoot()
    // 10 micro-batches of 50 rows, 2 files each → 20 small files
    (0 until 10).foreach(i =>
      TxLog.append(spark, root,
        rows(i * 50 until (i + 1) * 50, s"t$i").repartition(2), "id"))
    val before = TxLog.snapshot(spark, root)
    assert(before.files.size >= 20)
    val wantRows = TxLog.read(spark, root)
      .as[(Long, String)].collect().toSet
    val v = TxLog.compact(spark, root, "id",
      smallRows = 1000L, targetRows = 250L)
    val after = TxLog.snapshot(spark, root)
    assert(v === before.version + 1)
    assert(after.files.size < before.files.size / 4,
      s"${after.files.size} files after compaction")
    // content identical, old version still readable
    assert(TxLog.read(spark, root).as[(Long, String)].collect().toSet
      === wantRows)
    assert(TxLog.read(spark, root, Some(before.version)).count() === 500)
    // range partitioning ⇒ file key ranges are (near-)disjoint, so a
    // narrow merge touches few files again
    val b4 = TxLog.snapshot(spark, root)
    TxLog.merge(spark, root, rows(10 until 20, "upd"), "id")
    val rewritten = b4.files.map(_.path).toSet --
      TxLog.snapshot(spark, root).files.map(_.path).toSet
    assert(rewritten.size <= 1, s"${rewritten.size} files rewritten")
    // compacting an already-compact table is a no-op (no version bump)
    assert(TxLog.compact(spark, root, "id", smallRows = 1L) ===
      TxLog.currentVersion(spark, root))
  }

  test("predicate delete rewrites only files containing matches, " +
    "empty files drop out, no-match is a no-op, time travel keeps " +
    "deleted rows") {
    val root = freshRoot()
    // two appends with disjoint key ranges → file sets per range
    TxLog.append(spark, root, rows(0 until 100, "lo").repartition(2), "id")
    TxLog.append(spark, root, rows(100 until 200, "hi").repartition(2), "id")
    val before = TxLog.snapshot(spark, root)
    // delete a slice that lives only in the 'hi' files
    val v = TxLog.delete(spark, root, "id",
      col("id") >= 150L && col("id") < 160L)
    assert(v === 3L)
    val after = TxLog.snapshot(spark, root)
    assert(TxLog.read(spark, root).count() === 190)
    assert(TxLog.read(spark, root)
      .filter(col("id") === 155L).count() === 0)
    // the 'lo' files were not rewritten (identity preserved)
    val loBefore = before.files.filter(_.maxKey < 100).map(_.path).toSet
    assert(loBefore.nonEmpty &&
      loBefore.subsetOf(after.files.map(_.path).toSet))
    // time travel still sees the deleted rows
    assert(TxLog.read(spark, root, Some(2L)).count() === 200)
    // no-match delete: version unchanged
    assert(TxLog.delete(spark, root, "id", col("id") === 9999L) === 3L)
    // delete EVERYTHING: table empties, files drop out of the manifest
    assert(TxLog.delete(spark, root, "id", lit(true)) === 4L)
    assert(TxLog.snapshot(spark, root).files.isEmpty)
    assert(TxLog.read(spark, root,
      schemaFrom = Some(rows(0 until 1, "s"))).count() === 0)
  }

  test("additive schema evolution: a merge batch adds a column, old " +
    "files read it as null, updates land, time travel keeps the old " +
    "schema") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "a"), "id")
    // v2: a batch carrying a NEW column — updates 40-49, inserts 100-109
    val evolved = (40 until 110).map(i =>
      (i.toLong, s"new$i", i * 1.5)).toDF("id", "v", "score")
    TxLog.merge(spark, root, evolved, "id")
    val cur = TxLog.read(spark, root)
    assert(cur.columns.toSeq.sorted === Seq("id", "score", "v"))
    assert(cur.count() === 110)
    // untouched old rows read score as null; merged rows carry it
    assert(cur.filter(col("score").isNull).count() > 0)
    assert(cur.filter(col("id") === 45L)
      .select("v", "score").as[(String, Option[Double])].head()
      === (("new45", Some(67.5))))
    assert(cur.filter(col("id") === 105L).count() === 1)
    // a pre-evolution row that was NOT rewritten
    val untouchedOld = cur.filter(col("id") === 0L)
      .select("v", "score").as[(String, Option[Double])].head()
    assert(untouchedOld === (("a", None)))
    // time travel: v1 predates the column entirely
    assert(TxLog.read(spark, root, Some(1L)).columns.toSeq.sorted
      === Seq("id", "v"))
    // a LEGACY-schema batch into the evolved table still merges (its
    // rows read the new column as null)
    TxLog.merge(spark, root, rows(200 until 205, "late"), "id")
    val after = TxLog.read(spark, root)
    assert(after.count() === 115)
    assert(after.filter(col("id") === 200L)
      .select("score").as[Option[Double]].head() === None)
  }

  test("delete on an evolved nullable column keeps NULL-evaluating " +
    "legacy rows (SQL DELETE removes only predicate-TRUE rows)") {
    val root = freshRoot()
    // v1: legacy schema (no score column) — these rows will read score
    // as NULL once the schema evolves
    TxLog.append(spark, root, rows(0 until 50, "legacy"), "id")
    // v2: evolved batch ADDS score, overlapping the legacy key range so
    // legacy rows are co-located in rewritten files with scored rows
    val evolved = (25 until 75).map(i =>
      (i.toLong, s"new$i", i.toDouble)).toDF("id", "v", "score")
    TxLog.merge(spark, root, evolved, "id")
    assert(TxLog.read(spark, root).count() === 75)
    // delete WHERE score < 40: matches scored rows 25-39 ONLY. Legacy
    // rows 0-24 evaluate the predicate to NULL — they must SURVIVE even
    // though they share files with matching rows.
    TxLog.delete(spark, root, "id", col("score") < 40.0)
    val cur = TxLog.read(spark, root)
    assert(cur.count() === 60, s"got ${cur.count()}") // 75 - 15 deleted
    assert(cur.filter(col("id") < 25).count() === 25) // NULL rows intact
    assert(cur.filter(col("score") < 40.0).count() === 0)
    assert(cur.filter(col("id") === 10L)
      .select("v").as[String].head() === "legacy")
  }

  test("compaction across a schema-evolution boundary preserves " +
    "later-added column values (mergeSchema read)") {
    val root = freshRoot()
    // small files on BOTH sides of the evolution boundary
    TxLog.append(spark, root, rows(0 until 20, "old"), "id")
    val evolved = (100 until 120).map(i =>
      (i.toLong, s"new$i", i * 2.0)).toDF("id", "v", "score")
    TxLog.append(spark, root, evolved, "id")
    val want = TxLog.read(spark, root)
      .select("id", "v", "score")
      .as[(Long, String, Option[Double])].collect().toSet
    val v = TxLog.compact(spark, root, "id",
      smallRows = 1000L, targetRows = 40L)
    assert(v === 3L)
    val got = TxLog.read(spark, root)
    assert(got.columns.toSeq.sorted === Seq("id", "score", "v"))
    assert(got.select("id", "v", "score")
      .as[(Long, String, Option[Double])].collect().toSet === want)
    // the evolved values specifically survived the rewrite
    assert(got.filter(col("id") === 110L)
      .select("score").as[Option[Double]].head() === Some(220.0))
  }

  test("partitioned merge: files prune by (partition, key-range), all " +
    "touched partitions commit in ONE manifest, (partition, key) is the " +
    "row identity, epochs replay-skip, readPartitions prunes from the " +
    "manifest") {
    val root = freshRoot()
    val v1 = TxLog.merge(spark, root,
      part(0 until 50, "a", "t0")
        .union(part(0 until 50, "b", "t0"))
        .union(part(0 until 50, "c", "t0")), "id", partCol = Some("pc"))
    assert(v1 === 1L)
    val before = TxLog.snapshot(spark, root)
    assert(before.files.forall(_.part.isDefined))
    val cFiles = before.files.filter(_.part.contains("c")).map(_.path).toSet
    val bFiles = before.files.filter(_.part.contains("b")).map(_.path).toSet
    assert(cFiles.nonEmpty && bFiles.nonEmpty)
    // the batch updates keys 10-19 in partition a and appends keys
    // 100-109 to partition b (no key overlap with b's existing files)
    val batch = part(10 until 20, "a", "t1")
      .union(part(100 until 110, "b", "t1"))
    val v2 = TxLog.mergeEpoch(spark, root, batch, "id", 7L, Some("pc"))
    val after = TxLog.snapshot(spark, root)
    // partition c: not in the batch — every file carried by path
    assert(cFiles.subsetOf(after.files.map(_.path).toSet))
    // partition b: in the batch but key-disjoint — old files also carried
    assert(bFiles.subsetOf(after.files.map(_.path).toSet))
    val df = TxLog.read(spark, root)
    assert(df.count() === 160)
    assert(df.filter(col("pc") === "a" && col("v") === "t1").count() === 10)
    // (partition, key) identity: no dup within a partition; the same id
    // in different partitions is three distinct rows
    assert(df.groupBy("pc", "id").count()
      .filter(col("count") > 1).count() === 0)
    assert(df.filter(col("id") === 10L).count() === 3)
    // epoch replay: detected from the log, no version bump
    assert(TxLog.mergeEpoch(spark, root, batch, "id", 7L, Some("pc")) === v2)
    assert(TxLog.currentVersion(spark, root) === v2)
    assert(TxLog.lastEpoch(spark, root) === Some(7L))
    // manifest-served partition pruning
    val pb = TxLog.readPartitions(spark, root, Set("b"))
    assert(pb.count() === 60)
    assert(pb.select("pc").distinct().as[String].collect().toSeq === Seq("b"))
  }

  test("every writer keeps a partitioned table's partition values, and " +
    "a merge without partCol keeps (partition, key) as the row identity") {
    def fresh(): String = {
      val root = freshRoot()
      TxLog.merge(spark, root, part(0 until 60, "a", "t0")
        .union(part(0 until 50, "b", "t0")), "id", partCol = Some("pc"))
      root
    }
    def contents(df: DataFrame) =
      df.select("id", "pc", "v").collect().map(_.toString).toSeq.sorted
    val writes: Seq[(String, String => Any)] = Seq(
      "append" -> (r => TxLog.append(spark, r, part(100 until 110, "a", "ap")
        .union(part(100 until 105, "c", "ap")), "id")),
      "overwrite" -> (r => TxLog.overwrite(spark, r, part(0 until 30, "a", "ow")
        .union(part(0 until 20, "b", "ow")), "id")),
      "delete" -> (r => TxLog.delete(spark, r, "id", col("id") === 5L)),
      "compact" -> (r => TxLog.compact(spark, r, "id", smallRows = 1000L,
        targetRows = 1000L)),
      "merge" -> (r => TxLog.merge(spark, r, part(5 until 6, "a", "m"), "id")))
    for ((what, write) <- writes) {
      val root = fresh()
      write(root)
      val snap = TxLog.snapshot(spark, root)
      assert(snap.version === 2L && snap.partCol === Some("pc"), what)
      // every file is listed with the one value its rows hold
      for (f <- snap.files) assert(spark.read.parquet(s"$root/${f.path}")
        .select("pc").distinct().as[String].collect().toSeq === f.part.toSeq,
        s"$what: $f")
      assert(contents(TxLog.readPartitions(spark, root, Set("a"))) ===
        contents(TxLog.read(spark, root).filter(col("pc") === "a")), what)
      assert(TxLog.merge(spark, root, part(200 until 201, "b", "later"), "id",
        partCol = Some("pc")) === 3L, what)
    }
    // the merge above, without partCol, replaced (5, a) only
    val root = fresh()
    TxLog.merge(spark, root, part(5 until 6, "a", "m"), "id")
    assert(TxLog.read(spark, root).filter(col("id") === 5L).select("pc", "v")
      .as[(String, String)].collect().toSet === Set(("a", "m"), ("b", "t0")))
    // another partition column throws before any file is written
    val before = dataEntries(root)
    val e = intercept[IllegalArgumentException](TxLog.merge(spark, root,
      part(7 until 8, "a", "x"), "id", partCol = Some("v")))
    assert(e.getMessage.contains("partitioned by 'pc'"), e.getMessage)
    assert(TxLog.currentVersion(spark, root) === 2L)
    assert(dataEntries(root) === before)
  }

  test("partition values round-trip whatever their characters and " +
    "length; a null value or one holding tab or newline is rejected, " +
    "leaving the version and data/ unchanged") {
    val root = freshRoot()
    val values = Seq("", "x/y", "k=v", "50%", ":c", "é",
      "__HIVE_DEFAULT_PARTITION__", "p" * 300, "q" * 3000)
    TxLog.merge(spark, root, values.zipWithIndex.map { case (p, i) =>
      (i.toLong, p, s"t$i") }.toDF("id", "pc", "v"), "id", partCol = Some("pc"))
    assert(TxLog.snapshot(spark, root).files.flatMap(_.part).sorted
      === values.sorted)
    for ((p, i) <- values.zipWithIndex)
      assert(TxLog.readPartitions(spark, root, Set(p))
        .as[(Long, String, String)].collect().toSeq
        === Seq((i.toLong, p, s"t$i")))
    val before = dataEntries(root)
    for (bad <- Seq(None, Some("a\tb"), Some("a\nb"))) {
      val batch = Seq((1L, bad, "x")).toDF("id", "pc", "v")
      for (write <- Seq(
          () => TxLog.merge(spark, root, batch, "id"),
          () => TxLog.append(spark, root, batch, "id"))) {
        val e = intercept[IllegalArgumentException](write())
        assert(e.getMessage.contains("partition values must"), e.getMessage)
        assert(TxLog.currentVersion(spark, root) === 1L)
        assert(dataEntries(root) === before)
      }
    }
  }

  test("LogStore seam: the DML cycle runs identically under LocalLink " +
    "and AtomicRename, the provider is pluggable, and LocalLink's CAS " +
    "refuses an existing destination") {
    import graft.engine.LogStore
    val prev = TxLog.logStoreProvider
    try {
      for (ls <- Seq(LogStore.LocalLink, LogStore.AtomicRename)) {
        TxLog.logStoreProvider = _ => ls
        val root = freshRoot()
        assert(TxLog.append(spark, root, rows(0 until 50, "a"), "id") === 1L)
        assert(TxLog.merge(spark, root, rows(25 until 75, "b"), "id") === 2L)
        assert(TxLog.delete(spark, root, "id", col("id") < 10) === 3L)
        val df = TxLog.read(spark, root)
        assert(df.count() === 65, s"under $ls")
        assert(df.filter(col("id") >= 25).select("v").distinct()
          .as[String].collect().toSeq === Seq("b"), s"under $ls")
      }
    } finally TxLog.logStoreProvider = prev
    // interface-level exclusivity: with dest already present, LocalLink
    // loses the CAS and consumes its temp file. (AtomicRename's refusal
    // is an HDFS-namespace guarantee — POSIX renameTo overwrites, which
    // is exactly why LocalLink exists — so it is not asserted on local.)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    val dir = new org.apache.hadoop.fs.Path(freshRoot())
    fs.mkdirs(dir)
    val dest = new org.apache.hadoop.fs.Path(dir, "m.manifest")
    val tmp = new org.apache.hadoop.fs.Path(dir, ".tmp-x")
    for (p <- Seq(dest, tmp)) {
      val o = fs.create(p, false); o.write(42); o.close()
    }
    assert(!LogStore.LocalLink.commitExclusive(fs, tmp, dest))
    assert(!fs.exists(tmp) && fs.exists(dest))
  }

  test("commit-CAS race contract: N concurrent committers of the SAME " +
    "version against ALL THREE LogStores — exactly one wins, the " +
    "published manifest is the winner's COMPLETE content, every temp " +
    "is consumed") {
    import graft.engine.LogStore
    import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
    // AtomicRename's refusal of an existing destination is an HDFS
    // NAMESPACE guarantee; POSIX renameTo overwrites. To race the impl
    // against the contract it was written for, wrap the local fs with
    // an HDFS-like rename (atomic refuse-if-exists under a lock) — the
    // LogStore logic is what's under test, not the kernel.
    class HdfsLikeFs extends RawLocalFileSystem {
      private val nsLock = new Object
      override def rename(src: HPath, dst: HPath): Boolean =
        nsLock.synchronized {
          if (exists(dst)) false else super.rename(src, dst)
        }
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val plainFs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
      .getRawFileSystem
    val hdfsLike = new HdfsLikeFs
    hdfsLike.initialize(java.net.URI.create("file:///"), conf)
    val cases: Seq[(LogStore, org.apache.hadoop.fs.FileSystem)] = Seq(
      LogStore.LocalLink -> plainFs,
      LogStore.AtomicRename -> hdfsLike,
      LogStore.ConditionalPut -> plainFs)
    for (((ls, fs), ci) <- cases.zipWithIndex; round <- 1 to 4) {
      val dir = new HPath(freshRoot()); fs.mkdirs(dir)
      val dest = new HPath(dir, "00000000000000000001.manifest")
      val n = 16
      val tmps = (0 until n).map { i =>
        val t = new HPath(dir, s".tmp-$i")
        val o = fs.create(t, false)
        o.write(s"writer-$i-payload".getBytes("UTF-8")); o.close(); t
      }
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val won = java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]())
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until n).map { i =>
        new Thread(() => {
          try {
            barrier.await()
            if (ls.commitExclusive(fs, tmps(i), dest)) won.add(i)
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"case $ci round $round: $errs")
      assert(won.size === 1, s"case $ci round $round: winners=$won")
      val in = fs.open(dest)
      val content = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      in.close()
      val w = won.iterator().next()
      assert(content === s"writer-$w-payload",
        s"case $ci round $round: reader saw partial/foreign content")
      tmps.foreach(t => assert(!fs.exists(t),
        s"case $ci round $round: temp $t not consumed"))
    }
    // end-to-end under ConditionalPut: the DML cycle commits through
    // claim+move and reads back exactly like the other stores
    val prev = TxLog.logStoreProvider
    try {
      TxLog.logStoreProvider = _ => LogStore.ConditionalPut
      val root = freshRoot()
      assert(TxLog.append(spark, root, rows(0 until 50, "a"), "id") === 1L)
      assert(TxLog.merge(spark, root, rows(25 until 75, "b"), "id") === 2L)
      assert(TxLog.delete(spark, root, "id", col("id") < 10) === 3L)
      assert(TxLog.read(spark, root).count() === 65)
    } finally TxLog.logStoreProvider = prev
  }

  test("renameColumn is metadata-only: same data files, new logical " +
    "name, time travel shows the old name, stale batches rejected") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "a"), "id")
    val filesBefore = TxLog.snapshot(spark, root).files.map(_.path).toSet
    assert(TxLog.renameColumn(spark, root, "v", "tag") === 2L)
    // no data file was touched
    assert(TxLog.snapshot(spark, root).files.map(_.path).toSet
      === filesBefore)
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "tag"))
    assert(TxLog.read(spark, root).filter(col("tag") === "a").count()
      === 100)
    // time travel: the pre-rename version still reads the old name
    assert(TxLog.read(spark, root, Some(1L)).columns.toSeq
      === Seq("id", "v"))
    // a batch still writing the OLD name is a schema conflict, not a
    // silently re-added column
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.merge(spark, root, rows(50 until 60, "x"), "id")
    }
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.append(spark, root, rows(200 until 210, "x"), "id")
    }
    // a batch using the new name merges fine; rewritten files still
    // STORE the original physical name (mapping applies on read)
    TxLog.merge(spark, root,
      Seq((50L, "new")).toDF("id", "tag"), "id")
    val df = TxLog.read(spark, root)
    assert(df.filter(col("id") === 50L).select("tag")
      .as[String].head() === "new")
    assert(df.count() === 100)
    val newFile = TxLog.snapshot(spark, root).files
      .map(_.path).toSet.diff(filesBefore).head
    assert(spark.read.parquet(s"$root/$newFile").columns.toSeq
      === Seq("id", "v")) // physical name unchanged on disk
    // rename back to the original clears the mapping; the interim name
    // is retired
    TxLog.renameColumn(spark, root, "tag", "v")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "v"))
    assert(TxLog.snapshot(spark, root).renames.isEmpty)
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.merge(spark, root, Seq((1L, "y")).toDF("id", "tag"), "id")
    }
    // fresh-target validation: renaming onto a live column fails
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, root, "v", "id")
    }
  }

  test("dropColumn projects immediately, purges lazily on rewrite, and " +
    "retires the name") {
    val root = freshRoot()
    val wide = (0 until 100).map(i => (i.toLong, s"v$i", i * 2))
      .toDF("id", "v", "extra")
    TxLog.append(spark, root, wide, "id")
    TxLog.dropColumn(spark, root, "extra")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "v"))
    // time travel still sees the column
    assert(TxLog.read(spark, root, Some(1L)).columns.toSeq
      === Seq("id", "v", "extra"))
    // re-introducing the dropped name is a conflict (old files still
    // hold its data — a "new" column would resurrect it)
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.append(spark, root,
        Seq((200L, "x", 9)).toDF("id", "v", "extra"), "id")
    }
    // a merge rewrite physically purges the dropped column
    val before = TxLog.snapshot(spark, root).files.map(_.path).toSet
    TxLog.merge(spark, root, Seq((5L, "nv")).toDF("id", "v"), "id")
    val rewritten = TxLog.snapshot(spark, root).files
      .map(_.path).toSet.diff(before)
    assert(rewritten.nonEmpty)
    rewritten.foreach { p =>
      assert(!spark.read.parquet(s"$root/$p").columns.contains("extra"))
    }
    assert(TxLog.read(spark, root).filter(col("id") === 5L)
      .select("v").as[String].head() === "nv")
  }

  test("rename composes with drop, delete, and compact; mapping " +
    "survives unrelated commits") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 50, "a"), "id")
    TxLog.renameColumn(spark, root, "v", "tag")
    // an unrelated append carries the mapping forward
    TxLog.append(spark, root, Seq((100L, "b")).toDF("id", "tag"), "id")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "tag"))
    assert(TxLog.read(spark, root).count() === 51)
    // the appended file stored the physical name
    assert(TxLog.snapshot(spark, root).renames === Seq(("v", "tag")))
    // DELETE with a predicate on the LOGICAL name
    TxLog.delete(spark, root, "id", col("tag") === "b")
    assert(TxLog.read(spark, root).count() === 50)
    assert(TxLog.read(spark, root).filter(col("tag") === "b").count()
      === 0)
    // compact across the mapping: content-preserving in the logical view
    val beforeCompact = TxLog.read(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    TxLog.compact(spark, root, "id", smallRows = 1000L,
      targetRows = 1000L)
    assert(TxLog.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq === beforeCompact)
    // drop by the NEW name retires both names
    TxLog.dropColumn(spark, root, "tag")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id"))
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.append(spark, root, Seq((7L, "z")).toDF("id", "v"), "id")
    }
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.append(spark, root, Seq((7L, "z")).toDF("id", "tag"), "id")
    }
    // key-only appends still work
    TxLog.append(spark, root, Seq(Tuple1(500L)).toDF("id"), "id")
    assert(TxLog.read(spark, root).count() === 51)
  }

  test("the manifest carries the schema: building a read launches no " +
    "job, and merge and compact launch no footer-reading job") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 50, "a"), "id")
    TxLog.append(spark, root, scored(100 until 150), "id")
    val snap = TxLog.snapshot(spark, root)
    assert(snap.files.size >= 2)
    assert(snap.schema.map(_.fieldNames.toSeq)
      === Some(Seq("id", "v", "score")))
    assert(jobsDuring(TxLog.read(spark, root)).isEmpty)
    val mergeJobs = jobsDuring(
      TxLog.merge(spark, root, rows(40 until 120, "m"), "id"))
    assert(mergeJobs.nonEmpty && !mergeJobs.contains(true), mergeJobs)
    val compactJobs = jobsDuring(TxLog.compact(spark, root, "id",
      smallRows = 1000L, targetRows = 1000L))
    assert(compactJobs.nonEmpty && !compactJobs.contains(true), compactJobs)
    assert(TxLog.read(spark, root).count() === 150)
    // control: the footer-merging read this replaces IS seen as one
    val files = TxLog.snapshot(spark, root, Some(2L)).files
    assert(jobsDuring(spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => s"$root/${f.path}"): _*)).contains(true))
  }

  test("the recorded schema equals the footer-merged read's, in names " +
    "and order: additive evolution, compaction across it, rename/drop, " +
    "time travel, and a nested struct gaining a field") {
    val evolving = freshRoot()
    TxLog.append(spark, evolving, rows(0 until 100, "a"), "id")
    TxLog.merge(spark, evolving, scored(40 until 110), "id")
    TxLog.merge(spark, evolving, rows(200 until 205, "late"), "id")
    assertSchemaAsInferred(evolving)

    val compacted = freshRoot()
    TxLog.append(spark, compacted, rows(0 until 20, "old"), "id")
    TxLog.append(spark, compacted, scored(100 until 120), "id")
    TxLog.compact(spark, compacted, "id", smallRows = 1000L,
      targetRows = 40L)
    assertSchemaAsInferred(compacted)

    val mapped = freshRoot()
    TxLog.append(spark, mapped, (0 until 50).map(i =>
      (i.toLong, s"v$i", i * 2)).toDF("id", "v", "extra"), "id")
    TxLog.renameColumn(spark, mapped, "v", "tag")
    TxLog.merge(spark, mapped,
      Seq((5L, "x", 7)).toDF("id", "tag", "extra"), "id")
    TxLog.dropColumn(spark, mapped, "extra")
    TxLog.merge(spark, mapped, Seq((6L, "y")).toDF("id", "tag"), "id")
    TxLog.append(spark, mapped, Seq((90L, "z")).toDF("id", "tag"), "id")
    assert(TxLog.read(spark, mapped).columns.toSeq === Seq("id", "tag"))
    assertSchemaAsInferred(mapped)

    val nested = freshRoot()
    TxLog.append(spark, nested, spark.range(0, 10).select(col("id"),
      struct(col("id").cast("int").as("a")).as("s")), "id")
    TxLog.append(spark, nested, spark.range(10, 20).select(col("id"),
      struct(col("id").cast("int").as("a"), lit("b").as("b")).as("s")),
      "id")
    assertSchemaAsInferred(nested)
    val t = TxLog.read(spark, nested)
    assert(t.filter(col("id") === 3L).select("s.a", "s.b")
      .as[(Int, Option[String])].head() === ((3, None)))
    assert(t.filter(col("id") === 15L).select("s.b").as[String].head()
      === "b")
  }

  test("an incompatible column type fails the write at commit, and the " +
    "table stays at its last version") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 10, "a"), "id")
    def dataFiles = Files.list(Paths.get(root, "data")).count()
    val filesBefore = dataFiles
    val e = intercept[org.apache.spark.SparkException] {
      TxLog.append(spark, root, Seq((20L, 5)).toDF("id", "v"), "id")
    }
    assert(e.getMessage.contains("CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE"))
    assert(TxLog.currentVersion(spark, root) === 1L)
    assert(TxLog.read(spark, root).count() === 10)
    assert(dataFiles === filesBefore, "the rejected append left files")
  }

  test("overwrite records its own files' schema: a dropped column leaves " +
    "the table and a column may change type, as footer inference saw it") {
    val root = freshRoot()
    TxLog.append(spark, root, scored(0 until 10), "id")
    TxLog.overwrite(spark, root, rows(0 until 5, "b"), "id")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "v"))
    TxLog.overwrite(spark, root,
      (0 until 3).map(i => (i.toLong, i)).toDF("id", "v"), "id")
    val t = TxLog.read(spark, root)
    assert(t.schema("v").dataType === org.apache.spark.sql.types.IntegerType)
    assert(t.select("v").as[Int].collect().sorted.toSeq === Seq(0, 1, 2))
    assertSchemaAsInferred(root)
    // the next write widens from the overwritten schema as before
    TxLog.merge(spark, root, (5 until 7).map(i =>
      (i.toLong, i, s"n$i")).toDF("id", "v", "note"), "id")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "v", "note"))
    assertSchemaAsInferred(root)
  }

  test("a table whose manifests predate the schema line reads as before " +
    "through footer inference, and its next commit records the schema") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 50, "a"), "id")
    TxLog.append(spark, root, scored(100 until 150), "id")
    def contents(df: DataFrame) =
      df.select("id", "v", "score")
        .as[(Long, String, Option[Double])].collect().toSet
    val cols = TxLog.read(spark, root).columns.toSeq
    val before = contents(TxLog.read(spark, root))
    // rewrite every manifest as an older writer left it
    def strip(root: String, line: String): Unit =
      Files.list(Paths.get(root, "_txlog")).iterator().asScala
        .filter(_.toString.endsWith(".manifest")).foreach { p =>
          val kept = Files.readAllLines(p).asScala
            .filterNot(_.startsWith(line))
          Files.write(p, kept.mkString("\n").getBytes("UTF-8"))
        }
    strip(root, "#schema=")
    assert(TxLog.snapshot(spark, root).schema === None)
    assert(TxLog.read(spark, root).columns.toSeq === cols)
    assert(contents(TxLog.read(spark, root)) === before)
    assert(jobsDuring(TxLog.read(spark, root)).contains(true))
    // the next merge touches only the low file, yet records the union
    // of ALL files, the untouched high file's `score` included
    TxLog.merge(spark, root, rows(10 until 20, "m"), "id")
    val snap = TxLog.snapshot(spark, root)
    assert(snap.version === 3L)
    assert(snap.schema.map(_.fieldNames.toSeq)
      === Some(Seq("id", "v", "score")))
    assert(Files.readAllLines(Paths.get(root, "_txlog",
      f"${3L}%020d.manifest")).asScala.exists(_.startsWith("#schema=")))
    assertSchemaAsInferred(root)
    assert(contents(TxLog.read(spark, root)) === before.map {
      case (id, _, sc) if id >= 10 && id < 20 => (id, "m", sc)
      case r => r
    })
    assert(jobsDuring(TxLog.read(spark, root)).isEmpty)
    // files with partition values under a manifest that records no
    // partition column: the table reads, and a merge given the column
    // records it
    val parted = freshRoot()
    TxLog.merge(spark, parted, part(0 until 3, "a", "x")
      .union(part(0 until 3, "b", "x")), "id", partCol = Some("pc"))
    strip(parted, "#partition=")
    assert(TxLog.snapshot(spark, parted).partCol === None)
    assert(TxLog.read(spark, parted).count() === 6)
    assert(TxLog.readPartitions(spark, parted, Set("b")).count() === 3)
    TxLog.merge(spark, parted, part(1 until 2, "b", "y"), "id",
      partCol = Some("pc"))
    assert(TxLog.snapshot(spark, parted).partCol === Some("pc"))
    assert(TxLog.read(spark, parted).filter(col("id") === 1L)
      .select("pc", "v").as[(String, String)].collect().toSet
      === Set(("a", "x"), ("b", "y")))
  }

  /** Each manifest entry's (rows, minKey, maxKey) at every version of
    * `root`, against a groupBy(input_file_name) scan of its file. */
  private def assertStatsAsScanned(root: String): Unit =
    for (v <- 1L to TxLog.currentVersion(spark, root)) {
      val files = TxLog.snapshot(spark, root, Some(v)).files
      assert(files.forall(_.rows > 0), files)
      if (files.nonEmpty) {
        val scanned = spark.read.parquet(files.map(f => s"$root/${f.path}"): _*)
          .groupBy(input_file_name().as("f"))
          .agg(count(lit(1)), min(col("id").cast("long")),
            max(col("id").cast("long")))
          .as[(String, Long, Long, Long)].collect()
          .map { case (f, n, mn, mx) =>
            f.substring(f.lastIndexOf('/') + 1) -> ((n, mn, mx)) }.toMap
        assert(files.map(f => f.path.stripPrefix("data/") ->
          ((f.rows, f.minKey, f.maxKey))).toMap === scanned, s"version $v")
      }
    }

  test("write stats come from the parquet footers: every entry equals a " +
    "groupBy(input_file_name) scan across several files, null keys, an " +
    "int key and an empty partition, and no zero-row file is listed") {
    val root = freshRoot()
    // four partitions, the last (ids 30-39 of 40) filtered empty; with
    // `nulls`, every id = 3 mod 7 has a null key
    def batch(lo: Long, tag: String, nulls: Boolean) =
      spark.range(lo, lo + 40L, 1, 4)
        .select(when(lit(nulls) && col("id") % 7 === 3, lit(null))
          .otherwise(col("id").cast("int")).as("id"),
          concat(lit(tag), col("id").cast("string")).as("v"),
          col("id").as("src"))
        .filter(col("src") < lo + 30L).drop("src")
    val first = batch(0L, "a", nulls = true)
    assert(first.schema("id").dataType === org.apache.spark.sql.types.IntegerType)
    TxLog.append(spark, root, first, "id")
    assert(TxLog.snapshot(spark, root).files.size === 3)
    TxLog.append(spark, root, first.limit(0), "id") // writes one 0-row file
    assert(TxLog.snapshot(spark, root).files.size === 3)
    TxLog.append(spark, root, batch(100L, "b", nulls = false), "id")
    // touches only the second append's files: a batch that replaced
    // every other key of a file holding a null key would leave that
    // row alone in a file with the empty key range, which the scan in
    // assertStatsAsScanned has no bounds for (the last test covers it)
    TxLog.merge(spark, root, batch(110L, "m", nulls = false), "id")
    TxLog.delete(spark, root, "id", col("id") % 5 === 0)
    TxLog.compact(spark, root, "id", smallRows = 1000L, targetRows = 12L)
    assert(TxLog.snapshot(spark, root).files.size > 3)
    TxLog.overwrite(spark, root, batch(200L, "o", nulls = true), "id")
    assertStatsAsScanned(root)
    assert(TxLog.read(spark, root).count() === 30)
    // a numeric string key (a document's source id) is not integral: its
    // footer bounds would be lexicographic, so its stats are scanned
    val ids = freshRoot()
    TxLog.append(spark, ids, Seq("9", "10", "200", "7").toDF("id"), "id")
    TxLog.merge(spark, ids, Seq("10", "31").toDF("id"), "id")
    assertStatsAsScanned(ids)
    assert(TxLog.snapshot(spark, ids).files.map(f => (f.minKey, f.maxKey))
      .reduce((a, b) => (a._1 min b._1, a._2 max b._2)) === ((7L, 200L)))
  }

  test("job pins: append of a local frame is one job (no stats read-back); " +
    "a merge that overlaps no file is one SQL execution, the batch write, " +
    "and an overlapping merge adds one, the survivors rewrite") {
    val root = freshRoot()
    assert(jobsDuring(TxLog.append(spark, root, rows(0 until 50, "a"), "id"))
      .size === 1)
    // keys past the table's: the batch's files are the whole commit
    val disjoint = jobExecutions(
      TxLog.merge(spark, root, rows(50 until 60, "n"), "id"))
    assert(disjoint.size === 1 && !disjoint.contains(None), disjoint)
    // executions in launch order: the batch write (one job), then the
    // survivors rewrite; no stats execution follows either write
    val jobs = jobExecutions(
      TxLog.merge(spark, root, rows(40 until 70, "m"), "id"))
    val executions = jobs.distinct
    assert(executions.size === 2 && !executions.contains(None), jobs)
    assert(jobs.count(_ == executions.head) === 1, jobs)
    assert(TxLog.read(spark, root).count() === 70)
  }

  test("merge evaluates its batch once: a UDF computing the batch's key " +
    "runs once per batch row") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 50, "a"), "id")
    val calls = spark.sparkContext.longAccumulator("batch rows")
    val counted = udf { (i: Long) => calls.add(1L); i }
    val batch = spark.range(40L, 100L, 1L, 3)
      .select(counted(col("id")).as("id"), lit("m").as("v"))
    assert(TxLog.merge(spark, root, batch, "id") === 2L)
    assert(calls.value === 60L)
    val df = TxLog.read(spark, root)
    assert(df.count() === 100)
    assert(df.filter(col("id") >= 40 && col("v") =!= "m").count() === 0)
    // a batch spanning two partitions of a partitioned table: one write
    // of single-partition files, then the survivors rewrite
    val parted = freshRoot()
    def pc(c: org.apache.spark.sql.Column) =
      when(c % 2 === 0, "x").otherwise("y").as("pc")
    TxLog.merge(spark, parted, spark.range(0L, 50L)
      .select(col("id"), lit("a").as("v"), pc(col("id"))), "id",
      partCol = Some("pc"))
    calls.reset()
    val jobs = jobExecutions(assert(TxLog.merge(spark, parted,
      spark.range(40L, 100L, 1L, 3).select(counted(col("id")).as("id"),
        lit("m").as("v"), pc(col("id"))), "id") === 2L))
    assert(calls.value === 60L)
    assert(jobs.size < 7 && jobs.distinct.size === 2 && !jobs.contains(None),
      jobs)
    val p = TxLog.read(spark, parted)
    assert(p.count() === 100)
    assert(p.filter(col("id") >= 40 && col("v") =!= "m").count() === 0)
    assert(p.filter(col("pc") =!= when(col("id") % 2 === 0, "x")
      .otherwise("y")).count() === 0)
  }

  test("the key contract fails loudly: an all-null key and a string key " +
    "that does not cast to long each throw, leave the version unchanged " +
    "and leave no new entry under data/") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 10, "a"), "id")
    def entries = Files.list(Paths.get(root, "data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    val before = entries
    val nullKeys = Seq((None: Option[Long], "x"), (None, "y")).toDF("id", "v")
    val stringKeys = Seq(("k1", "x"), ("k2", "y")).toDF("id", "v")
    def fails(write: => Any, cause: String): Unit = {
      val e = intercept[Exception](write)
      assert(e.getMessage.contains(cause), e.getMessage)
      assert(TxLog.currentVersion(spark, root) === 1L)
      assert(entries === before) // the staging dir is gone too
    }
    fails(TxLog.append(spark, root, nullKeys, "id"), "non-null key")
    fails(TxLog.overwrite(spark, root, nullKeys, "id"), "non-null key")
    // the stats job's cast fails after the files are staged
    fails(TxLog.overwrite(spark, root, stringKeys, "id"), "CAST_INVALID_INPUT")
    // merge reads an all-null batch as empty: nothing to commit
    assert(TxLog.merge(spark, root, nullKeys, "id") === 1L)
    assert(TxLog.read(spark, root).count() === 10)
  }

  test("a merge that leaves a file's null-key rows alone commits: the " +
    "null-key file gets an empty key range, and compact and delete keep " +
    "its rows") {
    val root = freshRoot()
    def ids(r: Range, tag: String) = rows(r, tag).repartition(1)
    TxLog.append(spark, root, ids(0 until 10, "a"), "id")
    // the 20-29 file holds a null id
    TxLog.append(spark, root, ids(20 until 30, "b")
      .union(Seq((None: Option[Long], "nullkey")).toDF("id", "v")), "id")
    // replaces every non-null key of the 20-29 file
    assert(TxLog.merge(spark, root, ids(20 until 50, "m"), "id") === 3L)
    def contents = TxLog.read(spark, root)
      .as[(Option[Long], String)].collect().toSeq
    val want = (0L until 10L).map(i => (Some(i), "a")) ++
      (20L until 50L).map(i => (Some(i), "m")) :+ ((None, "nullkey"))
    assert(contents.sortBy(_.toString) === want.sortBy(_.toString))
    // the null key sits in a file of its own, whose empty range no merge
    // overlaps
    val keyless = TxLog.snapshot(spark, root).files.filter(f => f.minKey > f.maxKey)
    assert(keyless.map(_.rows) === Seq(1L), TxLog.snapshot(spark, root).files)
    TxLog.merge(spark, root, ids(45 until 55, "n"), "id")
    assert(TxLog.snapshot(spark, root).files.exists(keyless.contains))
    TxLog.compact(spark, root, "id", smallRows = 1000L, targetRows = 1000L)
    assert(TxLog.snapshot(spark, root).files.size === 1)
    assert(contents.count(_._1.isEmpty) === 1 && contents.size === 46)
    // a delete of every non-null key leaves the null-key row alone
    TxLog.delete(spark, root, "id", col("id") >= 0)
    assert(contents === Seq((None, "nullkey")))
  }

  /** `df` with a null column for each of `other`'s columns it lacks. */
  private def padded(df: DataFrame, other: DataFrame): DataFrame =
    other.schema.fields.filterNot(f => df.columns.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))

  test("merge equals Merge.upsert of the table before it, as multisets, " +
    "over seeded batches with duplicate keys, null keys and an added " +
    "column that overlap no file, some files or every file") {
    def contents(df: DataFrame): Seq[String] =
      padded(df, Seq.empty[(Long, String, Double)].toDF("id", "v", "score"))
        .select("id", "v", "score").collect().map(_.toString).toSeq.sorted
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val root = freshRoot()
      // three files over keys 0-99, 100-199 and 200-299, the second
      // holding a null key
      for (lo <- Seq(0, 100, 200)) {
        val keys = (lo until lo + 100).map(i => Option(i.toLong)) ++
          (if (lo == 100) Seq(None) else Seq.empty)
        TxLog.append(spark, root, keys.map(k => (k, s"t$lo"))
          .toDF("id", "v").repartition(1), "id")
      }
      for ((overlap, step) <- Seq("none", "some", "every").zipWithIndex) {
        val (lo, hi) = overlap match {
          case "none" => (1000 + 100 * seed, 1050 + 100 * seed)
          case "some" => (120, 180)
          case _ => (-10, 310)
        }
        // at least one non-null key; duplicates and nulls mixed in
        val keys = Option(lo.toLong) +: Seq.fill(30)(
          if (rnd.nextInt(8) == 0) None
          else Some((lo + rnd.nextInt(hi - lo)).toLong))
        val tag = s"s$seed-$step"
        // each overlap comes with and without the added column
        val batch =
          if ((seed + step) % 2 == 0) keys.zipWithIndex.map { case (k, i) =>
            (k, s"$tag-$i", Option(i * 0.5)) }.toDF("id", "v", "score")
          else keys.zipWithIndex.map { case (k, i) => (k, s"$tag-$i") }
            .toDF("id", "v")
        val before = TxLog.read(spark, root)
        val want = contents(Merge.upsert(padded(before, batch),
          padded(batch, before), Seq("id")))
        val v = TxLog.currentVersion(spark, root)
        assert(TxLog.merge(spark, root, batch, "id") === v + 1)
        assert(contents(TxLog.read(spark, root)) === want,
          s"seed $seed, $overlap overlap")
      }
    }
    // a partitioned table holding keys 0-99 in both partitions: the row
    // identity is (partition, key), so the expected result is the upsert
    // over both columns
    val root = freshRoot()
    TxLog.merge(spark, root, part(0 until 100, "a", "t0")
      .union(part(0 until 100, "b", "t0")), "id", partCol = Some("pc"))
    val rnd = new scala.util.Random(4)
    val batch = ((5L, "a", "m") +: (5L, "b", "m") +: Seq.fill(30)(
      (rnd.nextInt(150).toLong, if (rnd.nextBoolean()) "a" else "b", "r")))
      .toDF("id", "pc", "v")
    def rows(df: DataFrame) =
      df.select("id", "pc", "v").collect().map(_.toString).toSeq.sorted
    val want = rows(Merge.upsert(TxLog.read(spark, root), batch,
      Seq("pc", "id")))
    assert(TxLog.merge(spark, root, batch, "id") === 2L)
    assert(rows(TxLog.read(spark, root)) === want)
  }

  test("a merge whose survivors rewrite throws leaves the version " +
    "unchanged and no new entry under data/") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 50, "a").repartition(1), "id")
    TxLog.append(spark, root, rows(100 until 150, "b").repartition(1), "id")
    // the file the batch overlaps is unreadable: the batch write succeeds,
    // the rewrite of that file's survivors fails
    val low = TxLog.snapshot(spark, root).files.filter(_.maxKey < 100)
    assert(low.size === 1)
    Files.write(Paths.get(root, low.head.path), "not parquet".getBytes("UTF-8"))
    def entries = Files.list(Paths.get(root, "data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    val before = entries
    intercept[Exception](TxLog.merge(spark, root, rows(40 until 60, "m"), "id"))
    assert(TxLog.currentVersion(spark, root) === 2L)
    assert(entries === before)
  }

  test("a rename committed while a merge races it maps the batch's new " +
    "column to the renamed column's stored name: the batch is written " +
    "again under the new mapping, never committed under the old one") {
    import graft.engine.LogStore
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 20, "a"), "id")
    val prev = TxLog.logStoreProvider
    @volatile var armed = true
    // the merge's first commit attempt loses to a rename of v to z
    TxLog.logStoreProvider = fs => new LogStore {
      def commitExclusive(f: org.apache.hadoop.fs.FileSystem,
                          tmp: org.apache.hadoop.fs.Path,
                          dest: org.apache.hadoop.fs.Path): Boolean = {
        if (armed) {
          armed = false
          assert(TxLog.renameColumn(spark, root, "v", "z") === 2L)
        }
        prev(fs).commitExclusive(f, tmp, dest)
      }
    }
    try {
      assert(TxLog.merge(spark, root,
        (15 until 25).map(i => (i.toLong, s"z$i")).toDF("id", "z"),
        "id") === 3L)
      assert(!armed)
    } finally TxLog.logStoreProvider = prev
    // the files written under the old mapping are gone: every data file
    // (checksum files aside) is listed by a committed version
    val listed = (1L to 3L).flatMap(v =>
      TxLog.snapshot(spark, root, Some(v)).files.map(_.path)).toSet
    assert(Files.list(Paths.get(root, "data")).iterator().asScala
      .map(p => s"data/${p.getFileName}").filterNot(_.endsWith(".crc"))
      .toSet === listed)
    val df = TxLog.read(spark, root)
    assert(df.columns.toSeq === Seq("id", "z"))
    assert(df.as[(Long, String)].collect().toSeq.sortBy(_._1) ===
      (0L until 15L).map(i => (i, "a")) ++ (15L until 25L).map(i => (i, s"z$i")))
  }
}
