package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.engine.{Documents, TxLog, Watcher}

/** T1–T6 incremental-loop semantics (reference `script.py`), driven by
  * direct polls over a temp directory. */
class WatcherSpec extends SparkSpec {
  import spark.implicits._

  private def writeDoc(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))

  private def mkLoader(src: String, wh: String) =
    new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("path"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
        length(col("content")).as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID")))

  test("T1/T3/T5: first poll fires with upload_id=1; unchanged poll is " +
    "a no-op; any change reprocesses ALL files under the next id") {
    val src = Files.createTempDirectory("graft_src").toString
    val wh = Files.createTempDirectory("graft_wh").toString + "/docs"
    writeDoc(src, "a_1.pdf", "alpha")
    writeDoc(src, "b_2.docx", "beta")
    val loader = mkLoader(src, wh)

    assert(loader.pollOnce() === Some(1L)) // T4-style first-iteration force
    assert(loader.pollOnce() === None)     // no change -> no batch
    val t1 = loader.currentTable().get
    assert(t1.count() === 2)
    assert(t1.select(max("UPLOAD_ID")).head().getLong(0) === 1L)

    writeDoc(src, "c_3.pdf", "gamma")      // new file
    assert(loader.pollOnce() === Some(2L))
    val t2 = loader.currentTable().get.orderBy("path")
    assert(t2.count() === 3)
    // T3: ALL rows re-stamped — full reprocess, not a per-file delta
    assert(t2.select("UPLOAD_ID").as[Long].collect().toSet === Set(2L))
  }

  test("T2: modified files are detected by mtime; deletion never deletes " +
    "rows (T6 faithful mode)") {
    val src = Files.createTempDirectory("graft_src2").toString
    val wh = Files.createTempDirectory("graft_wh2").toString + "/docs"
    writeDoc(src, "a_1.pdf", "v1")
    val loader = mkLoader(src, wh)
    assert(loader.pollOnce() === Some(1L))

    Thread.sleep(1100) // mtime resolution
    writeDoc(src, "a_1.pdf", "v2-longer")  // modified
    assert(loader.pollOnce() === Some(2L))
    assert(loader.currentTable().get
      .filter(col("path") === "a_1.pdf")
      .select("n_bytes").as[Int].head() === 9)

    Files.delete(Paths.get(src, "a_1.pdf")) // deleted
    writeDoc(src, "b_2.pdf", "other")
    assert(loader.pollOnce() === Some(3L))
    val t = loader.currentTable().get
    // T6: stale row for the deleted file survives (reference behavior)
    assert(t.filter(col("path") === "a_1.pdf").count() === 1)
    assert(t.filter(col("path") === "b_2.pdf").count() === 1)
  }

  test("T6 sane mode: deleteMissing=true drops rows for vanished files") {
    val src = Files.createTempDirectory("graft_src3").toString
    val wh = Files.createTempDirectory("graft_wh3").toString + "/docs"
    writeDoc(src, "a_1.pdf", "v1")
    writeDoc(src, "b_2.pdf", "v1")
    val loader = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("path"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
        lit(uploadId).as("UPLOAD_ID")),
      deleteMissing = true)
    loader.pollOnce()
    Files.delete(Paths.get(src, "b_2.pdf"))
    loader.pollOnce()
    assert(loader.currentTable().get.select("path").as[String]
      .collect().toSeq === Seq("a_1.pdf"))
  }

  test("T5: upload id is recovered from the warehouse after restart") {
    val src = Files.createTempDirectory("graft_src4").toString
    val wh = Files.createTempDirectory("graft_wh4").toString + "/docs"
    writeDoc(src, "a_1.pdf", "v1")
    mkLoader(src, wh).pollOnce()
    val reborn = mkLoader(src, wh) // fresh loader, same warehouse
    assert(reborn.pollOnce() === Some(2L)) // continues, does not restart at 1
  }

  private def partFiles(dir: String): Map[String, Long] = {
    val s = java.nio.file.Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    } finally s.close()
  }

  test("partition-pruned MERGE: a single-partition batch rewrites ONLY " +
    "that partition's files; other partitions are byte-untouched") {
    val wh = Files.createTempDirectory("graft_whp").toString + "/t"
    val base = Seq(
      (1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p2")
    ).toDF("id", "v", "shard")
    graft.engine.Merge.upsertPartitioned(wh, base, Seq("id"), "shard")
    val p2Before = partFiles(s"$wh/shard=p2")
    assert(p2Before.nonEmpty)
    Thread.sleep(1100) // make any rewrite visible in mtimes

    // batch touching only p1: update id=1, insert id=9
    val batch = Seq((1L, "a2", "p1"), (9L, "z", "p1")).toDF("id", "v", "shard")
    graft.engine.Merge.upsertPartitioned(wh, batch, Seq("id"), "shard")

    // p2 files: same names, same mtimes — never read-side rewritten
    assert(partFiles(s"$wh/shard=p2") === p2Before)
    // p1 merged correctly; p2 rows intact
    val t = spark.read.parquet(wh)
    assert(t.count() === 5)
    assert(t.filter(col("id") === 1).select("v").as[String].head() === "a2")
    assert(t.filter(col("shard") === "p2").count() === 2)
  }

  test("partition-pruned MERGE crash recovery: a run that died between " +
    "its two renames (live partition moved aside, stage not yet in) " +
    "loses no committed rows — the next batch restores and merges") {
    val wh = Files.createTempDirectory("graft_whc").toString + "/t"
    val base = Seq(
      (1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2")
    ).toDF("id", "v", "shard")
    graft.engine.Merge.upsertPartitioned(wh, base, Seq("id"), "shard")

    // simulate the mid-swap crash: p1 was renamed aside, the staged
    // replacement never made it in — live table has NO p1 directory,
    // the only copy of p1's committed rows sits in the aside dir
    Files.createDirectories(Paths.get(s"$wh.aside"))
    Files.move(Paths.get(s"$wh/shard=p1"), Paths.get(s"$wh.aside/shard=p1"))
    assert(spark.read.parquet(wh).filter(col("shard") === "p1").count() === 0)

    // next batch: recovery must restore p1 BEFORE the pruned read, so
    // the merge sees ids 1 and 2 — id 1 updates, id 2 SURVIVES
    val batch = Seq((1L, "a2", "p1")).toDF("id", "v", "shard")
    graft.engine.Merge.upsertPartitioned(wh, batch, Seq("id"), "shard")
    val t = spark.read.parquet(wh)
    assert(t.count() === 3)
    assert(t.filter(col("id") === 1).select("v").as[String].head() === "a2")
    assert(t.filter(col("id") === 2).select("v").as[String].head() === "b")
    assert(!Files.exists(Paths.get(s"$wh.aside")))

    // crash AFTER the second rename (aside copy is stale, live is new):
    // recovery must DISCARD the aside copy, not resurrect old rows
    Files.createDirectories(Paths.get(s"$wh.aside/shard=p2"))
    Files.copy(Paths.get(s"$wh/shard=p2").toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath,
      Paths.get(s"$wh.aside/shard=p2/stale.parquet"))
    val batch2 = Seq((4L, "d", "p2")).toDF("id", "v", "shard")
    graft.engine.Merge.upsertPartitioned(wh, batch2, Seq("id"), "shard")
    val t2 = spark.read.parquet(wh)
    assert(t2.filter(col("shard") === "p2").count() === 2) // 3 and 4, no dupes
    assert(!Files.exists(Paths.get(s"$wh.aside")))
  }

  test("partition-pruned MERGE: a batch with a NULL partition value " +
    "merges into the null partition without dropping its existing rows") {
    val wh = Files.createTempDirectory("graft_whn").toString + "/t"
    val base = Seq(
      (1L, "a", None: Option[String]), (2L, "b", Some("p1"))
    ).toDF("id", "v", "shard")
    graft.engine.Merge.upsertPartitioned(wh, base, Seq("id"), "shard")
    val batch = Seq((3L, "c", None: Option[String]), (1L, "a2", None: Option[String]))
      .toDF("id", "v", "shard")
    graft.engine.Merge.upsertPartitioned(wh, batch, Seq("id"), "shard")
    val t = spark.read.parquet(wh)
    assert(t.count() === 3) // 1 updated in place, 2 untouched, 3 inserted
    assert(t.filter(col("id") === 1).select("v").as[String].head() === "a2")
    assert(t.filter(col("id") === 2).count() === 1)
    assert(t.filter(col("id") === 3).count() === 1)

    // empty string lands in the same __HIVE_DEFAULT_PARTITION__ bucket:
    // a batch with "" must merge against the null-partition rows too
    val batch2 = Seq((4L, "d", Some(""))).toDF("id", "v", "shard")
    graft.engine.Merge.upsertPartitioned(wh, batch2, Seq("id"), "shard")
    val t2 = spark.read.parquet(wh)
    assert(t2.count() === 4) // ids 1 and 3 survive alongside the new 4
    assert(t2.filter(col("id").isin(1L, 3L, 4L)).count() === 3)
  }

  test("incremental + partitioned loader: a one-file change processes " +
    "one file and leaves other shards' files untouched") {
    val src = Files.createTempDirectory("graft_src5").toString
    val wh = Files.createTempDirectory("graft_wh5").toString + "/docs"
    writeDoc(src, "a_1.pdf", "alpha")
    writeDoc(src, "b_2.docx", "beta")
    val loader = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("path"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
        length(col("content")).as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID"),
        regexp_extract(col("path"), "\\.([a-z]+)$", 1).as("ext")),
      partitionCol = Some("ext"),
      incremental = true)

    assert(loader.pollOnce() === Some(1L))
    val docxBefore = partFiles(s"$wh/ext=docx")
    assert(docxBefore.nonEmpty)
    Thread.sleep(1100)

    writeDoc(src, "c_3.pdf", "gamma") // pdf shard only
    assert(loader.pollOnce() === Some(2L))
    // the docx partition was neither reprocessed nor rewritten
    assert(partFiles(s"$wh/ext=docx") === docxBefore)
    val t = loader.currentTable().get
    assert(t.count() === 3)
    // incremental: ONLY the new file carries the new upload id
    assert(t.filter(col("UPLOAD_ID") === 2L).select("path").as[String]
      .collect().toSeq === Seq("c_3.pdf"))
    // unchanged rows keep their original stamp (no reprocess-all)
    assert(t.filter(col("path") === "a_1.pdf").select("UPLOAD_ID")
      .as[Long].head() === 1L)
  }

  test("checkpointed streaming restart: a fresh loader resuming from the " +
    "same checkpoint continues upload ids and the merge stays idempotent") {
    val src = Files.createTempDirectory("graft_src6").toString
    val wh = Files.createTempDirectory("graft_wh6").toString + "/docs"
    val ckpt = Files.createTempDirectory("graft_ckpt6").toString
    def await(label: String, q: org.apache.spark.sql.streaming.StreamingQuery,
              cond: => Boolean, ms: Long = 120000): Unit = {
      // tolerate transient failures (reading a table mid-swap)
      var lastErr: Option[Throwable] = None
      def ok = scala.util.Try(cond) match {
        case scala.util.Success(v) => v
        case scala.util.Failure(e) => lastErr = Some(e); false
      }
      val t0 = System.currentTimeMillis()
      var good = ok
      while (!good && System.currentTimeMillis() - t0 < ms) {
        // a foreachBatch throw kills the heartbeat silently — surface it
        q.exception.foreach(e => fail(s"[$label] heartbeat query died: $e", e))
        Thread.sleep(200)
        good = ok
      }
      assert(good, s"[$label] not reached after " +
        s"${System.currentTimeMillis() - t0} ms; lastErr=$lastErr")
    }
    writeDoc(src, "a_1.pdf", "v1")

    val loader1 = mkLoader(src, wh)
    val q1 = loader1.start(intervalSeconds = 1, checkpointDir = Some(ckpt))
    // await the TABLE, not just the id: pollOnce bumps the id before the
    // merge lands, and stopping mid-write would leave no table behind
    try await("first-load", q1, loader1.lastUploadId >= 1L &&
      loader1.currentTable().exists(_.count() === 1))
    finally q1.stop()

    // process restart: FRESH loader, same warehouse + checkpoint
    val loader2 = mkLoader(src, wh)
    val q2 = loader2.start(intervalSeconds = 1, checkpointDir = Some(ckpt))
    try {
      // first poll of the reborn loader force-fires (T4) under the NEXT
      // id (T5 recovery: 2, not a reset to 1), idempotently re-merging
      await("restart-remerge", q2, loader2.lastUploadId >= 2L &&
        loader2.currentTable().exists(_.count() === 1)) // idempotent
      writeDoc(src, "b_2.pdf", "v1")
      await("new-file", q2, loader2.lastUploadId >= 3L &&
        loader2.currentTable().exists(_.count() === 2))
      val t = loader2.currentTable().get
      assert(t.agg(max(col("UPLOAD_ID"))).head().getLong(0) >= 3L)
    } finally q2.stop()
  }

  test("TxLog sink: exactly-once micro-batches — the epoch rides the " +
    "atomic manifest commit, a crashed batch leaves no trace, restart " +
    "recovers the id from the log, replays are skipped, the version log " +
    "is linear") {
    val src = Files.createTempDirectory("graft_src_tx").toString
    val wh = Files.createTempDirectory("graft_wh_tx").toString + "/docs"
    def mk() = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("doc_id"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "_(\\d+)\\.", 1).cast("long")
          .as("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID")),
      useTxLog = true)
    writeDoc(src, "a_1.pdf", "alpha")
    writeDoc(src, "b_2.docx", "beta")
    val loader = mk()
    assert(loader.pollOnce() === Some(1L))
    assert(TxLog.currentVersion(spark, wh) === 1L)
    assert(TxLog.commitEpoch(spark, wh, 1L) === Some(1L))
    assert(loader.currentTable().get.count() === 2)

    // kill mid-batch: a writer died after staging data but BEFORE its
    // manifest commit — the staged rows must be invisible to readers
    // and absent from the log (TxLogSpec's orphan-file simulation)
    spark.range(1)
      .selectExpr("99L as doc_id", "0L as n_bytes", "99L as UPLOAD_ID")
      .coalesce(1).write.parquet(s"$wh/data/tmp-crashed")
    assert(loader.currentTable().get.count() === 2)

    // restart: a FRESH loader recovers the upload id from the LOG's
    // epoch tags (not from rows), resumes at 2, and the survivors of
    // the next poll merge idempotently — no duplicates
    val restarted = mk()
    assert(restarted.lastUploadId === 1L)
    Thread.sleep(1100) // mtime resolution
    writeDoc(src, "c_3.pdf", "gamma")
    assert(restarted.pollOnce() === Some(2L))
    assert(restarted.currentTable().get.count() === 3)
    assert(restarted.currentTable().get
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    assert(TxLog.currentVersion(spark, wh) === 2L)

    // replay of an already-committed epoch (streaming restart re-runs
    // its last batch): detected from the log, skipped — same version,
    // same rows
    val replay = restarted.currentTable().get
    assert(TxLog.mergeEpoch(spark, wh, replay, "doc_id", 2L) === 2L)
    assert(TxLog.currentVersion(spark, wh) === 2L)
    assert(restarted.currentTable().get.count() === 3)

    // version log is linear: every version 1..current is readable
    (1L to TxLog.currentVersion(spark, wh)).foreach { v =>
      assert(TxLog.snapshot(spark, wh, Some(v)).version === v)
    }
    assert(TxLog.lastEpoch(spark, wh) === Some(2L))
  }

  test("TxLog sink + partitionCol: partitioned exactly-once — the epoch " +
    "and all touched partitions ride ONE atomic manifest, a batch " +
    "touching one partition carries the other's files by path, restart " +
    "recovers the id from the log, replays skip") {
    val src = Files.createTempDirectory("graft_src_txp").toString
    val wh = Files.createTempDirectory("graft_wh_txp").toString + "/docs"
    def mk() = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("doc_id"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "_(\\d+)\\.", 1).cast("long")
          .as("doc_id"),
        regexp_extract(col("path"), "\\.(\\w+)$", 1).as("ext"),
        length(col("content")).cast("long").as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID")),
      partitionCol = Some("ext"), incremental = true, useTxLog = true)
    writeDoc(src, "a_1.pdf", "alpha")
    writeDoc(src, "b_2.docx", "beta")
    val loader = mk()
    assert(loader.pollOnce() === Some(1L))
    assert(TxLog.commitEpoch(spark, wh, 1L) === Some(1L))
    val docxFiles = TxLog.snapshot(spark, wh).files
      .filter(_.part.contains("docx")).map(_.path).toSet
    assert(docxFiles.nonEmpty)
    // incremental batch touches ONLY the pdf partition: the docx
    // partition's files must carry into the new version by path
    Thread.sleep(1100) // mtime resolution
    writeDoc(src, "c_3.pdf", "gamma")
    assert(loader.pollOnce() === Some(2L))
    assert(docxFiles.subsetOf(
      TxLog.snapshot(spark, wh).files.map(_.path).toSet))
    assert(loader.currentTable().get.count() === 3)
    // restart: epoch recovered from the log; the fresh loader's first
    // poll reprocesses all files and merges idempotently — no dups
    val restarted = mk()
    assert(restarted.lastUploadId === 2L)
    Thread.sleep(1100)
    writeDoc(src, "d_4.docx", "delta")
    assert(restarted.pollOnce() === Some(3L))
    val t = restarted.currentTable().get
    assert(t.count() === 4)
    assert(t.select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 3L, 4L))
    assert(t.groupBy("ext", "doc_id").count()
      .filter(col("count") > 1).count() === 0)
    // replay of the committed epoch: skipped, no version bump
    val vNow = TxLog.currentVersion(spark, wh)
    assert(TxLog.mergeEpoch(spark, wh, t, "doc_id", 3L, Some("ext")) === vNow)
    // manifest-pruned partition read
    assert(TxLog.readPartitions(spark, wh, Set("pdf")).count() === 2)
    assert(TxLog.lastEpoch(spark, wh) === Some(3L))
  }

  test("TxLog sink + compaction interleave: maintenance between " +
    "micro-batches preserves rows, epoch recovery, and exactly-once " +
    "replay detection") {
    val src = Files.createTempDirectory("graft_src_txc").toString
    val wh = Files.createTempDirectory("graft_wh_txc").toString + "/docs"
    def mk() = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("doc_id"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "_(\\d+)\\.", 1).cast("long")
          .as("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID")),
      useTxLog = true)
    val loader = mk()
    (1 to 4).foreach { i =>
      writeDoc(src, s"f_$i.pdf", "x" * i)
      Thread.sleep(1100) // mtime resolution between polls
      assert(loader.pollOnce() === Some(i.toLong))
    }
    val filesBefore = TxLog.snapshot(spark, wh).files.size
    val rowsBefore = loader.currentTable().get
      .as[(Long, Long, Long)].collect().toSet
    // maintenance job between micro-batches
    val v = TxLog.compact(spark, wh, "doc_id",
      smallRows = 1000L, targetRows = 1000L)
    assert(v === 5L)
    assert(TxLog.snapshot(spark, wh).files.size < filesBefore)
    // rows byte-identical through the compaction
    assert(loader.currentTable().get
      .as[(Long, Long, Long)].collect().toSet === rowsBefore)
    // the compaction commit carries no epoch tag, and a restarted
    // loader still recovers upload id 4 from the newest TAGGED manifest
    assert(TxLog.commitEpoch(spark, wh, 5L) === None)
    val restarted = mk()
    assert(restarted.lastUploadId === 4L)
    // replay of epoch 4 after compaction: still detected, still skipped
    assert(TxLog.mergeEpoch(spark, wh,
      restarted.currentTable().get, "doc_id", 4L) === 5L)
    assert(TxLog.currentVersion(spark, wh) === 5L)
    // and the next real batch lands as version 6 / epoch 5
    Thread.sleep(1100)
    writeDoc(src, "f_9.pdf", "niner")
    assert(restarted.pollOnce() === Some(5L))
    assert(TxLog.commitEpoch(spark, wh, 6L) === Some(5L))
    assert(restarted.currentTable().get.count() === 5)
  }

  test("incremental TxLog sink keyed on ID_DOC_SOURCE keeps every " +
    "document: DOCUMENT_NUM restarts at 1 in each batch, so it is not " +
    "a key across batches") {
    val src = Files.createTempDirectory("graft_src_doc").toString
    val wh = Files.createTempDirectory("graft_wh_doc").toString + "/docs"
    val ipphist = Seq((101L, "00000001"), (102L, "00000002"))
      .toDF("PATIENT_NUM", "HOSPITAL_PATIENT_ID")
    val loader = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("ID_DOC_SOURCE"),
      process = (files, uploadId) => Documents.pipeline(
        files.select(col("path"), col("content").cast("string").as("text")),
        ipphist, uploadId),
      incremental = true, useTxLog = true)
    writeDoc(src, "00000001_501.pdf", "consultation du 29/10/2018")
    writeDoc(src, "00000002_502.pdf", "consultation du 30/10/2018")
    assert(loader.pollOnce() === Some(1L))
    Thread.sleep(1100) // mtime resolution
    writeDoc(src, "00000001_503.docx", "compte rendu du 02/11/2018")
    assert(loader.pollOnce() === Some(2L))
    val t = loader.currentTable().get
    assert(t.select("ID_DOC_SOURCE").as[String].collect().sorted.toSeq
      === Seq("501", "502", "503"))
    // the second batch numbered its one document 1 again: keyed on
    // DOCUMENT_NUM, it would have replaced document 501
    assert(t.select("DOCUMENT_NUM").as[Long].collect().sorted.toSeq
      === Seq(1L, 1L, 2L))
  }

  test("T2 unit: snapshot diff classifies added/deleted/modified") {
    val prev = Map("a.pdf" -> 1L, "b.pdf" -> 2L, "c.docx" -> 3L)
    val curr = Map("b.pdf" -> 2L, "c.docx" -> 9L, "d.pdf" -> 4L)
    val ch = Watcher.diff(prev, curr)
    assert(ch.added === Seq("d.pdf"))
    assert(ch.deleted === Seq("a.pdf"))
    assert(ch.modified === Seq("c.docx"))
  }

  test("T2 at warehouse scale: a synthetic 1M-file listing diffed via " +
    "the full-outer-join path (Watcher.diffTable) yields change sets " +
    "byte-identical to the driver-side Map path — the driver-OOM-free " +
    "form of script.py:35-57 for 10^8-file shares") {
    val n = 1000000L
    // prev: f0000000.pdf..f0999999.pdf with mtime=i
    // curr: drop i%10007==3 (deleted), bump mtime where i%9973==0
    // (modified), append 100 new paths (added)
    def pathOf(i: Long) = f"f$i%07d.pdf"
    val prevMap: Map[String, Long] =
      (0L until n).iterator.map(i => pathOf(i) -> i).toMap
    val currMap: Map[String, Long] =
      (0L until n).iterator.filter(_ % 10007 != 3)
        .map(i => pathOf(i) -> (if (i % 9973 == 0) i + 1 else i)).toMap ++
      (n until n + 100).iterator.map(i => pathOf(i) -> i).toMap
    val inMem = Watcher.diff(prevMap, currMap)
    assert(inMem.added.size === 100 && inMem.deleted.size === 100 &&
      inMem.modified.size === 101) // sanity: the synthetic knobs landed

    val prevDF = spark.range(n)
      .select(format_string("f%07d.pdf", col("id")).as("path"),
        col("id").as("mtime"))
    val currDF = spark.range(n).filter(col("id") % 10007 =!= 3)
      .select(format_string("f%07d.pdf", col("id")).as("path"),
        when(col("id") % 9973 === 0, col("id") + 1)
          .otherwise(col("id")).as("mtime"))
      .unionByName(spark.range(n, n + 100)
        .select(format_string("f%07d.pdf", col("id")).as("path"),
          col("id").as("mtime")))
    val joined = Watcher.diffTable(prevDF, currDF)
      .collect().map(r => (r.getString(0), r.getString(1)))
    def side(k: String) =
      joined.collect { case (p, c) if c == k => p }.sorted.toSeq
    assert(side("added") === inMem.added)
    assert(side("deleted") === inMem.deleted)
    assert(side("modified") === inMem.modified)
  }

  test("tableListing loader: the DataFrame-backed listing drives the " +
    "same fire/no-op/reprocess-all decisions and warehouse contents as " +
    "the Map-backed loader, with the previous listing persisted next " +
    "to the table instead of held on the driver") {
    val src = Files.createTempDirectory("graft_src_tl").toString
    val wh = Files.createTempDirectory("graft_wh_tl").toString + "/docs"
    writeDoc(src, "a_1.pdf", "alpha")
    writeDoc(src, "b_2.docx", "beta")
    val loader = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("path"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
        length(col("content")).as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID")),
      tableListing = true)

    assert(loader.pollOnce() === Some(1L)) // first-iteration force
    assert(loader.pollOnce() === None)     // unchanged -> one count, no batch
    assert(Files.isDirectory(Paths.get(wh + "_listing")),
      "previous listing should persist as a table next to the warehouse")
    writeDoc(src, "c_3.pdf", "gamma")
    assert(loader.pollOnce() === Some(2L))
    val t = loader.currentTable().get
    assert(t.count() === 3)
    // T3 reprocess-all: every row re-stamped under the firing batch's id
    assert(t.select("UPLOAD_ID").as[Long].collect().toSet === Set(2L))
    // parity with the Map-backed loader over the same source state
    val wh2 = Files.createTempDirectory("graft_wh_tl2").toString + "/docs"
    val mapLoader = mkLoader(src, wh2)
    assert(mapLoader.pollOnce() === Some(1L))
    val a = t.select("path", "n_bytes").orderBy("path")
      .collect().map(_.toSeq).toSeq
    val b = mapLoader.currentTable().get.select("path", "n_bytes")
      .orderBy("path").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("listingCutover: the loader auto-switches from the driver Map to " +
    "the table-backed listing when the source crosses the threshold " +
    "(SCALE.md §6j numbers), hands over the diffed state losslessly, " +
    "and keeps detecting changes after the switch") {
    val src = Files.createTempDirectory("graft_src_co").toString
    val wh = Files.createTempDirectory("graft_wh_co").toString + "/docs"
    writeDoc(src, "a_1.pdf", "alpha")
    writeDoc(src, "b_2.docx", "beta")
    val loader = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("path"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
        length(col("content")).as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID")),
      listingCutover = 3L)
    // below the threshold: Map mode, nothing persisted
    assert(loader.pollOnce() === Some(1L))
    assert(loader.pollOnce() === None)
    assert(!Files.isDirectory(Paths.get(wh + "_listing")),
      "below the cutover the listing must stay on the driver")
    // cross the threshold: snapshot hands over, the SAME poll both
    // switches and fires on the two new files
    writeDoc(src, "c_3.pdf", "gamma")
    writeDoc(src, "d_4.pdf", "delta")
    assert(loader.pollOnce() === Some(2L))
    assert(Files.isDirectory(Paths.get(wh + "_listing")),
      "crossing the cutover must persist the listing table")
    assert(loader.currentTable().get.count() === 4)
    // post-switch: unchanged -> no-op; a modification still fires
    assert(loader.pollOnce() === None)
    Thread.sleep(1100) // mtime granularity
    writeDoc(src, "a_1.pdf", "alpha-v2")
    assert(loader.pollOnce() === Some(3L))
    assert(loader.currentTable().get.count() === 4)
  }

  test("cutover handoff path form: the persisted Map snapshot joins " +
    "byte-identically with snapshotTable's listing — same URI form, " +
    "same mtimes, zero-row diff for unchanged files (advisor r09)") {
    val src = Files.createTempDirectory("graft_src_pf").toString
    writeDoc(src, "a_1.pdf", "alpha")
    writeDoc(src, "b_2.docx", "beta")
    // the Map snapshot keyed by local path strings, normalized exactly
    // the way the cutover write does it
    val snapNorm = Watcher.snapshot(src).toSeq.map { case (p, ms) =>
      (new org.apache.hadoop.fs.Path(Paths.get(p).toUri).toString, ms)
    }
    val persisted = snapNorm.toDF("path", "ms")
      .select(col("path"), timestamp_millis(col("ms")).as("mtime"))
    val table = Watcher.snapshotTable(spark, src)
    assert(persisted.select("path").as[String].collect().sorted.toSeq ===
      table.select("path").as[String].collect().sorted.toSeq,
      "cutover-persisted paths must match the binaryFile URI form")
    // the load-bearing claim: the first table-mode diff after an
    // unchanged cutover sees NO phantom added+deleted rows
    assert(Watcher.diffTable(persisted, table).count() === 0L)
  }

  test("TxLog sink under accidental DOUBLE DEPLOYMENT with the " +
    "ConditionalPut (object-store) commit primitive: two concurrent " +
    "watcher instances on the same source+table, each running its own " +
    "Watcher.start heartbeat — the conditional-PUT CAS elects exactly " +
    "one winner per epoch, the loser detects the committed epoch and " +
    "skips (no duplicate rows, no burned version), matching the " +
    "reference's single-writer semantics (script.py:60-117) end to end") {
    val src = Files.createTempDirectory("graft_src_dd").toString
    val wh = Files.createTempDirectory("graft_wh_dd").toString + "/docs"
    def mk() = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("doc_id"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "_(\\d+)\\.", 1).cast("long")
          .as("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID")),
      useTxLog = true)
    def await(label: String, cond: => Boolean, ms: Long = 120000): Unit = {
      // tolerate transient mid-commit reads
      def ok = scala.util.Try(cond).getOrElse(false)
      val t0 = System.currentTimeMillis()
      var good = ok
      while (!good && System.currentTimeMillis() - t0 < ms) {
        Thread.sleep(250); good = ok
      }
      assert(good, s"timeout waiting for $label")
    }
    writeDoc(src, "a_1.pdf", "alpha")
    writeDoc(src, "b_2.docx", "beta")
    val prevProvider = TxLog.logStoreProvider
    TxLog.logStoreProvider = _ => graft.engine.LogStore.ConditionalPut
    try {
      val (w1, w2) = (mk(), mk())
      val (q1, q2) = (w1.start(1), w2.start(1))
      try {
        // both watchers observe the first snapshot and race epoch 1:
        // exactly ONE manifest for version 1 exists afterwards
        await("epoch-1 on both",
          w1.lastUploadId >= 1L && w2.lastUploadId >= 1L)
        assert(TxLog.currentVersion(spark, wh) === 1L)
        assert(TxLog.commitEpoch(spark, wh, 1L) === Some(1L))
        val t1 = TxLog.read(spark, wh)
        assert(t1.count() === 2)
        assert(t1.select("doc_id").as[Long].collect().toSet
          === Set(1L, 2L))
        // exactly-once under the race: every doc_id appears ONCE and
        // carries epoch 1 — the losing watcher's batch left no rows
        assert(t1.groupBy("doc_id").count()
          .filter(col("count") > 1).count() === 0L)
        assert(t1.agg(max(col("UPLOAD_ID"))).head().getLong(0) === 1L)

        // a new file races both watchers into epoch 2: still one
        // winner, still a linear version history (1, 2 — no gaps, no
        // burned versions from the loser)
        Thread.sleep(1100) // mtime resolution
        writeDoc(src, "c_3.pdf", "gamma")
        await("epoch-2 on both",
          w1.lastUploadId >= 2L && w2.lastUploadId >= 2L)
        assert(TxLog.currentVersion(spark, wh) === 2L)
        assert(TxLog.commitEpoch(spark, wh, 2L) === Some(2L))
        val t2 = TxLog.read(spark, wh)
        assert(t2.count() === 3)
        assert(t2.groupBy("doc_id").count()
          .filter(col("count") > 1).count() === 0L)
        assert(TxLog.lastEpoch(spark, wh) === Some(2L))
      } finally { q1.stop(); q2.stop() }
    } finally TxLog.logStoreProvider = prevProvider
  }

  test("TxLog sink CHURN SOAK: 200 ScalaCheck-driven create/modify/" +
    "delete operations in randomized interleavings against one watcher " +
    "— every firing poll commits exactly one epoch, the warehouse " +
    "matches an independent model after every batch (never-delete " +
    "semantics: vanished files keep their rows), the version log stays " +
    "linear, and a final epoch replay is idempotent (judge r13 item 8)") {
    import org.scalacheck.Gen
    val src = Files.createTempDirectory("graft_src_soak").toString
    val wh = Files.createTempDirectory("graft_wh_soak").toString + "/docs"
    val loader = new Watcher.IncrementalLoader(
      spark, src, wh, keys = Seq("doc_id"),
      process = (files, uploadId) => files.select(
        regexp_extract(col("path"), "_(\\d+)\\.", 1).cast("long")
          .as("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        lit(uploadId).as("UPLOAD_ID")),
      useTxLog = true)
    // deterministic ScalaCheck drawing (no wall-clock randomness) and
    // an EXPLICIT mtime clock — change detection is mtime-based, and
    // sleeping past filesystem mtime resolution 200 times would blow
    // the suite budget
    var seed = org.scalacheck.rng.Seed(20260816L)
    def draw[A](g: Gen[A]): A = {
      val v = g.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      v
    }
    var clock = 1700000000000L
    // disk: what is on the filesystem RIGHT NOW (id -> (bytes, mtime));
    // observed: what the warehouse holds — the state of each file at
    // the last poll that saw it, NEVER deleted (faithful T6). A file
    // modified and deleted within one batch is correctly never
    // observed; a file created and deleted within one batch never gets
    // a row at all.
    val disk = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val observed = scala.collection.mutable.Map.empty[Long, Long]
    var lastPolledDisk = Map.empty[Long, Long] // id -> mtime
    def put(id: Long, len: Int): Unit = {
      val p = Paths.get(src, s"d_$id.pdf")
      Files.write(p, ("x" * len).getBytes("UTF-8"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(clock))
      disk(id) = (len.toLong, clock)
      clock += 2000
    }
    var nextId = 1L
    def create(): Unit = {
      put(nextId, draw(Gen.choose(1, 50))); nextId += 1
    }
    def modify(): Unit = if (disk.isEmpty) create() else {
      val id = draw(Gen.oneOf(disk.keys.toSeq.sorted))
      put(id, draw(Gen.choose(1, 50)))
    }
    def delete(): Unit = if (disk.size <= 1) create() else {
      val id = draw(Gen.oneOf(disk.keys.toSeq.sorted))
      Files.delete(Paths.get(src, s"d_$id.pdf")); disk -= id
    }
    def verifyFull(tag: String): Unit = {
      val got = loader.currentTable().get
        .select("doc_id", "n_bytes").as[(Long, Long)].collect().toMap
      assert(got === observed.toMap, tag)
    }
    var ops = 0
    var polls = 0L
    while (ops < 200) {
      val batch = math.min(200 - ops, draw(Gen.choose(2, 6)))
      (1 to batch).foreach { _ =>
        draw(Gen.frequency(5 -> "create", 3 -> "modify", 2 -> "delete")) match {
          case "create" => create()
          case "modify" => modify()
          case "delete" => delete()
        }
        ops += 1
      }
      val currDisk = disk.map { case (id, (_, mt)) => id -> mt }.toMap
      if (currDisk == lastPolledDisk) {
        // a create+delete interleaving can cancel out to an unchanged
        // directory snapshot — the poll must NOT fire then
        assert(loader.pollOnce() === None, "poll fired on no net change")
      } else {
        // the directory changed, so the poll MUST fire, commit exactly
        // the next epoch, and the warehouse becomes observed ++ disk
        polls += 1
        assert(loader.pollOnce() === Some(polls), s"poll $polls did not fire")
        assert(TxLog.currentVersion(spark, wh) === polls)
        assert(TxLog.commitEpoch(spark, wh, polls) === Some(polls))
        disk.foreach { case (id, (len, _)) => observed(id) = len }
        lastPolledDisk = currDisk
        if (polls % 10 == 0) verifyFull(s"after poll $polls")
      }
    }
    verifyFull("final")
    // no-change poll: nothing fires, nothing commits
    assert(loader.pollOnce() === None)
    assert(TxLog.currentVersion(spark, wh) === polls)
    // idempotent replay of the last epoch (streaming-restart shape):
    // same version, same rows
    val replay = loader.currentTable().get
    assert(TxLog.mergeEpoch(spark, wh, replay, "doc_id", polls) === polls)
    assert(TxLog.currentVersion(spark, wh) === polls)
    verifyFull("after replay")
    // version log is linear and readable at the ends and the middle
    Seq(1L, polls / 2, polls).foreach { v =>
      assert(TxLog.snapshot(spark, wh, Some(v)).version === v)
    }
  }
}
