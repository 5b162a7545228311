package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The incremental file-watching loop (reference T1–T6, `script.py:18-120`)
  * re-expressed for Spark:
  *
  *  - T1 polling → a Structured Streaming rate-source heartbeat with
  *    `Trigger.ProcessingTime`, each tick running one poll in
  *    `foreachBatch` (Spark's file source only signals NEW files, so the
  *    reference's modified/deleted detection needs this custom loop —
  *    SURVEY.md §4.2).
  *  - T2 change detection → driver-side snapshot diff `{path → mtime}`
  *    (listing a directory is metadata-sized; the DATA processing stays
  *    fully distributed).
  *  - T3 trigger semantics → ANY change (or the first poll) reprocesses
  *    ALL current files, faithful to `update_document_data`; the merge
  *    makes it idempotent by key.
  *  - T5 lineage → `uploadId` counter starts at 1, +1 per processed batch,
  *    stamped on every row; recovered from the warehouse on restart.
  *  - T6 deletions → rows are never deleted (reference behavior); pass
  *    `deleteMissing=true` for the sane MERGE-with-delete mode
  *    (SURVEY.md §7.4).
  */
object Watcher {

  case class Changes(added: Seq[String], deleted: Seq[String],
                     modified: Seq[String]) {
    def nonEmpty: Boolean =
      added.nonEmpty || deleted.nonEmpty || modified.nonEmpty
  }

  /** T2 — `{filename: mtime}` snapshot of *.pdf / *.docx in `dir`
    * (reference `script.py:18-32`). */
  def snapshot(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Map.empty
    else {
      val s = Files.list(p) // close: one leaked fd per 30 s poll adds up
      try s.iterator().asScala
        .filter(f => { val n = f.getFileName.toString
          n.endsWith(".pdf") || n.endsWith(".docx") })
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
        .toMap
      finally s.close()
    }
  }

  /** T2 — set/mtime diff of two snapshots (reference `script.py:35-57`). */
  def diff(prev: Map[String, Long], curr: Map[String, Long]): Changes =
    Changes(
      added = (curr.keySet -- prev.keySet).toSeq.sorted,
      deleted = (prev.keySet -- curr.keySet).toSeq.sorted,
      modified = curr.collect {
        case (f, m) if prev.get(f).exists(_ != m) => f }.toSeq.sorted)

  // ---- T2 at warehouse scale: the listing as a TABLE -----------------

  /** Distributed (path, mtime) listing of *.pdf / *.docx under `dir` —
    * the snapshot as a DataFrame. Spark's binaryFile source lists and
    * shards the directory on executors; only `path` and
    * `modificationTime` are selected, so file CONTENT is never read
    * (BinaryFileFormat materializes `content` lazily per selected
    * column). The faithful Map snapshot (`script.py:18-32`) is right
    * for a hospital share and a driver OOM at 10⁸ files; this is the
    * same relation as a 2-column frame the driver never holds. */
  def snapshotTable(spark: SparkSession, dir: String): DataFrame =
    if (!Files.isDirectory(Paths.get(dir)))
      spark.range(0).select(lit("").as("path"),
        current_timestamp().as("mtime"))
    else
      spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{pdf,docx}")
        .load(dir)
        .select(col("path"), col("modificationTime").as("mtime"))

  /** T2 diff as ONE full-outer join on path — `script.py:35-57`'s set
    * algebra at table scale. Both inputs are (path, mtime) frames;
    * the output is (path, change ∈ added|deleted|modified), unchanged
    * rows filtered out, so the result is CHANGE-sized however large
    * the listings are. Byte-identical change sets to [[diff]] on the
    * same listings (machine-checked on a 1M-file synthetic listing in
    * WatcherSpec). */
  def diffTable(prev: DataFrame, curr: DataFrame): DataFrame = {
    val p = prev.toDF("path", "__mp")
    val c = curr.toDF("path", "__mc")
    p.join(c, Seq("path"), "full_outer")
      .withColumn("change",
        when(col("__mp").isNull, "added")
          .when(col("__mc").isNull, "deleted")
          .when(col("__mp") =!= col("__mc"), "modified"))
      .filter(col("change").isNotNull)
      .select("path", "change")
  }

  /** One incremental warehouse table maintained by polling a source
    * directory. `process(files, uploadId)` turns the CURRENT full file
    * set into warehouse rows; the watcher merges them by `keys` into the
    * parquet table at `tablePath`.
    *
    * `process` contract: `files` is a lazy `binaryFile` scan (`path`,
    * `content`, ...), and `process` runs on the driver inside
    * [[pollOnce]], so it may run jobs of its own. The TxLog sink,
    * partitioned or not, reads the frame it returns once:
    * [[TxLog.merge]] writes the batch first and takes its key ranges
    * from the written files. The parquet sinks read it more than once
    * (the upserts join on its keys, then union its rows), so there a
    * `process` whose rows are costly to compute, such as text
    * extraction, should return them from a checkpoint. [[Documents.pipeline]]
    * does: a second read of a small batch repeats the patient join and
    * the one-task numbering sort over its checkpoint, never the
    * extraction or the regexes. */
  /** @param partitionCol when set, the warehouse table is stored
    *   partitioned by this (process-emitted) column and only
    *   batch-affected partitions are read and rewritten, the
    *   warehouse-scale sink: the parquet table merges through
    *   [[Merge.upsertPartitioned]], and a TxLog table (`useTxLog`)
    *   records the column in its manifest at the first batch.
    * @param incremental when true, only CHANGED files (added/modified;
    *   all files on the first poll) are processed per batch instead of
    *   the reference's reprocess-all T3 semantics — the natural partner
    *   of the partitioned sink: a one-file change touches one file's
    *   partition. KEY CONTRACT: `process` then sees only the batch's
    *   files, so it must emit `keys` that are stable across batches,
    *   such as the document's source id `ID_DOC_SOURCE`. A per-batch
    *   numbering is not: [[Documents.toDwhDocument]] numbers
    *   `DOCUMENT_NUM` from 1 in every batch, so keying on it would
    *   overwrite earlier batches' documents.
    * @param useTxLog when true, the warehouse table is a [[TxLog]]
    *   transactional table and each poll's batch lands via
    *   [[TxLog.mergeEpoch]] with the uploadId as the epoch — EXACTLY
    *   ONCE: the epoch is stamped into the manifest at the atomic
    *   commit point, so a crash anywhere leaves either no trace of the
    *   batch (the retrying heartbeat re-runs the same diff) or the
    *   full committed batch (a replay of the same uploadId is detected
    *   from the log and skipped). Upload-id recovery reads the LOG,
    *   not the rows, so it survives batches whose rows were later
    *   overwritten. Single numeric key (the TxLog contract). Combines
    *   with `partitionCol`, passed to [[TxLog.mergeEpoch]]: the merge
    *   then prunes files by (partition, key-range), row identity is
    *   (partition, key), and all touched partitions commit in the same
    *   atomic manifest.
    */
  final class IncrementalLoader(
      spark: SparkSession,
      sourceDir: String,
      tablePath: String,
      keys: Seq[String],
      process: (DataFrame, Long) => DataFrame,
      deleteMissing: Boolean = false,
      partitionCol: Option[String] = None,
      incremental: Boolean = false,
      useTxLog: Boolean = false,
      tableListing: Boolean = false,
      listingCutover: Long = 0L) {

    // deleteMissing compares the warehouse against the FULL current file
    // set, which both narrowed-batch modes no longer carry
    require(!(deleteMissing && (incremental || partitionCol.nonEmpty)),
      "deleteMissing requires reprocess-all semantics over the whole table")
    // the table-backed listing keeps the reference's reprocess-all T3
    // semantics: the fire decision needs ONE count off the diff join,
    // never a driver-side touched-path set
    require(!(tableListing && incremental),
      "tableListing keeps reprocess-all semantics (no driver touched set)")
    require(listingCutover == 0L || !incremental,
      "listingCutover switches to the table listing, which keeps " +
        "reprocess-all semantics")
    /** AUTO CUTOVER to the table-backed listing (SCALE.md §6j: the
      * driver Map wins on fixed overheads to ~1M files and loses 35×
      * one decade later — GC on the materialized Maps, not the set
      * algebra): once a directory listing exceeds `listingCutover`
      * paths, the current Map snapshot is persisted as the listing
      * table and every later poll takes the full-outer-join diff path.
      * One-way by design — a share that crossed the line once will
      * cross it again, and flapping between modes would re-persist the
      * listing every poll. */
    private var switchedToTable = false
    require(!(useTxLog && deleteMissing),
      "the TxLog sink is its own transactional MERGE: no deleteMissing")
    require(!useTxLog || keys.size == 1,
      "TxLog tables key on one numeric column")

    private var snap: Map[String, Long] = Map.empty
    private var firstPoll = true
    /** T5: recovered on restart — from the transaction log's epoch tags
      * (authoritative: committed atomically with the data) in TxLog
      * mode, else from the table's max UPLOAD_ID. */
    private var uploadId: Long =
      if (useTxLog) TxLog.lastEpoch(spark, tablePath).getOrElse(0L)
      else currentTable() match {
        case Some(t) if t.columns.contains("UPLOAD_ID") =>
          val m = t.agg(max(col("UPLOAD_ID"))).head()
          if (m.isNullAt(0)) 0L else m.getLong(0)
        case _ => 0L
      }

    def lastUploadId: Long = uploadId

    def currentTable(): Option[DataFrame] =
      if (useTxLog) {
        if (TxLog.currentVersion(spark, tablePath) == 0L) None
        else Some(TxLog.read(spark, tablePath))
      } else if (Files.isDirectory(Paths.get(tablePath)))
        Some(spark.read.parquet(tablePath))
      else None

    /** T1/T3 — one poll: diff the snapshot; on the first poll or any
      * change, reprocess ALL files and merge. Returns the upload id of
      * the processed batch, or None when nothing changed. */
    def pollOnce(): Option[Long] = synchronized {
      if (tableListing || switchedToTable) return pollOnceTable()
      val curr = snapshot(sourceDir)
      if (listingCutover > 0L && curr.size > listingCutover) {
        // hand the DIFFED state (snap, not curr) to the table path: it
        // re-lists distributed and diffs against exactly what the Map
        // path had already processed — no change is lost or re-fired.
        // PATH-FORM NORMALIZATION (advisor r09): the Map snapshot keys
        // local path strings (Files.list().toString) while
        // snapshotTable emits the Hadoop URI form ('file:/abs/path') —
        // persisting the raw keys would make the first table-mode diff
        // mark every file added+deleted. Convert through Hadoop's own
        // Path so both sides of the handoff join byte-identically.
        if (snap.nonEmpty) {
          import spark.implicits._
          snap.toSeq
            .map { case (p, ms) =>
              (new org.apache.hadoop.fs.Path(Paths.get(p).toUri).toString,
                ms)
            }
            .toDF("path", "ms")
            .select(col("path"), timestamp_millis(col("ms")).as("mtime"))
            .write.mode("overwrite").parquet(listingPath)
        }
        switchedToTable = true
        return pollOnceTable()
      }
      val changes = diff(snap, curr)
      val wasFirst = firstPoll
      val touched = changes.added ++ changes.modified
      // incremental mode only fires on content to process; reprocess-all
      // fires on ANY change (deletions re-stamp the survivors)
      val fire = wasFirst ||
        (if (incremental) touched.nonEmpty else changes.nonEmpty)
      if (!fire) {
        snap = curr; firstPoll = false
        None
      } else {
        // a touched file can vanish between snapshot() and the read job
        // executing: drop already-gone paths now and tolerate ones that
        // disappear mid-scan instead of failing the batch
        val present =
          if (incremental && !wasFirst)
            touched.sorted.filter(p => Files.exists(Paths.get(p)))
          else Nil
        if (incremental && !wasFirst && present.isEmpty) {
          // every touched file is already gone: the batch is a no-op, not
          // an error — load() with zero paths would throw. Advance state
          // so the vanished files aren't re-diffed forever.
          snap = curr; firstPoll = false
          return None
        }
        // snapshot/id state commits only AFTER the merge lands: a poll
        // that throws leaves everything unadvanced, so the retrying
        // heartbeat sees the same diff again instead of losing the batch
        val nextId = uploadId + 1
        val files =
          if (incremental && !wasFirst)
            spark.read.format("binaryFile")
              .option("ignoreMissingFiles", "true")
              .load(present: _*)
          else
            spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.{pdf,docx}")
              .load(sourceDir)
        val incoming = process(files, nextId)
        commitBatch(incoming, nextId)
        uploadId = nextId
        snap = curr
        firstPoll = false
        Some(nextId)
      }
    }

    /** The shared sink tail of a fired poll: merge `incoming` into the
      * warehouse under the configured mode (TxLog exactly-once /
      * partition-pruned / plain upsert). */
    private def commitBatch(incoming: DataFrame, nextId: Long): Unit =
      if (useTxLog)
        // exactly-once: epoch (=uploadId) rides in the manifest commit
        TxLog.mergeEpoch(spark, tablePath, incoming, keys.head, nextId,
          partitionCol)
      else partitionCol match {
        case Some(pc) =>
          // partition-scoped sink: only batch-affected partitions are
          // read, merged and rewritten
          Merge.upsertPartitioned(tablePath, incoming, keys, pc)
        case None =>
          val merged = currentTable() match {
            case None => incoming
            case Some(existing) =>
              val base = Merge.upsert(existing, incoming, keys)
              if (deleteMissing)
                base.join(incoming.select(keys.map(col): _*).distinct(),
                  keys, "left_semi")
              else base
          }
          overwriteTable(merged)
      }

    /** The previous poll's listing, persisted NEXT TO the warehouse —
      * the driver never holds it (tableListing mode). */
    private val listingPath = tablePath + "_listing"

    /** T1/T3 with the DataFrame-backed listing ([[snapshotTable]] /
      * [[diffTable]]): the fire decision collects exactly ONE number
      * (the diff's row count); the reference's first-iteration force
      * (T4) stays process-local, so a restarted watcher reprocesses
      * once even against an unchanged persisted listing — the same
      * behavior as the Map path's empty initial snapshot. */
    private def pollOnceTable(): Option[Long] = {
      val curr = snapshotTable(spark, sourceDir)
      val prev =
        if (Files.isDirectory(Paths.get(listingPath)))
          spark.read.parquet(listingPath)
        else curr.limit(0)
      val changed = diffTable(prev, curr).count()
      val wasFirst = firstPoll
      if (!wasFirst && changed == 0L) {
        firstPoll = false
        None
      } else {
        val nextId = uploadId + 1
        val files = spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.{pdf,docx}")
          .load(sourceDir)
        val incoming = process(files, nextId)
        commitBatch(incoming, nextId)
        // listing state commits only AFTER the merge lands (same
        // crash-retry contract as the Map path's `snap` advance)
        curr.write.mode("overwrite").parquet(listingPath)
        uploadId = nextId
        firstPoll = false
        Some(nextId)
      }
    }

    /** Replace the parquet table with two renames: write to a temp dir,
      * rename the live directory ASIDE, rename the new one into place,
      * then delete the old copy. The no-table window is two metadata
      * ops (vs the whole recursive delete if we deleted first) — the
      * closest a plain directory gets to a transactional commit;
      * Delta/Iceberg would make this a real MERGE txn, and the
      * partitioned sink ([[Merge.upsertPartitioned]]) avoids the full
      * rewrite entirely. */
    private def overwriteTable(df: DataFrame): Unit = {
      val tmp = tablePath + ".tmp"
      df.write.mode("overwrite").parquet(tmp)
      val target = Paths.get(tablePath)
      val old = Paths.get(tablePath + ".old")
      if (Files.exists(old)) deleteRecursively(old)
      val hadOld = Files.exists(target)
      if (hadOld) Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
      if (hadOld) deleteRecursively(old)
    }

    private def deleteRecursively(p: Path): Unit = {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

    /** T1 — continuous mode: a rate-source heartbeat stream whose only
      * job is to run `pollOnce` every `intervalSeconds` (the reference's
      * `time.sleep(30)` loop, `script.py:117`). With `checkpointDir` the
      * heartbeat query is checkpointed and restartable: a new process
      * builds a fresh loader (upload-id recovered from the warehouse,
      * T5) and resumes the same query from the checkpoint. */
    def start(intervalSeconds: Int = 30,
              checkpointDir: Option[String] = None): StreamingQuery = {
      val w = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream
        .trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))
        .foreachBatch { (_: DataFrame, _: Long) =>
          // T8 containment: a throw inside foreachBatch terminates the
          // whole streaming query — one failed poll (transient fs race,
          // unreadable file) must not stop the watcher; the next tick
          // retries from a fresh snapshot. pollOnce still throws for
          // direct callers (tests assert on real errors).
          try { pollOnce(); () }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[watcher] poll failed, will retry: $e")
          }
        }
      checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
    }
  }
}
