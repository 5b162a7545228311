package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document ingest pipeline — the reference's `update_document_data`
  * (`exo_2.py:232-339`) re-expressed set-at-a-time:
  * binary/text scan → filename parse → drop empty texts → regex metadata
  * (date + author, TextFunctions F1–F4) → patient resolution by ONE
  * broadcast join instead of the reference's per-document point lookup
  * (the N+1 pattern at `exo_2.py:255`, SURVEY.md §2 S3/J3) → deterministic
  * path-ordered numbering (replacing `os.listdir`-order, a deliberate
  * semantic fix — SURVEY.md §7.4) → MERGE into DWH_DOCUMENT.
  *
  * Scale notes: the ipphist side of the resolution join is dimension-sized
  * relative to a 100 TB document corpus only in the reference scenario;
  * `resolvePatients` takes the hint as a parameter so a planet-scale id
  * table falls back to a shuffle join (AQE still auto-broadcasts when the
  * runtime size allows).
  */
object Documents {

  /** Input contract: `path` (filename), `text` (extracted document text).
    * Output adds ipp / id_doc / doc_type parsed from the `IPP_IDDOC.ext`
    * convention (`exo_2.py:238-239`) and drops rows that do not match it
    * (the reference raises and aborts the batch; we side-line them —
    * SURVEY.md §7.4). */
  def parseFilenames(docs: DataFrame): DataFrame =
    docs
      .withColumn("ipp", TextFunctions.filenamePart(col("path"), 1))
      .withColumn("id_doc", TextFunctions.filenamePart(col("path"), 2))
      .withColumn("doc_type", TextFunctions.filenamePart(col("path"), 3))
      .filter(length(col("ipp")) > 0)

  /** P8 — error-row skip: empty extracted text is dropped with the same
    * net effect as `exo_2.py:249-251`. */
  def dropEmpty(docs: DataFrame): DataFrame =
    docs.filter(length(coalesce(col("text"), lit(""))) > 0)

  /** F1–F4 — metadata extraction over the text column. */
  def extractMetadata(docs: DataFrame): DataFrame =
    docs
      .withColumn("document_date", TextFunctions.extractDocumentDate(col("text")))
      .withColumn("author", TextFunctions.extractAuthor(col("text")))

  /** J3 — patient resolution: inner join against ipphist on the hospital
    * id; unmatched documents drop (reference behavior `exo_2.py:256-257`).
    * First-row semantics of the reference's `fetchone` are preserved by
    * deduplicating ipphist per hospital id before the join (A3). */
  def resolvePatients(docs: DataFrame, ipphist: DataFrame,
                      hintBroadcast: Boolean = true): DataFrame = {
    val firstPerIpp = Dedup.keepFirst(
      ipphist.select(col("HOSPITAL_PATIENT_ID"), col("PATIENT_NUM")),
      Seq("HOSPITAL_PATIENT_ID"), col("PATIENT_NUM"))
    val dim = if (hintBroadcast) broadcast(firstPerIpp) else firstPerIpp
    docs.join(dim, docs("ipp") === dim("HOSPITAL_PATIENT_ID"), "inner")
      .drop("HOSPITAL_PATIENT_ID")
  }

  /** P3/P6 — final 19-column DWH_DOCUMENT projection with deterministic
    * path-order numbering (only successfully parsed+resolved docs consume
    * ids, like the reference's on-success counter `exo_2.py:282`). The
    * numbering is [[Dedup.numberRows]]' general form, which materializes
    * the numbered rows in a counted checkpoint; [[pipeline]] numbers a
    * small batch in one task instead. */
  def toDwhDocument(resolved: DataFrame, uploadId: Long): DataFrame =
    toDwhDocument(resolved, uploadId, partitions = 0)

  private def toDwhDocument(resolved: DataFrame, uploadId: Long,
                            partitions: Int): DataFrame =
    Dedup.numberRows(resolved, col("path"), "DOCUMENT_NUM", partitions).select(
      col("DOCUMENT_NUM"),
      col("PATIENT_NUM"),
      lit(null).cast("string").as("ENCOUNTER_NUM"),
      lit(null).cast("string").as("TITLE"),
      when(col("doc_type") === "pdf", "DOSSIER_PATIENT")
        .otherwise("RADIOLOGIE_SOFTWARE").as("DOCUMENT_ORIGIN_CODE"),
      col("document_date").as("DOCUMENT_DATE"),
      col("id_doc").as("ID_DOC_SOURCE"),
      col("doc_type").as("DOCUMENT_TYPE"),
      col("text").as("DISPLAYED_TEXT"),
      col("author").as("AUTHOR"),
      lit(null).cast("string").as("UNIT_CODE"),
      lit(null).cast("long").as("UNIT_NUM"),
      lit(null).cast("long").as("DEPARTMENT_NUM"),
      lit(0).as("EXTRACTCONTEXT_DONE_FLAG"),
      lit(0).as("EXTRACTCONCEPT_DONE_FLAG"),
      lit(0).as("ENRGENE_DONE_FLAG"),
      lit(0).as("ENRICHTEXT_DONE_FLAG"),
      current_date().as("UPDATE_DATE"),
      lit(uploadId).as("UPLOAD_ID"))

  /** Full pipeline: scan-shaped input → DWH_DOCUMENT rows, numbered in
    * path order. Whatever reads the returned frame never re-runs the
    * extraction: it reads a checkpoint. [[TxLog.merge]] reads its batch
    * once whatever it is given.
    *
    * Materialization boundary: `text` is usually a UDF over the scanned
    * bytes (PDF/DOCX extraction), the costly step. The parsed batch and
    * its regex metadata ([[extractMetadata]]) are checkpointed once
    * ([[graft.ops.Caches.corpusScaleCounted]]: a batch grows with the
    * landed files) and every later step reads those blocks, so the
    * regexes run beside the extraction, one task per scan partition,
    * not in the one task that numbers a small batch. [[dropEmpty]] sits
    * after the checkpoint on purpose: its filter on `text` would
    * otherwise be pushed below the projection that computes `text`, so
    * the extraction would run once in the Filter and again in the
    * Project, and each read of the batch would run that pass again. The
    * filename filter stays in [[parseFilenames]], below the extraction:
    * an unparseable name is dropped without being extracted.
    *
    * The same job that fills the checkpoint measures it, and the size
    * picks one of two numberings:
    *  - a small batch, at most
    *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` bytes
    *    (1 MiB by default), is numbered in one partition
    *    ([[Dedup.numberRows]] with `partitions = 1`). AQE never coalesces
    *    below that size, so the range exchange of the general form would
    *    end in one partition anyway; here there is no range sample, no
    *    range shuffle and no numbering checkpoint, and the patient
    *    join and a one-task sort run inside the consumer's job.
    *    The returned frame reads `parsed`, so it is not released; the
    *    ContextCleaner frees it once the frame is garbage-collected, as
    *    [[graft.ops.Caches.small]] documents. Paths are unique in a
    *    listing, so every read numbers the batch alike; every read also
    *    reads `ipphist` again, so a consumer that reads the frame twice
    *    needs an `ipphist` that holds still in between (a [[TxLog.read]]
    *    frame does: it reads one version's files);
    *  - a larger batch, such as a first poll over a big share, takes the
    *    general form: range-partitioned numbering into its own counted
    *    checkpoint, after which `parsed` is released. */
  def pipeline(docs: DataFrame, ipphist: DataFrame, uploadId: Long): DataFrame = {
    val (parsed, sizes) =
      graft.ops.Caches.corpusScaleCounted(extractMetadata(parseFilenames(docs)))
    val resolved = resolvePatients(dropEmpty(parsed), ipphist)
    val oneTask = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      docs.sparkSession.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    if (sizes.map(_._2).sum <= oneTask)
      toDwhDocument(resolved, uploadId, partitions = 1)
    else
      try toDwhDocument(resolved, uploadId)
      finally graft.ops.Caches.release(parsed)
  }
}
