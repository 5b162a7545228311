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
    * ids, like the reference's on-success counter `exo_2.py:282`). */
  def toDwhDocument(resolved: DataFrame, uploadId: Long): DataFrame =
    Dedup.numberRows(resolved, col("path"), "DOCUMENT_NUM").select(
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

  /** Full pipeline: scan-shaped input → DWH_DOCUMENT rows, numbered and
    * materialized (the returned frame reads a checkpoint, so consumers
    * never re-run the extraction). The checkpoints serve the numbering
    * and the one extraction per file, not the sink: [[TxLog.merge]]
    * reads its batch once whatever it is given.
    *
    * Materialization boundary: `text` is usually a UDF over the scanned
    * bytes (PDF/DOCX extraction), the costly step. The parsed batch is
    * checkpointed once ([[graft.ops.Caches.corpusScale]]: a batch grows
    * with the landed files) and every later step reads those blocks.
    * [[dropEmpty]] sits after the checkpoint on purpose: its filter on
    * `text` would otherwise be pushed below the projection that computes
    * `text`, so the extraction would run once in the Filter and again in
    * the Project, and [[Dedup.numberRows]]' range exchange (a sampling
    * job plus a shuffle-map job) would run that pass twice — four
    * extractions per file instead of one. The filename filter stays in
    * [[parseFilenames]], below the extraction: an unparseable name is
    * dropped without being extracted. The checkpoint is released as soon
    * as numberRows' own checkpoint holds the numbered batch. */
  def pipeline(docs: DataFrame, ipphist: DataFrame, uploadId: Long): DataFrame = {
    val parsed = graft.ops.Caches.corpusScale(parseFilenames(docs))
    try toDwhDocument(
      resolvePatients(extractMetadata(dropEmpty(parsed)), ipphist), uploadId)
    finally graft.ops.Caches.release(parsed)
  }
}
