package graft.engine

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SQLContext}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Document ingest pipeline — the reference's `update_document_data`
  * (`exo_2.py:232-339`) re-expressed set-at-a-time:
  * binary/text scan → filename parse → drop empty texts → regex metadata
  * (date + author, TextFunctions F1–F4) → patient resolution by ONE
  * lookup in a broadcast patient dimension, built once per ipphist
  * version, instead of the reference's per-document point lookup
  * (the N+1 pattern at `exo_2.py:255`, SURVEY.md §2 S3/J3) → deterministic
  * path-ordered numbering (replacing `os.listdir`-order, a deliberate
  * semantic fix — SURVEY.md §7.4) → MERGE into DWH_DOCUMENT.
  *
  * Scale notes: the ipphist side of the resolution is dimension-sized
  * relative to a 100 TB document corpus only in the reference scenario;
  * `resolvePatients` takes `hintBroadcast` as a parameter so a
  * planet-scale id table falls back to a shuffle join (AQE still
  * auto-broadcasts when the runtime size allows).
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
    * keeping the first row per hospital id under ascending `PATIENT_NUM`
    * (A3): the smallest number, or null if any row holds a null one. A
    * null id never matches; a document whose id is present with a null
    * number lands with a null `PATIENT_NUM`.
    *
    * `hintBroadcast = true` (the default) resolves by a lookup in a
    * keep-first `HOSPITAL_PATIENT_ID → PATIENT_NUM` map, ids compared as
    * strings. The map is built on the driver from one scan of `ipphist`
    * and held in a Spark `Broadcast`, and the lookup runs inside the job
    * that reads the returned frame, so resolving a batch runs no job of
    * its own. The map is reused while `ipphist`'s identity is unchanged:
    * the same `SparkContext`, the same canonicalized analyzed plan, which
    * must be deterministic, and every leaf either a local relation or a
    * file scan keyed by each listed file's (path, length, modification
    * time), read from the relation's file index without I/O. TxLog data
    * files are immutable and uuid-named, so a [[TxLog.read]] at an
    * unchanged version reuses the map, and a new version, or a
    * time-travel read of an old one, builds it again in one job. Any
    * other `ipphist` builds it on every call.
    *
    * Driver memory: the map holds one entry per distinct hospital id, the
    * same bytes a broadcast join's build side collects to the driver. A
    * superseded map is never destroyed, because a frame built before the
    * rebuild may still read it; the ContextCleaner frees it once no frame
    * holds it, as [[graft.ops.Caches.small]] documents.
    *
    * `hintBroadcast = false` keeps the window dedup and a shuffle join,
    * for an id table too large for the driver. */
  def resolvePatients(docs: DataFrame, ipphist: DataFrame,
                      hintBroadcast: Boolean = true): DataFrame =
    if (hintBroadcast) {
      val dim = patientDimension(ipphist)
      val ipp = GraftSqlBridge.expression(col("ipp").cast("string"))
      def lookup(found: Boolean) =
        GraftSqlBridge.column(PatientLookup(ipp, dim, found))
      docs.filter(lookup(found = true))
        .withColumn("PATIENT_NUM", lookup(found = false))
    } else {
      val firstPerIpp = Dedup.keepFirst(
        ipphist.select(col("HOSPITAL_PATIENT_ID"), col("PATIENT_NUM")),
        Seq("HOSPITAL_PATIENT_ID"), col("PATIENT_NUM"))
      docs.join(firstPerIpp,
        docs("ipp") === firstPerIpp("HOSPITAL_PATIENT_ID"), "inner")
        .drop("HOSPITAL_PATIENT_ID")
    }

  /** A keep-first patient map: hospital id → `PATIENT_NUM` as a Catalyst
    * value of `numType` (null for an id present with a null number). */
  private final case class PatientDimension(
      map: Broadcast[java.util.HashMap[UTF8String, AnyRef]], numType: DataType)

  /** The last map built from an `ipphist` with a provable identity. */
  private val lastDimension =
    new AtomicReference[(AnyRef, PatientDimension)]()

  private def patientDimension(ipphist: DataFrame): PatientDimension = {
    val key = identityOf(ipphist)
    val held = lastDimension.get
    if (key.isDefined && held != null && held._1 == key.get) held._2
    else {
      val built = buildDimension(ipphist)
      key.foreach(k => lastDimension.set((k, built)))
      built
    }
  }

  /** One scan of ipphist, folded to keep-first on the driver. */
  private def buildDimension(ipphist: DataFrame): PatientDimension = {
    val pairs = ipphist.select(
      col("HOSPITAL_PATIENT_ID").cast("string"), col("PATIENT_NUM"))
    val numType = pairs.schema(1).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(numType)
    val ord = TypeUtils.getInterpretedOrdering(numType)
    val map = new java.util.HashMap[UTF8String, AnyRef]()
    pairs.collect().foreach { r =>
      if (!r.isNullAt(0)) {
        val id = UTF8String.fromString(r.getString(0))
        val num = toCatalyst(r.get(1)).asInstanceOf[AnyRef]
        if (!map.containsKey(id)) map.put(id, num)
        else {
          val kept = map.get(id)
          if (kept != null && (num == null || ord.lt(num, kept))) map.put(id, num)
        }
      }
    }
    PatientDimension(ipphist.sparkSession.sparkContext.broadcast(map), numType)
  }

  /** A file scan's stand-in in an identity key: what it reads, and the
    * listing its file index holds, compared by value. */
  private final case class ListedFiles(
      format: FileFormat, dataSchema: StructType, partitionSchema: StructType,
      bucketSpec: Option[BucketSpec], options: Map[String, String],
      files: Seq[(String, Long, Long)]) extends BaseRelation {
    override def sqlContext: SQLContext = null
    override def schema: StructType = dataSchema
  }

  /** `df`'s identity, if it can be proven without a job: the
    * `SparkContext` and the canonicalized analyzed plan with each file
    * scan's index replaced by its listing. None for a nondeterministic
    * plan or a leaf other than a local relation or a listed file scan. */
  private def identityOf(df: DataFrame): Option[AnyRef] = {
    val plan = df.queryExecution.analyzed
    val keyed = plan.canonicalized.transform {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case r @ HadoopFsRelation(
            idx: PartitioningAwareFileIndex, _, _, _, _, _) =>
          val files = idx.allFiles()
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
            .sorted
          l.copy(relation = ListedFiles(r.fileFormat, r.dataSchema,
            r.partitionSchema, r.bucketSpec, r.options, files))
        case _ => l
      }
    }
    val provable = plan.deterministic && keyed.collectLeaves().forall {
      case _: LocalRelation => true
      case l: LogicalRelation => l.relation.isInstanceOf[ListedFiles]
      case _ => false
    }
    if (provable) Some((df.sparkSession.sparkContext, keyed)) else None
  }

  /** `child`'s entry in a broadcast patient map: with `found`, whether
    * the id is present (false for null); otherwise its `PATIENT_NUM`,
    * null when absent or present with a null number. */
  private final case class PatientLookup(
      child: Expression, dim: PatientDimension, found: Boolean)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val held = dim.map.value
    override def dataType: DataType = if (found) BooleanType else dim.numType
    override def nullable: Boolean = !found
    override def eval(input: InternalRow): Any = {
      val id = child.eval(input)
      if (found) id != null && held.containsKey(id)
      else if (id == null) null
      else held.get(id)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
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
    *    lookup and a one-task sort run inside the consumer's job.
    *    The returned frame reads `parsed`, so it is not released; the
    *    ContextCleaner frees it once the frame is garbage-collected, as
    *    [[graft.ops.Caches.small]] documents. Paths are unique in a
    *    listing, so every read numbers the batch alike, and every read
    *    resolves against the same broadcast patient map, built (or
    *    reused) while the pipeline was built ([[resolvePatients]]), so a
    *    later change to `ipphist` does not reach a frame already built;
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
