package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.engine.{Documents, Patients, TxLog, Watcher}
import graft.sources.{DocxExtract, PdfExtract, XlsxSource, XlsxWriter}

/** The warehouse ingest workload, run as a closed loop with one client.
  * Each step lands a seeded batch of `IPP_IDDOC.pdf|docx` files, calls
  * `IncrementalLoader.pollOnce` (incremental, TxLog sink) and then runs
  * reader lookups against the committed tables. Every few steps a
  * grown patient export lands and is merged through XlsxSource →
  * Patients → TxLog, and every few commits DWH_DOCUMENT is compacted.
  * A pass is a fixed number of steps into a fresh document table. */
object Ingest {

  // The shape of the traffic, from the reference's own inputs.

  /** One step lands one drop shaped like the reference corpus
    * (FIXTURES.md §1.2): 15 files, 12 PDF and 3 DOCX, one DOCX with a
    * text box, 1.3 MB in all. Only the total size is recorded, so every
    * file gets a size drawn uniformly from ±30 % of the mean. */
  val PdfsPerStep = 12
  val DocxPerStep = 3
  val MeanFileBytes: Int = 1300 * 1024 / 15
  /** Extracted text per document, ≈ 2.3 kB (BASELINE.md, regex row). */
  val MeanTextChars = 2300
  /** The reference export (FIXTURES.md §1.1): 4,828 rows, the last two
    * re-registering rows 1843 and 1987 under new hospital ids. */
  val InitialPatients = 4828
  val Reregistered: Map[Int, Int] = Map(4826 -> 1843, 4827 -> 1987)

  // The benchmark's own choices, where the reference has no figure (it
  // ships one export, one drop and no reader).

  val StepsPerPass = 10
  /** Four point lookups per step give a pass 40 read samples, enough for
    * a p75 tail with ten samples above it. */
  val ReadsPerStep = 4
  /** A re-export with 100 more patients lands at step 4 of every 8. */
  val ExportAt: Int => Boolean = _ % 8 == 4
  val PatientsPerExport = 100
  /** DWH_DOCUMENT is compacted after every 4th commit. */
  val CompactAt: Int => Boolean = _ % 4 == 0

  val ExportHeader: Seq[String] = Seq("NOM", "PRENOM", "DATE_NAISSANCE",
    "SEXE", "NOM_JEUNE_FILLE", "ADRESSE", "TEL", "CP", "VILLE", "PAYS",
    "DATE_MORT", "HOSPITAL_PATIENT_ID")

  private val LastNames = Array("martin", "bernard", "petit", "robert",
    "richard", "durand", "dubois", "moreau", "laurent", "simon", "michel",
    "lefebvre", "leroy", "roux", "david", "bertrand", "morel", "fournier",
    "girard", "bonnet", "dupont", "lambert", "fontaine", "rousseau",
    "vincent", "muller", "lefevre", "faure", "mercier")
  private val FirstNames = Array("jean", "marie", "pierre", "michel",
    "anne", "paul", "louise", "jacques", "claire", "luc", "sophie",
    "nicolas", "julie", "thomas", "camille", "hugo", "emma", "lucas")
  private def name(r: SplittableRandom) = FirstNames(r.nextInt(FirstNames.length))
  private def surname(r: SplittableRandom) = LastNames(r.nextInt(LastNames.length))
  private val Cities = Array("paris", "lyon", "lille", "nantes", "rennes")
  private val Countries = Array("France", "Norway", "Italy", "Spain",
    "Germany", "Belgium", "Portugal", "Poland")

  /** The patient export grows by appending; row i is a pure function of
    * (seed, i). A re-registered row repeats an earlier row's identity
    * under a new hospital id, so the keep-first dedup drops it. About
    * 12 % of patients have a death date (581 of 4,828 in the reference). */
  final class Export(seed: Long) {
    val rows = mutable.ArrayBuffer.empty[Seq[String]]
    /** hospital id → expected PATIENT_NUM, for rows that survive dedup. */
    val patientNum = mutable.LinkedHashMap.empty[String, Long]

    def grow(n: Int): Unit = for (_ <- 0 until n) {
      val i = rows.size
      val r = new SplittableRandom(seed * 1000003L + i)
      val hpid = f"${(i + 1) * 5124L}%08d"
      val row = Reregistered.get(i) match {
        case Some(j) => rows(j).take(11) :+ hpid
        case None => Seq(surname(r).toUpperCase, name(r).capitalize,
          f"${1 + r.nextInt(28)}%02d/${1 + r.nextInt(12)}%02d/${1930 + r.nextInt(80)}",
          if (r.nextBoolean()) "M" else "F", null,
          s"${1 + r.nextInt(200)} rue ${i % 97}",
          f"06${r.nextInt(100000000)}%08d", f"${75000 + r.nextInt(20000)}",
          Cities(r.nextInt(Cities.length)),
          Countries(r.nextInt(Countries.length)),
          if (r.nextInt(100) < 12) "01/01/2020" else null, hpid)
      }
      if (!Reregistered.contains(i)) patientNum(hpid) = i + 1L
      rows += row
    }

    def lastName(patientNum: Long): String = rows((patientNum - 1).toInt).head
    def bytes: Array[Byte] = XlsxWriter.writeBytes(ExportHeader, rows.toSeq)
  }

  /** One landed document and what the warehouse must hold for it. */
  final case class Planted(id: Long, patientNum: Long, date: LocalDate,
                           author: String)

  /** Extraction UDF over the binary scan that also sums its own time,
    * calls and input bytes into accumulators. */
  final class Extractor(spark: SparkSession) {
    val ns: LongAccumulator = spark.sparkContext.longAccumulator("extract_ns")
    val docs: LongAccumulator = spark.sparkContext.longAccumulator("extract_docs")
    val bytes: LongAccumulator = spark.sparkContext.longAccumulator("extract_bytes")
    val udfCol: UserDefinedFunction = {
      val (n, d, by) = (ns, docs, bytes)
      udf { (b: Array[Byte], p: String) =>
        val t0 = System.nanoTime()
        val s = extractText(b, p)
        n.add(System.nanoTime() - t0); d.add(1); by.add(b.length.toLong)
        s
      }
    }
  }

  def extractText(b: Array[Byte], path: String): String =
    if (path.endsWith(".docx")) DocxExtract.extractText(b)
    else if (path.endsWith(".pdf")) PdfExtract.extractText(b)
    else ""

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  /** Stages an export workbook exactly as the reference loads one:
    * XlsxSource → file-order column → keep-first dedup with pre-dedup
    * numbering → DWH_PATIENT / DWH_PATIENT_IPPHIST, each merged into its
    * TxLog table under `epoch`. Returns the xlsx read seconds. */
  def loadPatients(spark: SparkSession, xlsx: String, patRoot: String,
                   ippRoot: String, epoch: Long): Double = {
    val t0 = System.nanoTime()
    val excel = XlsxSource.read(spark, xlsx)
    val readS = (System.nanoTime() - t0) / 1e9
    val deduped = Patients.dedupAndNumber(
      excel.withColumn("__src_order", monotonically_increasing_id()))
    TxLog.mergeEpoch(spark, patRoot, Patients.toDwhPatient(deduped, epoch),
      "PATIENT_NUM", epoch)
    TxLog.mergeEpoch(spark, ippRoot, Patients.toDwhIpphist(deduped, epoch),
      "PATIENT_NUM", epoch)
    readS
  }

  final class State(val ctx: Ctx) {
    val spark: SparkSession = ctx.spark
    val base = s"${ctx.work}/ingest"
    val rng = new SplittableRandom(ctx.seed)
    val texts: IndexedSeq[String] = Gen.documentTexts(ctx.seed, 400)
    var export: Export = _
    var exports = 0
    var patRoot, ippRoot: String = _
    var nextDocId = 100000L
    val extractor = new Extractor(spark)
  }

  /** Set-up: writes the initial export and loads it into fresh patient
    * tables; returns the seconds it took. */
  def initialLoad(st: State, tag: String): Double = {
    val t0 = System.nanoTime()
    st.export = new Export(st.ctx.seed)
    st.export.grow(InitialPatients)
    st.exports = 1
    st.patRoot = s"${st.base}/$tag/DWH_PATIENT"
    st.ippRoot = s"${st.base}/$tag/DWH_PATIENT_IPPHIST"
    val xlsx = Paths.get(s"${st.base}/$tag/export_1.xlsx")
    Files.createDirectories(xlsx.getParent)
    Files.write(xlsx, st.export.bytes)
    loadPatients(st.spark, xlsx.toString, st.patRoot, st.ippRoot, 1L)
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-pass measurements. */
  final class Pass {
    val steps = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    var wall = 0.0
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val pollGroups = mutable.ArrayBuffer.empty[String]
  }

  def runPass(st: State, tag: String, steps: Int, exportAt: Int => Boolean,
              compactAt: Int => Boolean, rep: Option[Report]): Pass = {
    val ctx = st.ctx
    val spark = st.spark
    val ph = ctx.phases
    val pass = new Pass
    val src = Paths.get(s"${st.base}/$tag/landing")
    Files.createDirectories(src)
    val docRoot = s"${st.base}/$tag/DWH_DOCUMENT"
    val planted = mutable.LinkedHashMap.empty[Long, Planted]
    var processNs = 0L
    val loader = new Watcher.IncrementalLoader(spark, src.toString, docRoot,
      keys = Seq("DOCUMENT_NUM"),
      process = (files: DataFrame, uploadId: Long) => {
        val t0 = System.nanoTime()
        val out = ph.span("process") {
          val ipp = TxLog.read(spark, st.ippRoot)
          Documents.pipeline(
            files.withColumn("text",
              st.extractor.udfCol(col("content"), col("path")))
              .select("path", "text"), ipp, uploadId)
            // DOCUMENT_NUM restarts at 1 in every batch: key the
            // table on the file's own id instead
            .withColumn("DOCUMENT_NUM", col("ID_DOC_SOURCE").cast("long"))
        }
        processNs += System.nanoTime() - t0
        out
      },
      incremental = true, useTxLog = true)
    val acc0 = (st.extractor.ns.value, st.extractor.docs.value,
      st.extractor.bytes.value)
    val gc0 = Jvm.gcSeconds()
    var lastUpload = 0L
    var srcBytes = 0L
    var written = 0L

    for (step <- 1 to steps) {
      // land the batch (outside the timed region: it is the client's work)
      val newExport = exportAt(step)
      val xlsx = Paths.get(s"${st.base}/$tag/export_${st.exports + 1}.xlsx")
      if (newExport) {
        st.export.grow(PatientsPerExport)
        Files.write(xlsx, st.export.bytes)
      }
      val known = st.export.patientNum.toIndexedSeq
      val batch = (0 until PdfsPerStep + DocxPerStep).map { k =>
        val (hpid, pnum) = known(st.rng.nextInt(
          if (newExport) known.size - PatientsPerExport else known.size))
        val id = st.nextDocId
        st.nextDocId += 1
        val date = LocalDate.of(2001 + st.rng.nextInt(24),
          1 + st.rng.nextInt(12), 1 + st.rng.nextInt(28))
        val author = s"${name(st.rng)} ${surname(st.rng)}"
        val words = mutable.ArrayBuffer.empty[String]
        val chars = MeanTextChars * 7 / 10 + st.rng.nextInt(MeanTextChars * 6 / 10)
        while (words.map(_.length + 1).sum < chars)
          words ++= st.texts(st.rng.nextInt(st.texts.size)).split(" ")
        val lines = Seq("Hôpital Saint-Éloi, service de médecine interne",
          "Compte rendu du " +
          f"${date.getDayOfMonth}%02d/${date.getMonthValue}%02d/${date.getYear}") ++
          words.grouped(12).map(_.mkString(" ")) ++
          Seq(s"Signé par le dr $author")
        val size = (MeanFileBytes * (0.7 + 0.6 * st.rng.nextDouble())).toInt
        val pdf = k < PdfsPerStep
        // the payload makes up the file's size less its text and
        // structure: about 4 kB in a PDF, 3 kB in a DOCX
        val bytes =
          if (pdf) Gen.pdfBytes(lines, st.rng.split(), size - 4000)
          else {
            // the last DOCX of a drop carries a service header text box
            val box =
              if (k < PdfsPerStep + DocxPerStep - 1) Nil
              else Seq("Service de médecine interne",
                s"Pr ${surname(st.rng).capitalize}",
                s"Dr ${surname(st.rng).capitalize} - Dr ${surname(st.rng).capitalize}")
            Gen.docxBytes(lines, box, st.rng.split(), size - 3000)
          }
        Files.write(src.resolve(s"${hpid}_$id.${if (pdf) "pdf" else "docx"}"),
          bytes)
        srcBytes += bytes.length
        Planted(id, pnum, date,
          "Dr " + author.split(" ").map(_.capitalize).mkString(" "))
      }

      val before = du(Paths.get(docRoot))
      val t0 = System.nanoTime()
      val stepOk = try {
        if (newExport) {
          st.exports += 1
          val m = ph.run(s"$tag/patients/$step", "patient_merge") {
            loadPatients(spark, xlsx.toString, st.patRoot, st.ippRoot,
              st.exports)
          }
          pass.layer("sources.xlsx_read_s") += m.value
          pass.layer("engine.patient_merge_s") += m.seconds - m.value
        }
        val p0 = processNs
        val poll = ph.run(s"$tag/poll/$step", "poll")(loader.pollOnce())
        pass.pollGroups += poll.group
        pass.layer("engine.poll_s") += poll.seconds
        pass.layer("engine.poll_self_s") +=
          poll.seconds - (processNs - p0) / 1e9
        if (compactAt(step)) {
          val c = ph.run(s"$tag/compact/$step", "compact") {
            TxLog.compact(spark, docRoot, "DOCUMENT_NUM")
          }
          pass.layer("txlog.compact_s") += c.seconds
        }
        poll.value match {
          case Some(id) if id > lastUpload =>
            lastUpload = id
            batch.foreach(p => planted(p.id) = p)
            true
          case other =>
            System.err.println(s"[perfbench] $tag step $step: pollOnce " +
              s"returned $other after upload $lastUpload")
            false
        }
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $tag step $step FAILED: $e")
        false
      }
      val stepS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $tag step $step%2d: $stepS%.3f s" +
        (if (newExport) " (patient export)" else "") +
        (if (compactAt(step)) " (compaction)" else ""))
      pass.steps += stepS
      pass.wall += stepS
      written += du(Paths.get(docRoot)) - before

      // the reader: point lookups on the committed tables
      for (k <- 0 until ReadsPerStep) {
        val r0 = System.nanoTime()
        val ok = try ph.run(s"$tag/read/$step", "read") {
          if (k % 2 == 0 && planted.nonEmpty) {
            val ids = planted.keys.toIndexedSeq
            val p = planted(ids(st.rng.nextInt(ids.size)))
            val tr = System.nanoTime()
            val t = TxLog.read(spark, docRoot)
            pass.layer("txlog.read_s") += (System.nanoTime() - tr) / 1e9
            val rows = t.filter(col("DOCUMENT_NUM") === p.id)
              .select("PATIENT_NUM", "AUTHOR").collect()
            rows.length == 1 && rows(0).getLong(0) == p.patientNum &&
              rows(0).getString(1) == p.author
          } else {
            val nums = st.export.patientNum.values.toIndexedSeq
            val n = nums(st.rng.nextInt(nums.size))
            val tr = System.nanoTime()
            val t = TxLog.read(spark, st.patRoot)
            pass.layer("txlog.read_s") += (System.nanoTime() - tr) / 1e9
            val rows = t.filter(col("PATIENT_NUM") === n)
              .select("LASTNAME").collect()
            rows.length == 1 && rows(0).getString(0) == st.export.lastName(n)
          }
        }.value catch { case e: Throwable =>
          System.err.println(s"[perfbench] $tag read FAILED: $e")
          false
        }
        val rs = (System.nanoTime() - r0) / 1e9
        pass.reads += rs
        pass.wall += rs
        if (!ok) System.err.println(s"[perfbench] $tag step $step read $k wrong")
        rep.foreach(_.op(ok))
      }

      // the checker (untimed): exactly one live row per landed file with
      // the planted values, stamped with its batch's upload id
      val checked = stepOk && check(spark, docRoot, planted, batch.map(_.id),
        lastUpload, s"$tag step $step")
      rep.foreach(_.op(checked))
    }

    pass.layer("sources.extract_s") += (st.extractor.ns.value - acc0._1) / 1e9
    pass.layer("sources.extract_docs") += st.extractor.docs.value - acc0._2
    pass.layer("sources.extract_mb") +=
      (st.extractor.bytes.value - acc0._3) / 1048576.0
    pass.layer("txlog.mb_written") += written / 1048576.0
    pass.layer("txlog.write_amp") += written.toDouble / math.max(1L, srcBytes)
    pass.layer("txlog.live_files") += TxLog.snapshot(spark, docRoot).files.size
    pass.layer("jvm.gc_s") += Jvm.gcSeconds() - gc0
    pass
  }

  def check(spark: SparkSession, docRoot: String,
            planted: collection.Map[Long, Planted], batchIds: Seq[Long],
            uploadId: Long, where: String): Boolean = {
    val rows = TxLog.read(spark, docRoot)
      .select("DOCUMENT_NUM", "PATIENT_NUM", "DOCUMENT_DATE", "AUTHOR",
        "UPLOAD_ID").collect()
    val byId = rows.groupBy(_.getLong(0))
    val problems = mutable.ArrayBuffer.empty[String]
    if (rows.length != planted.size)
      problems += s"${rows.length} live rows for ${planted.size} files"
    for (p <- planted.values) byId.get(p.id) match {
      case Some(Array(r)) =>
        if (r.getLong(1) != p.patientNum) problems += s"${p.id} PATIENT_NUM"
        if (r.isNullAt(2) || r.getDate(2).toLocalDate != p.date)
          problems += s"${p.id} DOCUMENT_DATE ${r.get(2)} != ${p.date}"
        if (r.getString(3) != p.author)
          problems += s"${p.id} AUTHOR ${r.getString(3)} != ${p.author}"
      case other =>
        problems += s"${p.id} has ${other.map(_.length).getOrElse(0)} rows"
    }
    for (id <- batchIds; r <- byId.getOrElse(id, Array.empty))
      if (r.getLong(4) != uploadId) problems += s"$id UPLOAD_ID ${r.getLong(4)}"
    if (problems.nonEmpty) System.err.println(
      s"[perfbench] $where check failed: ${problems.take(5).mkString("; ")}")
    problems.isEmpty
  }

  def run(ctx: Ctx): Report = {
    val rep = new Report
    val st = new State(ctx)
    // set-up: the initial patient load three times (median; it also
    // warms the patient path), the last load's tables serving the run;
    // then two untimed warm-up steps, the second with a compaction.
    val loads = (1 to 3).map(i => initialLoad(st, s"setup$i"))
    System.err.println(s"[perfbench] setup: initial loads ${loads.mkString(" ")}")
    val w0 = System.nanoTime()
    runPass(st, "warmup", 2, _ => false, _ == 2, None)
    rep("setup_s") = Stats.median(loads) + (System.nanoTime() - w0) / 1e9

    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      passes += runPass(st, s"p${passes.size + 1}", StepsPerPass, ExportAt,
        CompactAt, Some(rep))

    val steps = passes.flatMap(_.steps).toSeq
    val reads = passes.flatMap(_.reads).toSeq
    rep("wall_s") = Stats.median(passes.map(_.wall).toSeq)
    rep("batch_p50_s") = Stats.median(steps)
    val (bt, bp) = Stats.tail(steps)
    rep("batch_tail_s") = bt
    rep("read_p50_s") = Stats.median(reads)
    val (rt, rp) = Stats.tail(reads)
    rep("read_tail_s") = rt
    System.err.println(s"[perfbench] passes=${passes.size} batches=" +
      s"${steps.size} (tail $bp) reads=${reads.size} (tail $rp)")

    if (ctx.traced) {
      for (p <- passes) {
        val polls = p.pollGroups.map(ctx.phases.stats)
        p.layer("engine.poll_jobs") += polls.map(_.jobs).sum
        p.layer("engine.poll_tasks") += polls.map(_.tasks).sum
      }
      for (k <- passes.flatMap(_.layer.keys).distinct)
        rep(k) = Stats.median(passes.map(_.layer(k)).toSeq)
    }
    rep
  }
}
