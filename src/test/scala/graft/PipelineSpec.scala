package graft

import org.apache.spark.sql.functions._

import graft.engine.{Documents, Patients, TxLog}
import graft.ops.Multimodal
import graft.streaming.EventStreams

/** End-to-end pipeline shapes: patient ingest projections, document
  * metadata pipeline with broadcast resolution, multimodal mapPartitions
  * plumbing, streaming aggregation parity. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("patient pipeline: dedup keeps first hospital id (the planted-" +
    "duplicate scenario, FIXTURES.md §1.1) and projections encode flags") {
    val staged = Seq(
      (1L, "Larsen", "Debbie", "10/10/1920", "F", null: String,
        "addr", "tel", "cp", "ville", "Norway", null: String, "05866980"),
      (2L, "Muncie", "Samuel", "06/10/1934", "M", null: String,
        "addr2", "tel2", "cp", "ville", "Italy", "01/02/2000", "06604836"),
      // planted duplicate of row 1 with a DIFFERENT hospital id
      (3L, "Larsen", "Debbie", "10/10/1920", "F", null: String,
        "addr", "tel", "cp", "ville", "Norway", null: String, "00307440")
    ).toDF("__src_order", "NOM", "PRENOM", "DATE_NAISSANCE", "SEXE",
      "NOM_JEUNE_FILLE", "ADRESSE", "TEL", "CP", "VILLE", "PAYS",
      "DATE_MORT", "HOSPITAL_PATIENT_ID")

    val deduped = Patients.dedupAndNumber(staged)
    val pat = Patients.toDwhPatient(deduped, 1L).orderBy("PATIENT_NUM")
    val ipp = Patients.toDwhIpphist(deduped, 1L).orderBy("PATIENT_NUM")

    assert(pat.count() === 2) // duplicate dropped
    val rows = pat.select("PATIENT_NUM", "LASTNAME", "DEATH_CODE")
      .as[(Long, String, String)].collect().toSeq
    assert(rows === Seq((1L, "Larsen", "0"), (2L, "Muncie", "1")))
    // keep-first: the FIRST hospital id survives
    assert(ipp.select("HOSPITAL_PATIENT_ID").as[String].collect().toSeq
      === Seq("05866980", "06604836"))
    assert(ipp.select("MASTER_PATIENT_ID").as[String].collect().toSet === Set("1"))
    assert(pat.columns.length === 22)
    assert(ipp.columns.length === 5)
  }

  test("document pipeline: filename parse, empty-text skip, unknown-IPP " +
    "drop, broadcast resolution, deterministic numbering") {
    val docs = Seq(
      ("/in/00230580_321654.docx", "Né le 01/01/1940 vu le 12/05/2018 dr mozza"),
      ("/in/99999999_111.pdf", "texte orphelin"),     // IPP not in ipphist
      ("/in/15172164_897653.pdf", ""),                 // empty text -> skip
      ("/in/05866980_777.pdf", "consultation du 29/10/2018"),
      ("/in/garbage.txt", "pas un nom valide")          // filename mismatch
    ).toDF("path", "text")
    val ipphist = Seq((101L, "00230580"), (102L, "05866980"), (103L, "15172164"))
      .toDF("PATIENT_NUM", "HOSPITAL_PATIENT_ID")

    val out = Documents.pipeline(docs, ipphist, uploadId = 3L)
      .orderBy("DOCUMENT_NUM")
    val rows = out.select("DOCUMENT_NUM", "PATIENT_NUM", "DOCUMENT_TYPE",
      "DOCUMENT_DATE", "AUTHOR", "UPLOAD_ID")
      .as[(Long, Long, String, java.sql.Date, String, Long)].collect().toSeq
    assert(rows === Seq(
      (1L, 101L, "docx", java.sql.Date.valueOf("2018-05-12"), "Dr Mozza", 3L),
      (2L, 102L, "pdf", java.sql.Date.valueOf("2018-10-29"), null, 3L)))
    assert(out.columns.length === 19)
    assert(out.select("DOCUMENT_ORIGIN_CODE").as[String].collect().toSeq
      === Seq("RADIOLOGIE_SOFTWARE", "DOSSIER_PATIENT"))
  }

  test("document pipeline over a binaryFile landing dir extracts each " +
    "file once and returns the rows of the unmaterialized composition") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Files
    val dir = Files.createTempDirectory("landing")
    def signer(i: Int) = if (i % 2 == 0) "dupont" else "morel"
    // 15 parseable names: one empty text, one IPP unknown to ipphist
    val landed = (1 to 15).map { i =>
      val ipp = if (i == 7) "99999999" else f"${i % 4}%08d"
      val text =
        if (i == 4) "   " // extracts to empty text
        else f"compte rendu du $i%02d/03/2019 signé dr ${signer(i)}"
      (s"${ipp}_${1000 + i}.${if (i % 5 == 0) "docx" else "pdf"}", text)
    } :+ ("notes.pdf" -> "pas un nom valide") // unparseable: dropped
    landed.foreach { case (n, t) => Files.write(dir.resolve(n), t.getBytes(UTF_8)) }
    val ipphist = Seq((101L, "00000000"), (102L, "00000001"),
      (103L, "00000002"), (104L, "00000003"))
      .toDF("PATIENT_NUM", "HOSPITAL_PATIENT_ID")
    val calls = spark.sparkContext.longAccumulator("extract_calls")
    val extract = udf { (b: Array[Byte]) =>
      calls.add(1); new String(b, UTF_8).trim }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{pdf,docx}").load(dir.toString)
      .select(col("path"), extract(col("content")).as("text"))

    val table = Files.createTempDirectory("landing_wh").resolve("docs").toString
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobExecutions {
      out = Documents.pipeline(files, ipphist, uploadId = 5L)
      TxLog.merge(spark, table, out, "DOCUMENT_NUM")
    }
    // the parse checkpoint and the batch write, which also resolves and
    // numbers the batch: the patient map of an in-memory ipphist is built
    // on the driver without a job. The window dedup and broadcast join
    // added two jobs, the range numbering three more
    assert(jobs.size === 2, jobs)
    val got = out.collect().toSet
    assert(out.count() === 13) // 16 landed: no name, empty text, no IPP
    // one extraction per parseable file, however often the frame is read:
    // the unmaterialized composition ran the UDF in the text Filter and
    // the Project, twice over
    assert(calls.value === 15L)
    assert(TxLog.read(spark, table).select(out.columns.map(col): _*)
      .collect().toSet === got)

    // a batch above minPartitionSize takes the range numbering, which
    // materializes the numbered rows while the pipeline is built: the
    // parse checkpoint, the range sample, the range shuffle and the
    // counted checkpoint
    val minPart = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    withConf(minPart, "1") {
      var ranged: org.apache.spark.sql.DataFrame = null
      val built = jobExecutions {
        ranged = Documents.pipeline(files, ipphist, uploadId = 5L)
      }
      assert(built.size === 4, built)
      assert(!ranged.queryExecution.executedPlan.toString.contains("Coalesce"))
      assert(ranged.collect().toSet === got)
    }
    assert(calls.value === 30L)

    // the same rows as the composition over pre-extracted text
    val texts = landed.map { case (n, t) =>
      (s"file:${dir.resolve(n).toAbsolutePath}", t.trim) }.toDF("path", "text")
    val composed = Documents.toDwhDocument(Documents.resolvePatients(
      Documents.extractMetadata(Documents.dropEmpty(
        Documents.parseFilenames(texts))), ipphist), uploadId = 5L)
    assert(got === composed.collect().toSet)
    val byPath = out.select("DOCUMENT_NUM", "ID_DOC_SOURCE", "PATIENT_NUM",
      "DOCUMENT_DATE", "AUTHOR").as[(Long, String, Long, java.sql.Date, String)]
      .collect().sortBy(_._1).toSeq
    assert(byPath.map(_._1) === (1L to 13L))
    val kept = (1 to 15).filterNot(Set(4, 7))
    // path order: ipp prefix first, then the document id
    assert(byPath.map(_._2) === kept.sortBy(i => (i % 4, i)).map(i => s"${1000 + i}"))
    assert(byPath.forall { case (_, id, pnum, date, author) =>
      val i = id.toInt - 1000
      pnum == 101L + i % 4 &&
        date == java.sql.Date.valueOf(f"2019-03-$i%02d") &&
        author == s"Dr ${signer(i).capitalize}"
    }, byPath)
  }

  test("patient lookup returns the shuffle join's rows from a TxLog-backed " +
    "and an in-memory ipphist: null ids never match, a null smallest " +
    "number still lands, the smaller of two numbers wins") {
    val ipphist = Seq[(Option[Long], Option[String])](
      (Some(5L), None),                              // null id: never matches
      (Some(3L), Some("A")), (None, Some("A")),      // smallest number is null
      (Some(20L), Some("B")), (Some(10L), Some("B")), // the smaller one wins
      (Some(7L), Some("C"))
    ).toDF("PATIENT_NUM", "HOSPITAL_PATIENT_ID")
    val docs = Seq[(String, Option[String])](
      ("d1", Some("A")), ("d2", Some("B")), ("d3", Some("C")), ("d4", Some("B")),
      ("d5", Some("Z")),   // unknown id: drops
      ("d6", None)         // null id: drops
    ).toDF("path", "ipp")
    val root = java.nio.file.Files.createTempDirectory("ipphist_adverse")
      .resolve("ipphist").toString
    TxLog.append(spark, root, ipphist, "PATIENT_NUM")
    val expected = Set[(String, Option[Long])](
      ("d1", None), ("d2", Some(10L)), ("d3", Some(7L)), ("d4", Some(10L)))
    for (ipp <- Seq(ipphist, TxLog.read(spark, root))) {
      def rows(hint: Boolean) = Documents.resolvePatients(docs, ipp, hint)
        .select("path", "ipp", "PATIENT_NUM").as[(String, String, Option[Long])]
        .collect().toSeq.sortBy(_._1)
      val looked = rows(hint = true)
      assert(looked === rows(hint = false))
      assert(looked.map(r => (r._1, r._3)).toSet === expected)
      assert(Documents.resolvePatients(docs, ipp).columns.toSeq
        === docs.columns.toSeq :+ "PATIENT_NUM")
    }
  }

  test("the patient map is built once per ipphist version: an unchanged " +
    "version adds no job, a new or time-travelled version rebuilds it, " +
    "and a frame built before a rebuild still reads its own map") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Files
    val dir = Files.createTempDirectory("landing_dim")
    // ids 0-3 are known from the start, 9 only after the second export
    (0 to 4).foreach { i =>
      val ipp = if (i == 4) "00000009" else f"$i%08d"
      Files.write(dir.resolve(s"${ipp}_${2000 + i}.pdf"),
        s"consultation du 1$i/03/2019".getBytes(UTF_8))
    }
    val files = spark.read.format("binaryFile").load(dir.toString)
      .select(col("path"), col("content").cast("string").as("text"))
    val ippRoot = Files.createTempDirectory("ipphist_dim")
      .resolve("ipphist").toString
    val first = (0 to 3).map(i => (101L + i, f"$i%08d"))
      .toDF("PATIENT_NUM", "HOSPITAL_PATIENT_ID")
    TxLog.mergeEpoch(spark, ippRoot, first, "HOSPITAL_PATIENT_ID", 1L)
    val wh = Files.createTempDirectory("docs_dim")
    def resolved(df: org.apache.spark.sql.DataFrame) =
      df.select("ID_DOC_SOURCE", "PATIENT_NUM").as[(String, Long)].collect().toMap
    def landAndCount(n: Int) = {
      var out: org.apache.spark.sql.DataFrame = null
      val jobs = jobExecutions {
        out = Documents.pipeline(files, TxLog.read(spark, ippRoot), uploadId = n)
        TxLog.merge(spark, wh.resolve(s"docs_$n").toString, out, "DOCUMENT_NUM")
      }
      (out, jobs)
    }
    val known = (0 to 3).map(i => s"${2000 + i}" -> (101L + i)).toMap

    // a new table's map is built: the parse checkpoint, the one ipphist
    // scan and the write
    val (_, firstJobs) = landAndCount(1)
    assert(firstJobs.size === 3, firstJobs)
    // the same version, read again: the parse checkpoint and the write
    val (before, sameJobs) = landAndCount(2)
    assert(sameJobs.size === 2, sameJobs)
    assert(resolved(before) === known)

    // an export adds patient 9: the next batch resolves its document
    val v2 = TxLog.mergeEpoch(spark, ippRoot,
      Seq((109L, "00000009")).toDF("PATIENT_NUM", "HOSPITAL_PATIENT_ID"),
      "HOSPITAL_PATIENT_ID", 2L)
    val (after, newJobs) = landAndCount(3)
    assert(newJobs.size === 3, newJobs)
    assert(resolved(after) === known + ("2004" -> 109L))

    // a read of the old version resolves against the old rows
    val old = Documents.pipeline(files,
      TxLog.read(spark, ippRoot, version = Some(v2 - 1)), uploadId = 4L)
    assert(resolved(old) === known)
    // the frame built before both rebuilds still reads its own map
    assert(resolved(before) === known)
    assert(resolved(Documents.pipeline(files, TxLog.read(spark, ippRoot),
      uploadId = 5L)) === known + ("2004" -> 109L))
  }

  test("real video decode: AVI encode -> RIFF walk -> per-frame imageio " +
    "decode recovers dimensions, frame count and closed-form size; " +
    "frame pixels match the equivalent stills; garbage is contained") {
    import graft.ops.Multimodal
    // widths 1..5 cover every 3w mod 4 row-padding case
    val media = (1L to 5L).map(i =>
      Multimodal.MediaRow(i, Multimodal.encodeAvi(
        i.toInt, i.toInt * 2, 1 + i.toInt, seed = i)))
      .toDS()
    val got = Multimodal.extractVideoFeatures(media)
      .collect().sortBy(_.media_id)
    for (v <- got) {
      val i = v.media_id; val w = i.toInt; val h = i.toInt * 2
      val rowSize = (3 * w + 3) / 4 * 4
      assert(v.width === w && v.height === h)
      assert(v.n_frames === 1 + i) // every frame actually decoded
      assert(v.n_bytes === 224 + (1 + i) * (8 + rowSize * h))
      assert(v.feature.length === 3)
      v.feature.foreach(c => assert(c >= 0.0 && c <= 1.0))
    }
    // a single-frame video's feature == the same-seed BMP's RGB feature:
    // the AVI frame went through the SAME imageio decode as a still
    val oneFrame = Multimodal.decodeAvi(
      Multimodal.encodeAvi(7, 5, 1, seed = 42L)).get
    val still = Multimodal.decodeImage(
      Multimodal.encodeBmp(7, 5, seed = 42L)).get
    assert(oneFrame._4.toSeq === still._3.take(3).toSeq)
    // error containment: garbage bytes flag, never throw
    val bad = Multimodal.extractVideoFeatures(
      Seq(Multimodal.MediaRow(9L, Array[Byte](1, 2, 3))).toDS()).head()
    assert(bad.width === -1 && bad.n_frames === -1L)
  }

  test("MJPEG AVI ('00dc' compressed frames): ImageIO-written JPEG " +
    "chunks in a hand-built RIFF container decode frame-by-frame — " +
    "count exact, solid-color means near-exact despite JPEG loss") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.ops.Multimodal
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h)
      g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + body.length + (body.length & 1))
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
      bb.array()
    }
    def list(typ: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ children)
    val (w, h) = (20, 12)
    // avih body: 14 little-endian ints, width/height at indices 8/9
    val avih = {
      val bb = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 8).foreach(_ => bb.putInt(0))
      bb.putInt(w).putInt(h); (0 until 4).foreach(_ => bb.putInt(0))
      bb.array()
    }
    val colors = Seq(0x808080, 0xC04020, 0x2040C0)
    val movi = colors.map(c => chunk("00dc", jpeg(w, h, c)))
      .foldLeft(Array.emptyByteArray)(_ ++ _)
    val payload = list("hdrl", chunk("avih", avih)) ++ list("movi", movi)
    val avi = {
      val bb = ByteBuffer.allocate(12 + payload.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + payload.length)
        .put("AVI ".getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val (gw, gh, nFrames, feat) = Multimodal.decodeAvi(avi).get
    assert(gw === w && gh === h && nFrames === colors.size.toLong)
    // mean over frames per channel vs the encoded solid colors; JPEG is
    // lossy but solid blocks round-trip within a hair
    val expect = Array(
      colors.map(c => (c >> 16 & 0xFF) / 255.0).sum / colors.size,
      colors.map(c => (c >> 8 & 0xFF) / 255.0).sum / colors.size,
      colors.map(c => (c & 0xFF) / 255.0).sum / colors.size)
    feat.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g - e) < 0.03, s"got $g want $e") }
    // the same frames through the batch stage (the '00dc' branch is the
    // one the pipeline hits for real MJPEG captures)
    val viaStage = Multimodal.extractVideoFeatures(
      Seq(Multimodal.MediaRow(1L, avi)).toDS()).head()
    assert(viaStage.n_frames === 3L && viaStage.width === w)
  }

  test("real image decode: BMP encode -> javax.imageio decode round-trips " +
    "exact dimensions across row-padding widths; features are sane") {
    import graft.ops.Multimodal
    // widths 1..5 cover every 3w mod 4 padding case; heights vary too
    val media = (1L to 5L).map(i =>
      Multimodal.MediaRow(i, Multimodal.encodeBmp(i.toInt, i.toInt * 3, i)))
      .toDS()
    val got = Multimodal.extractImageFeatures(media)
      .collect().sortBy(_.media_id)
    got.zipWithIndex.foreach { case (f, idx) =>
      val i = idx + 1
      assert(f.width === i && f.height === i * 3, s"dims for $i")
      val rowSize = (3 * i + 3) / 4 * 4
      assert(f.n_bytes === 54L + rowSize * (i * 3), s"size for $i")
      assert(f.feature.length === 4)
      assert(f.feature.take(3).forall(v => v >= 0.0 && v <= 1.0))
      assert(f.feature(3) === f.n_bytes.toDouble)
    }
  }

  test("real image decode: PNG payloads decode too; corrupt bytes yield " +
    "(-1,-1) without failing the task") {
    import graft.ops.Multimodal
    val img = new java.awt.image.BufferedImage(17, 9,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 4, 0xFF8040)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val media = Seq(
      Multimodal.MediaRow(1L, baos.toByteArray),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3, 4)) // not an image
    ).toDS()
    val got = Multimodal.extractImageFeatures(media)
      .collect().sortBy(_.media_id)
    assert(got(0).width === 17 && got(0).height === 9)
    assert(got(1).width === -1 && got(1).height === -1 &&
      got(1).feature.isEmpty && got(1).n_bytes === 4L)
  }

  test("real audio decode: WAV encode -> AudioSystem decode round-trips " +
    "format metadata exactly; square-wave RMS equals amp; corrupt bytes " +
    "yield (-1,-1,-1) without failing the task") {
    import graft.ops.Multimodal
    // direct round-trip, odd rates and frame counts
    for ((frames, rate, amp) <- Seq((100, 8000, 700.toShort),
        (144, 44100, 1499.toShort), (2, 16000, 1.toShort))) {
      val Some((r, ch, fr, rms)) =
        Multimodal.decodeWav(Multimodal.encodeWav(frames, rate, amp))
      assert(r === rate && ch === 1 && fr === frames.toLong)
      assert(rms === amp.toDouble) // exact: even frames, ±amp square wave
    }
    assert(Multimodal.decodeWav("not audio".getBytes).isEmpty)
    // through the distributed pipeline, incl. the corrupt branch
    implicit val enc = org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    val media = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodeWav(10, 8000, 250.toShort)),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3))).toDS()
    val got = Multimodal.extractAudioFeatures(media)
      .collect().sortBy(_.media_id)
    assert(got(0).sample_rate === 8000 && got(0).n_frames === 10L &&
      got(0).rms === 250.0)
    assert(got(1).sample_rate === -1 && got(1).n_frames === -1L &&
      got(1).rms === 0.0)
  }

  test("observe: pipeline data-quality metrics ride the SAME job as the " +
    "action (no second scan), delivered via QueryExecutionListener") {
    import java.util.concurrent.ConcurrentLinkedQueue
    val seen = new ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.get("dq").foreach(seen.add)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      val df = Seq((1L, 5.0), (2L, -1.0), (3L, 7.0)).toDF("k", "v")
        .observe("dq", count(lit(1)).as("rows"),
          sum((col("v") < 0).cast("long")).as("neg_values"))
      val out = df.filter(col("v") > 0).count()
      assert(out === 2)
      // listener delivery is async — poll briefly
      val deadline = System.nanoTime() + 10_000_000_000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val m = seen.poll()
      assert(m != null, "observed metrics not delivered")
      // metrics describe the FULL observed frame, pre-filter
      assert(m.getAs[Long]("rows") === 3L)
      assert(m.getAs[Long]("neg_values") === 1L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("streaming: windowedAgg on a memory stream equals the same " +
    "transform on the batch frame") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    val data = (0 until 100).map(i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 50}%02d:00"),
        if (i % 2 == 0) "click" else "view", i.toDouble))

    val batch = EventStreams.windowedAgg(
      data.toDF("ts", "event_type", "value")).orderBy("window_start", "event_type")

    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    ms.addData(data: _*)
    val q = EventStreams.windowedAgg(ms.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("wagg")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("wagg").orderBy("window_start", "event_type")
    assert(streamed.collect().toSeq === batch.collect().toSeq)
  }

  test("streaming: klDrift (the q276 composition-drift monitor's " +
    "deployment form) scores windows against a fixed reference mix — " +
    "stream output equals the batch transform, and a skewed window " +
    "scores a strictly higher KL than a reference-shaped one") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    def t(h: Int, min: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    // hour 10 matches the 50/50 reference; hour 11 is all-clicks skew
    val data =
      (0 until 40).map(i => (t(10, i), if (i % 2 == 0) "click" else "view")) ++
      (0 until 40).map(i => (t(11, i), "click"))
    val ref = Seq("click" -> 0.5, "view" -> 0.5)

    val batch = EventStreams
      .klDrift(data.toDF("ts", "event_type"), ref)
      .orderBy("window_start")
    val rows = batch.collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Double]("kl") === 0.0) // matches reference
    assert(rows(1).getAs[Double]("kl") > 0.5)   // ln(2) ≈ 0.6931 skew

    val ms = MemoryStream[(java.sql.Timestamp, String)]
    ms.addData(data: _*)
    val q = EventStreams.klDrift(ms.toDF.toDF("ts", "event_type"), ref)
      .writeStream.format("memory").queryName("kldrift")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("kldrift").orderBy("window_start")
    assert(streamed.collect().toSeq === rows.toSeq)
  }

  test("sessionize: gap-split sessions close when the next event arrives " +
    "past the gap (flatMapGroupsWithState over a MemoryStream)") {
    import graft.streaming.Sessionize
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val ms = MemoryStream[Sessionize.Event]
    ms.addData(
      Sessionize.Event(1L, t(0), "click"),
      Sessionize.Event(1L, t(5), "view"),
      Sessionize.Event(1L, t(50), "click"), // 45-min gap -> closes session 1
      Sessionize.Event(2L, t(10), "click"))
    val q = Sessionize.sessionize(ms.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val closed = spark.table("sessions")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Int)]
      .collect().toSeq
    assert(closed === Seq((1L, t(0), t(5), 2)))
    // user 1's new session and user 2's session remain open in state
  }

  test("streaming dedup within watermark: duplicate event ids inside the " +
    "lateness budget are suppressed; state does not grow unboundedly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.dedupedStream(
        ms.toDF.toDF("event_id", "ts", "event_type"),
        keys = Seq("event_id"), watermark = "5 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      ms.addData((1L, t(0), "click"), (1L, t(1), "click-dup"),
        (2L, t(2), "view"))
      q.processAllAvailable()
      ms.addData((1L, t(3), "late-dup"), (3L, t(4), "buy"))
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .select("event_id", "event_type").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      // one row per event id; the first occurrence wins
      assert(got === Seq((1L, "click"), (2L, "view"), (3L, "buy")))
    } finally q.stop()
  }

  test("sessionize event-time flush: an idle user's trailing session is " +
    "emitted once the watermark passes last+gap (EventTimeTimeout)") {
    import graft.streaming.Sessionize
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val ms = MemoryStream[Sessionize.Event]
    val q = Sessionize.sessionizeEventTime(ms.toDS(), gapMinutes = 30,
        watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("esessions")
      .outputMode("append").start()
    try {
      ms.addData(Sessionize.Event(1L, t(0), "click"),
        Sessionize.Event(1L, t(5), "view"))
      q.processAllAvailable() // watermark after this batch: t(0)
      assert(spark.table("esessions").count() === 0) // still open

      // another user's later events push the watermark past t(5)+30min
      ms.addData(Sessionize.Event(2L, t(45), "click"))
      q.processAllAvailable() // watermark now t(40) > t(35)
      ms.addData(Sessionize.Event(2L, t(46), "view"))
      q.processAllAvailable() // timeout processed this trigger

      val closed = spark.table("esessions")
        .filter($"user_id" === 1L)
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Int)]
        .collect().toSeq
      assert(closed === Seq((1L, t(0), t(5), 2))) // flushed WITHOUT a next event
    } finally q.stop()
  }

  test("stream-stream interval join: watermarked append-mode join pairs " +
    "events within the time bound and matches the batch result") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val clicks = Seq((1L, t(0), "c0"), (1L, t(30), "c30"), (2L, t(5), "c5"))
    val buys = Seq((1L, t(7), "b7"), (1L, t(29), "b29"), (2L, t(45), "b45"))
    def joined(l: org.apache.spark.sql.DataFrame,
               r: org.apache.spark.sql.DataFrame) =
      EventStreams.intervalJoin(l, r, "l_uid", "r_uid", "l_ts", "r_ts",
          before = "0 minutes", after = "10 minutes")
        .select("l_tag", "r_tag")
    val batch = joined(
      clicks.toDF("l_uid", "l_ts", "l_tag"),
      buys.toDF("r_uid", "r_ts", "r_tag"))
      .orderBy("l_tag", "r_tag").as[(String, String)].collect().toSeq
    // c0 pairs with b7 (within +10m); c30 does NOT pair with b29
    // (before=0m) — only forward-in-time purchases match
    assert(batch === Seq(("c0", "b7")))
    val lms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val rms = MemoryStream[(Long, java.sql.Timestamp, String)]
    lms.addData(clicks: _*); rms.addData(buys: _*)
    val q = joined(lms.toDF.toDF("l_uid", "l_ts", "l_tag"),
        rms.toDF.toDF("r_uid", "r_ts", "r_tag"))
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("ssj").orderBy("l_tag", "r_tag")
      .as[(String, String)].collect().toSeq
    assert(streamed === batch)
  }

  test("streaming session_window with a dynamic per-event gap matches the " +
    "batch plan on the same data (purchase holds sessions open longer)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val rows = Seq(
      (1L, t(0), "click", 1.0),
      (1L, t(40), "purchase", 2.0), // 40 min > 30 gap -> new session
      (1L, t(90), "view", 3.0),     // 50 min later, inside purchase's 60
      (2L, t(10), "view", 4.0))
    def sessionize(df: org.apache.spark.sql.DataFrame) = {
      val gap = when(col("event_type") === "purchase", lit("60 minutes"))
        .otherwise(lit("30 minutes"))
      df.groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
        .agg(count(lit(1)).as("n"), sum("value").as("sv"))
        .select(col("user_id"), col("sw.start"), col("sw.end"),
          col("n"), col("sv"))
    }
    val batch = sessionize(rows.toDF("user_id", "ts", "event_type", "value"))
      .orderBy("user_id", "start")
    // the dynamic gap actually merged t(90) into the purchase session
    assert(batch.filter($"user_id" === 1L).count() === 2)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    ms.addData(rows: _*)
    val q = sessionize(ms.toDF.toDF("user_id", "ts", "event_type", "value")
        .withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("dsess")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("dsess").orderBy("user_id", "start").collect().toSeq
      === batch.collect().toSeq)
  }

  test("image dHash: brightness- and resize-invariant fingerprints; " +
    "banded near-dup finds true pairs and skips unrelated images") {
    import graft.ops.Multimodal
    def png(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def grey(v: Int): Int = { val c = math.max(0, math.min(255, v));
      (c << 16) | (c << 8) | c }
    val base = png(64, 64)((x, _) => grey(x * 4))          // left→right ramp
    val bright = png(64, 64)((x, _) => grey(x * 4 + 8))    // +8 brightness
    val small = png(32, 32)((x, _) => grey(x * 8))         // same ramp, half res
    val inverted = png(64, 64)((x, _) => grey(252 - x * 4))// reversed gradient
    val Some(hBase) = Multimodal.dHash64(base)
    // deterministic: same bytes, same hash
    assert(Multimodal.dHash64(base).get === hBase)
    // gradient SIGNS are what's hashed: brightness shift and downscale
    // preserve them exactly
    assert(Multimodal.dHash64(bright).get === hBase)
    assert(Multimodal.dHash64(small).get === hBase)
    // the reversed ramp flips (nearly) every comparison
    val hInv = Multimodal.dHash64(inverted).get
    assert(java.lang.Long.bitCount(hBase ^ hInv) > 32)
    // undecodable bytes: None, never a throw
    assert(Multimodal.dHash64(Array[Byte](9, 9, 9)).isEmpty)

    val media = Seq(
      Multimodal.MediaRow(1L, base), Multimodal.MediaRow(2L, bright),
      Multimodal.MediaRow(3L, small), Multimodal.MediaRow(4L, inverted),
      Multimodal.MediaRow(5L, Array[Byte](9, 9, 9))).toDS()
    val pairs = Multimodal.imageNearDup(media, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // the three ramp variants pair up; the inverted image pairs with
    // nothing; undecodable id 5 drops out silently
    assert(pairs === Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)))
  }

  test("streaming dedup admission: per-fingerprint keeper state persists " +
    "across micro-batches AND a checkpoint restart — decisions match the " +
    "q332 batch vocabulary (kept / dup_in_batch / dup_vs_history)") {
    import graft.streaming.Admission
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_admission_ck").toString
    val ms = MemoryStream[Admission.DocIn]
    // foreachBatch sink: the memory sink cannot recover from a
    // checkpoint (the restart is the point of this test)
    val sunk = scala.collection.mutable.ArrayBuffer
      .empty[Admission.Decision] // all access under sunk.synchronized
    def start() =
      Admission.admissionStream(ms.toDS())
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Admission.Decision], _: Long) =>
            sunk.synchronized { sunk ++= b.collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    val q = start()
    try {
      // batch 1: fp A twice (in-batch race), fp B once
      ms.addData(Admission.DocIn(10L, "A"), Admission.DocIn(11L, "A"),
        Admission.DocIn(12L, "B"))
      q.processAllAvailable()
      // batch 2: fp A again (history dup), fp C new
      ms.addData(Admission.DocIn(20L, "A"), Admission.DocIn(21L, "C"))
      q.processAllAvailable()
      val got = sunk.synchronized(sunk.sortBy(_.doc_id).toSeq)
      assert(got === Seq(
        Admission.Decision(10L, "A", "kept", 10L),
        Admission.Decision(11L, "A", "dup_in_batch", 10L),
        Admission.Decision(12L, "B", "kept", 12L),
        Admission.Decision(20L, "A", "dup_vs_history", 10L),
        Admission.Decision(21L, "C", "kept", 21L)))
    } finally q.stop()
    // RESTART from the checkpoint: a new query over the same source
    // must still know A/B/C were admitted
    sunk.synchronized(sunk.clear())
    val q2 = start()
    try {
      ms.addData(Admission.DocIn(30L, "B"), Admission.DocIn(31L, "D"))
      q2.processAllAvailable()
      val got2 = sunk.synchronized(sunk.sortBy(_.doc_id).toSeq)
      assert(got2 === Seq(
        Admission.Decision(30L, "B", "dup_vs_history", 12L),
        Admission.Decision(31L, "D", "kept", 31L)),
        "state must survive the restart (B admitted before it)")
    } finally q2.stop()
    // batch parity: the same operator over a batch frame reproduces
    // the q332 single-batch decisions
    val batch = Seq(Admission.DocIn(1L, "X"), Admission.DocIn(2L, "X"),
      Admission.DocIn(3L, "Y")).toDS()
    val bd = Admission.admissionStream(batch)
      .collect().sortBy(_.doc_id).toSeq
    assert(bd === Seq(
      Admission.Decision(1L, "X", "kept", 1L),
      Admission.Decision(2L, "X", "dup_in_batch", 1L),
      Admission.Decision(3L, "Y", "kept", 3L)))
    // checkpoint dir cleanup — these accumulated one 300 KB dir per
    // test run in /tmp before r14
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.toList.foreach(rmTree)
        } finally st.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rmTree(java.nio.file.Paths.get(ckpt))
  }
}
