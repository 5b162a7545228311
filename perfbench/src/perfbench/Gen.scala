package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.SplittableRandom
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table and document is a pure function
  * of its seed and size, so a seed names one exact input set. The table
  * shapes follow the TPC-H-style parquet fixtures the query library is
  * written against (same names, columns and types). */
object Gen {

  val Vocab: Array[String] = ("a the key agg row scan slow fast table value " +
    "part hash merge batch spark line sort window data column join small " +
    "customer query order stream filter group big vector").split(" ")

  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val Segments =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Panel table sizes. 500 embeddings keeps the derived LSH geometry of
    * q91 at the 4 hyperplanes its DuckDB oracle pins. */
  val PanelDocs = 500
  val PanelEmbeddings = 500
  val PanelCustomers = 6000

  private def round2(d: Double): Double = math.round(d * 100) / 100.0

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** Document texts: random sentences over a small vocabulary, with
    * about one in twelve a lightly edited copy of an earlier document so
    * the near-duplicate operators find real pairs. */
  def documentTexts(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new SplittableRandom(seed)
    val out = new Array[String](n)
    for (i <- 0 until n) {
      out(i) =
        if (i > 10 && r.nextInt(12) == 0) {
          val ws = out(r.nextInt(i)).split(" ")
          for (_ <- 0 until 1 + r.nextInt(3))
            ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.length))
          ws.mkString(" ")
        } else words(r, 8 + r.nextInt(92)).mkString(" ")
    }
    out.toIndexedSeq
  }

  /** Writes the panel tables (documents, embeddings, customer) as
    * single-file parquet under `dir`. */
  def writeTables(spark: SparkSession, dir: String, seed: Long): Unit = {
    // one part file, moved to `name.parquet` like the fixtures' files
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = Paths.get(s"$dir/_$name")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
      val file = try part.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally part.close()
      Files.move(file, Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val left = Files.list(tmp)
      try left.iterator().asScala.foreach(Files.delete)
      finally left.close()
      Files.delete(tmp)
    }
    val r = new SplittableRandom(seed)

    val texts = documentTexts(r.nextLong(), PanelDocs)
    save("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(r.nextInt(Langs.length)),
          s"src${r.nextInt(20)}", t.length.toLong)
      })

    val centroids = Array.fill(10)(Array.fill(64)(r.nextGaussian()))
    save("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
      (0 until PanelEmbeddings).map { i =>
        val label = r.nextInt(10)
        val v = centroids(label).map(c => c + 1.5 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })

    save("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until PanelCustomers).map { i =>
        Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          round2(-999.99 + r.nextDouble() * 10999.98),
          Segments(r.nextInt(Segments.length)))
      })
  }

  // ---- documents for the warehouse ingest -------------------------------
  //
  // The reference corpus (FIXTURES.md §1.2) is Chrome/Skia print-to-PDF
  // output with CID fonts and ToUnicode CMaps, plus Word files, one of
  // them with text boxes; 15 files make 1.3 MB. The writers below produce
  // that shape: their size is mostly an embedded payload (a font program
  // in a PDF, a picture in a DOCX) that the extractors read past.

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream(raw.length / 2 + 64)
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  /** Bytes that deflate to about `n`: a font program or picture stand-in
    * whose raw size is 10/7 of that, as such binaries compress. */
  private def payload(r: SplittableRandom, n: Int): Array[Byte] =
    Array.fill(n * 10 / 7)((if (r.nextInt(8) == 0) r.nextInt(256)
      else r.nextInt(24)).toByte)

  /** One-page PDF in the Skia layout: a Type0/Identity-H font whose
    * two-byte glyph ids mean nothing without its ToUnicode CMap, an
    * embedded FontFile2 of about `fontBytes` compressed bytes, the font
    * dictionaries packed into a compressed object stream, and a
    * cross-reference stream. Each line is one `Tm` + hex `Tj`. */
  def pdfBytes(lines: Seq[String], r: SplittableRandom,
               fontBytes: Int): Array[Byte] = {
    val chars = lines.flatMap(_.toSeq).distinct.sorted
    // glyph ids as a font subset keeps them: arbitrary, one per char
    val gids = r.ints(chars.size.toLong * 4, 3, 4000).toArray.distinct
      .take(chars.size)
    val gid = chars.zip(gids).toMap
    def hex4(i: Int) = f"$i%04X"

    val content = new StringBuilder("q 1 0 0 -1 0 792 cm\nBT\n/F1 11 Tf\n")
    lines.zipWithIndex.foreach { case (l, i) =>
      content.append(s"1 0 0 -1 72 ${40 + 14 * i} Tm\n<")
      l.foreach(c => content.append(hex4(gid(c))))
      content.append("> Tj\n")
    }
    content.append("ET\nQ\n")
    val cmap = new StringBuilder(
      "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def\n" +
        "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n" +
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n")
    chars.grouped(100).foreach { g =>
      cmap.append(s"${g.size} beginbfchar\n")
      g.foreach(c => cmap.append(s"<${hex4(gid(c))}> <${hex4(c.toInt)}>\n"))
      cmap.append("endbfchar\n")
    }
    cmap.append("endcmap\nCMapName currentdict /CMap defineresource pop\n" +
      "end\nend\n")
    val font = payload(r, fontBytes)

    // objects 1-6 go into the object stream 10
    val packed = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 4 0 R >> >> /Contents 9 0 R >>",
      "<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Arimo " +
        "/Encoding /Identity-H /DescendantFonts [5 0 R] /ToUnicode 8 0 R >>",
      "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /AAAAAA+Arimo " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) " +
        "/Supplement 0 >> /FontDescriptor 6 0 R /CIDToGIDMap /Identity " +
        "/DW 556 >>",
      "<< /Type /FontDescriptor /FontName /AAAAAA+Arimo /Flags 4 " +
        "/FontBBox [-544 -210 1277 1009] /ItalicAngle 0 /Ascent 905 " +
        "/Descent -212 /CapHeight 716 /StemV 80 /FontFile2 7 0 R >>")
    val objStmBody = new StringBuilder
    val offsetsIn = packed.map { o =>
      val off = objStmBody.length; objStmBody.append(o).append('\n'); off
    }
    val header = offsetsIn.zipWithIndex
      .map { case (off, i) => s"${i + 1} $off" }.mkString(" ") + "\n"

    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def stream(num: Int, dict: String, data: Array[Byte]): Unit = {
      offsets(num) = out.size()
      put(s"$num 0 obj\n<< $dict /Length ${data.length} >>\nstream\n")
      out.write(data); put("\nendstream\nendobj\n")
    }
    put("%PDF-1.5\n%\u00e2\u00e3\u00cf\u00d3\n")
    stream(7, s"/Length1 ${font.length} /Filter /FlateDecode", deflate(font))
    stream(8, "/Filter /FlateDecode",
      deflate(cmap.toString.getBytes(ISO_8859_1)))
    stream(9, "/Filter /FlateDecode",
      deflate(content.toString.getBytes(ISO_8859_1)))
    stream(10, s"/Type /ObjStm /N ${packed.size} /First ${header.length} " +
      "/Filter /FlateDecode",
      deflate((header + objStmBody).getBytes(ISO_8859_1)))
    // cross-reference stream, /W [1 4 2]: type, offset or object-stream
    // number, generation or index in the object stream
    val xref = new ByteArrayOutputStream()
    def entry(t: Int, a: Int, b: Int): Unit = {
      xref.write(t)
      for (sh <- Seq(24, 16, 8, 0)) xref.write(a >>> sh)
      xref.write(b >>> 8); xref.write(b)
    }
    entry(0, 0, 65535)
    for (i <- 1 to 6) entry(2, 10, i - 1)
    for (n <- 7 to 10) entry(1, offsets(n), 0)
    entry(1, out.size(), 0)
    val xrefAt = out.size()
    stream(11, "/Type /XRef /Size 12 /W [1 4 2] /Root 1 0 R", xref.toByteArray)
    put(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** DOCX with one `w:p` per line, optionally a header text box (written
    * twice, as Word does: a DrawingML box and its VML fallback), and a
    * picture of about `mediaBytes` compressed bytes stored after
    * `word/document.xml`. */
  def docxBytes(lines: Seq[String], textbox: Seq[String], r: SplittableRandom,
                mediaBytes: Int): Array[Byte] = {
    def x(s: String) =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def paras(ls: Seq[String]) = ls.map(l =>
      s"<w:p><w:r><w:t xml:space=\"preserve\">${x(l)}</w:t></w:r></w:p>")
      .mkString
    val box =
      if (textbox.isEmpty) ""
      else {
        val content = s"<w:txbxContent>${paras(textbox)}</w:txbxContent>"
        "<w:p><w:r><mc:AlternateContent><mc:Choice Requires=\"wps\">" +
          "<w:drawing><wp:anchor><a:graphic><a:graphicData><wps:wsp>" +
          s"<wps:txbx>$content</wps:txbx></wps:wsp></a:graphicData>" +
          "</a:graphic></wp:anchor></w:drawing></mc:Choice><mc:Fallback>" +
          s"<w:pict><v:shape><v:textbox>$content</v:textbox></v:shape>" +
          "</w:pict></mc:Fallback></mc:AlternateContent></w:r></w:p>"
      }
    val out = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(out)
    def part(name: String, body: Array[Byte]): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(body); zip.closeEntry()
    }
    part("[Content_Types].xml", (
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?><Types xmlns=\"http://schemas." +
        "openxmlformats.org/package/2006/content-types\"><Default " +
        "Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-" +
        "package.relationships+xml\"/><Default Extension=\"xml\" " +
        "ContentType=\"application/xml\"/><Default Extension=\"png\" " +
        "ContentType=\"image/png\"/><Override PartName=\"/word/" +
        "document.xml\" ContentType=\"application/vnd.openxmlformats-" +
        "officedocument.wordprocessingml.document.main+xml\"/></Types>")
      .getBytes(UTF_8))
    part("_rels/.rels", (
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?><Relationships xmlns=\"" +
        "http://schemas.openxmlformats.org/package/2006/relationships\">" +
        "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/" +
        "officeDocument/2006/relationships/officeDocument\" " +
        "Target=\"word/document.xml\"/></Relationships>").getBytes(UTF_8))
    part("word/document.xml", (
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?><w:document xmlns:w=\"" +
        "http://schemas.openxmlformats.org/wordprocessingml/2006/main\" " +
        "xmlns:mc=\"http://schemas.openxmlformats.org/markup-compatibility/" +
        "2006\" xmlns:wp=\"http://schemas.openxmlformats.org/drawingml/2006/" +
        "wordprocessingDrawing\" xmlns:a=\"http://schemas.openxmlformats.org/" +
        "drawingml/2006/main\" xmlns:wps=\"http://schemas.microsoft.com/" +
        "office/word/2010/wordprocessingShape\" xmlns:v=\"urn:schemas-" +
        "microsoft-com:vml\"><w:body>" + box + paras(lines) +
        "</w:body></w:document>").getBytes(UTF_8))
    part("word/media/image1.png", payload(r, mediaBytes))
    zip.close()
    out.toByteArray
  }
}
