package graft
package queries

import org.apache.spark.sql.functions._

import graft.engine.{TextFunctions => TF}
import graft.ops.{Multimodal, TextAnalysis => TA}

import Shared.t

/** Binary, audio, video and HTML payload extraction. */
object MultimodalQueries {

  val all: Seq[QueryDef] = Seq(

    // Multimodal with a REAL image decode: a deterministic BMP is built
    // per doc (dims derived from doc_id), pushed through the
    // mapPartitions decode stage, and javax.imageio reads the genuine
    // width/height back. The oracle predicts the dims and the exact BMP
    // byte size (54 + ceil(3w/4)*4*h) in closed form — a broken encoder
    // OR decoder fails the hash.
    QueryDef("q25_multimodal_binary", (s, dir) => {
      Multimodal.imagePipeline(t(s, dir, "documents"), "doc_id")
        .select(col("media_id").as("doc_id"), col("n_bytes"),
          col("width"), col("height"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
           CAST(54 + ((3*(1 + doc_id % 64) + 3) // 4 * 4)
                  * (1 + doc_id % 48) AS BIGINT) AS n_bytes,
           CAST(1 + doc_id % 64 AS INTEGER) AS width,
           CAST(1 + doc_id % 48 AS INTEGER) AS height
         FROM documents ORDER BY doc_id"""),

    // REAL video decode: deterministic uncompressed-DIB AVIs (one per
    // doc), container walked chunk-by-chunk, EVERY frame decoded through
    // the same javax.imageio path as q25's stills (wrapped as BMP). The
    // oracle predicts the closed-form container size and the header
    // metadata; n_frames gates that every frame actually decoded (the
    // count is of successful per-frame decodes, not the header field).
    // mapPartitions batch stage, no shuffle — the binaryFile→decode→
    // featurize shape at any scale.
    QueryDef("q127_multimodal_video", (s, dir) => {
      Multimodal.videoPipeline(t(s, dir, "documents"), "doc_id")
        .select(col("media_id").as("doc_id"), col("n_bytes"),
          col("width"), col("height"), col("n_frames"))
        .orderBy("doc_id")
    },
      // AVI container size is closed-form: 224 header/list bytes plus one
      // 8-byte chunk header + padded 24bpp frame per frame (see encodeAvi).
      """SELECT doc_id,
           CAST(224 + (2 + doc_id % 6)
                  * (8 + ((3*(1 + doc_id % 32) + 3) // 4 * 4)
                       * (1 + doc_id % 24)) AS BIGINT) AS n_bytes,
           CAST(1 + doc_id % 32 AS INTEGER) AS width,
           CAST(1 + doc_id % 24 AS INTEGER) AS height,
           CAST(2 + doc_id % 6 AS BIGINT) AS n_frames
         FROM documents ORDER BY doc_id"""),

    // REAL audio decode (Multimodal.audioPipeline): deterministic PCM16
    // WAVs synthesized per doc, decoded back through the JDK's
    // AudioSystem inside one mapPartitions batch. The Nyquist square
    // wave makes every output a closed form the oracle predicts: size =
    // 44 + 2·frames, RMS = amp exactly (even frame count).
    QueryDef("q61_multimodal_audio", (s, dir) => {
      Multimodal.audioPipeline(t(s, dir, "documents").select("doc_id"),
          "doc_id")
        .select(col("media_id").as("doc_id"), col("n_bytes"),
          col("sample_rate"), col("channels"), col("n_frames"),
          round(col("rms"), 4).as("rms"))
        .orderBy("doc_id")
    },
      // closed forms of the synthesized square-wave WAV (see audioPipeline)
      """SELECT doc_id,
           CAST(44 + 2 * (100 + (doc_id % 50) * 2) AS BIGINT) AS n_bytes,
           CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels,
           CAST(100 + (doc_id % 50) * 2 AS BIGINT) AS n_frames,
           round(CAST(500 + doc_id % 1000 AS DOUBLE), 4) AS rms
         FROM documents ORDER BY doc_id"""),

    // HTML → TEXT extraction (TextAnalysis.htmlToText, the r14
    // parser-grade state machine — graft.functions.HtmlTextExtract):
    // synthesize a deterministic HOSTILE web page per document —
    // title/heading, a comment CONTAINING markup, a script block with
    // '<p>' inside a JS string, an anchor whose quoted attribute value
    // contains '>', decimal + hex numeric character references, a
    // CDATA section, '&amp;lt;' (single-pass decode must leave the
    // literal '&lt;'), an unknown entity, and a bare '1 < 2' — strip
    // it back to text, and report per-doc extraction stats. The oracle
    // is CONSTRUCTIVE: DuckDB builds the EXPECTED extraction directly
    // from the same document columns (the corpus text is
    // whitespace-clean and markup-free, so the expected output is a
    // deterministic concatenation), which gates the state machine
    // against an independent derivation instead of replaying its own
    // regexes back at it.
    QueryDef("q371_html_extract", (s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style>p { color: #333; }</style>"),
        lit("<script>if (1 < 2) { var s = \"<p>not text</p>\"; }" +
          "</script></head><body><h1>Heading "), col("doc_id"),
        lit("</h1><!-- boilerplate <p>never</p> --><p class=\"main\">"),
        col("text"),
        lit("</p><a title=\"a>b\" href=\"#\">link "), col("doc_id"),
        lit("</a><p>entities: &amp; &lt;tag&gt; &quot;q&quot; " +
          "&#39;s&#39; x&nbsp;y caf&#233; na&#xEF;ve &amp;lt; " +
          "&bogus; 1 < 2</p><![CDATA[raw <b> & text]]></body></html>"))
      val extracted = TA.htmlToText(html)
      docs.select(col("doc_id"), extracted.as("__x"))
        .select(col("doc_id"),
          length(col("__x")).as("n_chars_text"),
          TF.md5Hash48(col("__x")).as("fp48"),
          size(split(col("__x"), " ")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
      """WITH expected AS (
           SELECT doc_id,
             'Doc ' || doc_id || chr(10) ||
             'Heading ' || doc_id || chr(10) ||
             text || chr(10) ||
             'link ' || doc_id || chr(10) ||
             'entities: & <tag> "q" ' || chr(39) || 's' || chr(39) ||
             ' x y caf' || chr(233) || ' na' || chr(239) ||
             've &lt; &bogus; 1 < 2' || chr(10) ||
             'raw <b> & text' AS x
           FROM documents)
         SELECT doc_id, length(x) AS n_chars_text,
           ('0x' || substring(md5('0:' || x), 1, 12))::BIGINT AS fp48,
           len(string_split(x, ' '))::BIGINT AS n_tokens
         FROM expected ORDER BY doc_id"""),
  )
}
