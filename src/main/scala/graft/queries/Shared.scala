package graft
package queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{TextFunctions => TF}

/** Input loaders and fragments shared by the query families. */
private[graft] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Normalized document text (F1) used by the text/dedup family. */
  def normText: Column = TF.normalizeText(col("text"))

  /** `events` with `ts` normalized to a session-TZ TIMESTAMP, whatever
    * the parquet encodes — generations of the testdata have shipped
    * TIMESTAMP(NANOS) (read as a ns-since-epoch long under
    * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP_NTZ
    * (timestamp[us] with no zone). The session runs UTC, so the
    * NTZ→LTZ cast is wall-clock identity, and every query (incl. the
    * `unix_micros` frame arithmetic in q45/q124) sees one type. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.schema("ts").dataType.typeName match {
      // integer DIV, not `/`: ns-since-epoch exceeds 2^53, so double
      // division is off by up to a microsecond
      case "long" => e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case "timestamp_ntz" => e.withColumn("ts", col("ts").cast("timestamp"))
      case _ => e
    }
  }

  /** The scratch location of an eager-sink builder:
    * `java.io.tmpdir/graft_<tag>_<dir, non-[A-Za-z0-9.] as _><ext>`. It is
    * deterministic per scale factor, so repeated builds (Verify + Bench
    * in one session) reuse one place instead of leaking a fresh temp dir
    * per call, and whatever the previous build left is wiped first: with
    * no `ext`, a directory tree, recreated empty; with an `ext` such as
    * `.db`, the file and its `-wal`/`-shm` sidecars. */
  def workPath(tag: String, dir: String, ext: String = ""): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_" + dir.replaceAll("[^A-Za-z0-9.]", "_") + ext)
    if (ext.nonEmpty) {
      Seq("", "-wal", "-shm")
        .foreach(e => Files.deleteIfExists(Paths.get(p.toString + e)))
      p.toString
    } else {
      if (Files.exists(p)) {
        val st = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        } finally st.close()
      }
      Files.createDirectories(p).toString
    }
  }
}
