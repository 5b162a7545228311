package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Crossover probe for the two exact-substring-dedup forms
  * (SCALE.md §6n): the stride-1 L-gram group (q351's shape — ONE
  * shuffle whose key bytes grow linearly with L) versus the
  * prefix-doubling rank construction (q354's shape — log₂(L) rounds of
  * fixed 16-byte pair keys). Prints duplicated-start counts and wall
  * time for both forms at each requested L.
  *
  *   sbt "runMain graft.SuffixProbe <sfDir> <L1,L2,...>"
  *
  * Evidence target: at small L the gram form wins (fewer stages); as L
  * grows its shuffle bytes and per-key comparison cost grow with L
  * while the rank form adds only log₂ rounds — the deployment rule is
  * "grams for short span floors, ranks for long ones", and this probe
  * measures where the lines cross on real token data. Both forms must
  * report the SAME duplicated-start count at every L (they are
  * oracle-pinned to the same answer at L=8; the probe asserts equality
  * at every other L too).
  */
object SuffixProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ls = (if (args.length > 1) args(1) else "8,32,64")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ops.{DedupOps, TextAnalysis => TA}

    def toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), posexplode(TA.tokens(col("text"))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "w")

    // shuffle-byte accounting per timed block: stage-completion
    // metrics summed by a listener; the bus is async, so each block
    // ends with a short settle wait before the snapshot (a probe
    // tolerance — under-counting by a late stage would only shrink
    // the reported GAP, never invent one)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit =
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })

    def time(f: => Long): (Long, Double, Double) = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      Thread.sleep(500)
      val b0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // listener settle
      (n, dt, (shuffleBytes.get() - b0) / 1e6)
    }

    for (l <- ls) {
      val (gn, gt, gb) = time {
        DedupOps.duplicatedKeyRows(
          DedupOps.posGrams(toks, "doc_id", "p", "w", l), Seq("gram"))
          .count()
      }
      // the 16-byte (h1, h2) gram-hash key — q359's plan: the same
      // window count as the string form, hash keys through the shuffle
      val (hn, ht, hb) = time {
        DedupOps.duplicatedKeyRows(
          DedupOps.posGramHashes(toks, "doc_id", "p", "w", l),
          Seq("h1", "h2")).count()
      }
      val (rn, rt, rb) = time {
        DedupOps.prefixDoublingDupStarts(toks, "doc_id", "p", "w", l)
          .count()
      }
      require(gn == rn,
        s"L=$l: gram form found $gn duplicated starts, rank form $rn")
      require(gn == hn,
        s"L=$l: gram form found $gn duplicated starts, hash form $hn")
      println(f"[suffix-probe] L=$l%-3d dupStarts=$gn%-9d " +
        f"gram=$gt%.2fs/${gb}%.0fMB hash=$ht%.2fs/${hb}%.0fMB " +
        f"rank=$rt%.2fs/${rb}%.0fMB gram/hash bytes=${gb / math.max(hb, 0.1)}%.1fx")
    }
    spark.stop()
  }
}
