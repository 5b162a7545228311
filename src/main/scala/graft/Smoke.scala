package graft

import org.apache.spark.sql.SparkSession

/** Dev smoke: run `SparkEntry.entry` plus every declared query at a small
  * scale factor and print row counts — mirrors the driver's t1 gate.
  * Usage: sbt "runMain graft.Smoke [sfDir]" */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try println(s"[smoke] $name rows=${fn(spark, sfDir).count()}")
      catch { case e: Throwable =>
        println(s"[smoke] $name FAIL ${e.getMessage.linesIterator.next()}") }
    }
    spark.stop()
  }
}
