package graft

/** Dev smoke: run `SparkEntry.entry` plus every declared query at a small
  * scale factor and print row counts — mirrors the driver's t1 gate.
  * Usage: sbt "runMain graft.Smoke [sfDir]" */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(8)
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
