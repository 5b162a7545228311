package perfbench

import graft.SparkEntry

/** Maintenance tools over the fixed panel tables: `gen` writes them to a
  * directory (for `graft.Verify` and the DuckDB oracle) and prints the
  * panel query names, `hashes` prints each panel query's full-row hash
  * over them as golden.json. */
object Tools {
  def run(tool: String, dir: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.build(cores, s"$dir/_work")
    try tool match {
      case "gen" =>
        Gen.writeTables(spark, dir, Panels.DataSeed)
        println(Panels.Queries.mkString(","))
      case "hashes" =>
        val lines = Panels.Queries.map { q =>
          s"""  "$q": "${Panels.hashOf(SparkEntry.queries(q)(spark, dir))}""""
        }
        println(lines.mkString("{\n", ",\n", "\n}"))
      case other => sys.error(s"unknown tool $other")
    } finally spark.stop()
  }
}
