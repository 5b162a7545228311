package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built: every main and the test
  * suites share this conf, so they differ only in their core count. */
object Session {
  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which Spark 4 rejects by
      // default; read it as long (ns since epoch) and convert in queries
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
