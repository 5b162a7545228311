package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // SPARK_GRAFT_ADVERSE=1: hostile physical-planner settings — results
    // must be IDENTICAL (correctness may not depend on exchange reuse,
    // auto-broadcast size estimates, AQE coalescing geometry, input
    // split boundaries, or the shuffle partition count). This is the
    // plan-shape-independence soak the r13 numberRows bug motivated: it
    // hid behind ReuseExchange firing and single-partition coalescing
    // at oracle scale. An odd partition count + tiny split/advisory
    // sizes maximize boundary diversity; reuse off forces every
    // exchange to stand alone.
    if (sys.env.get("SPARK_GRAFT_ADVERSE").contains("1")) Seq(
      "spark.sql.exchange.reuse" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"
    ).foreach { case (k, v) => spark.conf.set(k, v) }
    new java.io.File(outDir).mkdirs()
    // Auto-geometry guard: q23/q91/q298 derive sign-LSH planes from the
    // embeddings count (targetBucket 125 / 32); their DuckDB oracles pin
    // 4 hyperplanes. Any verify tier whose derived geometry is not 4
    // would silently hash-mismatch (advisor r08) — fail fast with the
    // cause instead.
    val autoGeomQueries = Set("q23_embedding_neardup_lsh", "q91_knn_join",
      "q298_hubness")
    if (only.forall(f => autoGeomQueries.exists(f.contains))) {
      val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
      for (tb <- Seq(32L, 125L)) {
        val derived = graft.ops.Similarity.adaptivePlanes(n, tb)
        require(derived == 4, s"verify tier $sfDir has $n embeddings → " +
          s"$derived derived planes at targetBucket=$tb, but the " +
          "q23/q91/q298 oracles pin 4 — run Verify at sf0.01 or re-pin " +
          "the oracle hyperplane range")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // a failed query leaves no result directory; its cause goes to
    // verify_failures.json, which tools/check_oracle.py prints next to
    // the MISSING line (the exit code stays 0 either way)
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      obj(failures))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    spark.stop()
  }
}
