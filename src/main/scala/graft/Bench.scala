package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-run benchmark: every SparkEntry query at the SF directory in
  * SPARK_GRAFT_SF_DIR, one JSON line out.
  *
  * Methodology: each query is forced with a FULL-ROW HASH REDUCE —
  * `agg(bit_xor(xxhash64(all columns)))` — not `count()`. Under `count()`
  * Catalyst prunes every unreferenced projection and drops final sorts,
  * so map-heavy queries would be timed as bare scans; hashing every
  * output column makes the measured work equal the verified work (the
  * same rows the DuckDB oracle checks). The timed region includes query
  * CONSTRUCTION too, because some ops (LSH candidate pipelines)
  * materialize intermediate frames eagerly.
  *
  * A query that throws is reported in `failed` and its elapsed time is
  * excluded from `value` — never silently recorded as healthy.
  */
object Bench {

  /** Ambient-load drift of a sweep vs its committed baseline: the
    * MEDIAN per-query sweep/baseline time ratio over queries that ran
    * clean, have a positive baseline, and are big enough to measure
    * (both sides >= 0.2 s — sub-scheduler-tick queries ratio as pure
    * jitter). Median, not total: a few genuine regressions are
    * outliers to the median but shift a total ratio, and the guardrail
    * must not let one real 10x blowup raise every other query's bar.
    * Clamped to [1, 3] and to 1 when fewer than 5 queries overlap (too
    * small a panel to distinguish load from luck). Pure — unit-tested
    * by BenchGuardrailSpec's synthetic-load / planted-regression
    * scenarios. */
  def driftRatio(timings: Seq[(String, Double, Boolean)],
                 baseline: Map[String, Double]): Double = {
    val ratios = timings.collect {
      case (k, v, true) if baseline.get(k).exists(_ >= 0.2) && v >= 0.2 =>
        v / baseline(k)
    }.sorted
    if (ratios.size < 5) 1.0
    else math.min(3.0, math.max(1.0, ratios(ratios.size / 2)))
  }

  /** The per-query over-bar predicate at `factor` x the committed
    * baseline after drift normalization, AND >1 s absolute (scheduler
    * jitter alone is 2x on sub-second queries). */
  def isOverAt(v: Double, base: Double, drift: Double,
               factor: Double): Boolean =
    base > 0 && v > factor * drift * base && v > 1.0

  /** The per-query flag predicate: the 2x band of [[isOverAt]]. */
  def isOver(v: Double, base: Double, drift: Double): Boolean =
    isOverAt(v, base, drift, 2.0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Steady-state warmup: one tiny job + a touch of each table so the
    // first measured query doesn't absorb JVM/codegen/scan-index startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "nation", "region", "supplier",
      "part", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
      catch { case _: Throwable => }
    }
    // Optional comma-separated query filter for ISOLATED re-measurement
    // (drift triage: a query timed alone vs inside the 127-query session
    // separates plan regressions from session GC/JIT pressure).
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def timeOne(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, Double, Boolean) = {
      // Inter-query hygiene, OUTSIDE the timed region. Three parts:
      // (1) explicitly unpersist every still-persistent RDD — nothing
      // is shared across queries, and localCheckpoint blocks are
      // otherwise freed only after BOTH a GC of the RDD object and an
      // async ContextCleaner pass, so late-sweep queries (the q19
      // in-sweep drift) would run against hundreds of MB of dead
      // checkpoint blocks squatting in the storage memory pool.
      // BLOCKING on purpose: a non-blocking unpersist returns before
      // the blocks are dropped, which moved the removal work INSIDE
      // the next query's timed region (r12's in-suite-vs-isolated gap:
      // q19 5.8x slower in-sweep than re-measured in the same JVM —
      // the pressure was the PREVIOUS queries' async cleanup running
      // concurrently, not accumulated state);
      // (2) a GC cycle to enqueue dead shuffle/broadcast refs to the
      // ContextCleaner, plus a short quiesce so the cleaner drains the
      // burst of file deletions NOW instead of during the next query;
      // (3) a second GC for whatever the first pass's cleanup freed.
      // 500 ms quiesce, measured (r13): the iterative graph queries
      // (q134/q139) leave hundreds of shuffle files whose async
      // ContextCleaner deletion bled into the next ~10 queries' timed
      // regions (the q13x-q15x neighborhood read 2-3x its isolated
      // time at 150 ms); the cleaner's blocking per-shuffle RPCs need
      // the longer window to drain the burst.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(500)
      System.gc()
      val t0 = System.nanoTime()
      val ok =
        try {
          val df = fn(spark, sfDir)
          // xxhash64 over every output column reduced with bit_xor (one
          // row; order-independent, overflow-free under ANSI) — forces
          // full evaluation of the verified projection. Spark's hash
          // expressions reject MapType (undefined entry order), so map
          // columns are serialized with to_json first — still forces
          // their full evaluation.
          val cols = df.schema.fields.map { f =>
            f.dataType match {
              case _: org.apache.spark.sql.types.MapType => to_json(col(f.name))
              case _ => col(f.name)
            }
          }
          df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
            .agg(bit_xor(col("__h"))).collect()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    // SPARK_GRAFT_BENCH_RUNS=N (default 1): sweep the suite N times and
    // keep the per-query MEDIAN — the re-baselining mode. A committed
    // baseline recorded from one mid-session run skews toward whatever
    // the box was doing that minute; the median of 3 clean sweeps is
    // the number the >2x guardrail should compare against.
    // clamped: a zero/negative/garbled value degrades to 1, never to an
    // empty sweep (allRuns.head would throw after doing no work)
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).getOrElse(1))
    // UNRECORDED warmup sweep of real queries before the clock starts:
    // the spark.range warmup above primes the JVM but not the
    // parquet-scan, regex and join codepaths, so sweep positions 1-6
    // (q01/q03/q06) read 2.6-3.5× their steady state every round and
    // had to be adjudicated away by the isolated re-measure. Running
    // them once untimed moves JIT/codegen warmup off the books.
    // Warmups come from the SELECTED set (advisor r08): an isolated
    // re-measure of other queries — possibly on a partial dataset
    // missing q01's tables — warms up with its own first selection
    // instead of failing q01/q03/q06 invisibly every run. Failures are
    // REPORTED (timeOne prints FAILED; the outer guard logs too) so a
    // warmup that consistently stops doing its job is visible.
    val selNames = selected.map(_._1).toSet
    val warmups = Seq("q01_pricing_agg", "q06_regex_date_extract",
      "q03_antijoin_new_rows").filter(selNames.contains) match {
      case Seq() => selected.take(1).map(_._1)
      case ws    => ws
    }
    for (w <- warmups)
      SparkEntry.queries.get(w).foreach { fn =>
        try {
          val (_, _, ok) = timeOne(w, fn)
          if (!ok) System.err.println(s"[bench] warmup $w failed (see above)")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $w threw outside the timed " +
            s"region: ${e.getMessage}")
        }
      }
    val allRuns = (1 to runs).map { r =>
      if (runs > 1) System.err.println(s"[bench] sweep $r/$runs")
      selected.map { case (name, fn) => timeOne(name, fn) }
    }
    val timings = if (runs == 1) allRuns.head
    else selected.indices.map { i =>
      val vs = allRuns.map(_(i))
      (vs.head._1, vs.map(_._2).sorted.apply(runs / 2), vs.forall(_._3))
    }.toSeq
    val failed = timings.filterNot(_._3).map(_._1)
    val qs = timings.map { case (k, v, ok) =>
      s"\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1.0")
    }.mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = timings.filter(_._3).map(_._2).sum
    // Regression guardrail: BENCH_BASELINE.json (committed, flat
    // {name: seconds} from a known-good full run) — any query >2x its
    // recorded time AND >1s absolute is flagged. The 1s floor keeps
    // sub-second queries (where scheduler jitter alone is 2x) out of
    // the flag list; the mechanism replaces the manual "re-measure in
    // isolation" ritual with a mechanical diff.
    val baselinePath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE.json"))
    val baseline: Map[String, Double] =
      if (java.nio.file.Files.exists(baselinePath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(baselinePath), "UTF-8")
        // minimal flat-object parse: "name":number pairs
        """"([^"]+)"\s*:\s*(-?[0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    // A single-shot >2x reading on a shared box is often session noise
    // (GC/JIT pressure late in a 272-query sweep), not a plan
    // regression: every flag from the main sweep is AUTOMATICALLY
    // re-measured in the same JVM right after the sweep — the
    // mechanical form of the "re-run flagged queries in isolation"
    // triage that previously happened by hand. The flag stands only if
    // the re-measure is ALSO over the bar; both numbers are reported so
    // a drift between them reads as session pressure, not plan change.
    //
    // LOAD-ROBUST bar (judge r08): the raw 2x threshold fired on pure
    // ambient load (r08 driver sweep ran 1.36x baseline overall and
    // flagged q286/q28; judge-isolated re-runs cleared both at
    // 1.17x/1.39x). The bar is now normalized by the sweep's own drift
    // — the MEDIAN per-query sweep/baseline ratio, which a handful of
    // genuine regressions cannot move (unlike the total ratio, where
    // one 100s blowup shifts every other query's bar). Clamped to
    // [1, 3]: never tightened below the plain 2x bar on a fast box,
    // and a >3x-loaded box is a measurement to discard, not to
    // normalize into. BenchGuardrailSpec proves the contract: uniform
    // synthetic load produces zero flags, a planted 3x regression on
    // an idle box still flags.
    val drift = Bench.driftRatio(timings, baseline)
    if (drift > 1.001) System.err.println(
      f"[bench] ambient drift ${drift}%.2fx vs baseline — flag bar scaled to ${2 * drift}%.1fx")
    def overAt(f: Double)(k: String, v: Double): Boolean =
      baseline.get(k).exists(b => Bench.isOverAt(v, b, drift, f))
    // In-sweep inflation (GC/JIT pressure late in a 350+-query
    // session) hit 7.6x on individual queries in r11, making sweep
    // readings a weak round-over-round signal. Every reading past
    // 1.5x its drift-normalized baseline is AUTOMATICALLY re-measured
    // once in the same JVM after the sweep (a quieter moment), and
    // BOTH numbers are recorded — the re-measure lands in the
    // sidecar's "isolated" map next to the sweep's "queries" map, so
    // a judge (or the next round's baseline) reads reproducible
    // per-query numbers without the manual isolation ritual. The
    // >2x flag is then adjudicated on the re-measure, as before.
    val byName = selected.toMap
    val reMeasured = timings.collect {
      case (k, v, true) if overAt(1.5)(k, v) => (k, v, timeOne(k, byName(k)))
    }
    val flagged = reMeasured.flatMap { case (k, v0, (_, v1, ok1)) =>
      if (!overAt(2.0)(k, v0)) None // re-measured for the record only
      else if (ok1 && !overAt(2.0)(k, v1)) {
        System.err.println(
          f"[bench] $k un-flagged on re-measure: $v0%.2fs sweep, $v1%.2fs re-run vs baseline ${baseline(k)}%.2fs")
        None
      } else Some(
        f"$k ($v0%.2fs sweep, $v1%.2fs re-run vs baseline ${baseline(k)}%.2fs)")
    }
    val isolatedJson = reMeasured.collect {
      case (k, _, (_, v1, true)) => s"\"" + k + "\":" + f"$v1%.3f"
    }.mkString("{", ",", "}")
    if (reMeasured.nonEmpty) System.err.println(
      s"[bench] ${reMeasured.size} sweep readings >1.5x baseline " +
        s"re-measured in isolation (recorded in sidecar 'isolated')")
    // FULL per-query map goes to a sidecar FILE (driver tail-truncation
    // loses half of 150 stdout timings); the compact one-line summary is
    // the FINAL stdout line so tail capture always keeps it.
    val sidecar = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_QUERIES.json"))
    val sidecarJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${timings.size},"failed":$fl,"sf":"$sfDir","flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")},"isolated":$isolatedJson,"queries":$qs}"""
    java.nio.file.Files.write(sidecar, sidecarJson.getBytes("UTF-8"))
    println(s"""{"queries":$qs}""")
    if (flagged.nonEmpty)
      System.err.println(s"[bench] ${flagged.size} queries >2x baseline: ${flagged.mkString("; ")}")
    if (failed.nonEmpty) System.err.println(
      s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
    val summary = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${timings.size},"failed":$fl,"flaggedCount":${flagged.size},"perQueryFile":"${sidecar.toAbsolutePath}","sf":"$sfDir"}"""
    System.err.println(s"[bench] $summary")
    println(summary)
    spark.stop()
  }
}
