package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the phase runner, a private
  * work directory inside the checkout, and the run's arguments. */
final case class Ctx(spark: SparkSession, phases: Phases, work: String,
                     cores: Int, seed: Long, seconds: Int, root: String,
                     golden: String) {
  def traced: Boolean = phases.tracer.nonEmpty
}

/** What a workload run produced: metric values by name, and the
  * operations attempted and failed (a failure is an error or a wrong
  * output). */
final class Report {
  val metrics = mutable.Map.empty[String, Double]
  var attempted = 0
  var failed = 0
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  def update(name: String, v: Double): Unit = metrics(name) = v
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p99.9/p99/p95/p90/p75 that leaves at least ten
    * samples above it (nearest rank), with its label; the maximum when
    * there are too few samples for any of them. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => n - math.ceil(p / 100 * n).toInt >= 10) match {
      case Some(p) => (s(math.ceil(p / 100 * n).toInt - 1), s"p$p")
      case None => (if (s.isEmpty) 0.0 else s.last, "max")
    }
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --cores C --root DIR --golden FILE --metrics NAME:UNIT,...`,
  * or `perfbench.Main --tool gen|hashes --dir DIR` to write or hash the
  * fixed panel tables. `--metrics` lists what the result reports, in
  * order (BENCHMARK.json's lists, passed on by run.py); a per-layer
  * metric the workload does not exercise reads 0. Prints notes on stderr
  * and, as the last stdout line, the result JSON. */
object Main {

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (opts.contains("tool")) return Tools.run(opts("tool"), opts("dir"))
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val root = opts("root")
    val cores = opts("cores").toInt
    val names = opts("metrics").split(",").toSeq.map { m =>
      val Array(n, unit) = m.split(":", 2)
      n -> unit
    }
    require(Seq("query_panels", "dwh_ingest").contains(workload),
      s"unknown workload $workload")

    val work = s"$root/run-${ProcessHandle.current().pid()}"
    Files.createDirectories(Paths.get(work))
    val spark = Session.build(cores, work)
    val sessionReady = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val runId = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    val tracer = if (traced) {
      val t = new Tracer(spark.sparkContext, runId)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ctx = Ctx(spark, new Phases(spark.sparkContext, tracer), work, cores,
      seed, seconds, root, opts("golden"))
    val report = workload match {
      case "query_panels" => Panels.run(ctx)
      case "dwh_ingest" => Ingest.run(ctx)
    }
    report.metrics("setup_s") = sessionReady + report.metrics("setup_s")
    report.metrics("peak_rss_mb") = Jvm.peakRssMb()
    tracer.foreach { t =>
      val dir = Paths.get(root, "traces")
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"$runId.json"), t.spansJson.getBytes("UTF-8"))
      report.metrics("trace.wall_s") = report.metrics("wall_s")
    }
    spark.stop()

    val unset = names.map(_._1).filterNot(report.metrics.contains)
    if (unset.nonEmpty)
      System.err.println(s"[perfbench] not measured by $workload, reported " +
        s"as 0: ${unset.mkString(" ")}")
    val body = names.map { case (n, unit) =>
      val v = report.metrics.getOrElse(n, 0.0)
      s""""$n": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$unit"}"""
    }.mkString(", ")
    System.err.println(f"[perfbench] $runId attempted=${report.attempted} " +
      f"failed=${report.failed} fail_ratio=" +
      f"${report.failed.toDouble / math.max(1, report.attempted)}%.4f")
    println(s"""{"correct": ${report.failed == 0}, "attempted": """ +
      s"""${report.attempted}, "failed": ${report.failed}, """ +
      s""""metrics": {$body}}""")
  }
}

object Session {
  /** The session every workload runs in: `local[cores]`, one shuffle
    * partition per core, AQE on, and all scratch space under `work`. */
  def build(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
