package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry

/** The query-panel workload: each query is built through
  * `SparkEntry.queries` and forced with the full-row hash reduce
  * `graft.Bench` uses. The tables are generated from a fixed data seed,
  * so every query has one golden hash (perfbench/golden.json, checked
  * against the DuckDB oracle when it was recorded), and the queries run
  * in a fixed order: a seed-drawn order changed single-query times by up
  * to 2x between runs (JIT profiles depend on what ran before), so the
  * run seed does not change the panel's inputs. */
object Panels {

  /** Construct-bound: driver-side checkpoint rounds dominate. */
  val Iterative: Seq[String] = Seq("q360_suffix_lcp")

  /** Execute-bound: blocked self-joins and expanding generators. */
  val Pairwise: Seq[String] = Seq("q46_fuzzy_pairs", "q359_gram_hash_dedup",
    "q91_knn_join")

  val Queries: Seq[String] = Iterative ++ Pairwise

  val DataSeed = 20261017L

  /** Timed passes run until `--seconds` have passed, and at least this
    * many, so the medians never rest on one or two samples. */
  val MinPasses = 3

  /** The full-row hash reduce of `graft.Bench`: xor of xxhash64 over
    * every output column (maps serialized to JSON first). */
  def hashFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
      .agg(bit_xor(col("__h")))
  }

  def hashOf(df: DataFrame): String = collectHash(hashFrame(df))

  private def collectHash(frame: DataFrame): String = {
    val r = frame.collect()(0)
    if (r.isNullAt(0)) "null" else r.getLong(0).toString
  }

  /** Frees what the previous query left behind, outside any timed
    * region (the same hygiene as `graft.Bench`). */
  def hygiene(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(200)
  }

  /** Runs every query of the panel once over `dir`, untimed and
    * untraced. */
  def warmUp(ctx: Ctx, dir: String): Unit =
    for (q <- Queries) {
      hygiene(ctx)
      try hashOf(SparkEntry.queries(q)(ctx.spark, dir))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $q failed: $e")
      }
    }

  final case class QueryRun(name: String, hash: String,
                            construct: Timed[DataFrame], plan: Timed[DataFrame],
                            execute: Timed[String]) {
    def total: Double = (execute.endNs - construct.startNs) / 1e9
    def read: Double = (execute.endNs - plan.startNs) / 1e9
  }

  def runQuery(ctx: Ctx, name: String, dir: String, tag: String): QueryRun = {
    val fn = SparkEntry.queries(name)
    val ph = ctx.phases
    ph.span(s"$tag/$name") {
      val c = ph.run(s"$tag/$name/construct", "construct") {
        fn(ctx.spark, dir)
      }
      val p = ph.run(s"$tag/$name/plan", "plan") {
        val frame = hashFrame(c.value)
        frame.queryExecution.executedPlan
        frame
      }
      val e = ph.run(s"$tag/$name/execute", "execute")(collectHash(p.value))
      QueryRun(name, e.value, c, p, e)
    }
  }

  def run(ctx: Ctx): Report = {
    val rep = new Report
    val golden = Golden.load(ctx.golden)
    val data = s"${ctx.work}/data"

    // set-up: the panel tables generated three times (median), then an
    // untimed pass over them so JIT, codegen and scheduler paths are warm
    val gens = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Gen.writeTables(ctx.spark, data, DataSeed)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    warmUp(ctx, data)
    val warmS = (System.nanoTime() - w0) / 1e9
    rep("setup_s") = Stats.median(gens) + warmS
    System.err.println(s"[perfbench] setup: generate " +
      gens.map(g => f"$g%.2f").mkString(" ") + f" s, warm-up $warmS%.2f s")

    val passes = mutable.ArrayBuffer.empty[Seq[QueryRun]]
    val gc = mutable.ArrayBuffer.empty[Double]
    val hashes = mutable.Map.empty[String, Set[String]]
    val t0 = System.nanoTime()
    while (passes.size < MinPasses ||
      (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val tag = s"p${passes.size + 1}"
      var gcSum = 0.0
      val runs = Queries.map { q =>
        hygiene(ctx)
        val g0 = Jvm.gcSeconds()
        val r =
          try Some(runQuery(ctx, q, data, tag))
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] $q FAILED: ${e.getMessage}")
            None
          }
        gcSum += Jvm.gcSeconds() - g0
        val hash = r.map(_.hash)
        val ok = hash.exists(h => golden.get(q).contains(h))
        hash.foreach(h => hashes(q) = hashes.getOrElse(q, Set.empty) + h)
        if (!ok) System.err.println(s"[perfbench] $q hash " +
          s"${hash.getOrElse("-")} != golden ${golden.getOrElse(q, "(none)")}")
        rep.op(ok)
        r
      }
      passes += runs.flatten
      gc += gcSum
    }
    for ((q, hs) <- hashes if hs.size > 1)
      System.err.println(s"[perfbench] UNSTABLE: $q gave ${hs.size} " +
        s"different hashes within one run: ${hs.mkString(" ")}")

    val all = passes.flatten.toSeq
    rep("wall_s") = Stats.median(passes.map(_.map(_.total).sum).toSeq)
    rep("batch_p50_s") = Stats.median(all.map(_.total))
    val (bt, bp) = Stats.tail(all.map(_.total))
    rep("batch_tail_s") = bt
    rep("read_p50_s") = Stats.median(all.map(_.read))
    val (rt, rp) = Stats.tail(all.map(_.read))
    rep("read_tail_s") = rt
    System.err.println(s"[perfbench] passes=${passes.size} " +
      s"queries=${all.size} batch_tail=$bp read_tail=$rp")
    for (r <- all) System.err.println(f"[perfbench]   ${r.name}%-26s " +
      f"construct ${r.construct.seconds}%7.3f plan ${r.plan.seconds}%6.3f " +
      f"execute ${r.execute.seconds}%7.3f")

    if (ctx.traced) layerMetrics(ctx, rep, passes.toSeq, gc.toSeq)
    rep
  }

  /** Per-layer metrics of a traced run: each a per-pass total, median
    * over passes. */
  private def layerMetrics(ctx: Ctx, rep: Report, passes: Seq[Seq[QueryRun]],
                           gc: Seq[Double]): Unit = {
    val ph = ctx.phases
    val mb = 1024.0 * 1024.0
    val perPass = passes.map { runs =>
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for (r <- runs) {
        val c = ph.stats(r.construct.group)
        val e = ph.stats(r.execute.group)
        m("construct.s") += r.construct.seconds
        m("construct.jobs") += c.jobs
        m("construct.stages") += c.stages
        m("construct.tasks") += c.tasks
        m("construct.exec_run_s") += c.execRunMs / 1000.0
        m("construct.idle_s") +=
          c.idleMs(r.construct.startMs, r.construct.endMs) / 1000.0
        m("plan.s") += r.plan.seconds
        m("execute.s") += r.execute.seconds
        m("execute.jobs") += e.jobs
        m("execute.tasks") += e.tasks
        m("execute.max_tasks_per_stage") =
          math.max(m("execute.max_tasks_per_stage"), e.maxTasksPerStage)
        m("execute.exec_run_s") += e.execRunMs / 1000.0
        m("execute.core_s") += r.execute.seconds * ctx.cores
        m("execute.narrow_stage_s") += e.narrowStageMs(ctx.cores) / 1000.0
        m("execute.shuffle_read_mb") += e.shuffleReadBytes / mb
        m("execute.shuffle_write_mb") += e.shuffleWriteBytes / mb
        m("execute.spill_mb") += e.spillBytes / mb
        m(s"${r.name}.construct.s") += r.construct.seconds
        m(s"${r.name}.execute.s") += r.execute.seconds
        m(s"${r.name}.construct.jobs") += c.jobs
      }
      m("execute.core_util") =
        if (m("execute.core_s") > 0) m("execute.exec_run_s") / m("execute.core_s")
        else 0.0
      m
    }
    for (k <- perPass.flatMap(_.keys).distinct)
      rep(k) = Stats.median(perPass.map(_(k)))
    rep("jvm.gc_s") = Stats.median(gc)
  }
}

/** Golden full-row hashes of the panel queries over the fixed panel
  * tables, one `"query": "hash"` pair per line of perfbench/golden.json. */
object Golden {
  def load(path: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      """"([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
  }
}
