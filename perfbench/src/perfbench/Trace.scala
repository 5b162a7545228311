package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Scheduler counters of one job group: what the tasks of its jobs did. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var maxTasksPerStage = 0
  var execRunMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (launch, finish) epoch millis of every finished task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (tasks, executor run millis, wall millis) of every completed stage. */
  val stageRecords = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  /** Phase wall time in [startMs, endMs] during which no task ran. */
  def idleMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var reach = startMs
    for ((a, b) <- taskIntervals.sortBy(_._1)) {
      val lo = math.max(a, reach)
      val hi = math.min(b, endMs)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0L, endMs - startMs - covered)
  }

  /** Wall time of stages with fewer tasks than `cores` that still kept an
    * executor busy for more than half a second. */
  def narrowStageMs(cores: Int): Long =
    stageRecords.collect {
      case (n, exec, wall) if n < cores && exec > 500L => wall
    }.sum
}

/** One traced interval. `parent` is the id of the enclosing span (-1 at
  * the top); every span of a run shares the run id. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long)

/** The traced run's recorder: a SparkListener that files every job,
  * stage and task under the job group that was set when the job
  * started, plus an in-memory span tree written out when the run ends. */
final class Tracer(sc: SparkContext, val run: String) extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageExecMs = mutable.Map.empty[Int, Long]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val s = stats(g)
    s.jobs += 1
    e.stageIds.foreach(id => stageGroup.getOrElseUpdate(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.execRunMs += m.executorRunTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      stageExecMs(e.stageId) =
        stageExecMs.getOrElse(e.stageId, 0L) + m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val s = stats(stageGroup.getOrElse(info.stageId, ""))
      s.stages += 1
      s.maxTasksPerStage = math.max(s.maxTasksPerStage, info.numTasks)
      val wall = (for (a <- info.submissionTime; b <- info.completionTime)
        yield b - a).getOrElse(0L)
      s.stageRecords += ((info.numTasks,
        stageExecMs.remove(info.stageId).getOrElse(0L), wall))
    }

  /** Counters of `group` once every event up to now has been delivered. */
  def group(g: String): GroupStats = {
    PerfbenchBus.drain(sc)
    synchronized(groups.getOrElse(g, new GroupStats))
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, System.nanoTime()) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      spans += Span(id, name, parent, run, start, System.nanoTime())
    }
  }

  def spansJson: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""run":"${s.run}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Phase runner shared by the workloads. Untraced, a phase is a bare
  * timed call; traced, it also sets the phase's job group (so the
  * listener can attribute its jobs) and records a span. */
final class Phases(sc: SparkContext, val tracer: Option[Tracer]) {

  /** Runs `body` as phase `group`; returns its value and its interval
    * (nanoTime start/end plus epoch-millis start/end for task overlap). */
  def run[T](group: String, span: String)(body: => T): Timed[T] = {
    tracer.foreach(_ => sc.setJobGroup(group, group))
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = tracer match {
      case Some(t) => t.span(span)(body)
      case None => body
    }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    tracer.foreach(_ => sc.clearJobGroup())
    Timed(v, group, t0, t1, ms0, ms1)
  }

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  def stats(group: String): GroupStats =
    tracer.map(_.group(group)).getOrElse(new GroupStats)
}

final case class Timed[T](value: T, group: String, startNs: Long,
                          endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Jvm {
  /** Summed collection time of every JVM collector, seconds. */
  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Peak resident set size (`VmHWM`) of this JVM, MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
