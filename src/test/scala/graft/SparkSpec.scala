package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: every suite in the forked test JVM gets the same
  * `Session.local(4)`, so a suite must not leave a conf changed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  /** Runs `body` with the runtime SQL conf `key` set to `value`, then
    * puts the previous setting back for the suites that follow. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val Marker = "sparkspec-drain"

  /** The SQL execution id of each job `body` launches, in launch order
    * (None for a job outside any SQL execution). A marker job before
    * and after `body` brackets the asynchronous (but ordered) listener
    * bus: jobs between the two markers' starts are exactly `body`'s. */
  def jobExecutions(body: => Any): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val markers = new AtomicInteger(0)
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty("spark.job.description") == Marker))
          markers.incrementAndGet()
        else if (markers.get == 1)
          seen.add(props.flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id"))))
      }
    }
    def marker(n: Int): Unit = {
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (markers.get < n && System.nanoTime() < deadline) Thread.sleep(5)
      assert(markers.get == n, "listener bus not drained")
    }
    sc.addSparkListener(listener)
    try { marker(1); body; marker(2) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }
}
