package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (sbt forks a single
  * test JVM; building a session per suite costs ~5s each).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs `body` starts, counted by a listener scoped to a job
    * group of its own. Listener delivery is asynchronous, so a sentinel
    * job in a second group runs after `body`: events arrive in order,
    * and once the sentinel's start is seen every job of `body` was.
    */
  protected def jobsIn[A](body: => A): (A, Int) = {
    val (out, started) = sqlExecutionsIn(body)
    (out, started.jobs)
  }

  /** SQL executions `body` starts, with its Spark jobs: both counted as
    * [[jobsIn]] counts jobs, by the job group the event carries.
    */
  protected def sqlExecutionsIn[A](body: => A): (A, SparkSpec.Started) = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger(0)
    val executions = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`)    => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _                =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) => executions.incrementAndGet()
        case _                                                                 =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job budget")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "job budget sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, SparkSpec.Started(executions.get, jobs.get))
    } finally sc.removeSparkListener(listener)
  }

  /** Commands of the OS processes the JVM starts while `body` runs, from
    * a JFR stream of `jdk.ProcessStart`. The stream delivers events at
    * its periodic flushes, ordered by time, so a marker event committed
    * after `body` arrives after every process `body` started.
    */
  protected def processesIn[A](body: => A): (A, Seq[String]) = {
    val commands = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ended = new CountDownLatch(1)
    val stream = new jdk.jfr.consumer.RecordingStream()
    try {
      stream.enable("jdk.ProcessStart")
      stream.enable(classOf[SparkSpec.CensusEnd])
      stream.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
      stream.onEvent(classOf[SparkSpec.CensusEnd].getName, _ => ended.countDown())
      stream.startAsync()
      val out = body
      new SparkSpec.CensusEnd().commit()
      assert(ended.await(60, TimeUnit.SECONDS), "the JFR stream did not deliver its end marker")
      (out, commands.toArray(Array.empty[String]).toSeq)
    } finally stream.close()
  }
}

object SparkSpec {
  /** What a body started: SQL executions and Spark jobs. */
  final case class Started(sqlExecutions: Int, jobs: Int)

  /** Marks the end of a [[SparkSpec.processesIn]] census. */
  final class CensusEnd extends jdk.jfr.Event

  lazy val session: SparkSession = Sessions.local(cores = 4, app = "graft-test")
}
