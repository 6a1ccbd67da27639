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
}

object SparkSpec {
  /** What a body started: SQL executions and Spark jobs. */
  final case class Started(sqlExecutions: Int, jobs: Int)

  lazy val session: SparkSession = Sessions.local(cores = 4, app = "graft-test")
}
