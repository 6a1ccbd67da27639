package perfbench

import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

/** Failure accounting for every operation the benchmark drives. Each
  * operation runs in its own cancellable job group under a timeout (the
  * shape of the program's own bench harness); a timeout, an exception or
  * an output check that does not hold marks it failed. A failed
  * operation keeps its place in the latency sample, timed up to the
  * moment it failed.
  */
final class Guard(spark: SparkSession, tracer: Tracer, timeoutSec: Long) {
  private val sc = spark.sparkContext
  // one client: `op` blocks until its operation ends, so at most one
  // runs at a time; a cached pool only keeps an abandoned (timed-out)
  // thread from blocking the next operation
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }
  private var n = 0L

  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Run `body` as one operation; `check` returns an error message when
    * the output is wrong. Returns the output (None when the operation
    * failed) and its wall seconds.
    */
  def op[A](name: String)(body: => A)(check: A => Option[String] = (_: A) => None): (Option[A], Double) = {
    n += 1
    attempted += 1
    val group = s"perfbench-$n"
    val parent = tracer.currentSpan
    val t0 = System.nanoTime()
    val fut = pool.submit(new Callable[A] {
      def call(): A = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try tracer.opSpan(group, name, parent)(body)
        finally sc.clearJobGroup()
      }
    })
    val outcome: Either[String, A] =
      try Right(fut.get(timeoutSec, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          fut.cancel(true)
          Left(s"timed out after ${timeoutSec}s")
        case e: java.util.concurrent.ExecutionException =>
          Left(s"${e.getCause.getClass.getSimpleName}: ${e.getCause.getMessage}")
      }
    val sec = (System.nanoTime() - t0) / 1e9
    val checked = outcome.flatMap(a => check(a).toLeft(a))
    checked.left.foreach { why =>
      failed += 1
      if (failures.length < 20) failures += s"$name: $why"
      System.err.println(s"[perfbench] FAILED $name: $why")
    }
    (checked.toOption, sec)
  }

  def shutdown(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
