package graft.tools

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the formatted FINAL plans of catalog queries to files — the
  * optimization-round evidence trail (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <q1,q2,...|all> [sfDir]
  *
  * Each query is built and collected once. A `QueryExecutionListener`
  * records the formatted plan of every SQL execution that run starts:
  * the checkpoint materializations and driver-side collects its build
  * runs, then the collect of the returned frame. All are written, in
  * execution order, to `<outDir>/<name>_<suffix>.txt`. Each plan is
  * formatted after its execution has finished, so an adaptive plan
  * shows `== Final Plan ==` with the join strategies and
  * `AQEShuffleRead` nodes that actually ran.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.tools.ExplainDump <outDir> <suffix> <q1,q2,...|all> [sfDir]")
      sys.exit(2)
    }
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val dir =
      if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // listener events arrive on the bus thread, in execution order; a
    // sentinel execution run after the query marks the end of its plans
    val plans = new java.util.concurrent.LinkedBlockingQueue[(QueryExecution, String)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.put(qe -> s"== SQL execution: $funcName ==\n${qe.explainString(FormattedMode)}")
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.put(qe -> s"== SQL execution: $funcName (failed: ${e.getMessage}) ==\n")
    })
    def plansUntil(sentinel: QueryExecution): Seq[String] =
      Iterator.continually(plans.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(p => if (p == null) sys.error("the listener bus did not drain") else p)
        .takeWhile(_._1 ne sentinel).map(_._2).toSeq
    val all = graft.SparkEntry.queries
    val names =
      if (args(2) == "all") all.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach { name =>
      all.get(name) match {
        case None => System.err.println(s"[explaindump] UNKNOWN query $name")
        case Some(fn) =>
          try {
            spark.sparkContext.setJobDescription(s"explaindump: $name")
            fn(spark, dir).collect()
            System.err.println(s"[explaindump] ran $name")
          } catch {
            case e: Throwable =>
              System.err.println(s"[explaindump] FAIL $name: ${e.getMessage}")
          }
          val sentinel = spark.range(1)
          sentinel.collect()
          java.nio.file.Files.writeString(outDir.resolve(s"${name}_$suffix.txt"),
            plansUntil(sentinel.queryExecution).mkString("\n"))
          // release checkpoint blocks between queries (Bench does the same)
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          spark.sharedState.cacheManager.clearCache()
      }
    }
    spark.stop()
  }
}
