package graft.tools

import java.nio.file.{Files, Paths}

/** Catalog-wide column-pruning audit: one session, every catalog
  * query, the DISTINCT `ReadSchema` lines of each AQE-final executed
  * plan. A scan that reads all columns for a two-column projection is
  * wrong at 100 TB, and this is the artifact that makes such a
  * regression fail loudly instead of silently: `PLANAUDIT.md` is
  * checked in, and `--check` regenerates the audit and exits nonzero
  * on ANY drift from the committed file.
  *
  * Usage:
  *   runMain graft.tools.PlanAudit [sfDir]          # rewrite PLANAUDIT.md
  *   runMain graft.tools.PlanAudit [sfDir] --check  # diff vs committed
  *
  * ReadSchema is schema-level, so the audit is stable across driver
  * testdata regenerations (content changes; schemas don't — and a
  * schema drift SHOULD fail this check until Tables absorbs it).
  *
  * Checkpoint-rooted queries (the result frame is a LogicalRDD whose
  * scans ran inside earlier materialization jobs) are covered too: a
  * QueryExecutionListener records the executed plan of EVERY SQL
  * execution the query triggers — localCheckpoint materializations
  * included — so their ReadSchema lines land in the audit instead of
  * a blind spot (round 9 shipped 44/183 queries with no scan evidence
  * at all). Lines captured that way are tagged `[job]`. Each query
  * also runs under a hard timeout with job-group cancellation, so one
  * pathological plan cannot stall the `--check` gate.
  */
object PlanAudit {
  private val AuditPath = "/root/repo/PLANAUDIT.md"

  def render(sfDir: String): String = {
    val spark = graft.Sessions.local(16)
    spark.sparkContext.setLogLevel("ERROR")
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    // every SQL execution's ReadSchemas, including materialization
    // jobs (localCheckpoint runs through Dataset.withAction, so the
    // listener sees it); the bus is asynchronous — takers drain it
    // to stability before reading
    val jobSchemas = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val plan = try qe.executedPlan.toString catch { case _: Throwable => "" }
        "ReadSchema: [^\n]*".r.findAllIn(plan).foreach(jobSchemas.add)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def drainBus(): Unit = {
      var last = -1
      var same = 0
      var waited = 0
      while (same < 2 && waited < 2000) {
        Thread.sleep(100); waited += 100
        val now = jobSchemas.size()
        if (now == last) same += 1 else { same = 0; last = now }
      }
    }
    val sb = new StringBuilder
    sb ++= "# PLANAUDIT — distinct ReadSchema lines per catalog query\n\n"
    sb ++= s"Source dir: schema-stable against any GenData/driver regeneration.\n"
    sb ++= "Regenerate: `sbt \"runMain graft.tools.PlanAudit\"`; gate: append `--check`.\n"
    sb ++= "`[job]` = captured from a materialization job the query triggered\n"
    sb ++= "(checkpoint-rooted result frames carry no scan in their own plan).\n"
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      System.err.println(s"[planaudit] $name")
      val lines =
        try {
          jobSchemas.clear()
          val rootRs = scala.collection.mutable.ArrayBuffer.empty[String]
          val fut = pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              spark.sparkContext.setJobGroup(s"audit-$name", name, interruptOnCancel = true)
              val df = fn(spark, sfDir)
              df.collect() // force the AQE-final plan
              val plan = df.queryExecution.executedPlan.toString
              rootRs ++= "ReadSchema: [^\n]*".r.findAllIn(plan)
            }
          })
          try fut.get(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
          finally spark.sparkContext.clearJobGroup()
          drainBus()
          val root = rootRs.toSeq.distinct
          // job-captured lines not already in the root plan: the
          // checkpoint-materialization scans
          val extra = {
            val it = jobSchemas.iterator()
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            while (it.hasNext) { val l = it.next(); if (!root.contains(l)) buf += l }
            buf.toSeq.distinct.map(l => s"[job] $l")
          }
          val all = (root ++ extra).sorted
          if (all.nonEmpty) all else Seq("(no scans: literal/control-plane-only query)")
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            spark.sparkContext.cancelJobGroup(s"audit-$name")
            Seq(s"(timed out after ${timeoutSec}s — job group cancelled)")
          case e: Throwable => Seq(s"(failed: ${e.getClass.getSimpleName})")
        }
      sb ++= s"\n## $name\n"
      lines.foreach(l => sb ++= s"- $l\n")
      // release whatever localCheckpoint blocks the query left behind
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    pool.shutdownNow()
    spark.stop()
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val dirArgs = args.filterNot(_.startsWith("--"))
    val sfDir =
      if (dirArgs.nonEmpty) dirArgs(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = render(sfDir)
    if (args.contains("--check")) {
      val committed =
        if (Files.exists(Paths.get(AuditPath))) Files.readString(Paths.get(AuditPath))
        else ""
      if (committed == out) println("[planaudit] OK: plans match the committed audit")
      else {
        val cs = committed.linesIterator.toSet
        out.linesIterator.filterNot(cs).take(40)
          .foreach(l => println(s"[planaudit] DRIFT: $l"))
        println("[planaudit] FAIL: executed plans drifted from PLANAUDIT.md " +
          "(rerun without --check to accept)")
        sys.exit(1)
      }
    } else {
      Files.writeString(Paths.get(AuditPath), out)
      println(s"[planaudit] wrote $AuditPath")
    }
  }
}
