package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Sessions

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`.
  *
  * Set-up (timed as `setup_s`) is session start, input generation
  * (repeated [[PrepareRepeats]] times, median taken) and the workload's
  * warm-up cycles. Then whole cycles run for about `--seconds` (at least
  * [[MinCycles]]).
  * With `--trace 1` untraced and traced cycles interleave (at least two
  * of each) and the per-layer figures come from the traced ones;
  * `trace.overhead_share` compares the two kinds.
  *
  * Prints a detail line (`{"perfbench": ...}`) and then the result
  * line; the launcher (run.py) attaches units and validates both.
  */
object Main {
  private val PrepareRepeats = 3
  private val OpTimeoutSec = 60L
  private val MinCycles = 2
  // Untimed cycles before measuring; their time counts in `setup_s`. The
  // cycle after the cold one still runs 10-20% slower than later ones
  // (the JIT is still compiling); the median over four or more measured
  // cycles sets it aside. A second warm-up cycle would take the time a
  // fourth measured nightly_import season needs.
  private val WarmCycles = 1

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Time the JIT compilers have spent so far, summed over their threads. */
  private def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val wl = Workload.all.find(_.name == workloadName)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload $workloadName"))
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Sessions.local(cores, "perfbench")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val guard = new Guard(spark, tracer, OpTimeoutSec)
    val ctx = new Ctx(spark, seed, work, guard, tracer)
    def settle(): Unit = System.gc() // pay collection debt between cycles, outside any timing

    val prepareS = (1 to PrepareRepeats).map(_ => timed(wl.prepare(ctx)))
    val warm = new Recorder
    val warmS = (1 to WarmCycles).map { _ =>
      val s = timed(wl.cycle(ctx, warm))
      settle()
      s
    }
    val setupS = sessionS + Stats.median(prepareS) + warmS.sum

    val untraced = new Recorder
    val traced = new Recorder
    var gcTracedMs = 0L
    var blockPeak = 0L
    val cpu0 = processCpuS()
    val jitMs = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Whole cycles while the next one, at the median length so far, would
    // end less than half of it past `seconds`, so the measured time stays
    // within half a cycle of `seconds` on fast and slow hosts alike.
    def another = i < MinCycles ||
      elapsed + Stats.median((untraced.cycle ++ traced.cycle).toSeq) / 2 < seconds
    // traced runs alternate untraced and traced cycles, starting and
    // ending untraced (U T U at least), so a steady drift across the run
    // (the JIT still warming) cancels out of trace.overhead_share
    while (another || (trace && (i < 3 || i % 2 == 0))) {
      val on = trace && i % 2 == 1
      tracer.setEnabled(on)
      val jit0 = jitMillis()
      val gc0 = gcMillis()
      val sampler = if (on) Some(new StorageSampler(sc)) else None
      tracer.span("cycle")(wl.cycle(ctx, if (on) traced else untraced))
      sampler.foreach(s => blockPeak = math.max(blockPeak, s.stop()))
      if (on) { gcTracedMs += gcMillis() - gc0; tracer.drain() }
      tracer.setEnabled(false)
      jitMs += jitMillis() - jit0
      settle()
      i += 1
    }
    val measuredS = elapsed
    val measuredCpuS = processCpuS() - cpu0

    val metrics =
      if (!trace) endToEnd(setupS, wl.opP50(untraced), untraced, heapAfterGc())
      else {
        val t = tracer.snapshot()
        val cycles = t.named("cycle")
        val jobs = cycles.flatMap(t.jobsWithin)
        val totals = t.stageTotals(jobs)
        val n = math.max(1, cycles.size)
        Thread.sleep(500) // the context cleaner unpersists what the last collection released
        val persisted = sc.getPersistentRDDs.size
        val probes =
          if (wl == NightlyImport) Map.empty[String, Double]
          else {
            val dir = work.resolve("probe-corpus").toString
            Corpus.write(spark, dir)
            Probes.run(spark, dir)
          }
        val generic = Map(
          "spark.jobs" -> jobs.size.toDouble / n,
          "spark.input_mb" -> totals.inputBytes / 1048576.0 / n,
          "spark.shuffle_write_mb" -> totals.shuffleWriteBytes / 1048576.0 / n,
          "spark.spill_mb" -> totals.spillBytes / 1048576.0 / n,
          "jvm.gc_ms" -> gcTracedMs.toDouble / n,
          "trace.overhead_share" ->
            (Stats.median(traced.cycle.toSeq) / Stats.median(untraced.cycle.toSeq) - 1.0),
          "ops_failed_share" -> guard.failed.toDouble / guard.attempted,
          "materialize.persisted_rdds_after" -> persisted.toDouble,
          "materialize.block_mb_peak" -> blockPeak / 1048576.0)
        // every per-layer name in every traced run: a layer this
        // workload does not exercise reads 0
        val idle = TraceData.empty
        Workload.all.flatMap(w => w.perLayer(idle, new Recorder).keys.map(_ -> 0.0)).toMap ++
          Probes.names.map(_ -> 0.0) ++ wl.perLayer(t, traced) ++ probes ++ generic
      }

    val rt = Runtime.getRuntime
    val detail = Map(
      "workload" -> workloadName,
      "seed" -> seed,
      "trace" -> trace,
      "nproc" -> cores,
      "max_heap_mb" -> rt.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "cycles" -> i,
      "measured_s" -> measuredS,
      "measured_cpu_s" -> measuredCpuS,
      "cycle_jit_ms" -> jitMs.toSeq,
      "setup_parts_s" -> Map("session" -> sessionS, "prepare_median" -> Stats.median(prepareS),
        "prepare" -> prepareS, "warm_cycles" -> warmS),
      "named" -> (if (trace) Map.empty else wl.named(untraced)),
      "op_samples" -> untraced.op.size,
      "op_samples_s" -> untraced.op.toSeq,
      "cycle_samples_s" -> untraced.cycle.toSeq,
      "failures" -> guard.failures.toSeq,
      "digests" -> SearchMix.computed.toMap)
    guard.shutdown()
    spark.stop()
    metrics.foreach { case (k, v) => require(!v.isNaN && !v.isInfinite, s"metric $k is not finite: $v") }
    println(toJson(Map("perfbench" -> detail)))
    println(toJson(Map(
      "correct" -> (guard.failed == 0),
      "attempted" -> guard.attempted,
      "failed" -> guard.failed,
      "metrics" -> metrics)))
  }

  def toJson(v: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** The end-to-end metrics, one value each (units live in BENCHMARK.json). */
  def endToEnd(setupS: Double, opP50: Double, rec: Recorder, heapMb: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "op_s_p50" -> opP50,
    "cycle_s" -> Stats.median(rec.cycle.toSeq),
    "items_per_s" -> rec.items / rec.itemsWall,
    "retained_heap_mb" -> heapMb)

  /** Used heap after a full collection, in MB. The context cleaner
    * releases blocks of collected RDDs and broadcasts asynchronously,
    * after a collection finds them unreachable, so collections repeat
    * until the used heap stops shrinking.
    */
  private def heapAfterGc(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var used = collect()
    var previous = Double.MaxValue
    var rounds = 0
    while (rounds < 8 && previous - used > 1.0) {
      Thread.sleep(500)
      previous = used
      used = collect()
      rounds += 1
    }
    used
  }
}

/** Polls block-manager storage in use while a traced cycle runs; `stop`
  * returns the peak in bytes.
  */
final class StorageSampler(sc: org.apache.spark.SparkContext) {
  @volatile private var running = true
  @volatile private var peak = 0L
  private val thread = new Thread(() => {
    while (running) {
      val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      peak = math.max(peak, used)
      Thread.sleep(25)
    }
  }, "perfbench-storage")
  thread.setDaemon(true)
  thread.start()

  def stop(): Long = { running = false; thread.join(); peak }
}
