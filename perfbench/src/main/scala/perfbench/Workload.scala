package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. `work` is this run's
  * private scratch directory inside the checkout.
  */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val work: Path,
    val guard: Guard,
    val tracer: Tracer)

/** Samples of one set of cycles (the warm-up, the untraced cycles, or
  * the traced ones). `op` is the workload's unit operation latency,
  * `cycle` one whole cycle's wall, and `items` / `itemsWall` the work
  * completed and the wall it took; `named` holds the workload's own
  * figures under the names its documentation uses.
  */
final class Recorder {
  val op = mutable.ArrayBuffer.empty[Double]
  val cycle = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var itemsWall = 0.0
  val named = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = named.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = named.getOrElse(name, Nil).toSeq
}

/** One benchmark workload: a closed loop with one client.
  *
  * `prepare` generates the inputs from the seed (the harness calls it
  * several times to time set-up, so it must be repeatable); `cycle`
  * runs one complete, fixed-shape unit of work against fresh program
  * state and records into `rec`. Every cycle of a run sees the same
  * inputs, so a run's cycles differ only in timing.
  */
trait Workload {
  def name: String
  def prepare(ctx: Ctx): Unit
  def cycle(ctx: Ctx, rec: Recorder): Unit
  /** `op_s_p50`: the median operation latency. */
  def opP50(rec: Recorder): Double = Stats.median(rec.op.toSeq)
  /** The workload's own end-to-end figures (printed in the detail line). */
  def named(rec: Recorder): Map[String, Double]
  /** Per-layer figures from the traced cycles. */
  def perLayer(trace: TraceData, rec: Recorder): Map[String, Double]
}

object Workload {
  def all: Seq[Workload] = Seq(NightlyImport, SearchMix)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Bytes of the regular files under `p`, recursively. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
}
