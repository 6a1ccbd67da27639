package perfbench

import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.Row

import graft.SparkEntry

/** `search_mix`: one analyst repeating passes over a fixed list of
  * read-only catalog queries on the generated corpus — the ANN family
  * and the set-similarity join family. The seed sets the order within
  * each pass. Every result must equal its pinned digest.
  *
  * The list keeps one query per search route the ANN skeleton and the
  * single set-similarity join would rewrite (IVF, IVF-PQ, capped LSH,
  * binary quantization; gated Jaccard and gated containment), and
  * leaves out NN-descent, IVF-SQ8, prefix Jaccard (the same pairs as
  * gated Jaccard) and the threshold sweep so that a cold pass and two
  * measured passes fit the run budget.
  */
object SearchMix extends Workload {
  val name = "search_mix"

  val Ann: Seq[String] = Seq("ss03_ivf_ann", "ss07_ivf_pq", "ss20_capped_recall", "ss27_binary_quant")
  val SetSim: Seq[String] = Seq("dd22_gated_jaccard", "dd23_gated_containment")

  /** Result digests of each query over [[Corpus]] (see [[digest]]),
    * confirmed against the DuckDB oracle SQL of the same catalog rows;
    * README.md gives the procedure.
    */
  val Pinned: Map[String, String] = Map(
    "dd22_gated_jaccard" -> "07f219aaa1bf53e8e060c60a7dc21cb3526a269216e3f85c78743ed9a503244e",
    "dd23_gated_containment" -> "f13b67c72e1c4963e596bd67efdee8a84d63fb5797c37fb582b6c8b59e72072e",
    "ss03_ivf_ann" -> "d7a9e8be8cd8e58c0b346adaefbf376f75d6c4d0967c7932a27772942294d19b",
    "ss07_ivf_pq" -> "cdf0f5003cdcadc542a714941a863ef9437b9926213e2513dd4130641d53f567",
    "ss20_capped_recall" -> "cca0adf33a7d7fa217d8108d3383fe04fcf36a25eeb6f5877cb32ef8c5cfd3aa",
    "ss27_binary_quant" -> "6b5f1cbf96f7b1b3d0f51a726ae50e754a8a89a36020e7039b17417c51e62d93")

  private var order: Seq[String] = Nil
  private var dir: String = _
  /** The last digest each query produced in this run (detail line). */
  val computed = scala.collection.mutable.Map.empty[String, String]

  def prepare(ctx: Ctx): Unit = {
    dir = ctx.work.resolve("corpus").toString
    Corpus.write(ctx.spark, dir)
    order = new Random(ctx.seed).shuffle(Ann ++ SetSim)
  }

  /** Canonical text of one value: integers in decimal, floating point
    * as the hex bits of its double value, strings verbatim, arrays and
    * structs element-wise. The Python digest in `oracle_digest.py`
    * produces the same text from a parquet dump.
    */
  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => canonical(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case xs: scala.collection.Seq[_] => xs.map(canonical).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case other => other.toString
  }

  /** Order-insensitive digest of a result: SHA-256 over the sorted
    * canonical rows.
    */
  def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canonical).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def checkDigest(query: String, got: String): Option[String] = Pinned.get(query) match {
    case Some(want) if want == got => None
    case Some(want) => Some(s"result digest $got, pinned $want")
    case None => Some(s"no pinned digest (got $got)")
  }

  def cycle(ctx: Ctx, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    var ann = 0.0
    var setSim = 0.0
    order.foreach { q =>
      val (_, sec) = ctx.guard.op(q) {
        ctx.tracer.span(q)(digest(SparkEntry.queries(q)(ctx.spark, dir).collect().toSeq))
      } { d => computed(q) = d; checkDigest(q, d) }
      rec.op += sec
      rec.add(s"${q}_s", sec)
      rec.items += 1
      rec.itemsWall += sec
      if (Ann.contains(q)) ann += sec else setSim += sec
    }
    rec.cycle += (System.nanoTime() - t0) / 1e9
    rec.add("ann_pass_s", ann)
    rec.add("setsim_pass_s", setSim)
  }

  /** The typical query: the median over the six queries of each one's
    * median latency. A median pooled over all executions would land on
    * whichever query sits in the middle of the run's mix, and jump
    * between the two queries nearest it from run to run.
    */
  override def opP50(rec: Recorder): Double =
    Stats.median((Ann ++ SetSim).map(q => Stats.median(rec.get(s"${q}_s"))))

  def named(rec: Recorder): Map[String, Double] = Map(
    "mix_pass_s" -> Stats.median(rec.cycle.toSeq),
    "ann_pass_s" -> Stats.median(rec.get("ann_pass_s")),
    "setsim_pass_s" -> Stats.median(rec.get("setsim_pass_s"))) ++
    (Ann ++ SetSim).map(q => s"${q}_s" -> Stats.median(rec.get(s"${q}_s")))

  def perLayer(t: TraceData, rec: Recorder): Map[String, Double] =
    (Ann ++ SetSim).flatMap { q =>
      val runs = t.named(q)
      Seq(
        s"query.${q}_s" -> Stats.median(runs.map(_.seconds)),
        s"query.${q}_jobs" -> Stats.median(runs.map(s => t.jobsWithin(s).size.toDouble)),
        s"query.${q}_shuffle_mb" -> Stats.median(runs.map(s =>
          t.stageTotals(t.jobsWithin(s)).shuffleWriteBytes / 1048576.0)),
        s"query.${q}_driver_gap_share" -> t.driverGapShare(runs))
    }.toMap
}
