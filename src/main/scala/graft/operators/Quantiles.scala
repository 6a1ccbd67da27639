package graft.operators

import scala.collection.mutable

import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Exact interpolated percentiles, medians and MADs per group,
  * bit-identical to `expr("percentile(v, p)")` and to DuckDB's
  * PERCENTILE_CONT — without `percentile()`'s aggregation buffer, which
  * holds EVERY value of a group on one task.
  *
  * Every entry point runs one selection core, two data scans in the
  * typical case:
  *   - scan 1: one map-side-combined aggregation of (group, cell) into
  *     count, exact min and exact max. A cell is the top `MantissaBits`
  *     bits of the value's IEEE-754 mantissa with its sign and exponent
  *     ([[graft.functions.DoubleBitsShift]]): cells are DISJOINT value
  *     intervals of ~2^−MantissaBits relative width, so binning needs no
  *     prior min/max pass and the group counts fall out of the same
  *     aggregation; nothing corpus-sized moves;
  *   - driver: prefix sums locate the cell of each target rank. A rank
  *     on a single-value cell, or on a cell's exact min or max, resolves
  *     with no further scan;
  *   - scan 2: the exact (value, count) rows of the remaining ambiguous
  *     cells only, walked to the target ranks.
  * The interpolation replays `Percentile`'s arithmetic term for term,
  * its no-interpolation case for equal values included.
  *
  * When a budget trips — group count, cell count (or the driver's
  * maxResultSize abort), collect rows — every entry point falls back to
  * ONE exact path, [[sortRankPercentiles]], which keeps nothing
  * group-sized on the driver. Correctness never depends on a budget.
  *
  * Null values are skipped, a null group is a group of its own and a
  * group whose values are all null is dropped. Values compare in Spark's
  * order — NaN above +∞, −0.0 equal to 0.0 — so NaN and ±∞ give
  * `percentile()`'s answers on every path.
  */
object Quantiles {

  /** Mantissa bits kept in a cell key. */
  private[graft] val MantissaBits = 12
  /** Budgets on driver state; past any of them the sort-rank path runs. */
  private val MaxGroups = 4096
  private val MaxCells = 4000000L
  private[graft] val CollectBudget = 131072L

  /** @return (groupCol, p, value), one row per group and percentile,
    * ordered by group (null first) and then p.
    */
  def percentiles(df: DataFrame, groupCol: String, valueCol: String, ps: Seq[Double]): DataFrame =
    percentilesCore(df, groupCol, valueCol, ps, MantissaBits, CollectBudget)

  /** Per-group median and MAD (the median of |x − med|) in the same two
    * scans as one percentile: count(|x − med| ≤ t) = count(x ∈ [med−t,
    * med+t]), so the scan-1 cells of x bracket BOTH order statistics.
    * With the median known only as an interval before scan 2, interval
    * arithmetic over the cells brackets the MAD rank conservatively, and
    * the cells that could straddle it join scan 2's collect.
    *
    * @return (groupCol, med, mad), one row per group, ordered by group
    */
  def madByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    madCore(df, groupCol, valueCol, None, MantissaBits, CollectBudget)

  /** [[madByGroup]] with the robust-outlier summary the MAD exists for:
    * per group (med, mad, n, n_outliers), where an outlier is a row with
    * |x − med| > k·MAD, in the SAME two scans. The threshold is one more
    * selection boundary over the same cells: the cells that could
    * straddle x = med ± k·MAD join scan 2's collect, and the rest
    * classify whole by their exact min/max. `n` counts non-null values
    * (the rows a percentile sees).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String, k: Double = 1.5): DataFrame = {
    require(k >= 0, s"madOutliers: k must be non-negative, got $k")
    madCore(df, groupCol, valueCol, Some(k), MantissaBits, CollectBudget)
  }

  /** Spark's order on doubles: NaN above +∞, −0.0 equal to 0.0. */
  private def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

  /** `Percentile`'s value at pos = (n − 1)·p from the values at ranks
    * ⌊pos⌋ and ⌈pos⌉: no interpolation when they are one rank or equal.
    */
  private def interpolate(pos: Double, vLo: Double, vHi: Double): Double = {
    val lo = math.floor(pos)
    val hi = math.ceil(pos)
    if (lo == hi || cmp(vLo, vHi) == 0) vLo else (hi - pos) * vLo + (pos - lo) * vHi
  }

  // group keys ride through groupBy and equi-joins, which merge or drop
  // nulls: encode into a never-null key with a collision-free sentinel
  // prefix (the null group sorts first), decode on output
  private def encoded(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.select(
        when(col(groupCol).isNull, lit("\u0000"))
          .otherwise(concat(lit("\u0001"), col(groupCol).cast("string"))).as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull) // percentile() skips null values
  private def decode(g: String): String = if (g == "\u0000") null else g.substring(1)
  private def decoded(groupCol: String): Column =
    when(col("g") === lit("\u0000"), lit(null).cast("string"))
      .otherwise(expr("substring(g, 2)")).as(groupCol)

  private final case class Cell(key: Long, c: Long, mn: Double, mx: Double) {
    def single: Boolean = cmp(mn, mx) == 0
  }

  /** One group's scan-1 cells, ascending and disjoint, with prefix sums. */
  private final class Group(val g: String, val cells: Array[Cell]) {
    private val prefix = cells.scanLeft(0L)(_ + _.c)
    val n: Long = prefix.last

    def cellOf(r: Long): Cell = cells(indexOf(r))
    private def indexOf(r: Long): Int = {
      val i = java.util.Arrays.binarySearch(prefix, r) // counts > 0: strictly ascending
      if (i >= 0) i else -i - 2
    }

    /** The value at rank r if scan 1 pins it: a single-value cell, or r
      * on a cell's exact min or max.
      */
    def pinned(r: Long): Option[Double] = {
      val i = indexOf(r)
      val c = cells(i)
      if (c.single || r == prefix(i)) Some(c.mn)
      else if (r == prefix(i + 1) - 1) Some(c.mx)
      else None
    }

    /** The value at rank r: pinned, or walked in its cell's collected values. */
    def valueAtRank(r: Long, exact: Map[(String, Long), Array[(Double, Long)]]): Double =
      pinned(r).getOrElse {
        val i = indexOf(r)
        val vals = exact.getOrElse((g, cells(i).key), Array.empty[(Double, Long)])
        var local = r - prefix(i)
        var j = 0
        while (j < vals.length && local >= vals(j)._2) { local -= vals(j)._2; j += 1 }
        assert(j < vals.length, s"Quantiles: rank $r unresolved in cell ${cells(i).key} of group $g")
        vals(j)._1
      }
  }

  /** True iff `t` (or any cause in its chain) is the driver
    * result-size abort. Matched three ways so a Spark release that
    * rewords the TaskSetManager message or starts attaching an error
    * condition still routes a cell blow-up to the exact fallback
    * instead of failing the job: the config-key fragment, the abort
    * message prefix, and any SparkThrowable condition naming
    * RESULT_SIZE.
    */
  private def isResultSizeBlowUp(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).exists { e =>
      val m = Option(e.getMessage).getOrElse("")
      val cond = e match {
        case st: org.apache.spark.SparkThrowable => Option(st.getCondition).getOrElse("")
        case _ => ""
      }
      m.contains("maxResultSize") || m.contains("Total size of serialized results") ||
        cond.contains("RESULT_SIZE")
    }

  /** (g, v) with each row's cell key `k`. The key kernel registers on
    * THIS frame's session: inside foreachBatch the micro-batch analyzes
    * in a cloned session where a SparkSession.active registration would
    * be invisible.
    */
  private def keyed(base: DataFrame, mantissaBits: Int): DataFrame =
    base.withColumn("k", graft.functions.DoubleBitsShift(base.sparkSession, col("v"), 52 - mantissaBits))

  /** Scan 1: every group's cells, ordered by group; None when a budget
    * trips. A plain collect, NOT limit(MaxCells): CollectLimitExec
    * executes partitions in scale-up rounds, re-running the aggregation
    * several times; a cell blow-up (wild exponent spread) is instead
    * caught by driver.maxResultSize and the MaxCells post-check.
    */
  private def scanCells(keyed: DataFrame): Option[Array[Group]] = {
    val rows =
      try keyed.groupBy("g", "k")
        .agg(count(lit(1)).as("c"), min("v").as("mn"), max("v").as("mx"))
        .collect()
      catch { case e: SparkException if isResultSizeBlowUp(e) => return None }
    val byGroup = rows.groupBy(_.getString(0))
    if (rows.length > MaxCells || byGroup.size > MaxGroups) None
    else Some(byGroup.map { case (g, rs) =>
      // total order on min: the −0.0 cell sorts before the +0.0 cell
      new Group(g, rs.map(r => Cell(r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .sortBy(_.mn)(Ordering.Double.TotalOrdering))
    }.toArray.sortBy(gs => UTF8String.fromString(gs.g))) // Spark's string order
  }

  /** Scan 2: exact distinct (value, count) per marked (group, cell key),
    * ascending — a broadcast semi-join on (g, k) keeps the probe inside
    * whole-stage codegen. −0.0/0.0 merge in the grouping key, which is
    * numerically transparent to every consumer.
    */
  private def collectCells(
      keyed: DataFrame,
      marks: collection.Set[(String, Long)]
  ): Map[(String, Long), Array[(Double, Long)]] =
    if (marks.isEmpty) Map.empty
    else {
      val spark = keyed.sparkSession
      import spark.implicits._
      keyed.join(broadcast(marks.toSeq.toDF("g", "k")), Seq("g", "k"))
        .groupBy("g", "k", "v").agg(count(lit(1)).as("c"))
        .collect()
        .groupBy(r => (r.getString(0), r.getLong(1)))
        .map { case (gk, rs) =>
          gk -> rs.map(r => (r.getDouble(2), r.getLong(3))).sortBy(_._1)(Ordering.Double.TotalOrdering)
        }
    }

  private[graft] def percentilesCore(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[Double],
      mantissaBits: Int,
      collectBudget: Long
  ): DataFrame = {
    require(ps.forall(p => p >= 0 && p <= 1), s"percentiles: every p must be in [0, 1], got $ps")
    val spark = df.sparkSession
    import spark.implicits._
    val base = encoded(df, groupCol, valueCol)
    def fallback(): DataFrame = sortRankPercentiles(base, ps)
      .select(decoded(groupCol), col("p"), col("value"))
      .orderBy(asc_nulls_first(groupCol), col("p"))
    val k = keyed(base, mantissaBits)
    val groups = scanCells(k) match {
      case Some(gs) => gs
      case None => return fallback()
    }
    val sortedPs = ps.sorted
    def ranks(gs: Group, p: Double): (Double, Long, Long) = {
      val pos = (gs.n - 1) * p
      (pos, math.floor(pos).toLong, math.ceil(pos).toLong)
    }
    val marks = (for {
      gs <- groups.iterator
      p <- sortedPs
      (_, lo, hi) = ranks(gs, p)
      r <- Iterator(lo, hi) if gs.pinned(r).isEmpty
      c = gs.cellOf(r)
    } yield (gs.g, c.key) -> c.c).toMap
    if (marks.values.sum > collectBudget) return fallback()
    val exact = collectCells(k, marks.keySet)
    val rows = for (gs <- groups.toSeq; p <- sortedPs) yield {
      val (pos, lo, hi) = ranks(gs, p)
      (decode(gs.g), p, interpolate(pos, gs.valueAtRank(lo, exact), gs.valueAtRank(hi, exact)))
    }
    spark.createDataset(rows).toDF(groupCol, "p", "value")
  }

  /** Range of the computed |x − m| over x in `c` and m in [lo, hi]: IEEE
    * rounding is monotone, so the extreme points bound every computed
    * distance. A non-finite cell holds one value, and a non-finite median
    * is exact (lo == hi, see madCore); either way every x in the cell is
    * the same distance from m.
    */
  private def distRange(c: Cell, lo: Double, hi: Double): (Double, Double) =
    if (!java.lang.Double.isFinite(c.mn) || !java.lang.Double.isFinite(lo)) {
      val d = math.abs(c.mn - lo)
      (d, d)
    } else (
      if (c.mx < lo) lo - c.mx else if (c.mn > hi) c.mn - hi else 0.0,
      math.max(hi - c.mn, c.mx - lo))

  private[graft] def madCore(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      outlierK: Option[Double],
      mantissaBits: Int,
      collectBudget: Long
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = encoded(df, groupCol, valueCol)
    // budget fallback: the sort-rank path for the median, then again over |x − med|
    def fallback(): DataFrame = {
      val med = sortRankPercentiles(base, Seq(0.5)).select(col("g"), col("value").as("med"))
      val dev = base.join(med, "g")
        .select(col("g"), col("med"), abs(col("v") - col("med")).as("adev"))
      val mad = sortRankPercentiles(dev.select(col("g"), col("adev").as("v")), Seq(0.5))
        .select(col("g"), col("value").as("mad"))
      val out = outlierK match {
        case None => med.join(mad, "g").select(decoded(groupCol), col("med"), col("mad"))
        case Some(k) =>
          dev.join(mad, "g")
            .groupBy("g", "med", "mad")
            .agg(count(lit(1)).as("n"),
              count(when(col("adev") > lit(k) * col("mad"), 1)).as("n_outliers"))
            .select(decoded(groupCol), col("med"), col("mad"), col("n"), col("n_outliers"))
      }
      out.orderBy(asc_nulls_first(groupCol))
    }
    val k = keyed(base, mantissaBits)
    val groups = scanCells(k) match {
      case Some(gs) => gs
      case None => return fallback()
    }

    // bracket the median, then the MAD ranks and the outlier threshold;
    // mark every cell that could straddle one of them for scan 2
    val marks = mutable.Map.empty[(String, Long), Long] // (g, cell key) -> rows
    val medRanks = groups.map { gs =>
      val pos = (gs.n - 1) * 0.5
      val (rl, rh) = (math.floor(pos).toLong, math.ceil(pos).toLong)
      def bound(r: Long): (Double, Double) = gs.pinned(r) match {
        case Some(v) => (v, v)
        case None =>
          val c = gs.cellOf(r)
          marks((gs.g, c.key)) = c.c
          (c.mn, c.mx)
      }
      val (l1, _) = bound(rl)
      val (l2, h2) = bound(rh)
      // a rank on a non-finite value (a single-value cell) makes the
      // interpolated median non-finite whatever the other rank's finite
      // value is, so the median is then exact before scan 2
      val (medLo, medHi) =
        if (java.lang.Double.isFinite(l1) && java.lang.Double.isFinite(l2)) (l1, h2)
        else { val m = interpolate(pos, l1, l2); (m, m) }
      val ds = gs.cells.map(distRange(_, medLo, medHi))
      // the distance at rank r is at least the (r+1)-th smallest lower
      // bound and at most the (r+1)-th smallest upper bound
      def nth(bound: Array[Double], r: Long): Double = {
        val order = bound.indices.sortBy(bound(_))(Ordering.Double.TotalOrdering)
        var cum = 0L
        order.find { i => cum += gs.cells(i).c; cum > r }.map(bound).get
      }
      val madLo = nth(ds.map(_._1), rl)
      val madHi = nth(ds.map(_._2), rh)
      // the interpolated MAD lies between its two rank values, so the
      // threshold k·MAD lies in [k·madLo, k·madHi] (k ≥ 0 is monotone)
      val bands = (madLo, madHi) +: outlierK.toSeq.map(k => (k * madLo, k * madHi))
      for ((c, (dlo, dhi)) <- gs.cells.zip(ds)
           if !c.single && cmp(dlo, dhi) != 0 &&
             bands.exists { case (lo, hi) => cmp(dlo, hi) <= 0 && cmp(dhi, lo) >= 0 })
        marks((gs.g, c.key)) = c.c
      (pos, rl, rh)
    }
    if (marks.values.sum > collectBudget) return fallback()
    val exact = collectCells(k, marks.keySet)

    val resolved = groups.zip(medRanks).map { case (gs, (pos, rl, rh)) =>
      val med = interpolate(pos, gs.valueAtRank(rl, exact), gs.valueAtRank(rh, exact))
      // exact |x − med| points: the collected values and every uncollected
      // cell whose distances are one value; the other uncollected cells as
      // distance intervals, none of which straddles a MAD rank value or
      // the outlier threshold (a subset of its conservative bracket)
      val pts = mutable.ArrayBuffer.empty[(Double, Long)]
      val ivs = mutable.ArrayBuffer.empty[(Double, Double, Long)]
      for (c <- gs.cells) exact.get((gs.g, c.key)) match {
        case Some(vals) => for ((v, n) <- vals) pts += ((math.abs(v - med), n))
        case None =>
          val (dlo, dhi) = distRange(c, med, med)
          if (cmp(dlo, dhi) == 0) pts += ((dlo, c.c)) else ivs += ((dlo, dhi, c.c))
      }
      val sortedPts = pts.sortBy(_._1)(Ordering.Double.TotalOrdering)
      val sortedIvs = ivs.sortBy(_._2)(Ordering.Double.TotalOrdering)
      // count(dist ≤ d) ≥ points ≤ d + intervals with dhi ≤ d: the first
      // point where that count reaches r+1 is the rank value (below it
      // the true cumulative is itself ≤ r, so the walk cannot fire early)
      def distAtRank(r: Long): Double = {
        var cum = 0L
        var iIv = 0
        var i = 0
        while (i < sortedPts.length) {
          val (d, n) = sortedPts(i)
          while (iIv < sortedIvs.length && cmp(sortedIvs(iIv)._2, d) <= 0) {
            cum += sortedIvs(iIv)._3; iIv += 1
          }
          cum += n
          if (cum > r) return d
          i += 1
        }
        throw new AssertionError(
          s"madByGroup: MAD rank $r unresolved for group ${gs.g}: bracket invariant broken")
      }
      val mad = interpolate(pos, distAtRank(rl), distAtRank(rh))
      // the uncollected intervals classify whole (strict >, as `adev > k·mad`)
      val nOut = outlierK.fold(0L) { k =>
        val t = k * mad
        sortedPts.iterator.filter(p => cmp(p._1, t) > 0).map(_._2).sum +
          sortedIvs.iterator.map { case (dlo, dhi, n) =>
            assert(cmp(dlo, t) > 0 || cmp(dhi, t) <= 0,
              s"madOutliers: threshold straddle for group ${gs.g}: bracket invariant broken")
            if (cmp(dlo, t) > 0) n else 0L
          }.sum
      }
      (decode(gs.g), med, mad, gs.n, nOut)
    }
    outlierK match {
      case Some(_) => spark.createDataset(resolved.toSeq).toDF(groupCol, "med", "mad", "n", "n_outliers")
      case None =>
        spark.createDataset(resolved.toSeq.map(t => (t._1, t._2, t._3))).toDF(groupCol, "med", "mad")
    }
  }

  /** The budget fallback: exact percentiles from one range-partitioned
    * sort of (g, v) — Spark's sort machinery spreads it over ALL
    * partitions, spilling as needed — and global ranks, with nothing
    * proportional to the number of groups on the driver. Offsets are a
    * running sum over the per-(partition, group) counts, windowed BY
    * GROUP (each window holds only that group's ≤ partitions rows);
    * global ranks reach the data by equi-join on (pid, g), and the ≤ 2
    * order statistics per (group, percentile) by an equi-join on
    * (g, rank) against the wanted positions.
    *
    * @param base encoded (g, v) rows, v non-null
    * @return encoded (g, p, value), unordered
    */
  private def sortRankPercentiles(base: DataFrame, ps: Seq[Double]): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    // frozen once: the count pass and the rank pass must observe the SAME
    // partitioning (range bounds vary per run; ranks do not)
    val sorted = base
      .repartitionByRange(parts, col("g"), col("v"))
      .sortWithinPartitions("g", "v")
      .as[(String, Double)]
      .localCheckpoint()
    val counts = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val m = mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (g, _) => m.update(g, m.getOrElse(g, 0L) + 1) }
        m.iterator.map { case (g, c) => (pid, g, c) }
      }
      .toDF("pid", "g", "cnt")
    val offsets = counts.withColumn(
      "off",
      coalesce(
        sum("cnt").over(
          Window.partitionBy("g").orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val totals = counts.groupBy("g").agg(sum("cnt").as("n"))
    // wanted 0-based positions: pos = (n−1)·p, keep ranks ⌊pos⌋ and ⌈pos⌉
    val positions = totals
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .withColumn("pos", (col("n") - lit(1L)) * col("p"))
      .withColumn("lo", floor(col("pos")))
      .withColumn("hi", ceil(col("pos")))
    val wanted = positions.select(col("g"), explode(array(col("lo"), col("hi"))).as("rank"))
      .distinct()
    // local ranks are free (rows arrive grouped + sorted per task);
    // globalize by joining the per-(pid, g) offset
    val local = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val seen = mutable.HashMap.empty[String, Long]
        it.map { case (g, v) =>
          val r = seen.getOrElse(g, 0L)
          seen.update(g, r + 1)
          (pid, g, r, v)
        }
      }
      .toDF("pid", "g", "lrank", "v")
    val picked = local
      .join(offsets.select("pid", "g", "off"), Seq("pid", "g"))
      .withColumn("rank", col("off") + col("lrank"))
      .join(wanted, Seq("g", "rank")) // ≤ 2 × groups × percentiles rows survive
      .select("g", "rank", "v")
    // Percentile's interpolation as Spark double expressions: the same
    // IEEE ops in the same order as `interpolate` (SQL = on doubles is
    // Spark's order, NaN = NaN included)
    val vLo = picked.select(col("g"), col("rank").as("lo"), col("v").as("v_lo"))
    val vHi = picked.select(col("g"), col("rank").as("hi"), col("v").as("v_hi"))
    positions
      .join(vLo, Seq("g", "lo"))
      .join(vHi, Seq("g", "hi"))
      .withColumn(
        "value",
        when(col("hi") === col("lo") || col("v_lo") === col("v_hi"), col("v_lo"))
          .otherwise(
            (col("hi").cast("double") - col("pos")) * col("v_lo") +
              (col("pos") - col("lo").cast("double")) * col("v_hi")))
      .select("g", "p", "value")
  }
}
