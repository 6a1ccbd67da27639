package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.Decimal

/** Exact integer sums over `n` cells, independent of the order the
  * values arrive in: each cell is a Long, and an addition that would
  * overflow it first spills the Long into a BigInt. Partials from any
  * partitioning [[merge]] to the same sums.
  */
private[operators] final class ExactSums(val n: Int) extends Serializable {
  private val lo = new Array[Long](n)
  private var hi: Array[BigInt] = null

  def add(j: Int, g: Long): Unit = {
    val s = lo(j) + g
    if (((lo(j) ^ s) & (g ^ s)) < 0) { spill(j, lo(j)); lo(j) = g } // overflowed
    else lo(j) = s
  }

  def add(j: Int, g: java.math.BigInteger): Unit =
    if (g.bitLength < 64) add(j, g.longValue) else spill(j, BigInt(g))

  private def spill(j: Int, b: BigInt): Unit = {
    if (hi == null) hi = Array.fill(n)(BigInt(0))
    hi(j) += b
  }

  def merge(o: ExactSums): ExactSums = {
    var j = 0
    while (j < n) {
      add(j, o.lo(j))
      if (o.hi != null) spill(j, o.hi(j))
      j += 1
    }
    this
  }

  def apply(j: Int): BigInt = if (hi == null) BigInt(lo(j)) else hi(j) + lo(j)
}

/** The one deterministic Lloyd trainer behind [[Ivf.train]] (one
  * subspace), [[Pq.train]] (`m` subspaces side by side — they never
  * interact) and [[Similarity.bqTrain]] (one cluster, one pass: the
  * corpus mean), and the one nearest-centroid kernel that every
  * training, index and encode assignment uses.
  *
  *  - init: the k smallest-id vectors. The smallest id's length is the
  *    model dimension; every vector must have exactly that length.
  *  - assign: squared L2 per subspace, strict `<`, so the lowest
  *    centroid index wins a tie.
  *  - update: per (subspace, cluster, dim) cell the mean
  *    `CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*)`, in
  *    Spark's own [[Decimal]]: each value is cast HALF_UP, the
  *    unscaled values are summed as exact integers ([[ExactSums]]),
  *    so the centroid bits do not depend on partitioning or merge
  *    order. An empty cluster keeps its centroid. The DuckDB oracles
  *    replay this chain bit for bit.
  *
  * The (id, vector) RDD is built once; each iteration is ONE
  * `treeAggregate` job over it with the centroids broadcast. Only the
  * m×k×d cell sums reach the driver — sized by the model, never by
  * the corpus — and no SQL plan is built per iteration.
  */
private[operators] object Lloyd {

  /** Squared L2 distance between `c` and v[off, off + c.length),
    * folded left from 0.0.
    */
  def dist2(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { val d = v(off + i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Index of the centroid in `cb` nearest to the slice of `v` at
    * `off`; strict `<`, so the lowest index wins a tie.
    */
  def nearest(cb: Array[Array[Double]], v: Array[Double], off: Int): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cb.length) {
      val d = dist2(v, off, cb(c)); if (d < bestD) { bestD = d; best = c }; c += 1
    }
    best
  }

  /** Adds v[off, off + d) to cells base… as `CAST(x AS DECIMAL(28,14))`
    * does it (Spark's Decimal, HALF_UP), as unscaled integers x·10^14.
    * Where the cast fails, throws naming `who`, the vector and the
    * value: |x| ≥ 10^14, and also NaN and ±Inf, which the SQL cast
    * turns into a NULL that `SUM` would skip while `COUNT(*)` still
    * counts the row.
    */
  def addCast(who: String, id: Any, sums: ExactSums, base: Int, v: Array[Double], off: Int, d: Int): Unit = {
    var i = 0
    while (i < d) {
      val x = v(off + i)
      val dec = if (java.lang.Double.isFinite(x)) Decimal(x) else null
      if (dec == null || !dec.changePrecision(28, 14)) throw new ArithmeticException(
        s"$who: vector $id component ${off + i} = $x cannot be represented as Decimal(28, 14)")
      sums.add(base + i, dec.toJavaBigDecimal.unscaledValue)
      i += 1
    }
  }

  def requireLength(who: String, id: Any, v: Array[Double], dim: Int): Unit = {
    val n = if (v == null) 0 else v.length
    require(n == dim, s"$who: vector $id has $n components, expected $dim")
  }

  /** `CAST(sum AS DOUBLE) / n` for the DECIMAL(38,14) sum whose
    * unscaled value is `sum`.
    */
  def mean(sum: BigInt, n: Long): Double =
    Decimal(new java.math.BigDecimal(sum.bigInteger, 14), 38, 14).toDouble / n

  /** `iters` Lloyd iterations over `m` subspaces of k clusters each;
    * returns the codebooks, indexed (subspace, cluster, dim). `name`
    * prefixes every error.
    */
  def train(
      name: String, df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): Array[Array[Array[Double]]] = {
    Similarity.requireAtLeast1("m", m)
    Similarity.requireAtLeast1("k", k)
    require(iters >= 0, s"iters must be at least 0, got $iters")
    val data = Ivf.toVec(df, idCol, vecCol).rdd
    val init = data.takeOrdered(k)(Ordering.by(_._1))
    require(init.length == k,
      s"$name training needs at least k=$k vectors, found only ${init.length}")
    val who = s"$name training"
    val dim = Option(init(0)._2).fold(0)(_.length)
    init.foreach { case (id, v) => requireLength(who, id, v, dim) }
    require(dim >= m && dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val d = dim / m
    val cells = m * k * d // the sums; the m×k counts follow them
    var books = Array.tabulate(m, k)((s, c) => init(c)._2.slice(s * d, s * d + d))
    for (_ <- 0 until iters) {
      val bc = df.sparkSession.sparkContext.broadcast(books)
      val sums = data.treeAggregate(new ExactSums(cells + m * k))(
        { case (acc, (id, v)) =>
          requireLength(who, id, v, dim)
          var s = 0
          while (s < m) {
            val c = nearest(bc.value(s), v, s * d)
            addCast(who, id, acc, (s * k + c) * d, v, s * d, d)
            acc.add(cells + s * k + c, 1L)
            s += 1
          }
          acc
        },
        _ merge _)
      books = Array.tabulate(m, k) { (s, c) =>
        val n = sums(cells + s * k + c).toLong
        if (n == 0) books(s)(c) // an empty cluster keeps its centroid
        else Array.tabulate(d)(i => mean(sums((s * k + c) * d + i), n))
      }
    }
    books
  }
}
