package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.QualityModel

/** The DataFrame-aggregate forms of the engine's trainers, kept as the
  * references the equivalence specs compare the RDD trainers with bit
  * for bit — and as the replay contract spelled in SQL terms. Each
  * iteration here is a SQL aggregate; no query path uses them.
  */
object TrainerReference {

  /** Lloyd over `m` subspaces of `k` clusters, each iteration one
    * `groupBy` over (subspace, cluster, dim) cells with the mean
    * `CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*)`.
    * Init = the k smallest-id vectors; argmin strict `<` per subspace;
    * an empty cluster keeps its centroid. `m = 1` is IVF.
    */
  def lloyd(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int): Array[Array[Array[Double]]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val data = df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
    val init = data.orderBy(col(idCol)).take(k).map(_._2)
    val d = init(0).length / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m, k)((s, c) => init(c).slice(s * d, s * d + d))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(books)
      val cells = data.flatMap { case (_, v) =>
        val bks = bc.value
        (0 until bks.length).iterator.flatMap { s =>
          val cb = bks(s)
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < cb.length) {
            var dd = 0.0; var i = 0
            while (i < d) { val x = v(s * d + i) - cb(c)(i); dd += x * x; i += 1 }
            if (dd < bestD) { bestD = dd; best = c }
            c += 1
          }
          (0 until d).map(i => (s, best, i, v(s * d + i)))
        }
      }.toDF("s", "c", "i", "x")
      val means = cells
        .groupBy("s", "c", "i")
        .agg((sum(col("x").cast("decimal(28,14)")).cast("double") / count(lit(1))).as("mu"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .foreach { case ((s, c), rows) =>
          val arr = new Array[Double](d)
          rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
          next(s)(c) = arr
        }
      books = next
    }
    books
  }

  /** Binary-quantization thresholds: the per-dimension corpus mean
    * under the same decimal contract.
    */
  def bq(corpus: DataFrame, vecCol: String): Array[Double] =
    corpus
      .select(posexplode(transform(col(vecCol), _.cast("double"))).as(Seq("i", "x")))
      .groupBy("i")
      .agg((sum(col("x").cast("decimal(28,14)")).cast("double") / count(lit(1))).as("t"))
      .orderBy("i")
      .collect()
      .map(_.getDouble(1))

  /** [[QualityModel.trainScore]] as one DataFrame aggregate per step:
    * gradient grains `round(r·1e9)` / `round((r·x)·1e9)` summed as
    * DECIMAL(38,0).
    */
  def qualityScore(
      features: DataFrame,
      xCols: Seq[String],
      yCol: String,
      iters: Int = 8,
      lr: Double = 4.0
  ): QualityModel.Trained = {
    import QualityModel.{affine, link}
    val f = features.localCheckpoint()
    val grain = lit(1e9)
    val w = Array.fill(xCols.size + 1)(0.0)
    var n = -1.0
    for (_ <- 1 to iters) {
      val r = link(affine(w.toIndexedSeq, xCols)) - col(yCol)
      val grains =
        (sum(round(r * grain).cast(DecimalType(38, 0))).as("g0") +:
          xCols.zipWithIndex.map { case (c, i) =>
            sum(round((r * col(c)) * grain).cast(DecimalType(38, 0))).as(s"g${i + 1}")
          }) :+ count(lit(1)).as("n")
      val sums = f.agg(grains.head, grains.tail: _*).head()
      if (n < 0) n = sums.getLong(xCols.size + 1).toDouble
      for (j <- w.indices) {
        val g = sums.getDecimal(j).doubleValue() / 1e9 / n
        w(j) = w(j) - lr * g
      }
    }
    QualityModel.Trained(w.toSeq, f.withColumn("score", link(affine(w.toIndexedSeq, xCols))))
  }
}
