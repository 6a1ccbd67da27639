package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): split the vector into
  * `m` subspaces, k-means each subspace independently, store one byte
  * (k ≤ 256) per subspace per vector — 64 dims × float32 compress to
  * `m` bytes (64× at m=4) — and search in the COMPRESSED domain via
  * ADC (asymmetric distance): per query, precompute the k×m table of
  * subspace distances, then a corpus vector's distance is m table
  * lookups, no float vectors touched.
  *
  * Spark shape: training reuses [[Ivf.train]]'s deterministic Lloyd
  * (decimal-exact means, smallest-id init) per subspace slice, so the
  * WHOLE pipeline — codebooks, codes, ADC ranking — replays bit-exact
  * in the DuckDB oracle. Encoding and search are map-only passes with
  * the codebooks broadcast (a few KB).
  */
object Pq {

  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def subDim: Int = codebooks(0)(0).length
  }

  private[operators] def dist2(a: Array[Double], b: Array[Double], aOff: Int): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { val d = a(aOff + i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Per-query ADC table: (subspace, centroid) → squared distance from
    * the query's subvector to that codebook entry.
    */
  private[operators] def adcTable(mod: Model, q: Array[Double]): Array[Array[Double]] =
    Array.tabulate(mod.m, mod.codebooks(0).length)((s, c) =>
      dist2(q, mod.codebooks(s)(c), s * mod.subDim))

  /** ADC distance of one code: table terms summed in subspace order,
    * rounded HALF_UP to `roundTo` — the order the oracle replays.
    */
  private[operators] def adcDist(t: Array[Array[Double]], code: Array[Int], roundTo: Int): Double = {
    var dist = 0.0; var s = 0
    while (s < t.length) { dist += t(s)(code(s)); s += 1 }
    BigDecimal(dist).setScale(roundTo, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Deterministic Lloyd for ALL subspaces jointly — mathematically
    * the per-subspace training run side by side (subspaces never
    * interact), but each iteration is ONE assign/aggregate job over
    * (subspace, cluster, dim) cells instead of m separate jobs.
    * Same decimal-exact means and smallest-id init as [[Ivf.train]],
    * so the DuckDB oracle still replays each subspace chain
    * independently.
    */
  def train(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dim: Int): Model = {
    require(m >= 1, s"m must be at least 1, got $m")
    require(k >= 1, s"k must be at least 1, got $k")
    require(iters >= 0, s"iters must be at least 0, got $iters")
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val d = dim / m
    val spark = df.sparkSession
    import spark.implicits._
    val data = df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
    val init = data.orderBy(col(idCol)).take(k).map(_._2)
    require(init.length == k,
      s"PQ training needs at least k=$k vectors, found only ${init.length}")
    require(init.forall(_.length >= dim),
      s"every training vector must have at least dim=$dim components")
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
            val dd = dist2(v, cb(c), s * d); if (dd < bestD) { bestD = dd; best = c }; c += 1
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
          next(s)(c) = arr // clusters with no members keep prior centroid
        }
      books = next
    }
    Model(books)
  }

  /** (id, codes array<int>) — one nearest-centroid index per
    * subspace; map-only with the model broadcast.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val mod = bc.value
        val d = mod.subDim
        rows.map { case (id, v) =>
          val codes = new Array[Int](mod.m)
          var s = 0
          while (s < mod.m) {
            val cb = mod.codebooks(s)
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < cb.length) {
              val dd = dist2(v, cb(c), s * d)
              if (dd < bestD) { bestD = dd; best = c }
              c += 1
            }
            codes(s) = best
            s += 1
          }
          (id, codes)
        }
      }
      .toDF(idCol, "codes")
  }

  /** ADC top-k: for each query, distance to a corpus vector =
    * Σ_s dist2(query_sub_s, codebook_s(code_s)) — subspace terms
    * summed in subspace order (fixed association; the oracle replays
    * it).
    *
    * Distribution is INVERTED from the naive shape: the (tiny)
    * codebooks + queries are broadcast, the corpus CODES STAY
    * DISTRIBUTED. Each codes partition builds the per-query ADC
    * tables once, scans its codes maintaining a bounded k-heap per
    * query, and emits ≤ k candidates per (partition, query); a final
    * window merges them into the global top-k. Per-task memory is
    * O(|queries| × (m×k_centroids + k)) regardless of corpus size —
    * a billion-row corpus never touches the driver.
    *
    * Ranking is deterministic — (rounded dist asc, corpus_id asc) —
    * and partition-invariant: every global top-k row is in its own
    * partition's top-k under the same total order.
    */
  def adcSearch(
      encoded: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      model: Model, k: Int, roundTo: Int = 4): DataFrame = {
    Similarity.requireAtLeast1("k", k)
    val spark = encoded.sparkSession
    import spark.implicits._
    // queries are the small side by contract (same as bruteForceKnn)
    val qArr = queries.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val bcModel = spark.sparkContext.broadcast(model)
    val bcQ = spark.sparkContext.broadcast(qArr)
    val partial = encoded.select(col(idCol).cast("long"), col("codes"))
      .as[(Long, Array[Int])]
      .mapPartitions { rows =>
        val mod = bcModel.value
        val qs = bcQ.value
        // ADC tables: per (query, subspace, centroid), built once per task
        val tables = qs.map { case (_, qv) => adcTable(mod, qv) }
        val ord = Ordering.Tuple2[Double, Long]
        // max-heap on (dist, cid): head is the current worst keeper
        val heaps = Array.fill(qs.length)(
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(ord))
        rows.foreach { case (cid, code) =>
          var qi = 0
          while (qi < qs.length) {
            if (qs(qi)._1 != cid) {
              val r = adcDist(tables(qi), code, roundTo)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((r, cid))
              else if (ord.lt((r, cid), h.head)) { h.dequeue(); h.enqueue((r, cid)) }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          val qid = qs(qi)._1
          h.iterator.map { case (r, cid) => (qid, cid, r) }
        }
      }
      .toDF("query_id", "corpus_id", "adc_dist")
    Similarity.firstK(partial, Seq("query_id"), k, "rank", asc("adc_dist"), asc("corpus_id"))
      .select("query_id", "corpus_id", "adc_dist", "rank")
  }

  /** The standard production PQ pattern: ADC selects a `shortlist`
    * (cheap, compressed domain), exact float distances re-rank only
    * those candidates — recall of the exact metric at a fraction of
    * its cost. The rescore is `vec_dist2` (left fold from 0.0), so
    * the oracle replays shortlist AND re-ranking exactly.
    */
  def adcRerank(
      encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, model: Model,
      shortlist: Int, k: Int, roundTo: Int = 4): DataFrame = {
    Similarity.requireAtLeast1("shortlist", shortlist)
    Similarity.requireAtLeast1("k", k)
    val short = adcSearch(encoded, queries, idCol, vecCol, model, shortlist, roundTo)
      .select("query_id", "corpus_id")
    val qv = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("qv"))
    val cv = corpus.select(col(idCol).as("corpus_id"),
      transform(col(vecCol), _.cast("double")).as("cv"))
    val exact = short
      .join(qv, "query_id")
      .join(cv, "corpus_id")
      .withColumn("exact_d",
        round(graft.functions.VectorKernels.vecDist2(col("qv"), col("cv")), roundTo))
    Similarity.firstK(exact, Seq("query_id"), k, "rank", asc("exact_d"), asc("corpus_id"))
      .select("query_id", "corpus_id", "exact_d", "rank")
  }
}
