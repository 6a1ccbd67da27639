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
  * Spark shape: training is the deterministic [[Lloyd]] trainer that
  * [[Ivf.train]] runs with one subspace (decimal-exact means,
  * smallest-id init), here over `m` subspace slices, so the WHOLE
  * pipeline — codebooks, codes, ADC ranking — replays bit-exact in the
  * DuckDB oracle. Encoding and search are map-only passes with the
  * codebooks broadcast (a few KB).
  */
object Pq {

  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def subDim: Int = codebooks(0)(0).length
  }

  /** Per-query ADC table: (subspace, centroid) → squared distance from
    * query `id`'s subvector to that codebook entry. `who` names the
    * operator in the error a query of the wrong length raises.
    */
  private[operators] def adcTable(
      who: String, mod: Model, id: Long, q: Array[Double]): Array[Array[Double]] = {
    Lloyd.requireLength(who, id, q, mod.m * mod.subDim)
    Array.tabulate(mod.m, mod.codebooks(0).length)((s, c) =>
      Lloyd.dist2(q, s * mod.subDim, mod.codebooks(s)(c)))
  }

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
    * interact), but each iteration is ONE [[Lloyd.train]] job over
    * (subspace, cluster, dim) cells instead of m separate jobs. The
    * subspace width is the vectors' length / `m`; the DuckDB oracle
    * replays each subspace chain independently.
    */
  def train(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int, iters: Int): Model =
    Model(Lloyd.train("PQ", df, idCol, vecCol, m, k, iters))

  /** (id, codes array<int>) — one nearest-centroid index per
    * subspace; map-only with the model broadcast.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    Ivf.toVec(df, idCol, vecCol)
      .mapPartitions { rows =>
        val mod = bc.value
        rows.map { case (id, v) =>
          Lloyd.requireLength("PQ encode", id, v, mod.m * mod.subDim)
          (id, Array.tabulate(mod.m)(s => Lloyd.nearest(mod.codebooks(s), v, s * mod.subDim)))
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
    val qArr = Ivf.toVec(queries, idCol, vecCol).collect().sortBy(_._1)
    val bcModel = spark.sparkContext.broadcast(model)
    val bcQ = spark.sparkContext.broadcast(qArr)
    val partial = encoded.select(col(idCol).cast("long"), col("codes"))
      .as[(Long, Array[Int])]
      .mapPartitions { rows =>
        val mod = bcModel.value
        val qs = bcQ.value
        // ADC tables: per (query, subspace, centroid), built once per task
        val tables = qs.map { case (qid, qv) => adcTable("PQ ADC", mod, qid, qv) }
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
