package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ composed search — the FAISS `IndexIVFPQ` shape
  * (by_residual=false variant): the IVF coarse quantizer restricts
  * candidates to each query's `nprobe` probe clusters (≈ nprobe/k of
  * the corpus), and ranking inside those clusters runs in the
  * COMPRESSED domain via PQ asymmetric distance — the corpus
  * contributes only its m-byte codes, never float vectors. This is
  * the standard billion-scale ANN layout: IVF bounds the scan, PQ
  * bounds the bytes.
  *
  * Scale shape: queries replicate to their probe clusters (small side
  * by contract), candidates come from the `cluster_id` equi-join
  * against the indexed corpus (partition-prunable when the corpus is
  * stored partitioned by cluster), codes join on corpus id, and the
  * ADC evaluation is a map pass with only the k×d centroids and m×256
  * codebooks broadcast. No corpus-sized collect or broadcast anywhere.
  *
  * Determinism: coarse probes replay [[Ivf.train]]'s decimal-exact
  * Lloyd; ADC distances replay [[Pq]]'s subspace-ordered sums with
  * HALF_UP rounding — the whole pipeline is bit-reproducible and
  * oracle-replayable (the ss07 DuckDB query).
  */
object IvfPq {

  /** @param indexed corpus with `cluster_id` ([[Ivf.index]] output)
    * @param encoded corpus PQ codes ([[Pq.encode]] output)
    * @param queries small query side (replicated nprobe ways)
    */
  def search(
      indexed: DataFrame,
      encoded: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Ivf.Model,
      pq: Pq.Model,
      k: Int,
      nprobe: Int,
      roundTo: Int = 4
  ): DataFrame = {
    Ivf.requireProbe(k, nprobe)
    val spark = indexed.sparkSession
    import spark.implicits._
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcPq = spark.sparkContext.broadcast(pq)
    val probes = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .flatMap { case (qid, qv) =>
        bcCoarse.value.nearest(qv, nprobe).map(c => (qid, c, qv))
      }
      .toDF("query_id", "cluster_id", "qv")
    val cand = probes
      .join(indexed.select(col(idCol).cast("long").as("corpus_id"), col("cluster_id")),
        "cluster_id")
      .filter(col("corpus_id") =!= col("query_id"))
      .join(encoded.select(col(idCol).cast("long").as("corpus_id"), col("codes")), "corpus_id")
    val scale = roundTo
    val scored = cand
      .select(col("query_id"), col("qv"), col("corpus_id"), col("codes"))
      .as[(Long, Array[Double], Long, Array[Int])]
      .mapPartitions { rows =>
        val mod = bcPq.value
        val d = mod.subDim
        // ADC tables built once per (task, query) — queries are few
        val tables = scala.collection.mutable.HashMap.empty[Long, Array[Array[Double]]]
        rows.map { case (qid, qv, cid, code) =>
          val t = tables.getOrElseUpdate(qid,
            Array.tabulate(mod.m, mod.codebooks(0).length)((s, c) =>
              Pq.dist2(qv, mod.codebooks(s)(c), s * d)))
          var dist = 0.0; var s = 0
          while (s < mod.m) { dist += t(s)(code(s)); s += 1 }
          (qid, cid,
            BigDecimal(dist).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      .toDF("query_id", "corpus_id", "adc_dist")
    val w = Window.partitionBy("query_id").orderBy(asc("adc_dist"), asc("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "adc_dist", "rank")
  }

  /** Residual frame for `by_residual=true`: each indexed vector minus
    * its assigned centroid — `(id, residual, cluster_id)`. Residuals
    * concentrate around 0 regardless of which cluster a vector sits
    * in, so one PQ codebook set quantizes them far better than the
    * raw space — the reason residual encoding is the FAISS default.
    * Map-only with the k×d centroids broadcast; IEEE subtraction is
    * exact, so the downstream Lloyd/ADC replay stays bit-exact.
    */
  def residuals(
      indexed: DataFrame, idCol: String, vecCol: String, coarse: Ivf.Model): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(coarse.centroids)
    indexed
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"), col("cluster_id"))
      .as[(Long, Array[Double], Int)]
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v, c) =>
          val cv = cs(c)
          val r = new Array[Double](v.length)
          var i = 0
          while (i < v.length) { r(i) = v(i) - cv(i); i += 1 }
          (id, r, c)
        }
      }
      .toDF(idCol, vecCol, "cluster_id")
  }

  /** Residual IVF-PQ search (`by_residual=true`): probes are chosen on
    * RAW query-to-centroid distance, but inside a probed cluster the
    * query is re-expressed as its residual against THAT cluster's
    * centroid and ranked against the corpus residual codes — one ADC
    * table per (query, probe cluster). Same distributed shape as
    * [[search]]; `pq`/`encoded` must come from [[residuals]] of the
    * same `indexed`/`coarse`.
    */
  def residualSearch(
      indexed: DataFrame,
      encoded: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Ivf.Model,
      pq: Pq.Model,
      k: Int,
      nprobe: Int,
      roundTo: Int = 4
  ): DataFrame = {
    Ivf.requireProbe(k, nprobe)
    val spark = indexed.sparkSession
    import spark.implicits._
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcPq = spark.sparkContext.broadcast(pq)
    val probes = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .flatMap { case (qid, qv) =>
        bcCoarse.value.nearest(qv, nprobe).map(c => (qid, c, qv))
      }
      .toDF("query_id", "cluster_id", "qv")
    val cand = probes
      .join(indexed.select(col(idCol).cast("long").as("corpus_id"), col("cluster_id")),
        "cluster_id")
      .filter(col("corpus_id") =!= col("query_id"))
      .join(encoded.select(col(idCol).cast("long").as("corpus_id"), col("codes")), "corpus_id")
    val scale = roundTo
    val scored = cand
      .select(col("query_id"), col("cluster_id"), col("qv"), col("corpus_id"), col("codes"))
      .as[(Long, Int, Array[Double], Long, Array[Int])]
      .mapPartitions { rows =>
        val cs = bcCoarse.value.centroids
        val mod = bcPq.value
        val d = mod.subDim
        // one table per (query, probe cluster): ADC against the
        // query's residual w.r.t. that cluster's centroid
        val tables = scala.collection.mutable.HashMap.empty[(Long, Int), Array[Array[Double]]]
        rows.map { case (qid, c, qv, cid, code) =>
          val t = tables.getOrElseUpdate((qid, c), {
            val cv = cs(c)
            val qr = new Array[Double](qv.length)
            var i = 0
            while (i < qv.length) { qr(i) = qv(i) - cv(i); i += 1 }
            Array.tabulate(mod.m, mod.codebooks(0).length)((s, cc) =>
              Pq.dist2(qr, mod.codebooks(s)(cc), s * d))
          })
          var dist = 0.0; var s = 0
          while (s < mod.m) { dist += t(s)(code(s)); s += 1 }
          (qid, cid,
            BigDecimal(dist).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      .toDF("query_id", "corpus_id", "adc_dist")
    val w = Window.partitionBy("query_id").orderBy(asc("adc_dist"), asc("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "adc_dist", "rank")
  }
}
