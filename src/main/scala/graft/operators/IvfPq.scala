package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ composed search — the FAISS `IndexIVFPQ` shape, both its
  * by_residual variants: the IVF coarse quantizer restricts
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
  * Determinism: coarse probes replay [[Lloyd]]'s decimal-exact
  * training; ADC distances replay [[Pq]]'s subspace-ordered sums with
  * HALF_UP rounding — the whole pipeline is bit-reproducible and
  * oracle-replayable (the ss07 and ss08 DuckDB queries).
  */
object IvfPq {

  /** IVF-PQ search. Probes are chosen on RAW query-to-centroid
    * distance; the two values of `byResidual` are the two FAISS
    * encodings:
    *
    *  - false (ss07): `pq`/`encoded` quantize the raw vectors, and
    *    each query ranks against the codes with one ADC table per query;
    *  - true (ss08, FAISS `by_residual=true`): `pq`/`encoded` must come
    *    from [[residuals]] of the same `indexed`/`coarse`. Inside a
    *    probed cluster the query is re-expressed as its residual
    *    against THAT cluster's centroid and ranked against the corpus
    *    residual codes — one ADC table per (query, probe cluster).
    *
    * @param indexed corpus with `cluster_id` ([[Ivf.index]] output)
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
      byResidual: Boolean = false,
      roundTo: Int = 4
  ): DataFrame = {
    Ivf.requireProbe(k, nprobe)
    val spark = indexed.sparkSession
    import spark.implicits._
    val bcPq = spark.sparkContext.broadcast(pq)
    val cand = Ivf.probes(queries, idCol, vecCol, coarse, nprobe)
      .join(indexed.select(col(idCol).cast("long").as("corpus_id"), col("cluster_id")),
        "cluster_id")
      .filter(col("corpus_id") =!= col("query_id"))
      .join(encoded.select(col(idCol).cast("long").as("corpus_id"), col("codes")), "corpus_id")
    // ADC tables built once per (task, query) — queries are few
    val scored =
      if (!byResidual) cand
        .select(col("query_id"), col("qv"), col("corpus_id"), col("codes"))
        .as[(Long, Array[Double], Long, Array[Int])]
        .mapPartitions { rows =>
          val mod = bcPq.value
          val tables = scala.collection.mutable.HashMap.empty[Long, Array[Array[Double]]]
          rows.map { case (qid, qv, cid, code) =>
            val t = tables.getOrElseUpdate(qid, Pq.adcTable("IVF-PQ ADC", mod, qid, qv))
            (qid, cid, Pq.adcDist(t, code, roundTo))
          }
        }
      else {
        val bcCentroids = spark.sparkContext.broadcast(coarse.centroids)
        cand
          .select(col("query_id"), col("cluster_id"), col("qv"), col("corpus_id"), col("codes"))
          .as[(Long, Int, Array[Double], Long, Array[Int])]
          .mapPartitions { rows =>
            val cs = bcCentroids.value
            val mod = bcPq.value
            val tables = scala.collection.mutable.HashMap.empty[(Long, Int), Array[Array[Double]]]
            rows.map { case (qid, c, qv, cid, code) =>
              val t = tables.getOrElseUpdate((qid, c),
                Pq.adcTable("IVF-PQ ADC", mod, qid, minus(qv, cs(c))))
              (qid, cid, Pq.adcDist(t, code, roundTo))
            }
          }
      }
    Similarity.firstK(scored.toDF("query_id", "corpus_id", "adc_dist"), Seq("query_id"), k,
      "rank", asc("adc_dist"), asc("corpus_id"))
      .select("query_id", "corpus_id", "adc_dist", "rank")
  }

  private def minus(v: Array[Double], c: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i) - c(i); i += 1 }
    r
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
        rows.map { case (id, v, c) => (id, minus(v, cs(c)), c) }
      }
      .toDF(idCol, vecCol, "cluster_id")
  }
}
