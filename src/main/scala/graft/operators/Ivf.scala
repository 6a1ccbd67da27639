package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorKernels

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer assigns every vector to its nearest centroid; search
  * probes only the `nprobe` closest clusters and rescores exactly
  * inside them. The standard beyond-LSH scale path (FAISS-style IVF
  * flat, re-expressed on Spark):
  *
  *  - training: [[Lloyd]] with one subspace — each iteration is one
  *    `treeAggregate` job of exact per-(cluster, dim) sums, with the
  *    centroids broadcast;
  *  - index: one `cluster_id` column on the corpus — at scale the
  *    corpus is then REPARTITIONED/persisted by cluster_id, so a probe
  *    reads only its clusters' partitions;
  *  - search: per query, nearest `nprobe` centroids → exact cosine
  *    over those clusters' members only (≈ nprobe/k of the corpus).
  */
object Ivf {

  final case class Model(centroids: Array[Array[Double]]) {
    /** The `n` centroids nearest to vector `id`; `who` names the
      * operator in the error a vector of the wrong length raises.
      */
    def nearest(who: String, id: Long, v: Array[Double], n: Int): Seq[Int] = {
      Lloyd.requireLength(who, id, v, centroids(0).length)
      centroids.indices
        .map(i => (Lloyd.dist2(v, 0, centroids(i)), i))
        .sorted.take(n).map(_._2)
    }
  }

  /** The search-side parameter checks shared by every IVF route
    * (here and [[IvfPq]]): a `k` or `nprobe` below 1 would return an
    * empty frame instead of an answer.
    */
  private[operators] def requireProbe(k: Int, nprobe: Int): Unit = {
    Similarity.requireAtLeast1("k", k)
    Similarity.requireAtLeast1("nprobe", nprobe)
  }

  /** (query_id, cluster_id, qv): every query replicated to its
    * `nprobe` nearest clusters — the candidate generator of every IVF
    * route (here and [[IvfPq]]). Queries are the small side by
    * contract; only the k×d centroid model is broadcast.
    */
  private[operators] def probes(
      queries: DataFrame, idCol: String, vecCol: String, model: Model, nprobe: Int
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bcModel = spark.sparkContext.broadcast(model)
    toVec(queries, idCol, vecCol)
      .flatMap { case (qid, qv) =>
        bcModel.value.nearest("IVF probe", qid, qv, nprobe).map(c => (qid, c, qv))
      }
      .toDF("query_id", "cluster_id", "qv")
  }

  /** (id, vector) as (Long, Array[Double]): the decode that the Lloyd
    * trainer and every nearest-centroid kernel reads.
    */
  private[operators] def toVec(df: DataFrame, idCol: String, vecCol: String) = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
  }

  /** Lloyd's k-means: [[Lloyd.train]] with one subspace. Init = the
    * k smallest-id vectors and the means are decimal-exact, so the
    * centroids are bit-identical across runs and partitionings —
    * reproducible index builds, which the ss03/ss06/ss07/ss08 oracles
    * replay. The driver holds only the k×d model (e.g. 65536×768 at
    * the extreme end), never corpus rows; a sampled init (k-means‖)
    * would cut nothing, since any init shape pays the model transfer.
    */
  def train(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5
  ): Model = Model(Lloyd.train("IVF", df, idCol, vecCol, 1, k, iters).head)

  /** Stamp each corpus row with its cluster. At scale, follow with
    * `.repartition(col("cluster_id"))` + persist so probes are
    * partition-local reads.
    */
  def index(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    toVec(df, idCol, vecCol).mapPartitions { rows =>
      val cs = bc.value
      rows.map { case (id, v) =>
        Lloyd.requireLength("IVF index", id, v, cs(0).length)
        (id, v, Lloyd.nearest(cs, v, 0))
      }
    }.toDF(idCol, vecCol, "cluster_id")
  }

  /** Persist the indexed corpus as parquet PARTITIONED BY cluster_id —
    * the stored form of the scaladoc note on [[index]]: one directory
    * per cluster, so a probe search over the stored index reads only
    * the probed clusters' files. `repartition(cluster_id)` first, so
    * each cluster's rows land in few files instead of every task
    * writing a sliver into every partition directory.
    */
  def writeIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: Model,
      path: String
  ): Unit =
    index(df, idCol, vecCol, model)
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)

  /** Incremental index maintenance: assign a NEW embedding batch to the
    * EXISTING centroids and append it under the same cluster_id
    * partition layout — no re-clustering, no rewrite of the stored
    * corpus (at 100 TB a daily feed cannot re-run Lloyd over
    * everything; FAISS-style IVF lists grow the same way). Every
    * [[searchStored]] probe sees appended rows immediately because the
    * partition filter is directory-based. Centroid drift is the
    * operator's documented trade: retrain + full [[writeIndex]] on a
    * maintenance cadence, not per batch.
    *
    * After the append, small-file debt is compacted once the index
    * exceeds `maxFiles` parquet files (same trigger contract as
    * [[Dedup.maybeCompactIndexes]]); compaction preserves the
    * cluster_id partition layout, so pruning is untouched. Returns
    * true when a compaction ran.
    */
  def appendToIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: Model,
      path: String,
      maxFiles: Long = 256L
  ): Boolean = {
    val spark = df.sparkSession
    index(df, idCol, vecCol, model)
      .repartition(col("cluster_id"))
      .write.mode("append").partitionBy("cluster_id").parquet(path)
    if (graft.ops.Maintenance.parquetFileCount(spark, path) > maxFiles) {
      graft.ops.Maintenance.compact(spark, path,
        partitionCols = Seq("cluster_id"))
      true
    } else false
  }

  /** Search over a [[writeIndex]]-stored index with STATIC probe-cluster
    * partition pruning: the probed cluster set is computed from the
    * query vectors (the small side by contract — same bound as the
    * centroid model itself) and pushed as a `cluster_id IN (...)`
    * partition filter, so the parquet scan lists and reads ONLY the
    * probed clusters' directories — ≈ nprobe/k of a 100 TB corpus —
    * before the same equi-join rescore as [[search]]. Results are
    * bit-identical to [[search]] over the unstored index.
    */
  def searchStored(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: Model,
      k: Int,
      nprobe: Int,
      roundTo: Int = 4
  ): DataFrame = {
    requireProbe(k, nprobe)
    val probed = toVec(queries, idCol, vecCol).collect()
      .flatMap { case (qid, qv) => model.nearest("IVF probe", qid, qv, nprobe) }
      .distinct.sorted
    val stored = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probed.map(Int.box): _*))
    search(stored, queries, idCol, vecCol, model, k, nprobe, roundTo)
  }

  /** Probe search: top-k cosine among the members of each query's
    * `nprobe` nearest clusters. Ranking/rounding matches the exact
    * kernels: (rounded sim desc, id asc).
    *
    * Scale shape: the corpus NEVER leaves the executors — each query
    * is replicated to its `nprobe` probe clusters (queries are the
    * small side by contract) and candidates come from an EQUI-JOIN on
    * `cluster_id`, so the shuffle co-locates each cluster's members
    * with exactly the queries probing it (and with the corpus stored
    * partitioned by cluster_id, the scan side prunes to the probed
    * partitions). Only the k×d centroid model is broadcast. The dot/
    * norm arithmetic runs in the native [[graft.functions
    * .VectorKernels]] loops, whose fold order and `round` HALF_UP are
    * bit-identical to the previous imperative kernel and the oracle.
    */
  def search(
      indexed: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: Model,
      k: Int,
      nprobe: Int,
      roundTo: Int = 4
  ): DataFrame = {
    requireProbe(k, nprobe)
    val members = indexed.select(
      col(idCol).cast("long").as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"),
      col("cluster_id"))
      .withColumn("cn", sqrt(VectorKernels.vecDot(col("cv"), col("cv"))))
    val pairs = probes(queries, idCol, vecCol, model, nprobe)
      .withColumn("qn", sqrt(VectorKernels.vecDot(col("qv"), col("qv"))))
      .join(members, "cluster_id")
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), Similarity.roundedCosine(roundTo).as("sim"))
    Similarity.firstK(pairs, Seq("query_id"), k, "rank", desc("sim"), asc("corpus_id"))
      .select("query_id", "corpus_id", "sim", "rank")
  }

  /** IVF + SQ8 composed search (FAISS `IndexIVFScalarQuantizer` with a
    * refine step): the coarse probes bound the scan to nprobe/k of the
    * corpus via the same cluster_id equi-join as [[search]], the
    * within-cluster ranking runs in the SQ8 compressed domain (byte
    * codes + precomputed reconstructed norms — the scan never touches
    * raw vectors), and only the per-query `shortlist` survivors pay an
    * id equi-join back to exact vectors for the final rounded-cosine
    * rerank. Both rankings round before ordering with an id tiebreak,
    * so the DuckDB oracle replays coarse Lloyd + quantization + both
    * rankings bit for bit.
    */
  def searchSq8(
      indexed: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: Model,
      mn: Array[Double],
      step: Array[Double],
      shortlist: Int,
      k: Int,
      nprobe: Int,
      roundTo: Int = 4
  ): DataFrame = {
    requireProbe(k, nprobe)
    val q = Similarity.sq8Queries(queries, idCol, vecCol, mn, step)
    val mnL = lit(mn)
    val stepL = lit(step)
    val codes =
      VectorKernels.sq8Pack(transform(col(vecCol), _.cast("double")), mnL, stepL)
    val dq = VectorKernels.sq8Dequant(col("codes"), mnL, stepL)
    val members = indexed
      .select(col(idCol).cast("long").as("corpus_id"), col("cluster_id"), codes.as("codes"))
      .withColumn("dqn", sqrt(VectorKernels.vecDot(dq, dq)))
    val pairs = probes(queries, idCol, vecCol, model, nprobe)
      .drop("qv")
      .join(q.drop("qv"), "query_id")
      .join(members, "cluster_id")
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        round((col("qmin") + VectorKernels.sq8Adc(col("qw"), col("codes"))) /
          (col("qn") * col("dqn")), roundTo).as("adc"))
    Similarity.shortlistRerank(pairs, "adc", desc("adc"), shortlist, corpus, q,
      idCol, vecCol, k, roundTo)
  }
}
