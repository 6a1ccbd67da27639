package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Sketches, VectorKernels}
import graft.queries.Tables

/** Per-layer probes of the `functions` kernels and the `queries` table
  * scans, run in traced runs of the workloads that read the corpus.
  *
  * A kernel's cost is the SQL function applied to every row of a cached
  * table and forced by an aggregate, minus the same aggregate over an
  * input-only expression, per row: the kernel's own time, without the
  * scan or the job overhead. Each aggregate takes the minimum of
  * [[Repeats]] runs (scheduling and collection pauses only ever add
  * time), and the tables are replicated until the cheapest kernels (tens
  * of ns per row) add tens of milliseconds to an aggregate.
  */
object Probes {
  private val VectorReplicas = 200
  private val DocReplicas = 80
  private val Repeats = 5

  private def seconds(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Fastest of [[Repeats]] runs of `SELECT sum(expr) FROM table`, in seconds. */
  private def aggregate(spark: SparkSession, table: String, expr: String): Double =
    (1 to Repeats).map(_ => seconds(spark.sql(s"SELECT sum($expr) FROM $table").collect())).min

  def run(spark: SparkSession, corpusDir: String): Map[String, Double] = {
    VectorKernels.register(spark)
    Sketches.register(spark)
    val t = Tables(spark, corpusDir)
    val scans = Map(
      "queries.scan_documents_ms" -> Stats.median((1 to Repeats).map(_ =>
        seconds(Tables(spark, corpusDir).documents.count()) * 1000)),
      "queries.scan_embeddings_ms" -> Stats.median((1 to Repeats).map(_ =>
        seconds(Tables(spark, corpusDir).embeddings.count()) * 1000)))
    def cached(df: DataFrame, name: String, replicas: Int): Long = {
      df.crossJoin(spark.range(replicas).toDF("rep")).cache().createOrReplaceTempView(name)
      spark.table(name).count()
    }
    val nVec = cached(t.embeddings.select(
      col("embedding").cast("array<double>").as("v"))
      .withColumn("codes", expr(s"sq8_pack(v, array_repeat(-1.0D, ${Corpus.Dim}), array_repeat(2.0D / 255, ${Corpus.Dim}))"))
      .withColumn("qw", expr("transform(v, x -> x * 0.5D)")), "pb_vectors", VectorReplicas)
    val nDoc = cached(t.documents.select(col("text"))
      .withColumn("sig", expr("minhash_sig(text, 3, 64)"))
      .withColumn("sig2", expr("reverse(minhash_sig(text, 3, 64))")), "pb_docs", DocReplicas)
    // each baseline reads exactly the columns its kernels read
    val baselines = scala.collection.mutable.Map.empty[(String, String), Double]
    def perRow(table: String, rows: Long, kernel: String, baseline: String): Double = {
      val base = baselines.getOrElseUpdate((table, baseline), aggregate(spark, table, baseline))
      math.max(0.0, (aggregate(spark, table, kernel) - base) * 1e9 / rows)
    }
    val out = Map(
      "functions.vec_dot_ns_per_row" -> perRow("pb_vectors", nVec, "vec_dot(v, v)", "size(v)"),
      "functions.hyperplane_sig_ns_per_row" -> perRow("pb_vectors", nVec, "hyperplane_sig(v, 16, 7)", "size(v)"),
      "functions.sq8_adc_ns_per_row" ->
        perRow("pb_vectors", nVec, "sq8_adc(qw, codes)", "size(qw) + length(codes)"),
      "functions.gram_xxhashes_ns_per_row" ->
        perRow("pb_docs", nDoc, "size(gram_xxhashes(text, 3))", "length(text)"),
      "functions.minhash_sig_ns_per_row" ->
        perRow("pb_docs", nDoc, "size(minhash_sig(text, 3, 64))", "length(text)"),
      "functions.long_eq_count_ns_per_row" ->
        perRow("pb_docs", nDoc, "long_eq_count(sig, sig2)", "size(sig) + size(sig2)"))
    Seq("pb_vectors", "pb_docs").foreach { n =>
      spark.catalog.uncacheTable(n)
      spark.catalog.dropTempView(n)
    }
    scans ++ out
  }

  val names: Seq[String] = Seq("queries.scan_documents_ms", "queries.scan_embeddings_ms",
    "functions.vec_dot_ns_per_row", "functions.hyperplane_sig_ns_per_row", "functions.sq8_adc_ns_per_row",
    "functions.gram_xxhashes_ns_per_row", "functions.minhash_sig_ns_per_row",
    "functions.long_eq_count_ns_per_row")
}
