package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a TESTDATA.md sf directory: replicates
  * every fact table N times with consistent key shifts (dimension
  * tables `region`/`nation` stay fixed, as in TPC-H where their
  * cardinality is scale-independent), so foreign keys remain valid and
  * every key stays unique. Used to materialize sf1 (= sf0.1 × 10) for
  * the scale-notch-up oracle gate + bench without touching the
  * driver-owned read-only `/root/testdata`.
  *
  * Replicas beyond the first are decorrelated where identity copies
  * would distort the workload:
  *   - `documents.text`: words are Fisher–Yates-permuted with a seed
  *     derived from (doc_id, replica). Token/char statistics (counts,
  *     quality ratios, language id) are preserved, but sequential
  *     shingles change, so near-dup structure stays per-replica instead
  *     of collapsing every document into a 10-clique of exact copies.
  *     `n_chars` is recomputed (single-space joins preserve it anyway).
  *   - `embeddings.embedding`: a small deterministic per-component
  *     perturbation (±5e-4) followed by re-normalization to unit length
  *     (the base vectors are unit-norm), so KNN distances stay fully
  *     ordered instead of producing 10-way exact-distance ties.
  *
  * `sbt "runMain graft.tools.GenData <baseDir> <outDir> [replicas=10]"`.
  */
object GenData {
  /** splitmix64 finalizer — stable scalar hash for seeds/perturbation. */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d9d129c98f67cdL
    x ^ (x >>> 31)
  }

  private def permuteWords(text: String, seed: Long): String = {
    val words = text.split(" ", -1)
    var i = words.length - 1
    var s = seed
    while (i > 0) {
      s = mix64(s)
      val j = (((s % (i + 1)) + (i + 1)) % (i + 1)).toInt
      val t = words(i); words(i) = words(j); words(j) = t
      i -= 1
    }
    words.mkString(" ")
  }

  private def perturbVec(vec: Seq[Float], seed: Long): Seq[Float] = {
    val out = new Array[Float](vec.length)
    var i = 0
    while (i < vec.length) {
      val h = mix64(seed * 1315423911L + i)
      out(i) = vec(i) + ((h % 1001L) * 1e-6).toFloat // ±5e-4
      i += 1
    }
    val norm = math.sqrt(out.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble))
    out.map(v => (v / norm).toFloat).toSeq
  }

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.Sessions.LocalFsImpl._1, graft.Sessions.LocalFsImpl._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, base, out, replicas)
    spark.stop()
  }

  /** Core generation, reusable from an existing session (Bench calls
    * this to materialize the sf1 dir on first use).
    */
  def generate(spark: SparkSession, base: String, out: String,
               replicas: Int): Unit = {
    // events.ts has shipped as TIMESTAMP(NANOS), micros-NTZ, and LTZ
    // across driver rounds; normalize on read exactly as the query
    // surface does (graft.queries.Tables.normalizeTs), and write back in
    // the SOURCE's surfaced encoding so the scale-notch data exercises
    // the same Tables boundary as the driver's own files. Exception:
    // Spark cannot write TIMESTAMP(NANOS); that source falls back to LTZ
    // micros — bit-identical values, since every consumer truncates
    // nanos to micros anyway.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def rawEventsTsType = spark.read.parquet(s"$base/events.parquet").schema("ts").dataType
    def read(t: String): DataFrame = {
      val raw = spark.read.parquet(s"$base/$t.parquet")
      if (t == "events") graft.queries.Tables.normalizeTs(raw, "ts") else raw
    }
    def write(df: DataFrame, t: String, files: Int): Unit = {
      val encoded =
        if (t == "events" && rawEventsTsType == org.apache.spark.sql.types.TimestampNTZType)
          df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
        else df
      encoded.repartition(files).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    // key stride per table = max+1 (keys are dense 0-based in the base data)
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // dimension tables: fixed cardinality at every scale factor
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    /** Union of `replicas` copies with each listed key shifted by
      * i*stride; `extra` post-processes each replica (i passed in).
      */
    def scaled(t: String, shifts: Map[String, Long],
               extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val src = read(t)
      (0 until replicas).map { i =>
        val shifted = shifts.foldLeft(src) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(i * s))
        }
        extra(shifted, i)
      }.reduce(_ unionAll _)
    }

    val custS = stride(read("customer"), "c_custkey")
    val suppS = stride(read("supplier"), "s_suppkey")
    val partS = stride(read("part"), "p_partkey")
    val ordS = stride(read("orders"), "o_orderkey")
    val evS = stride(read("events"), "event_id")
    val userS = read("events").agg(max(col("user_id"))).head.getLong(0) + 1L
    val docS = stride(read("documents"), "doc_id")
    val vecS = stride(read("embeddings"), "vec_id")

    write(scaled("customer", Map("c_custkey" -> custS)), "customer", 4)
    write(scaled("supplier", Map("s_suppkey" -> suppS)), "supplier", 1)
    write(scaled("part", Map("p_partkey" -> partS)), "part", 4)
    write(scaled("orders", Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders", 8)
    write(scaled("lineitem", Map(
      "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)), "lineitem", 16)
    write(scaled("events", Map("event_id" -> evS, "user_id" -> userS)), "events", 8)

    val permute = udf((text: String, docId: Long, rep: Int) =>
      if (rep == 0) text else permuteWords(text, mix64(docId * 7919L + rep)))
    write(scaled("documents", Map("doc_id" -> docS), (d, i) =>
      d.withColumn("text", permute(col("text"), col("doc_id"), lit(i)))
        .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents", 8)

    val perturb = udf((vec: Seq[Float], vecId: Long, rep: Int) =>
      if (rep == 0) vec else perturbVec(vec, mix64(vecId * 6151L + rep)))
    write(scaled("embeddings", Map("vec_id" -> vecS), (d, i) =>
      d.withColumn("embedding", perturb(col("embedding"), col("vec_id"), lit(i)))),
      "embeddings", 4)

    println(s"[gendata] wrote ${replicas}x of $base to $out")
  }
}
