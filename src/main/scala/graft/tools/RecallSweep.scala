package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorKernels
import graft.operators.Similarity

/** Recall-vs-cap sweep on a DE-REPLICATED corpus slice — ss20's curve
  * without GenData's replication artifact. The catalog row's curve
  * (10.7% → 99.3% for caps 8/128 at sf1) is dominated by ~100-deep
  * perturbed-replica pileup in the hyperplane buckets: real corpora
  * have Zipfian, not constant, duplicate multiplicity. Here the corpus
  * first collapses to one representative (smallest id) per LSH
  * sketch class — the dd19 frame applied to embeddings: identical
  * (table0, table1) signature ⇒ same class — and the SAME sweep runs
  * on the survivors, so the two curves differ only in replication.
  * Also prints bucket-depth stats before/after, the artifact being
  * removed. Output `[sweep]` lines are the NOTES table.
  *
  * Usage: runMain graft.tools.RecallSweep [sfDir]
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val dir =
      if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/.tmp/sf1")
    val (bits, tables, k) = (8, 2, 3)
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val t = graft.queries.Tables(spark, dir)

    def sigs(df: DataFrame): DataFrame = {
      val v = transform(col("embedding"), x => x.cast("double"))
      df.select(col("vec_id") +: (0 until tables).map(s =>
        VectorKernels.hyperplaneSig(v, bits, seed = s).as(s"sig$s")): _*)
    }
    def bucketStats(label: String, df: DataFrame): Unit = {
      val depths = sigs(df).groupBy("sig0").agg(count(lit(1)).as("c"))
        .agg(max("c"), avg("c"), count(lit(1))).head()
      println(f"[sweep] $label%-14s n=${df.count()}%-8d " +
        f"table0 buckets=${depths.getLong(2)}%-5d max_depth=${depths.getLong(0)}%-6d " +
        f"mean_depth=${depths.getDouble(1)}%.1f")
    }

    val full = t.embeddings
    // the dd19 collapse: one representative (smallest id) per sketch class
    val derep = full.join(
      sigs(full).groupBy("sig0", "sig1").agg(min("vec_id").as("vec_id"))
        .select("vec_id"),
      Seq("vec_id"), "left_semi")
      .localCheckpoint()
    bucketStats("full", full)
    bucketStats("de-replicated", derep)

    def sweep(label: String, corpus: DataFrame): Unit = {
      // deterministic query slice: the 50 smallest surviving ids
      val qIds = corpus.select("vec_id").orderBy("vec_id").limit(50)
        .collect().map(_.getLong(0))
      val queries = corpus.filter(col("vec_id").isin(qIds: _*))
      val exact = Similarity
        .cosineKnnKernel(corpus, queries, "vec_id", "embedding", k)
        .select("query_id", "corpus_id").localCheckpoint()
      val nq = exact.select("query_id").distinct().count()
      Seq(2, 4, 8, 32, 128).foreach { cap =>
        val ann = Similarity.lshKnn(corpus, "vec_id", "embedding",
          k, bits, tables, bucketCap = cap)
          .filter(col("query_id").isin(qIds: _*))
          .select("query_id", "corpus_id")
        val hits = exact.join(ann, Seq("query_id", "corpus_id"), "left_semi").count()
        println(f"[sweep] $label%-14s cap=$cap%-4d recall@3=${hits * 100.0 / (3 * nq)}%5.1f%% " +
          f"(hits=$hits/${3 * nq})")
      }
    }
    sweep("full", full)
    sweep("de-replicated", derep)
    spark.stop()
  }
}
