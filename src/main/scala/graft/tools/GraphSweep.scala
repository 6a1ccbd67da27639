package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorKernels
import graft.operators.{Checkpoints, Similarity}
import graft.queries.{Tables, TrainingData}

/** Config sweep for the capped-LSH kNN graph (ss21–ss23): edge-set
  * Jaccard vs the exact kNN graph across (bits × tables × cap), on the
  * DE-REPLICATED %4 slice — the full corpus's quality numbers are
  * dominated by GenData's constant-multiplicity replication (identical
  * sketch classes stack ~100 deep per bucket: at sf1, ss20's recall@3
  * at cap 128 read 99.3% on the full corpus and 5.3% once each sketch
  * class was collapsed, NOTES "de-replicated recall-vs-cap sweep"), so
  * the honest quality floor is measured after that collapse.
  *
  * The exact graph is built ONCE; each config builds only the capped
  * graph and reports edge counts, Jaccard, and wall seconds (the cost
  * axis — candidate volume is ≤ N × tables × cap, so tables × cap is
  * the price knob and bits buys precision per candidate). Pick the
  * cheapest config with Jaccard ≥ 0.7 and pin it in
  * `TrainingData.CappedGraph{Bits,Tables,Cap}`.
  *
  * Usage: runMain graft.tools.GraphSweep [sfDir]
  */
object GraphSweep {
  def main(args: Array[String]): Unit = {
    val dir =
      if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/.tmp/sf1")
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val t = Tables(spark, dir)
    val slice = t.embeddings.filter(col("vec_id") % 4 === 0)

    // de-replication = the dd19 collapse: one representative
    // (smallest id) per (table0, table1) hyperplane sketch class at
    // the dd19 convention (bits=8, seeds 0/1)
    def sigs(df: DataFrame): DataFrame = {
      val v = transform(col("embedding"), x => x.cast("double"))
      df.select(col("vec_id") +: (0 until 2).map(s =>
        VectorKernels.hyperplaneSig(v, 8, seed = s).as(s"sig$s")): _*)
    }
    // Level 1 — byte-distinct: exact duplicates collapsed, PERTURBED
    // replicas kept (cosine ≈ 0.99998 to their original: the corpus's
    // real near-neighbor structure, a ~×9 multiplicity layer)
    val byteDistinct = slice.join(
      slice.groupBy(hash(to_json(struct(col("embedding")))).as("h"))
        .agg(min("vec_id").as("vec_id")).select("vec_id"),
      Seq("vec_id"), "left_semi")
      .localCheckpoint()
    // Level 2 — sketch-collapsed (the dd19 convention): one
    // representative per hyperplane sketch class, which ALSO collapses
    // the perturbed replicas; what survives is the isotropic residue
    // (measured: mean pairwise cosine 0.0016, p99 0.295 — noise)
    val derep = slice.join(
      sigs(slice).groupBy("sig0", "sig1").agg(min("vec_id").as("vec_id"))
        .select("vec_id"),
      Seq("vec_id"), "left_semi")
      .localCheckpoint()
    println(s"[gsweep] slice=${slice.count()} byte-distinct=${byteDistinct.count()} " +
      s"sketch-collapsed=${derep.count()} dir=$dir")

    for ((label, corpus) <- Seq(("byte-distinct", byteDistinct), ("sketch-collapsed", derep))) {
      val exactUnd = TrainingData.undFromKnn(
        Similarity.cosineKnnKernel(corpus, corpus, "vec_id", "embedding", k = 5))
        .localCheckpoint()
      val ne = exactUnd.count()
      println(s"[gsweep] $label exact kNN graph: $ne undirected edges")

      def report(tag: String, und0: DataFrame, secs: Double): Unit = {
        val und = und0.localCheckpoint()
        val nc = und.count()
        val nBoth = exactUnd.join(und, Seq("a", "b"), "left_semi").count()
        val jac = if (ne + nc - nBoth == 0) 0.0 else nBoth.toDouble / (ne + nc - nBoth)
        println(f"[gsweep] $label%-16s $tag%-28s edges=$nc%-7d overlap=$nBoth%-7d " +
          f"jaccard=$jac%.4f secs=$secs%.1f")
        Checkpoints.dropBlocks(und)
      }

      val configs = for {
        bits <- Seq(8, 10, 12, 16)
        tables <- Seq(2, 4, 8)
        cap <- Seq(8, 16)
      } yield (bits, tables, cap)
      for ((bits, tables, cap) <- configs) {
        val t0 = System.nanoTime()
        val und = TrainingData.undFromKnn(
          Similarity.lshKnn(corpus, "vec_id", "embedding",
            k = 5, bits = bits, tables = tables, bucketCap = cap))
        report(f"bits=$bits tables=$tables cap=$cap", und, (System.nanoTime() - t0) / 1e9)
      }

      // NN-Descent refinement from the catalog LSH init: the quality
      // lever that exploits neighborhood coherence — works exactly
      // where the data HAS structure to exploit
      for (r <- Seq(1, 2, 3)) {
        val t0 = System.nanoTime()
        val und = TrainingData.undFromKnn(
          Similarity.nnDescentKnn(corpus, "vec_id", "embedding", k = 5,
            init = Similarity.lshKnn(corpus, "vec_id", "embedding",
              k = 5, bits = 8, tables = 2, bucketCap = 8)
              .select("query_id", "corpus_id"),
            rounds = r))
        report(s"descent init=(8,2,8) rounds=$r", und, (System.nanoTime() - t0) / 1e9)
      }
      Checkpoints.dropBlocks(exactUnd)
    }
    spark.stop()
  }
}
