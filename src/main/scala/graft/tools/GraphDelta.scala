package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.queries.{Tables, TrainingData}

/** Measures what the capped-LSH kNN graph (ss21–ss23's edge frame)
  * gives up against the exact-kNN graph (ss13–ss15's) on the SAME
  * corpus slice — the graph-metric counterpart of ss20's recall-vs-cap
  * sweep. Both graphs are built on the deterministic %4 slice (the
  * exact kernel is O(N²); the slice is what makes the baseline
  * affordable), then compared on:
  *   - edge overlap (Jaccard of undirected edge sets),
  *   - triangle totals and mean |clustering-coefficient delta|,
  *   - link-prediction candidate overlap,
  *   - label-prop community count + largest community.
  * Output lines are `[delta] metric exact capped note` — paste into
  * NOTES. Usage: runMain graft.tools.GraphDelta [sfDir] [bits] [tables] [cap]
  * (defaults = the catalog config in TrainingData.cappedKnnCtes).
  */
object GraphDelta {
  def main(args: Array[String]): Unit = {
    val dir =
      if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val bits = args.lift(1).map(_.toInt).getOrElse(TrainingData.CappedGraphBits)
    val tables = args.lift(2).map(_.toInt).getOrElse(TrainingData.CappedGraphTables)
    val cap = args.lift(3).map(_.toInt).getOrElse(TrainingData.CappedGraphCap)
    println(s"[delta] config bits=$bits tables=$tables cap=$cap dir=$dir")
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val t = Tables(spark, dir)
    val vecs = t.embeddings.filter(col("vec_id") % 4 === 0)

    val exactUnd = TrainingData.undFromKnn(
      Similarity.cosineKnnKernel(vecs, vecs, "vec_id", "embedding", k = 5))
      .localCheckpoint()
    val cappedUnd = TrainingData.undFromKnn(
      Similarity.lshKnn(vecs, "vec_id", "embedding",
        k = 5, bits = bits, tables = tables, bucketCap = cap))
      .localCheckpoint()

    def p(metric: String, exact: Any, capped: Any, note: String = ""): Unit =
      println(f"[delta] $metric%-28s exact=$exact%-12s capped=$capped%-12s $note")

    val ne = exactUnd.count(); val nc = cappedUnd.count()
    val nBoth = exactUnd.join(cappedUnd, Seq("a", "b"), "left_semi").count()
    p("edges", ne, nc,
      f"jaccard=${nBoth.toDouble / (ne + nc - nBoth)}%.4f overlap=$nBoth")

    def triSummary(und: DataFrame): (Long, Double) = {
      // coalesce: sum/avg are NULL on an empty edge set — report zero
      // instead of NPEing when a notch produces no graph edges
      val s = TrainingData.triangleStats(und)
        .agg(coalesce(sum("n_tri"), lit(0L)), coalesce(avg("clustering"), lit(0.0))).head()
      (s.getLong(0) / 3, s.getDouble(1)) // each triangle counted at 3 nodes
    }
    val (te, ce) = triSummary(exactUnd)
    val (tc, cc) = triSummary(cappedUnd)
    p("triangles", te, tc, f"mean_clustering ${ce}%.4f vs ${cc}%.4f")
    val ccJoin = TrainingData.triangleStats(exactUnd)
      .select(col("vec_id"), col("clustering").as("ce"))
      .join(TrainingData.triangleStats(cappedUnd)
        .select(col("vec_id"), col("clustering").as("cc")), Seq("vec_id"))
      .agg(avg(abs(col("ce") - col("cc"))), count(lit(1))).head()
    p("clustering_mae", f"${ccJoin.getDouble(0)}%.4f", s"n=${ccJoin.getLong(1)}",
      "(nodes in both graphs)")

    def lpPairs(und: DataFrame): DataFrame =
      TrainingData.linkPredStats(und).select("node_a", "node_b")
    val lpe = lpPairs(exactUnd).count(); val lpc = lpPairs(cappedUnd).count()
    val lpBoth = lpPairs(exactUnd)
      .join(lpPairs(cappedUnd), Seq("node_a", "node_b"), "left_semi").count()
    p("linkpred_pairs", lpe, lpc,
      f"jaccard=${lpBoth.toDouble / (lpe + lpc - lpBoth)}%.4f")

    def commSummary(und: DataFrame): (Long, Long) = {
      val r = TrainingData.labelPropStats(und)
        .agg(countDistinct("community"), max("community_size")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (nce, mxe) = commSummary(exactUnd)
    val (ncc, mxc) = commSummary(cappedUnd)
    p("communities", nce, ncc, s"largest $mxe vs $mxc")
    spark.stop()
  }
}
