package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Sequence packing — the pretraining batch-prep step: concatenate
  * documents in a deterministic order into fixed token-capacity bins
  * (greedy fill: a document that would overflow the current bin
  * starts the next one; an oversized document gets a bin to itself).
  *
  * Parallelism: packing is inherently sequential WITHIN a bin stream,
  * so the operator packs independently per group (source shard, date,
  * …) — groups pack in parallel via `flatMapSortedGroups`, the
  * intra-group scan is a single ordered pass. That is exactly how a
  * 100 TB corpus packs in production: per-shard streams, never a
  * global sequential pass. Determinism: (group, doc_id) ordering
  * fixes every bin assignment; the DuckDB oracle replays the greedy
  * scan with a recursive CTE.
  */
object Packing {

  final case class Packed(
      group: String, doc_id: Long, n_tokens: Int, bin_id: Int, bin_offset: Int)

  /** @param tokens (group, doc_id, n_tokens) rows.
    * @return one row per document with its bin and token offset.
    */
  def packSequences(tokens: DataFrame, capacity: Int): Dataset[Packed] = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens
      .select(col("group").cast("string"), col("doc_id").cast("long"),
        col("n_tokens").cast("int"))
      .as[(String, Long, Int)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"doc_id") { (g, it) =>
        // sequential greedy scan; the lazy map is consumed in order
        var started = false
        var bin = 0
        var fill = 0
        it.map { case (_, id, n) =>
          var offset = 0
          if (!started) { started = true; fill = n }
          else if (fill + n <= capacity) { offset = fill; fill += n }
          else { bin += 1; fill = n }
          Packed(g, id, n, bin, offset)
        }
      }
  }

  /** Token-budget data selection: keep documents best-score-first until
    * a total cost budget is exhausted — the "train on the best N
    * tokens" subset step of a data pipeline.
    *
    * The naive form is `SUM(cost) OVER (ORDER BY score DESC, id)` —
    * an UN-PARTITIONED window, which Spark executes as a single task
    * holding the whole corpus's running sum: the classic global-window
    * scale trap. This implementation uses two-pass rank arithmetic
    * (the shape of the exact-percentile sort-rank fallback in
    * [[Quantiles]]): one range-
    * partitioned sort by (score desc, id), per-partition cost totals
    * (ONE row per partition) prefix-summed on the driver, then a
    * partition-local running sum seeded with the partition's offset.
    * Partitions whose offset already exceeds the budget emit nothing
    * without scanning; within the boundary partition the scan stops at
    * the budget. Costs are integral, so every cumulative sum is EXACT
    * (no float-order concerns) and the result is bit-identical to the
    * window form under any partitioning.
    *
    * @param df one row per item; `idCol` unique (the deterministic
    *   tiebreak), `costCol` integral and non-negative, `scoreCol`
    *   non-null (higher = kept first).
    * @return (idCol, cost, cum) for every kept item: cum ≤ budget,
    *   where cum includes the row's own cost.
    */
  def budgetSelect(
      df: DataFrame,
      idCol: String,
      costCol: String,
      scoreCol: String,
      budget: Long
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    // frozen once: both passes must observe the same partitioning
    val sorted = df
      .select(col(scoreCol).cast("double").as("s"), col(idCol).cast("long").as("i"),
        col(costCol).cast("long").as("c"))
      .repartitionByRange(parts, col("s").desc, col("i").asc)
      .sortWithinPartitions(col("s").desc, col("i").asc)
      .as[(Double, Long, Long)]
      .localCheckpoint()
    // pass 1: one (pid, totalCost) row per partition — control-plane
    val partCost = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var t = 0L; it.foreach(t += _._3); Iterator.single((pid, t))
      }
      .collect()
      .sortBy(_._1)
    val offsets = new Array[Long](partCost.length)
    var acc = 0L
    partCost.foreach { case (pid, t) => offsets(pid) = acc; acc += t }
    val bcOff = spark.sparkContext.broadcast(offsets)
    // pass 2: partition-local running sum + offset = global cumsum;
    // whole partitions beyond the budget are skipped outright
    val picked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = bcOff.value(pid)
      if (cum > budget) Iterator.empty
      else it.map { case (_, i, c) => cum += c; (i, c, cum) }.takeWhile(_._3 <= budget)
    }
    spark.createDataset(picked).toDF(idCol, "cost", "cum")
  }

  /** Deterministic weighted priority sampling (Duffield–Lund–Thorup,
    * *Priority Sampling for Estimation of Arbitrary Subset Sums*):
    * each item gets priority `weight / u` with `u ∈ (0, 1]` drawn
    * deterministically from the mixed hash of `seed + id`; the top-k
    * by priority is a without-replacement sample whose inclusion
    * odds track weight — the "sample the corpus, favor the good
    * documents" primitive, reproducible across runs and partitionings
    * because there is no RNG state.
    *
    * Exactness: u = (fmix64(hash) mod 2^53 + 1) / 2^53 — numerator
    * ≤ 2^53 and the denominator is a power of two, so u and
    * weight/u are IEEE-identical in any engine (the DuckDB oracle
    * replays them bit-for-bit). Scale shape: priority is map-only;
    * the top-k runs as TakeOrdered (per-partition k-heaps merged on
    * the driver — k rows of driver state, no global sort).
    */
  def prioritySample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: String
  ): DataFrame = {
    graft.functions.MixedHash64.register(df.sparkSession)
    val twoTo53 = 1L << 53
    val u = (pmod(graft.functions.MixedHash64(
        concat(lit(seed), col(idCol).cast("string"))), lit(twoTo53)) + 1)
      .cast("double") / lit(twoTo53.toDouble)
    df.select(col(idCol), col(weightCol).cast("double").as("weight"), u.as("u"))
      .withColumn("priority", col("weight") / col("u"))
      .orderBy(col("priority").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("weight"), col("priority"))
  }
}
