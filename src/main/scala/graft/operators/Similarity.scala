package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

import graft.functions.{MixedHash64, VectorKernels}

/** Approximate-nearest-neighbor operators over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast cross join. The
  * inner product is UNROLLED over the (schema-known) dimension into
  * `a[1]*b[1] + … + a[d]*b[d]`, which whole-stage codegen compiles to
  * straight-line arithmetic; higher-order functions (`aggregate`/
  * `zip_with`) do not participate in codegen and cost an order of
  * magnitude more per pair. Norms are computed once per ROW before the
  * join, not once per pair.
  *
  * Scale path: random-hyperplane LSH bucketing — per-row signature,
  * one shuffle on the bucket key, exact rescoring only within buckets.
  *
  * Every ANN search here and in [[Ivf]], [[IvfPq]] and [[Pq]] has one
  * shape — vectors → candidates → exact rescore → per-query top-k —
  * and is built from the shared `private[operators]` helpers below
  * ([[firstK]], [[vectors]], [[lshBuckets]], [[capBuckets]],
  * [[rescore]], [[shortlistRerank]], [[Ivf.probes]]).
  */
object Similarity {

  /** Cosine similarity via higher-order functions — dimension-generic
    * form for ad-hoc use. Hot paths use [[dotUnrolled]].
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom > 0, dot(a, b) / denom).otherwise(lit(0.0d))
  }

  /** Codegen-friendly inner product for a fixed dimension: left-to-
    * right sum, same association order as a sequential fold (keeps
    * cross-engine rounding identical).
    */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i => element_at(a, i) * element_at(b, i)).reduce(_ + _)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Vector length probed from the data (one tiny action) when the
    * caller doesn't pass it.
    */
  private def probeDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Brute-force top-k cosine neighbors for every vector in `queries`
    * against `corpus`. `queries` is broadcast (the small side by
    * contract); ranking is deterministic: (rounded sim desc, id asc).
    * Rounding to `roundTo` decimals makes cross-engine rank ties
    * stable — float reduction order differs between engines.
    */
  def bruteForceKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      roundTo: Int = 4,
      dim: Int = -1
  ): DataFrame = {
    val d = if (dim > 0) dim else probeDim(corpus, vecCol)
    def side(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
        .withColumn(s"${v}_norm", sqrt(dotUnrolled(col(v), col(v), d)))
    // constant-key broadcast hash join: unlike crossJoin's
    // BroadcastNestedLoopJoin, BHJ evaluates filters/conditions inside
    // whole-stage codegen — the all-pairs loop stays compiled
    val c = side(corpus, "corpus_id", "cv").withColumn("__k", lit(1))
    val q = side(queries, "query_id", "qv").withColumn("__k", lit(1))
    val scored = c
      .join(broadcast(q), Seq("__k"))
      .drop("__k")
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn(
        "sim",
        round(dotUnrolled(col("cv"), col("qv"), d) / (col("cv_norm") * col("qv_norm")), roundTo)
      )
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "sim", "rank")
  }

  /** Deterministic block id for a vector id: non-negative `id mod B`.
    * Blocking by id (not by partition) keeps the assignment stable
    * across partitionings, which is what makes blocked == unblocked
    * results bit-identical and partition-invariant.
    */
  private def blockOf(id: Long, nBlocks: Int): Int =
    (((id % nBlocks) + nBlocks) % nBlocks).toInt

  /** Default block count: ~sqrt(2 × parallelism) blocks gives
    * B(B+1)/2 ≳ parallelism block-pair tasks, enough to fill the
    * cluster. At real scale callers pass nBlocks explicitly so one
    * block (corpus/B rows × dim doubles) fits task memory.
    */
  private def defaultBlocks(df: DataFrame): Int =
    math.max(2, math.ceil(math.sqrt(2.0 * df.sparkSession.sparkContext.defaultParallelism)).toInt)

  private def l2(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Exact all-pairs cosine above a threshold — the dense numeric
    * kernel as a BLOCK-PAIR shuffle over primitive double arrays. The
    * corpus is split into `nBlocks` deterministic blocks (id mod B);
    * each row is shuffled to every block-pair group (p, q) its block
    * participates in, and each group runs the tight |P|×|Q| dot-product
    * loop over exactly two blocks. This is the one operator family
    * where imperative per-group code beats every declarative encoding:
    * an unrolled-expression Project runs interpreted once the 64-term
    * tree exceeds codegen limits (measured 40 s for 2M pairs at sf0.1;
    * this kernel: < 1 s).
    *
    * Scale shape: NO driver collect and NO corpus-sized broadcast —
    * per-task memory is two blocks (2 × |corpus|/B rows), shuffle
    * volume is B × |corpus| (disk-backed), parallelism is B(B+1)/2
    * independent tasks. Choose B so a block fits executor memory;
    * everything else follows.
    *
    * Rounding matches `functions.round` (HALF_UP at `roundTo`) and the
    * per-pair arithmetic is identical for every B, so results are
    * bit-identical to the declarative form, the DuckDB oracle, and any
    * other block count.
    */
  def cosinePairsKernel(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      roundTo: Int = 4,
      nBlocks: Int = -1
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val b = if (nBlocks > 0) nBlocks else defaultBlocks(corpus)
    val base = corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
    val scale = roundTo
    // (groupKey = p*B+q, ownBlock, id, vec, norm): each row joins every
    // block-pair its block is a member of — replication factor B
    val replicated = base.flatMap { case (id, v) =>
      val own = blockOf(id, b)
      val n = l2(v)
      (0 until b).iterator.map { other =>
        val p = math.min(own, other); val q = math.max(own, other)
        (p * b + q, own, id, v, n)
      }
    }
    replicated
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val p = key / b; val q = key % b
        val sideP = new scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Double)]
        val sideQ = new scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Double)]
        it.foreach { case (_, own, id, v, n) =>
          if (own == p) sideP += ((id, v, n))
          if (own == q && p != q) sideQ += ((id, v, n))
        }
        val right = if (p == q) sideP else sideQ
        // primitive-math prefilter: HALF_UP(x, s) >= t iff
        // x >= t - 0.5*10^-s, so only near/above-threshold pairs pay
        // the BigDecimal rounding (2M allocations otherwise)
        val rawCut = threshold - 0.5 * math.pow(10, -scale) - 1e-12
        // blocks partition ids, so a cross-block (p != q) pair occurs
        // exactly once in the P×Q loop; within-block (p == q) pairs
        // are kept once via idB > idA. Emitted as (low id, high id);
        // IEEE × is commutative and the j-loop order is fixed, so dot
        // and norms are bit-identical regardless of which side a row
        // landed on (and regardless of B).
        sideP.iterator.flatMap { case (idA, va, nA) =>
          right.iterator.flatMap { case (idB, vb, nB) =>
            if (idB == idA || (p == q && idB < idA)) None
            else {
              var dot = 0.0; var j = 0
              while (j < va.length) { dot += va(j) * vb(j); j += 1 }
              val raw = dot / (nA * nB)
              if (raw < rawCut) None
              else {
                val sim = BigDecimal(raw)
                  .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (sim >= threshold) {
                  val lo = math.min(idA, idB); val hi = math.max(idA, idB)
                  Some((lo, hi, sim))
                } else None
              }
            }
          }
        }
      }
      .toDF("id_a", "id_b", "sim")
  }

  /** Top-k cosine neighbors via the same block-pair shape as
    * [[cosinePairsKernel]]: the corpus is blocked (id mod B), queries
    * are replicated to every corpus block, each (corpus block ×
    * queries) cogroup keeps a per-query local top-k ordered by
    * (rounded sim desc, corpus_id asc), and a final window merges the
    * B×k candidates per query into the global top-k — identical
    * ranking semantics to the declarative window form (and the SQL
    * oracle), because every global top-k member is in its own block's
    * local top-k under the same total order.
    *
    * No driver collect, no corpus-sized broadcast: per-task memory is
    * one corpus block, and only B×k small candidate rows per query
    * reach the merge.
    */
  def cosineKnnKernel(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      roundTo: Int = 4,
      nBlocks: Int = -1
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val b = if (nBlocks > 0) nBlocks else defaultBlocks(corpus)
    def prep(df: DataFrame) =
      df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .as[(Long, Array[Double])]
    val scale = roundTo
    val corpusBlocked = prep(corpus).map { case (id, v) => (blockOf(id, b), id, v, l2(v)) }
    val queriesRepl = prep(queries).flatMap { case (id, v) =>
      val n = l2(v)
      (0 until b).iterator.map(blk => (blk, id, v, n))
    }
    val candidates = corpusBlocked
      .groupByKey(_._1)
      .cogroup(queriesRepl.groupByKey(_._1)) { (_, cIt, qIt) =>
        val block = cIt.toArray // ONE corpus block, bounded by |corpus|/B
        // per-query scratch, reused across the block's queries
        val ids = new Array[Long](block.length)
        val raws = new Array[Double](block.length)
        val topRaw = new Array[Double](k)
        val step = math.pow(10, -scale)
        qIt.flatMap { case (_, qid, qv, nQ) =>
          // phase 1: RAW scores only, tracking the k-th largest raw —
          // rounding is monotone and |round(x) − x| ≤ step/2, so any
          // candidate with raw < (kth raw − step) rounds strictly below
          // k candidates and can never reach the rounded top-k; only
          // the survivors pay the BigDecimal rounding (the previous
          // per-pair rounding dominated the whole kernel)
          java.util.Arrays.fill(topRaw, Double.NegativeInfinity)
          var m = 0
          block.foreach { case (_, cid, cv, nC) =>
            if (cid != qid) {
              var dot = 0.0; var j = 0
              while (j < qv.length) { dot += qv(j) * cv(j); j += 1 }
              val raw = dot / (nQ * nC)
              ids(m) = cid; raws(m) = raw; m += 1
              if (raw > topRaw(0)) { // topRaw(0) holds the current min
                topRaw(0) = raw
                var mi = 0; var ii = 1
                while (ii < k) { if (topRaw(ii) < topRaw(mi)) mi = ii; ii += 1 }
                if (mi != 0) {
                  val t = topRaw(0); topRaw(0) = topRaw(mi); topRaw(mi) = t
                }
              }
            }
          }
          val cut =
            if (m >= k) topRaw(0) - step - 1e-12 else Double.NegativeInfinity
          // phase 2: round the handful of survivors, then the same
          // (rounded desc, corpus_id asc) order as before
          val scored = new scala.collection.mutable.ArrayBuffer[(Double, Long)](k + 8)
          var i = 0
          while (i < m) {
            if (raws(i) >= cut) {
              val sim = BigDecimal(raws(i))
                .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
              scored += ((-sim, ids(i)))
            }
            i += 1
          }
          scored.sorted.take(k).map { case (negSim, cid) => (qid, cid, -negSim) }
        }
      }
      .toDF("query_id", "corpus_id", "sim")
    firstK(candidates, Seq("query_id"), k, "rank", desc("sim"), asc("corpus_id"))
      .select("query_id", "corpus_id", "sim", "rank")
  }

  /** Random-hyperplane signature: bit j = sign(dot(v, r_j)) where r_j
    * is a deterministic pseudo-random ±1 hyperplane. The hyperplanes
    * depend only on (seed, bit, dim) — they are precomputed
    * driver-side into literal ±1 arrays, so the per-row work is
    * `bits` fused multiply-fold passes with no hashing.
    *
    * `dim` bounds the hyperplane length; vectors longer than `dim`
    * ignore the tail (pass the true dimension).
    */
  /** The deterministic ±1 hyperplane for (seed, bit): public so the
    * DuckDB oracle SQL embeds the identical literals.
    */
  def hyperplaneSigns(bits: Int, seed: Int, dim: Int): Seq[Seq[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until bits).map { j =>
      (0 until dim).map { i =>
        if (mix(seed.toLong << 40 | j.toLong << 20 | i.toLong) % 2 == 0) 1.0 else -1.0
      }
    }
  }

  def hyperplaneSignature(vec: Column, bits: Int, seed: Int = 0, dim: Int = 64): Column = {
    val v = asDouble(vec)
    val planes = hyperplaneSigns(bits, seed, dim)
    val bitCols = (0 until bits).map { j =>
      val signs = array(planes(j).map(lit): _*)
      // coalesce: zip_with null-pads when vector length != dim; the
      // unmatched tail contributes 0 to the dot product
      val s = aggregate(
        zip_with(v, signs, (x, sg) => coalesce(x * sg, lit(0.0d))),
        lit(0.0d), (acc, x) => acc + x)
      when(s >= 0, call_function("shiftleft", lit(1L), lit(j))).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  // ── the shared ANN skeleton ──
  // Every search is vectors → candidates → exact rescore → per-query
  // top-k (the local-prune-then-global-top-k shape of REPOSE, ICDE
  // 2021); these helpers are its steps.

  private[operators] def requireAtLeast1(name: String, value: Int): Unit =
    require(value >= 1, s"$name must be at least 1, got $value")

  /** The one `row_number` window behind every per-query top-k, bucket
    * cap and shortlist: rows ranked `order` within `partitionCols`,
    * the first `k` kept, the rank left in `rankCol`.
    */
  private[operators] def firstK(
      df: DataFrame, partitionCols: Seq[String], k: Int, rankCol: String, order: Column*
  ): DataFrame =
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)

  /** Rounded cosine of two vector columns with precomputed norms: the
    * exact rescore every ANN search ranks by.
    */
  private[operators] def roundedCosine(
      roundTo: Int, a: String = "qv", b: String = "cv", na: String = "qn", nb: String = "cn"
  ): Column =
    round(VectorKernels.vecDot(col(a), col(b)) / (col(na) * col(nb)), roundTo)

  /** (id, v, v_norm): double vectors and norms, materialized once so
    * candidate discovery joins NARROW (id, table_id, bucket) rows — the
    * d-dim vectors do not travel through the candidate shuffle, they
    * are re-fetched only for the (much smaller) candidate set. Norm,
    * signature and rescoring dot all run through the native
    * VectorKernels loops (bit-identical to the HOF/unrolled forms they
    * replaced — the ss02 oracle still replays them exactly).
    */
  private[operators] def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("v_norm", sqrt(VectorKernels.vecDot(col("v"), col("v"))))
      .localCheckpoint()

  private def querySide(base: DataFrame): DataFrame =
    base.select(col("id").as("query_id"), col("v").as("qv"), col("v_norm").as("qn"))

  private def corpusSide(base: DataFrame): DataFrame =
    base.select(col("id").as("corpus_id"), col("v").as("cv"), col("v_norm").as("cn"))

  /** Exact rescore of (query_id, corpus_id, keep…) candidates against
    * [[vectors]]: query side joined first, then the corpus side.
    */
  private[operators] def rescore(
      cand: DataFrame, base: DataFrame, roundTo: Int, keep: Column*
  ): DataFrame =
    cand.join(querySide(base), "query_id").join(corpusSide(base), "corpus_id")
      .select(Seq(col("query_id"), col("corpus_id")) ++ keep :+
        roundedCosine(roundTo).as("sim"): _*)

  /** (id, table_id, bucket): one row per vector per table. Per-table
    * hyperplane seeds decorrelate the tables.
    */
  private[operators] def lshBuckets(base: DataFrame, bits: Int, tables: Int): DataFrame =
    (0 until tables).map { t =>
      base.select(col("id"), lit(t).as("table_id"),
        VectorKernels.hyperplaneSig(col("v"), bits, seed = t).as("bucket"))
    }.reduce(_ union _)

  /** Deterministic bucket truncation: each (table, bucket) keeps the
    * `cap` members with the smallest mixed-hash of id (an unbiased,
    * replayable sample of the bucket; ties by id), with their position
    * in `rn`. The shuffle carries (id, table_id, bucket, hid) — 32
    * bytes — and one window pass truncates; vectors never enter the cap.
    */
  private[operators] def capBuckets(buckets: DataFrame, cap: Int): DataFrame = {
    MixedHash64.register(buckets.sparkSession)
    firstK(buckets.withColumn("hid", MixedHash64(col("id").cast("string"))),
      Seq("table_id", "bucket"), cap, "rn", col("hid").asc, col("id").asc)
  }

  /** Query-side bucket rows `a` joined to corpus-side bucket rows `b`
    * on (table, bucket), self-pairs dropped.
    */
  private def bucketJoin(queries: DataFrame, corpus: DataFrame): DataFrame =
    queries.alias("a")
      .join(corpus.alias("b"),
        col("a.table_id") === col("b.table_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))

  private def requireLsh(k: Int, bits: Int, tables: Int): Unit = {
    requireAtLeast1("k", k)
    require(bits >= 1 && bits <= 64, s"bits must be between 1 and 64, got $bits")
    requireAtLeast1("tables", tables)
  }

  /** LSH-bucketed ANN: random-hyperplane buckets, exact rescoring of
    * the pairs that share a bucket in some table, top-`k` per query.
    * One shuffle on the 8-byte bucket key. Four routes, each with a
    * catalog row:
    *
    *  - plain (ss02): `tables` independent signatures; a query's
    *    candidates are every member of its buckets.
    *  - capped, `bucketCap` < Int.MaxValue (ss18; ss21–ss24 through
    *    `TrainingData.CappedGraph*`): the CORPUS side of each (table,
    *    bucket) keeps only the `bucketCap` members of [[capBuckets]],
    *    so per-query candidates are ≤ tables × bucketCap and candidate
    *    volume stays LINEAR in corpus size however deep the buckets get.
    *    Queries still probe with their own (uncapped) signatures, so
    *    every row gets an answer; recall inside a mega-bucket degrades
    *    toward a uniform sample of it — the bounded-bucket-scan trade
    *    against plain LSH going quadratic when one bucket holds the
    *    corpus. Int.MaxValue (the default) skips the truncation window.
    *  - multi-probe, `multiProbe` = true (ss16; Lv et al., VLDB 2007):
    *    each query ALSO probes the buckets reached by flipping each
    *    single signature bit — one table + (bits+1) probes buys the
    *    recall plain LSH needs several whole index copies for. Only the
    *    query side fans out, and what fans out is the NARROW (id,
    *    table, bucket) row, never vectors.
    *  - capped multi-probe (ss19): both, ≤ (bits+1) × tables ×
    *    bucketCap candidates per query.
    */
  def lshKnn(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 12,
      tables: Int = 4,
      bucketCap: Int = Int.MaxValue,
      multiProbe: Boolean = false,
      roundTo: Int = 4
  ): DataFrame = {
    requireLsh(k, bits, tables)
    requireAtLeast1("bucketCap", bucketCap)
    val base = vectors(corpus, idCol, vecCol)
    val buckets = lshBuckets(base, bits, tables)
    val corpusBuckets =
      if (bucketCap == Int.MaxValue) buckets
      else capBuckets(buckets, bucketCap).select("id", "table_id", "bucket")
    // identity probe + one per flipped bit
    val queryBuckets =
      if (!multiProbe) buckets
      else buckets.select(col("id"), col("table_id"), explode(array(col("bucket") +:
        (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
    val cand = bucketJoin(queryBuckets, corpusBuckets)
      .select(col("a.id").as("query_id"), col("b.id").as("corpus_id"))
      .distinct()
    firstK(rescore(cand, base, roundTo), Seq("query_id"), k, "rank", desc("sim"), asc("corpus_id"))
      .select("query_id", "corpus_id", "sim", "rank")
  }

  /** One-plan bucket-cap SWEEP of the capped [[lshKnn]]: one frame
    * `(bucket_cap, query_id, corpus_id, sim, rank)` whose rows with
    * `bucket_cap = c` are row-identical to
    * `lshKnn(corpus, …, bucketCap = c).filter(queryPred on query)`
    * — but the corpus is sketched, bucketed, truncated, joined and
    * rescored ONCE at `caps.max` instead of once per cap.
    *
    * Equivalence: a pair (q, c') is in cap c's candidate set iff some
    * shared (table, bucket) holds c' inside c's truncation window,
    * i.e. MIN over shared buckets of rn ≤ c — so one join at the
    * largest cap carrying `min_rn` reconstructs every smaller cap's
    * candidate set. Each rescored pair is exploded to the caps ≥ its
    * `min_rn`, and one top-k window partitioned by (bucket_cap,
    * query_id) sees, per cap, exactly the per-cap run's input — the
    * result at the largest parameter reused for every smaller one
    * (*Incremental … Top-K Similarity Search*, EDBT 2020). The DuckDB
    * oracle for ss20 has the same single-join shape. Nothing but the
    * [[vectors]] table is materialized: the frame is one lazy plan.
    * `queryPred` is a predicate over the bucket frame's `id` column,
    * applied to the QUERY side before the join: top-k is per-query
    * independent, so pre-filtering queries equals post-filtering
    * results.
    */
  def lshKnnCappedSweep(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      tables: Int,
      caps: Seq[Int],
      queryPred: Column,
      roundTo: Int = 4
  ): DataFrame = {
    requireLsh(k, bits, tables)
    require(caps.nonEmpty, "caps must name at least one bucket cap")
    caps.foreach(requireAtLeast1("every cap", _))
    val base = vectors(corpus, idCol, vecCol)
    val buckets = lshBuckets(base, bits, tables)
    val capped = capBuckets(buckets, caps.max).select("id", "table_id", "bucket", "rn")
    val cand = bucketJoin(buckets.filter(queryPred), capped)
      .groupBy(col("a.id").as("query_id"), col("b.id").as("corpus_id"))
      .agg(min(col("b.rn")).as("min_rn"))
    val perCap = rescore(cand, base, roundTo, col("min_rn"))
      .withColumn("bucket_cap", explode(typedLit(caps.distinct)))
      .filter(col("min_rn") <= col("bucket_cap"))
    firstK(perCap, Seq("bucket_cap", "query_id"), k, "rank", desc("sim"), asc("corpus_id"))
      .select("bucket_cap", "query_id", "corpus_id", "sim", "rank")
  }

  /** NN-Descent kNN-graph refinement (Dong et al., WWW 2011,
    * "Efficient k-nearest neighbor graph construction for generic
    * similarity measures"): start from ANY approximate kNN edge set
    * (here typically the capped [[lshKnn]]) and repeat "a neighbor of my
    * neighbor is probably my neighbor" — each round rescores every
    * node against its 2-hop neighborhood and keeps the top-`k`.
    * This is the standard production kNN-graph constructor precisely
    * because bounded-candidate LSH alone CANNOT recover a kNN graph
    * on weak-structure embeddings: when the k-th neighbor's cosine is
    * ~0.4, a 8-bit hyperplane table co-buckets it with ~2.5%
    * probability, so hitting edge-recall 0.7 by tables alone needs
    * ~48 tables (measured by tools.GraphSweep: Jaccard ≤ 0.09 over
    * bits ∈ {8,12,16} × tables ∈ {2,4,8}); two descent rounds get
    * there at O(N·k²) candidates per round.
    *
    * Deterministic and oracle-replayable: the symmetrized adjacency is
    * capped at `2k` per node (smallest neighbor ids — bounds hub
    * fan-out, so a round's candidate volume is ≤ N·(2k)² whatever the
    * in-degree skew), candidates rescore with the same rounded cosine
    * as every ANN kernel here, and ties break (sim DESC, id ASC).
    * Scale shape per round: two narrow self-joins on 16-byte edge
    * keys, one rescore join against the vector table by id, one
    * per-query top-k aggregate — nothing quadratic, vectors never ride
    * the shuffle wider than the rescore join needs.
    *
    * @param init approximate kNN edges, columns (query_id, corpus_id)
    * @return (query_id, corpus_id, sim, rank), `rank <= k`, like the
    *         other kNN kernels
    */
  def nnDescentKnn(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      init: DataFrame,
      rounds: Int = 2,
      roundTo: Int = 4
  ): DataFrame = {
    requireAtLeast1("k", k)
    require(rounds >= 0, s"rounds must be at least 0, got $rounds")
    val base = vectors(corpus.select(col(idCol).cast("long").as(idCol), col(vecCol)), idCol, vecCol)
    var knn = init
      .select(col("query_id").cast("long"), col("corpus_id").cast("long"))
      .localCheckpoint()
    var prevCkpt = knn
    var out: DataFrame = knn.withColumn("sim", lit(null).cast("double"))
      .withColumn("rank", lit(null).cast("int"))
    for (_ <- 1 to rounds) {
      val und = knn
        .select(least(col("query_id"), col("corpus_id")).as("a"),
          greatest(col("query_id"), col("corpus_id")).as("b"))
        .distinct()
      val rawAdj = und.select(col("a").as("x"), col("b").as("y"))
        .union(und.select(col("b").as("x"), col("a").as("y")))
      // cap the symmetric adjacency per node: out-degree is ≤ k by
      // construction but REVERSE degree is unbounded (popular nodes);
      // keeping the 2k smallest neighbor ids bounds every node's
      // 2-hop contribution at (2k)² deterministically.
      // r14 (guide §2.3/§2.4): the per-node cap is the bounded-heap
      // TopK aggregate on -y (long→double is monotonic; any precision
      // collision resolves by the id-ASC tiebreak to the same smallest
      // ids), NOT a row_number window — map-side partials keep ≤ 2k
      // pairs per node per task instead of shuffling every edge into a
      // per-node sort. The grouped frame is materialized once and
      // serves BOTH the flat edge view and the 2-hop expansion's build
      // side (the r13 self-join recomputed the whole window twice).
      val grouped = rawAdj
        .groupBy("x")
        .agg(graft.functions.TopK
          .topK(negate(col("y").cast("double")), col("y"), 2 * k).as("nbrs"))
        .select(col("x"), col("nbrs._2").as("ys"))
        .localCheckpoint()
      val adj = grouped.select(col("x"), explode(col("ys")).as("y"))
      // two-hop = every (x, y) edge × y's capped neighbor ARRAY: join
      // the narrow edges against the grouped side and explode AFTER
      // the join (guide §3) — the r13 form joined two exploded edge
      // sets, shuffling the expansion instead of the arrays
      val twoHop = adj
        .join(grouped.select(col("x").as("y"), col("ys").as("zs")), Seq("y"))
        .select(col("x").as("query_id"), explode(col("zs")).as("corpus_id"))
        .filter(col("query_id") =!= col("corpus_id"))
      val cand = twoHop
        .union(adj.select(col("x").as("query_id"), col("y").as("corpus_id")))
        .distinct()
      // corpus side first, query side LAST: the final join leaves the
      // frame hash-partitioned by query_id, which the top-k aggregate
      // below reuses (no extra exchange)
      val pairs = cand
        .join(corpusSide(base), "corpus_id")
        .join(querySide(base), "query_id")
        .select(col("query_id"), col("corpus_id"), roundedCosine(roundTo).as("sim"))
      // per-query top-k via the same bounded-heap aggregate ((sim
      // DESC, corpus_id ASC) — TopK's documented order, equal to the
      // r13 row_number window; TopKSpec/x19 pin the equivalence)
      val next = pairs
        .groupBy("query_id")
        .agg(graft.functions.TopK.topK(col("sim"), col("corpus_id"), k).as("tk"))
        .select(col("query_id"), posexplode(col("tk")))
        .select(col("query_id"), col("col._2").as("corpus_id"),
          col("col._1").as("sim"), (col("pos") + 1).cast("int").as("rank"))
        .localCheckpoint() // keep the iterated plan flat
      Checkpoints.dropBlocks(prevCkpt)
      Checkpoints.dropBlocks(grouped)
      prevCkpt = next
      knn = next.select("query_id", "corpus_id")
      out = next
    }
    out.select("query_id", "corpus_id", "sim", "rank")
  }


  /** Scalar int8 quantization of an embedding (4×–8× storage cut for
    * ANN corpora — the standard compression lever before PQ):
    * per-vector absmax scale, q_i = round(x_i·127/amax). Every step is
    * plain IEEE arithmetic in a fixed association order, so the DuckDB
    * oracle replays scale, codes, and reconstruction error exactly.
    *
    * @return (scale, quantized codes as array<double> of integral
    *         values, squared reconstruction error folded left from
    *         0.0)
    */
  def int8Quantize(vec: Column): (Column, Column, Column) = {
    val v = transform(vec, _.cast("double"))
    val amax = array_max(transform(v, x => abs(x)))
    val q = transform(v, x => when(amax > 0, round(x * 127.0 / amax)).otherwise(lit(0.0)))
    val dq = transform(q, c => c * amax / 127.0)
    val err = aggregate(
      zip_with(v, dq, (x, d) => (x - d) * (x - d)), lit(0.0d), (acc, e) => acc + e)
    (amax.as("scale"), q, err)
  }

  /** SQ8 scalar-quantizer training: per-DIMENSION (min, step) affine
    * params over the corpus, step_d = (max_d − min_d)/255 — the FAISS
    * `ScalarQuantizer QT_8bit` shape (vs [[int8Quantize]]'s per-VECTOR
    * absmax, which compresses values but cannot serve a shared
    * compressed-domain scan). Min/max are exact (no summation), so the
    * 64-row result is deterministic under any partitioning; it is the
    * k×2-double control plane of the index, same contract as the
    * IVF/PQ codebook collects.
    */
  def sq8Train(corpus: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val stats = corpus
      .select(posexplode(transform(col(vecCol), _.cast("double"))).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i")
      .collect()
    val mn = stats.map(_.getDouble(1))
    val step = stats.map { r =>
      val d = r.getDouble(2) - r.getDouble(1)
      if (d > 0) d / 255.0 else 0.0
    }
    (mn, step)
  }

  /** SQ8 compressed-domain columns for a corpus frame: packed byte
    * codes (8× smaller than the float64 vectors — the column the scan
    * reads) plus the reconstructed norm, computed ONCE per row at
    * index-build time so the per-pair scan work is a single
    * [[graft.functions.VectorKernels.Sq8AdcExpr]] fold over bytes.
    */
  def sq8Index(corpus: DataFrame, idCol: String, vecCol: String,
      mn: Array[Double], step: Array[Double]): DataFrame = {
    val mnL = lit(mn)
    val stepL = lit(step)
    val codes = VectorKernels.sq8Pack(transform(col(vecCol), _.cast("double")), mnL, stepL)
    val withCodes = corpus.select(col(idCol).cast("long").as("corpus_id"), codes.as("codes"))
    val dq = VectorKernels.sq8Dequant(col("codes"), mnL, stepL)
    withCodes.withColumn("dqn", sqrt(VectorKernels.vecDot(dq, dq)))
  }

  /** Query-side SQ8 prep: the asymmetric-distance decomposition
    * ⟨qv, dequant(codes)⟩ = ⟨qv, mn⟩ + Σ_d (qv_d·step_d)·code_d, so
    * each query carries a constant `qmin`, a weight vector `qw`, and
    * its own norm — all computed once per query row.
    */
  private[operators] def sq8Queries(queries: DataFrame, idCol: String, vecCol: String,
      mn: Array[Double], step: Array[Double]): DataFrame = {
    val qv = transform(col(vecCol), _.cast("double"))
    queries.select(
      col(idCol).cast("long").as("query_id"),
      qv.as("qv"),
      zip_with(qv, lit(step), (x, s) => x * s).as("qw"),
      VectorKernels.vecDot(qv, lit(mn)).as("qmin"),
      sqrt(VectorKernels.vecDot(qv, qv)).as("qn"))
  }

  /** The shortlist → exact-rerank tail of the compressed-domain
    * searches ([[sq8Knn]], [[bqKnn]], [[Ivf.searchSq8]]). `pairs`
    * (query_id, corpus_id, `score`) keep their top `shortlist` per
    * query by (`scoreOrder`, corpus_id asc): that window shuffles ONLY
    * those three narrow columns. Then ONE id equi-join refetches exact
    * vectors for the survivors, the query's (qv, qn) re-join from the
    * broadcast `queries` frame, and the top `k` by exact rounded cosine
    * come back as (query_id, corpus_id, score, sim, rank). Rejects a
    * `k` or `shortlist` below 1 while every frame is still lazy.
    */
  private[operators] def shortlistRerank(
      pairs: DataFrame, score: String, scoreOrder: Column, shortlist: Int,
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, roundTo: Int
  ): DataFrame = {
    requireAtLeast1("k", k)
    requireAtLeast1("shortlist", shortlist)
    val cand = firstK(pairs, Seq("query_id"), shortlist, "rn", scoreOrder, asc("corpus_id"))
      .drop("rn")
    val exact = corpus
      .select(col(idCol).cast("long").as("corpus_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", sqrt(VectorKernels.vecDot(col("cv"), col("cv"))))
    val resc = broadcast(cand)
      .join(exact, "corpus_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"), col("qn"))), "query_id")
      .select(col("query_id"), col("corpus_id"), col(score), roundedCosine(roundTo).as("sim"))
    firstK(resc, Seq("query_id"), k, "rank", desc("sim"), asc("corpus_id"))
      .select("query_id", "corpus_id", score, "sim", "rank")
  }

  /** SQ8 flat search + exact rerank (FAISS `IndexScalarQuantizer` with
    * a refine step): the full scan ranks candidates by the rounded
    * ADC cosine IN THE COMPRESSED DOMAIN — at 100 TB the scan reads
    * the 8×-smaller byte-code column, never the raw vectors — takes
    * the top `shortlist` per query, then ONE id equi-join refetches
    * exact vectors for only those candidates and reranks by exact
    * rounded cosine. Queries are the broadcast side by contract;
    * ranking rounds to `roundTo` before ordering with an id tiebreak,
    * so both stages replay deterministically in DuckDB.
    */
  def sq8Knn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      mn: Array[Double],
      step: Array[Double],
      shortlist: Int,
      k: Int,
      roundTo: Int = 4
  ): DataFrame = {
    val q = sq8Queries(queries, idCol, vecCol, mn, step)
    val pairs = sq8Index(corpus, idCol, vecCol, mn, step)
      .crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        round((col("qmin") + VectorKernels.sq8Adc(col("qw"), col("codes"))) /
          (col("qn") * col("dqn")), roundTo).as("adc"))
    shortlistRerank(pairs, "adc", desc("adc"), shortlist, corpus, q, idCol, vecCol, k, roundTo)
  }

  /** Binary-quantization training: per-dimension thresholds = the
    * corpus means — the one-cluster, one-pass [[Lloyd.train]], whose
    * decimal-exact mean makes the thresholds bit-identical under any
    * partitioning. Every vector must have the smallest id's length.
    */
  def bqTrain(corpus: DataFrame, idCol: String, vecCol: String): Array[Double] =
    Lloyd.train("BQ", corpus, idCol, vecCol, 1, 1, 1).head.head

  /** Binary-quantization search + exact rerank (the 1-bit ANN family —
    * sign codes around the per-dimension mean): a 64-dim embedding
    * becomes ONE long, candidates rank by Hamming distance (xor +
    * bit_count — codegen'd built-ins over an 8-byte column, 64× less
    * scan I/O than raw vectors), and only the per-query `shortlist`
    * pays the id equi-join back to exact vectors for the rounded-cosine
    * rerank. Ties break on corpus_id at both stages, so the DuckDB
    * oracle replays thresholds, codes, Hamming and the rerank exactly.
    */
  def bqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      thresholds: Array[Double],
      shortlist: Int,
      k: Int,
      roundTo: Int = 4
  ): DataFrame = {
    val thrL = lit(thresholds)
    val codes = corpus.select(
      col(idCol).cast("long").as("corpus_id"),
      VectorKernels.signBits64(transform(col(vecCol), _.cast("double")), thrL).as("code"))
    val qv = transform(col(vecCol), _.cast("double"))
    val q = queries.select(
      col(idCol).cast("long").as("query_id"),
      qv.as("qv"),
      VectorKernels.signBits64(qv, thrL).as("qcode"),
      sqrt(VectorKernels.vecDot(qv, qv)).as("qn"))
    val pairs = codes
      .crossJoin(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).as("ham"))
    shortlistRerank(pairs, "ham", asc("ham"), shortlist, corpus, q, idCol, vecCol, k, roundTo)
  }

  /** Semantic deduplication (the SemDeDup shape, Abbas et al. 2023):
    * k-means-cluster the embeddings, then compare pairs ONLY within a
    * cluster — ~1/k of the all-pairs cost, and the scale path is an
    * equi-join on cluster_id (shuffle co-locates each cluster; no
    * broadcast of the corpus). A row is removed when some smaller-id
    * member of its cluster is within `threshold` cosine; the smallest
    * such id is the keeper. Norms are computed once per row before
    * the join, so the quadratic step pays one dot product per pair.
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      threshold: Double,
      roundTo: Int = 4
  ): DataFrame = {
    val model = Ivf.train(corpus, idCol, vecCol, k, iters)
    val indexed = Ivf.index(corpus, idCol, vecCol, model)
      .select(col("cluster_id"), col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(VectorKernels.vecDot(col("v"), col("v"))))
      .localCheckpoint() // Lloyd already ran; feed both join sides from the materialized index
    val a = indexed.select(col("cluster_id"), col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = indexed.select(col("cluster_id"), col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", roundedCosine(roundTo, "va", "vb", "na", "nb"))
      .filter(col("sim") >= threshold)
      .groupBy(col("id_b").as("removed_id"))
      .agg(min("id_a").as("kept_id"), max("sim").as("max_sim"), count(lit(1)).as("n_dups"))
  }

  /** Embedding QC: per-label centroids and the vectors farthest from
    * their own label's centroid — the standard screen for mislabeled
    * or corrupt embeddings before they reach training.
    *
    * Determinism: centroids use [[Lloyd]]'s decimal-exact per-cell
    * mean (exact integer sums of DECIMAL(28,14) values, so centroid
    * bits are independent of partitioning); distances fold dimensions
    * in a FIXED left-associative order and round to `roundTo`, the
    * ss01 policy the oracle mirrors with the same fold. Within a label
    * every vector must have the same length.
    *
    * Shape: the centroid table is |labels|×d cells, summed in one
    * `treeAggregate` job and broadcast back as a labels-sized dim
    * table; distance is one map-side pass over the corpus; top-k via
    * TakeOrdered. No corpus-sized state anywhere.
    */
  def centroidOutliers(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      roundTo: Int = 4
  ): DataFrame = {
    val who = "centroid outliers"
    // per label: the d cell sums, then the count
    val sums = emb.select(col(labelCol), col(idCol), col(vecCol).cast("array<double>")).rdd
      .treeAggregate(mutable.HashMap.empty[Any, ExactSums])(
        (acc, r) => {
          if (!r.isNullAt(2)) {
            val v = r.getSeq[Double](2).toArray
            val s = acc.getOrElseUpdate(r.get(0), new ExactSums(v.length + 1))
            Lloyd.requireLength(who, r.get(1), v, s.n - 1)
            Lloyd.addCast(who, r.get(1), s, 0, v, 0, v.length)
            s.add(v.length, 1L)
          }
          acc
        },
        (a, b) => {
          b.foreach { case (l, s) =>
            a.get(l).fold(a(l) = s) { t =>
              require(t.n == s.n, s"$who: label $l has vectors of ${t.n - 1} and ${s.n - 1} components")
              t.merge(s)
            }
          }
          a
        })
    val centroids = emb.sparkSession.createDataFrame(
      sums.toSeq.map { case (l, s) =>
        Row(l, Seq.tabulate(s.n - 1)(i => Lloyd.mean(s(i), s(s.n - 1).toLong)))
      }.asJava,
      StructType(Seq(emb.schema(labelCol).copy(name = "lbl"), StructField("c", ArrayType(DoubleType)))))
    emb
      .select(col(idCol), col(labelCol).as("lbl"), col(vecCol).cast("array<double>").as("v"))
      .join(broadcast(centroids), Seq("lbl"))
      .select(col(idCol), col("lbl").as(labelCol),
        round(sqrt(aggregate(
          zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x)), roundTo).as("dist"))
      .orderBy(desc("dist"), col(idCol))
      .limit(k)
  }
}
