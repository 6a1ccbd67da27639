package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.queries.{Relational, Tables, TrainingData}

/** Physical-plan assertions — the "would this survive 100×" checks.
  * A query that returns correct rows through the wrong plan (full
  * scans, shuffled dim joins, global sorts) fails here even though the
  * oracle gate passes.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter + projection reach the parquet scan (PushedFilters, pruned ReadSchema)") {
    val t = Tables(spark, sf)
    val q = t.orders
      .filter(col("o_totalprice") > 100000)
      .select("o_orderkey", "o_totalprice")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)]"), p)
    // column pruning: the scan must not read the other 4 columns
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"), p)
  }

  test("fact-dim join broadcasts the dim (no shuffle of the fact side)") {
    val p = plan(Relational.q03JoinAgg.build(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scalar cross join is a broadcast nested loop, not a cartesian shuffle") {
    val p = plan(Relational.q05CrossScalar.build(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("orderBy+limit compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.q12TopK.build(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("anti and semi joins plan as join strategies, not subquery re-execution") {
    val pa = plan(Relational.q04AntiJoin.build(spark, sf))
    val ps = plan(Relational.q20ExistsSemi.build(spark, sf))
    assert(pa.contains("LeftAnti"), pa)
    assert(ps.contains("LeftSemi"), ps)
  }

  test("whole-stage codegen covers the scan->project pipeline of scalar ops") {
    // AQE prints codegen spans only in the finalized plan → execute first
    val df = TrainingData.td02Fingerprint.build(spark, sf)
    df.collect() // count() would plan a different QueryExecution
    val p = plan(df)
    // formatted explain marks codegen stages with "[codegen id : N]"
    assert(p.contains("codegen id"), p)
    assert(p.contains("* Project"), p)
  }

  test("bucketed co-located join plans with zero shuffle exchanges") {
    val t = Tables(spark, sf)
    // a fresh JVM gets a fresh in-memory catalog but inherits the old
    // warehouse dirs — drop both and remove orphan locations
    Seq("graft_orders_b", "graft_customer_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$tbl")
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    graft.operators.Bucketing.writeBucketed(
      t.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      "graft_orders_b", "o_custkey", 8)
    graft.operators.Bucketing.writeBucketed(
      t.customer.select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "o_custkey"),
      "graft_customer_b", "o_custkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val j = graft.operators.Bucketing.colocatedJoin(
        spark, "graft_orders_b", "graft_customer_b", "o_custkey")
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      // same join on unbucketed frames DOES shuffle — the bucketing is
      // what removed the exchanges
      val unbucketed = t.orders.select("o_orderkey", "o_custkey")
        .join(t.customer.withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"))
      assert(plan(unbucketed).contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloom decontamination probe is map-only (no join, no shuffle before the probe)") {
    import graft.operators.Bloom
    val t = Tables(spark, sf)
    val bench = t.documents.filter(col("doc_id") % 50 === 0)
    val filter = Bloom.buildFilter(bench, "text", 5, 5, 1 << 16)
    val probed = t.documents
      .select(col("doc_id"), Bloom.probe(col("text"), filter, 5, 5, 1 << 16).as("b"))
    val p = plan(probed)
    // the filter rides along as a literal: scan -> project, nothing else
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"probe must be a map-only scan+project:\n$p")
  }

  test("count-min estimate joins the sketch broadcast (counters never shuffle the terms)") {
    val t = Tables(spark, sf)
    val hh = graft.operators.Frequency.heavyHitters(t.documents, "text", 4, 128, 20)
    val p = plan(hh)
    assert(p.contains("BroadcastHashJoin"), s"counter lookup should broadcast:\n$p")
  }

  test("datasetid-partitioned fact + filtered registry join prunes partitions dynamically") {
    // the §1.1 design claim: "latest active version" resolution must
    // become file-level pruning, not a full fact scan
    val root = java.nio.file.Files.createTempDirectory("graft-dpp")
    val fact = spark.range(0, 20000)
      .selectExpr("id", "cast(id % 20 as bigint) as datasetid", "cast(id % 7 as int) as v")
    fact.write.partitionBy("datasetid").parquet(s"$root/fact")
    val registry = spark.range(0, 20)
      .selectExpr("id as datasetid", "id % 10 = 0 as isactive")
    val joined = spark.read.parquet(s"$root/fact")
      .join(registry.filter(col("isactive")), Seq("datasetid"))
      .groupBy("datasetid").count()
    val p = plan(joined)
    // the scan's PartitionFilters must carry the runtime pruning
    // subquery (dynamicpruning expression) fed by the registry filter
    assert(p.contains("dynamicpruning"), s"expected dynamic partition pruning:\n$p")
    // correctness: only the 2 active datasets' partitions contribute
    // (partition-dir values read back as int — compare numerically)
    val rows = joined.collect()
    assert(rows.map(_.getAs[Number](0).longValue).toSet == Set(0L, 10L))
  }

  test("bucketed range join avoids nested-loop plans and equals the naive form") {
    val t = Tables(spark, sf)
    val intervals = t.orders
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("window_id"),
        to_date(col("o_orderdate")).as("lo"),
        date_add(to_date(col("o_orderdate")), 30).as("hi"))
    val points = t.lineitem.select(to_date(col("l_shipdate")).as("d"))
    val bucketed = graft.operators.RangeJoin.pointInInterval(points, "d", intervals, "lo", "hi")
    // the decomposition must plan as an equi-join: a pure range
    // predicate would force BroadcastNestedLoopJoin / cartesian
    val p = plan(bucketed)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    val naive = points
      .crossJoin(intervals)
      .where(col("d").between(col("lo"), col("hi")))
    def grouped(df: DataFrame) =
      df.groupBy("window_id").count().orderBy("window_id").collect().toSeq
    assert(grouped(bucketed) == grouped(naive))
  }

  test("salted join equals plain join and spreads the hot key") {
    val big = spark.range(0, 10000)
      .select(when(col("id") % 10 === 0, lit("HOT")).otherwise(concat(lit("k"), col("id"))).as("k"),
        col("id").as("v"))
    val small = Seq(("HOT", 1), ("k1", 2), ("k2", 3)).toDF("k", "w")
    val plain = big.join(small, Seq("k")).agg(sum("v"), count(lit(1))).head()
    val salted = Skew.saltedJoin(big, small, "k", salt = 8).agg(sum("v"), count(lit(1))).head()
    assert(plain == salted)
  }

  test("two-phase agg equals direct agg for associative aggregates") {
    val df = spark.range(0, 10000)
      .select((col("id") % 5).as("k"), col("id").as("v"))
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().toSeq
    val twoPhase = Skew.twoPhaseAgg(
      df, "k", salt = 16,
      agg = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
      merge = Seq(sum("ps").as("s"), sum("pn").as("n"))
    ).orderBy("k").collect().toSeq
    assert(direct == twoPhase)
  }

  test("semantic dedup pair scan is an equi-join on cluster_id, never a nested loop") {
    val emb = Tables(spark, sf).embeddings
    val p = plan(graft.operators.Similarity
      .semanticDedup(emb, "vec_id", "embedding", k = 16, iters = 1, threshold = 0.35))
    // the quadratic step must be cluster-co-located: a hash/merge join
    // keyed on cluster_id, with id_a < id_b as a post-join condition —
    // a BroadcastNestedLoopJoin here would be all-pairs at 100 TB
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("z-order bucketing is one aggregation over a codegen'd morton expression") {
    val df = graft.queries.Extras.x25ZOrder.build(spark, sf)
    df.collect() // AQE prints codegen spans only in the finalized plan
    val p = plan(df)
    // single hash-agg pair (partial+final), no join, no window; the
    // interleave runs inside whole-stage codegen
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert(p.contains("codegen id"), p)
  }

  test("boilerplate df threshold broadcasts the corpus count (no shuffle of n_docs)") {
    val p = plan(TrainingData.td25Boilerplate.build(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the gram->boilerplate membership probe is a semi join
    assert(p.contains("LeftSemi") || p.contains("left_semi"), p)
  }

  test("prefix-jaccard candidate and verify joins are equi-joins, never cartesian") {
    import graft.operators.Dedup
    // jaccard joins prefix ⋈ prefix, containment prefix ⋈ full postings
    Seq(Dedup.Jaccard, Dedup.Containment).foreach { m =>
      val p = plan(Dedup.setSimPairs(Tables(spark, sf).documents, "doc_id", "text", m,
        threshold = 0.5, k = 3, maxFanout = 0L))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("conversion-window probe joins on user with the time range as a residual") {
    val p = plan(graft.queries.Extras.x28ConversionWindow.build(spark, sf))
    // equi on user_id; the 1-hour window must not force a nested loop
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("PQ ADC search keeps corpus codes distributed (no plan-side broadcast or collect shape)") {
    import graft.operators.Pq
    val emb = Tables(spark, sf).embeddings
    val model = Pq.train(emb, "vec_id", "embedding", m = 4, k = 16, iters = 1, dim = 64)
    val enc = Pq.encode(emb, "vec_id", "embedding", model)
    val queries = emb.filter(col("vec_id") < 10)
    val search = Pq.adcSearch(enc, queries, "vec_id", "embedding", model, k = 3)
    val p = plan(search)
    // codebooks+queries travel as sc.broadcast vars inside the
    // map-partitions closure; the CODES side must be a plain scan +
    // map with no plan-level broadcast or join of the corpus
    assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("MapPartitions"), p)
    // partition count of the codes side must not change results
    val base = search.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sorted.toSeq
    val repart = Pq.adcSearch(enc.repartition(13), queries, "vec_id", "embedding", model, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(repart == base, "per-partition heap merge must be partition-invariant")
  }

  test("IVF probe search is an equi-join on cluster_id with the corpus staying distributed") {
    import graft.operators.Ivf
    val emb = Tables(spark, sf).embeddings
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 1)
    val indexed = Ivf.index(emb, "vec_id", "embedding", model)
    val search = Ivf.search(indexed, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", model, k = 3, nprobe = 2)
    val p = plan(search)
    // candidates come from a cluster_id equi-join — never an all-pairs
    // plan, and never a corpus-sized broadcast (a broadcast of the
    // small PROBES side is fine and expected)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("cluster_id"), p)
    val rows = search.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(3) <= 3))
  }

  test("char-diversity quality scan is map-only whole-stage codegen (no explode, no shuffle)") {
    // the kernel's reason to exist: the oracle derives the same values
    // with a per-character unnest + two aggregations, but the engine
    // side must stay scan → project (sort only for the output order)
    val df = TrainingData.td35CharDiversity.build(spark, sf)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Generate") && !p.contains("HashAggregate"),
      s"char_diversity must not explode or aggregate per character:\n$p")
    assert(p.contains("char_diversity"), p)
    assert(p.contains("codegen id"), s"kernel must stay inside whole-stage codegen:\n$p")
  }

  test("stored IVF index search prunes to the probed clusters' partitions, bit-equal to in-memory") {
    import graft.operators.Ivf
    val emb = Tables(spark, sf).embeddings
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx")
    Ivf.writeIndex(emb, "vec_id", "embedding", model, s"$dir/index")
    // few queries, 1 probe each: the probed set must stay well under
    // the k=8 cluster dirs, so the pruning is observable
    val queries = emb.filter(col("vec_id") < 3)
    val stored = Ivf.searchStored(spark, s"$dir/index", queries,
      "vec_id", "embedding", model, k = 3, nprobe = 1)
    // the probed-cluster IN-filter must land in the scan's
    // PartitionFilters: a stored-index probe reads nprobe/k of the
    // corpus directories, never all of them. AQE hides the subtree
    // behind AdaptiveSparkPlanExec — descend explicitly, post-execution.
    stored.collect() // finalize the adaptive plan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val found = scans(stored.queryExecution.executedPlan)
    assert(found.nonEmpty, "stored search must read the parquet index")
    val idxScan = found.find(_.metadata.getOrElse("Location", "").contains("graft-ivf-idx"))
      .getOrElse(fail("no scan over the stored index"))
    assert(idxScan.partitionFilters.exists(_.references.exists(_.name == "cluster_id")),
      s"cluster_id partition filter missing: ${idxScan.partitionFilters}")
    assert(idxScan.selectedPartitions.partitionCount <= 3,
      s"expected ≤3 probed cluster dirs, scanned ${idxScan.selectedPartitions.partitionCount}")
    // stored results must be bit-identical to the in-memory search
    val indexed = Ivf.index(emb, "vec_id", "embedding", model)
    val direct = Ivf.search(indexed, queries, "vec_id", "embedding", model, k = 3, nprobe = 1)
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(key(stored) == key(direct))
  }

  test("span dedup joins stay equi/semi joins on the window hash, never cartesian") {
    val t = Tables(spark, sf)
    Seq(
      graft.operators.Dedup.duplicateSpans(t.documents, "doc_id", "text", w = 10),
      graft.operators.Dedup.removeDupSpans(t.documents, "doc_id", "text", w = 10)
    ).foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("priority sample plans as TakeOrdered over map-only priorities (no global sort)") {
    val t = Tables(spark, sf)
    val scored = t.documents.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    val p = plan(graft.operators.Packing.prioritySample(scored, "doc_id", "n_tokens", 100, "ps"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"priority computation must not shuffle:\n$p")
  }

  test("dup-ngram stats shuffle only narrow (id, n, hash) keys — no doc-sized wire traffic") {
    val t = Tables(spark, sf)
    val p = plan(graft.operators.TextAnalysis.dupNgramStats(t.documents, "doc_id", "text", Seq(2, 3)))
    // the text column must die at the scan: only the gram-hash explode
    // survives into the exchanges
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = p.split("\n").filter(_.contains("Arguments: hashpartitioning"))
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text")),
      s"no exchange may carry the document text:\n$p")
  }

  test("centroid outliers broadcast the label-sized centroid table and TakeOrdered the top-k") {
    val t = Tables(spark, sf)
    val p = plan(graft.operators.Similarity.centroidOutliers(
      t.embeddings, "vec_id", "embedding", "label", k = 20))
    assert(p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("bigram-LM model tables aggregate partially before their exchanges (map-side combine)") {
    val t = Tables(spark, sf)
    val p = plan(graft.operators.TextAnalysis.bigramLmScores(t.documents, "doc_id", "text"))
    // the vocab scalar rides a broadcast, never a shuffle of the corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), s"model counts must partial-aggregate:\n$p")
  }

  test("RRF fusion joins two k-bounded lists — TakeOrdered lex side, no cartesian") {
    // assert the lex-side shape on the PRE-checkpoint frame: inside
    // ss11 the candidate list sits behind localCheckpoint, which
    // truncates lineage and would make these asserts vacuous
    val t = Tables(spark, sf)
    val lex = graft.operators.TextAnalysis
      .bm25Scores(t.documents, "doc_id", "text", Seq("data", "spark", "query"))
      .orderBy(desc("bm25"), asc("doc_id")).limit(50)
    val pl = plan(lex)
    assert(pl.contains("TakeOrderedAndProject"),
      s"the BM25 candidate list must TakeOrdered, not global-sort:\n$pl")
    assert(!pl.contains("CartesianProduct"), pl)
    // and the fused query itself stays cartesian-free
    val p = plan(TrainingData.ss11RrfFusion.build(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("perplexity-bucket assignment broadcasts the per-language cut values (map-side compare)") {
    val p = plan(TrainingData.td45PerplexityBuckets.build(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"tertile cuts must broadcast back against the scores:\n$p")
  }

  test("frame sampling is map-only until the final order (no hash exchange)") {
    val t = Tables(spark, sf)
    val p = plan(graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.asMediaBatch(t.documents, "doc_id", "text"), 64, 2))
    assert(!p.contains("hashpartitioning"),
      s"explode + substring must not shuffle:\n$p")
    assert(p.contains("Generate"), p)
  }

  test("approx-quantile sketch aggregates without a global sort; the verify pass broadcasts") {
    val p = plan(graft.queries.Extras.x34ApproxQuantiles.build(spark, sf))
    assert(p.contains("ObjectHashAggregate"),
      s"approx_percentile must run as a sketch aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the counting pass must broadcast the tiny per-(group,p) frame:\n$p")
  }

  test("column profiling reads the table ONCE (Expand multi-distinct, not per-column scans)") {
    val p = plan(graft.queries.Extras.x35Profile.build(spark, sf))
    // count scan NODES (the "(n) Scan parquet" detail headers), not the
    // tree line + detail header pair every node prints
    val scans = p.split("\n").count(l => l.trim.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"profiling must be one pass over the data, found $scans scans:\n$p")
    assert(p.contains("Expand"), s"multi-column distinct should plan via Expand:\n$p")
  }

  test("curation pipeline composes gate→dedup→cap→split over ONE corpus scan") {
    val p = plan(TrainingData.td49CurationPipeline.build(spark, sf))
    val scans = p.split("\n").count(l => l.trim.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"all four stages must pipeline over one scan, found $scans:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rolling window ops stay partitioned frames — no cartesian, bounded frame state") {
    for (q <- Seq(graft.queries.Extras.x29RollingMedian,
                  graft.queries.Extras.x36RollingRegression)) {
      val p = plan(q.build(spark, sf))
      assert(p.contains("Window"), s"${q.name} must plan as a Window:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"${q.name} must not degrade to a pair join:\n$p")
      // the window is keyed by event_type — never a single global partition
      assert(!p.contains("Exchange SinglePartition"),
        s"${q.name} must not serialize into one task:\n$p")
    }
  }

  test("association rules broadcast the item supports; the pair join keys on the basket") {
    val p = plan(graft.queries.Extras.x37AssocRules.build(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"support joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair counting must stay an equi-join on (user, day):\n$p")
  }

  test("mutual-kNN graph and triangle counting never broadcast or cartesian the corpus") {
    for (q <- Seq(TrainingData.ss12MutualKnn, TrainingData.ss13KnnTriangles)) {
      val df = q.build(spark, sf)
      df.collect() // finalize AQE so join strategies are visible
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"${q.name}: graph joins must stay equi-joins:\n$p")
    }
  }

  test("link prediction wedges stay equi-joins on the center node; adjacency removal is anti") {
    val df = TrainingData.ss14LinkPrediction.build(spark, sf)
    df.collect() // finalize AQE so join strategies are visible
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"the wedge self-join must key on the shared neighbour, never |V|² pairs:\n$p")
    assert(p.contains("LeftAnti"), s"non-adjacency must be a hash anti-join:\n$p")
  }

  test("attribution interval join is an equi-join on user with the range as post-condition") {
    val p = plan(TrainingData.st04Attribution.build(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the time-range predicate must ride the user equi-join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)") ||
      p.contains("EqualTo(event_type,click)"),
      s"the click/purchase filters must push into the scan:\n$p")
  }

  test("EWMA anomaly screen is one partitioned lag frame over the daily aggregate") {
    val p = plan(graft.queries.Extras.x40EwmaAnomaly.build(spark, sf))
    assert(p.contains("Window"), s"the lag chain must plan as one Window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"the frame is keyed by event_type — never one global task:\n$p")
  }

  test("k-anonymity audit is a single hash aggregate over integer quasi-identifiers") {
    val p = plan(TrainingData.td50KAnonymity.build(spark, sf))
    assert(p.contains("HashAggregate"), s"the audit must hash-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"no pair joins, no windows — one grouped pass:\n$p")
  }

  test("label propagation rounds stay equi-joins with per-node argmax windows") {
    val df = TrainingData.ss15LabelProp.build(spark, sf)
    df.collect() // finalize AQE
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"each LPA round must join labels by node key, never pair the corpus:\n$p")
  }

  test("resampling stats collapse the x64 expansion map-side (partial agg before exchange)") {
    for (q <- Seq(graft.queries.Extras.x42BootstrapCi,
                  graft.queries.Extras.x43PermutationTest)) {
      val p = plan(q.build(spark, sf))
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"${q.name}: the per-(group,b) sums must partial-aggregate before shuffling:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"${q.name}: only the 1-row observed frame may broadcast:\n$p")
    }
  }

  test("personalized PageRank keeps the seed set distributed (joined by id, never collected)") {
    // the final frame is post-localCheckpoint (iterations materialize
    // eagerly), so inspect the FIRST iteration's un-checkpointed plan:
    // the seed join must be a hash join on id and |S| a 1-row broadcast
    val t = Tables(spark, sf)
    val e0 = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = edges.select(col("src").as("id")).distinct().filter(col("id") % 64 === 0)
    val p = plan(graft.operators.Graph.personalizedPageRank(edges, seeds, iters = 1))
    assert(!p.contains("CartesianProduct"),
      s"seed teleport must ride the rank frame, never pair the graph:\n$p")
  }

  test("PageRank contribution sums partial-aggregate map-side (one row per dst per task crosses the wire)") {
    // the integer-grain quantized sum must plan as partial_sum +
    // final sum around the exchange — the property the old ordered
    // collect_list fold forfeited (every edge row shuffled; 76-79 GB
    // recorded sf10 spill). Build the un-checkpointed step directly.
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Seq((1L, 0.5, 2L), (2L, 0.25, 1L), (3L, 0.25, 1L)).toDF("id", "r", "outdeg")
    val step = graft.operators.Graph.contribSums(e, r)
    val p = step.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"),
      s"quantized contributions must combine map-side before the exchange:\n$p")
    assert(!p.contains("collect_list"),
      s"no per-dst array materialization may remain in the rank fold:\n$p")
  }

  // ── lshDecontam broadcast contract (r11 VERDICT item 4) ───────────
  // shared traversal: the eval side of BOTH hinted joins (band
  // postings, signature re-fetch) must sit under a broadcast build —
  // the corpus never shuffles for decontamination.
  private def broadcastJoins(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    p match {
      case a: AdaptiveSparkPlanExec => broadcastJoins(a.executedPlan)
      case q: QueryStageExec => broadcastJoins(q.plan)
      case b: BroadcastHashJoinExec =>
        b +: (b.children ++ b.subqueries).flatMap(broadcastJoins)
      case other => (other.children ++ other.subqueries).flatMap(broadcastJoins)
    }
  }
  private def evalBuild(
      b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec,
      alsoWith: String): Boolean = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val build = b.buildSide match { case BuildLeft => b.left; case BuildRight => b.right }
    val names = build.output.map(_.name).toSet
    names.contains("eval_id") && names.contains(alsoWith)
  }
  private def assertEvalBroadcast(plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    val bhjs = broadcastJoins(plan)
    assert(bhjs.exists(evalBuild(_, "band_key")),
      s"band join must build on the broadcast EVAL postings:\n$plan")
    assert(bhjs.exists(evalBuild(_, "sig_b")),
      s"signature re-fetch must build on the broadcast EVAL sigs:\n$plan")
  }
  private def longDoc(seed: Int): String =
    (0 until 30).map(i => s"tok${seed}x$i").mkString(" ") // doc-unique vocab: cross-doc Jaccard 0

  test("lshDecontam broadcasts ONLY eval-derived frames, even across sessions") {
    import graft.operators.Dedup
    // the foreachBatch condition: the corpus frame analyzes in a
    // DIFFERENT session than the eval suite came from
    val s2 = spark.newSession()
    val train = s2.createDataFrame(
      (0L until 40L).map(i => (i, longDoc(i.toInt))))
      .toDF("doc_id", "text")
    val eval = Seq((1000L, longDoc(3)), (1001L, longDoc(7)))
      .toDF("doc_id", "text")
    val flagged = Dedup.lshDecontam(train, eval, "doc_id", "text", threshold = 0.35)
    // cross-session analysis must succeed (kernels registered on both)
    val hit = flagged.collect().map(_.getLong(0)).sorted.toSeq
    assert(hit == Seq(3L, 7L), s"self-leak rows must flag: $hit")
    assertEvalBroadcast(flagged.queryExecution.executedPlan)
  }

  test("composed pipeline's decontam stage broadcasts the eval side INSIDE the foreachBatch clone") {
    import graft.operators.CurationPipeline
    // a QueryExecutionListener registered on the main session is
    // inherited by the micro-batch's cloned session, so the decontam
    // materialization that runs inside foreachBatch is observable
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.execution.SparkPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-decontam-plan").toString
      spark.createDataFrame((0L until 40L).map(i => (i, longDoc(i.toInt), "src")))
        .toDF("doc_id", "text", "source")
        .coalesce(1).write.mode("overwrite").json(s"$dir/landing")
      val eval = Seq((1000L, longDoc(5))).toDF("doc_id", "text")
      val cfg = CurationPipeline.Config(
        s"$dir/work", java.sql.Date.valueOf("2026-01-01"),
        thresholds = graft.operators.TextAnalysis.QualityThresholds(
          minTokens = 1, maxTokens = 1000000,
          maxRepetitionRatio = 1.0, maxPunctRatio = 1.0),
        decontamEval = Some(eval))
      val reg = new graft.registry.DatasetRegistry(spark, cfg.registryPath)
      val src = spark.readStream
        .schema("doc_id LONG, text STRING, source STRING")
        .json(s"$dir/landing")
      graft.streaming.StreamingIngest.runAvailableNow(
        src, s"$dir/ckpt",
        (df, id) => { CurationPipeline.processDelivery(df, s"b$id", reg, cfg); () })
      spark.streams.resetTerminated()
      // at least one execution captured from the cloned session must
      // carry the decontam chain with both eval-side broadcast builds
      import scala.jdk.CollectionConverters._
      val withDecontam = plans.asScala.filter { p =>
        val b = broadcastJoins(p)
        b.exists(evalBuild(_, "band_key")) && b.exists(evalBuild(_, "sig_b"))
      }
      assert(withDecontam.nonEmpty,
        s"no captured micro-batch execution shows the broadcast-eval decontam chain " +
          s"(${plans.size()} executions captured)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("media canonical dedup joins metadata by id — payload columns never shuffle") {
    val df = TrainingData.mm05MediaCanonical.build(spark, sf)
    df.collect() // finalize AQE
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"pair discovery must stay banded:\n$p")
    val exchanges = p.split("\n").filter(_.contains("Arguments: hashpartitioning"))
    assert(exchanges.forall(!_.contains("text#")),
      s"no exchange may carry the media payload:\n$p")
  }

  test("source dup profile partial-aggregates the distinct-fp count before one per-source exchange") {
    val t = Tables(spark, sf)
    val p = plan(graft.operators.Dedup.sourceDupProfile(t.documents, "text", "source"))
    assert(p.contains("partial_count"), s"count(distinct fp) must partial-aggregate:\n$p")
    val exchanges = p.split("\n").filter(_.contains("Arguments: hashpartitioning"))
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text")),
      s"no exchange may carry the document text:\n$p")
  }

  test("td54 decontam probe broadcasts the eval gram set — corpus grams never sort-merge") {
    val p = plan(TrainingData.td54NgramDecontam.build(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"eval grams must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle for the join:\n$p")
  }

  test("sketch-class collapse: banded join and exchanges carry sketches, never document text") {
    val t = Tables(spark, sf)
    val df = graft.operators.Dedup.simHashClassPairs(t.documents, "doc_id", "text")
    df.collect() // finalize AQE
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"class pairing must stay a banded equi-join:\n$p")
    val exchanges = p.split("\n").filter(_.contains("Arguments: hashpartitioning"))
    assert(exchanges.forall(!_.contains("text#")),
      s"no exchange may carry the document text — only (s, rep, m) rows shuffle:\n$p")
  }

  test("capped LSH: bucket truncation is a partitioned window; vectors never enter the cap or candidate shuffles") {
    val t = Tables(spark, sf)
    val df = graft.operators.Similarity.lshKnnCapped(
      t.embeddings, "vec_id", "embedding", k = 3, bits = 8, tables = 2, bucketCap = 8)
    df.collect() // finalize AQE
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"candidates must come from bucket equi-joins:\n$p")
    // the truncation window partitions by (table_id, bucket) — never a
    // global single-partition frame
    assert(!p.contains("SinglePartition"), s"no global window/exchange allowed:\n$p")
    val exchanges = p.split("\n").filter(_.contains("Arguments: hashpartitioning"))
    assert(exchanges.exists(e => e.contains("table_id#") && e.contains("bucket#")),
      s"the cap must repartition on (table_id, bucket):\n$p")
    assert(exchanges.forall(e => !(e.contains("table_id#") && e.contains(" v#"))),
      s"bucket exchanges must not carry the vectors:\n$p")
  }
}
