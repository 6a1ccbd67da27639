package graft

import org.apache.spark.sql.functions._

import graft.functions.RollingHash64
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.Tables

/** Specs for the training-data operators. Approximate ops (MinHash
  * LSH, SimHash, hyperplane ANN) are judged against exact ground truth
  * computed on the same data — the correctness bar is recall, not
  * hash equality.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  // plain scans, never cached: a cached frame would outlive the suite
  // and change the plans and job counts of every later suite's rows
  private lazy val docs = Tables(spark, sf).documents
  private lazy val emb = Tables(spark, sf).embeddings

  // ── dedup ─────────────────────────────────────────────────────────
  test("exactDedup keeps min-id row per duplicate group") {
    val df = Seq((3L, "same"), (1L, "same"), (2L, "other")).toDF("id", "t")
    val kept = Dedup.exactDedup(df, "id", Seq("t")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    val stats = Dedup.exactDedupStats(df, "id", Seq("t")).collect()
    assert(stats.find(_.getString(0) == "same").get.getLong(2) == 2L)
  }

  test("wordShingles yields distinct k-grams; short texts yield none") {
    val got = Seq(("a b c d", 1), ("a b", 2), ("", 3))
      .toDF("t", "id")
      .select(Dedup.wordShingles(col("t"), 3).as("s"))
      .collect()
      .map(_.getSeq[String](0).toSet)
    assert(got(0) == Set("a b c", "b c d"))
    assert(got(1).isEmpty && got(2).isEmpty)
  }

  test("ngramDecontam flags train docs sharing a word 8-gram with the eval set") {
    val train = Seq(
      (1L, "a b c d e f g h i j"), // 3 distinct 8-grams, one shared
      (2L, "z y x w v u t s r q"), // no overlap
      (3L, "a b c d e f g") // 7 words: no 8-gram at all
    ).toDF("id", "t")
    val eval = Seq((100L, "a b c d e f g h")).toDF("id", "t")
    val got = Dedup.ngramDecontam(train, eval, "id", "t", k = 8).collect()
    assert(got.length == 1, got.mkString(","))
    val r = got.head
    assert(r.getLong(0) == 1L) // doc_id
    assert(r.getInt(1) == 3) // n_grams
    assert(r.getLong(2) == 1L && r.getLong(3) == 1L) // shared grams, eval docs
    assert(r.getDouble(4) == 1.0 / 3.0) // exact-int division both engines
  }

  test("minhash LSH candidates achieve full recall vs exact jaccard >= 0.5 (sf0.001)") {
    val truth = Dedup
      .setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 0.5, k = 3,
        maxFanout = Long.MaxValue)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val cand = Dedup
      .minHashCandidates(docs, "doc_id", "text", k = 3, numHashes = 64, bands = 16, threshold = 0.35)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(truth.nonEmpty, "fixture should contain near-duplicates")
    assert((truth -- cand).isEmpty, s"missed pairs: ${truth -- cand}")
  }

  test("minhash estimate tracks exact jaccard within 0.2") {
    val est = Dedup
      .minHashCandidates(docs, "doc_id", "text", threshold = 0.35)
      .withColumnRenamed("est_jaccard", "est")
    val exact = Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 0.0, k = 3,
      maxFanout = Long.MaxValue)
    val joined = est
      .join(exact, Seq("id_a", "id_b"))
      .select(abs(col("est") - col("jaccard")).as("err"))
      .agg(max("err"))
      .head()
      .getDouble(0)
    assert(joined < 0.2, s"max |est - exact| = $joined")
  }

  test("banded-LSH operators reject degenerate parameters before any Spark job runs") {
    // lazy frames and a hand-built index: setting up runs no job
    val d = docs
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-params").toString
    def idx(k: Int, n: Int, b: Int) = Dedup.EvalIndex(
      d.select(col("doc_id").as("id"), Dedup.minHashSignature(col("text")).as("sig")), k, n, b)
    // every MinHash entry point, and whether it takes a threshold
    val minHash: Seq[(String, Boolean, (Int, Int, Int, Double) => Any)] = Seq(
      ("minHashCandidates", true,
        (k, n, b, t) => Dedup.minHashCandidates(d, "doc_id", "text", k, n, b, t)),
      ("writeLshIndex", false,
        (k, n, b, _) => Dedup.writeLshIndex(d, "doc_id", "text", s"$dir/idx", k, n, b)),
      ("dedupAgainstIndex", true,
        (k, n, b, t) => Dedup.dedupAgainstIndex(d, "doc_id", "text", s"$dir/idx", k, n, b, t)),
      ("ingestBatch", true,
        (k, n, b, t) => Dedup.ingestBatch(d, "doc_id", "text", s"$dir/lsh", s"$dir/fp", t,
          k = k, numHashes = n, bands = b)),
      ("dedupPipeline", true,
        (k, n, b, t) => Dedup.dedupPipeline(d, "doc_id", "text", k, n, b, candidateThreshold = t)),
      ("prepareEvalIndex", false,
        (k, n, b, _) => Dedup.prepareEvalIndex(d, "doc_id", "text", k, n, b)),
      ("lshDecontam", true,
        (k, n, b, t) => Dedup.lshDecontam(d, d, "doc_id", "text", k, n, b, t)),
      ("lshDecontamFromSigs", true,
        (k, n, b, t) => Dedup.lshDecontamFromSigs(idx(3, 64, 16).sigs, idx(k, n, b), t)),
      ("decontamStream", true,
        (k, n, b, t) => graft.streaming.StreamingIngest.decontamStream(d, d, "doc_id", "text",
          k, n, b, t)))
    val params = Seq(
      ("k=0", (0, 64, 16, 0.5), "shingle width k must be >= 1, got 0"),
      ("numHashes=0", (3, 0, 16, 0.5), "numHashes must be >= 1, got 0"),
      ("bands=0", (3, 64, 0, 0.5), "bands must be >= 1, got 0"),
      ("bands=5", (3, 64, 5, 0.5), "numHashes=64 must divide into bands=5"),
      ("threshold=NaN", (3, 64, 16, Double.NaN), "threshold must be in [0, 1], got NaN"),
      ("threshold=1.5", (3, 64, 16, 1.5), "threshold must be in [0, 1], got 1.5"),
      ("threshold=-0.1", (3, 64, 16, -0.1), "threshold must be in [0, 1], got -0.1"))
    val minHashCases = for {
      (op, takesThreshold, call) <- minHash
      (p, (k, n, b, t), msg) <- params if takesThreshold || !p.startsWith("threshold")
    } yield (s"$op $p", msg, () => call(k, n, b, t))
    def sn(window: Int = 3, k: Int = 3, numHashes: Int = 64, keyLen: Int = 24,
        threshold: Double = 0.35) = () =>
      Dedup.sortedNeighborhood(d, "doc_id", "text", window, k, numHashes, keyLen, threshold)
    val cases: Seq[(String, String, () => Any)] = minHashCases ++ Seq(
      ("dedupPipeline jaccardThreshold=1.5", "threshold must be in [0, 1], got 1.5",
        () => Dedup.dedupPipeline(d, "doc_id", "text", jaccardThreshold = 1.5)),
      ("sortedNeighborhood window=0", "window must be >= 1, got 0", sn(window = 0)),
      ("sortedNeighborhood keyLen=0", "keyLen must be >= 1, got 0", sn(keyLen = 0)),
      ("sortedNeighborhood k=0", "shingle width k must be >= 1, got 0", sn(k = 0)),
      ("sortedNeighborhood numHashes=0", "numHashes must be >= 1, got 0", sn(numHashes = 0)),
      ("sortedNeighborhood threshold=NaN", "threshold must be in [0, 1], got NaN",
        sn(threshold = Double.NaN)),
      ("simHashPairs maxHamming=-1", "maxHamming must be in [0, 64], got -1",
        () => Dedup.simHashPairs(d, "doc_id", "text", maxHamming = -1)),
      ("simHashPairs maxHamming=65", "maxHamming must be in [0, 64], got 65",
        () => Dedup.simHashPairs(d, "doc_id", "text", maxHamming = 65)),
      ("simHashClassPairs maxHamming=-1", "maxHamming must be in [0, 64], got -1",
        () => Dedup.simHashClassPairs(d, "doc_id", "text", maxHamming = -1)),
      ("simHashClassPairs maxHamming=65", "maxHamming must be in [0, 64], got 65",
        () => Dedup.simHashClassPairs(d, "doc_id", "text", maxHamming = 65)))
    for ((name, msg, call) <- cases) {
      val (e, jobs) = jobsIn(intercept[IllegalArgumentException](call()))
      assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
      assert(jobs == 0, s"$name ran $jobs Spark jobs before rejecting")
    }
    // the bounds themselves stay legal
    Dedup.requireLsh(k = 1, numHashes = 1, bands = 1, threshold = 1.0, window = 1, keyLen = 1,
      maxHamming = 64)
    Dedup.requireLsh(threshold = 0.0, maxHamming = 0)
  }

  test("simhash: near-identical texts land within small hamming distance, unrelated far") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different words about spark query engines and column pruning")
    ).toDF("id", "t")
    val m = df
      .select(col("id"), Dedup.simHash64(col("t")).as("h"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) <= 12, s"near-dup hamming ${ham(m(1L), m(2L))}")
    assert(ham(m(1L), m(3L)) > 12, s"unrelated hamming ${ham(m(1L), m(3L))}")
  }

  test("winnowing: shared long substring guarantees a shared fingerprint; storage shrinks") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"unique lead-in words here $shared and a different tail entirely"),
      (2L, s"totally other beginning text $shared with another distinct ending"),
      (3L, "no overlap with the others at all in any words whatsoever")
    ).toDF("id", "t")
    val fps = df
      .select(col("id"), Dedup.winnowFingerprints(col("t"), k = 3, w = 4).as("fp"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .toMap
    // guarantee: overlap of >= w+k-1 = 6 words shares >= 1 fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    // selective: fewer fingerprints than full shingles
    val shingleCount = df.filter(col("id") === 1)
      .select(size(Dedup.wordShingles(col("t"), 3))).head().getInt(0)
    assert(fps(1L).size < shingleCount)
  }

  test("deterministic HLL sketch estimates within theoretical error and is partition-invariant") {
    import graft.operators.ApproxDistinct
    // corrected estimator on a range of cardinalities (small ones
    // exercise the linear-counting branch)
    val df = spark.range(0, 30000)
      .select((col("id") % 3).cast("string").as("g"),
        when(col("id") % 3 === 0, col("id") % 40)      // ~40 distinct
          .when(col("id") % 3 === 1, col("id") % 500)  // ~500
          .otherwise(col("id")).as("v"))               // ~10k
    val est = ApproxDistinct.approxDistinct(df, Seq("g"), "v")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val exact = df.groupBy("g").agg(countDistinct("v").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val err = math.abs(est(k) - n) / n
      // m=64 → standard error 1.04/8 = 13%; allow 3 sigma
      assert(err < 0.39, s"$k: est ${est(k)} vs exact $n (err $err)")
    }
    // order/partitioning invariance: the clamped 2^-rho terms sum exactly
    val ev = Tables(spark, sf).events
    def run(d: org.apache.spark.sql.DataFrame) = ApproxDistinct
      .approxDistinct(d, Seq("event_type"), "user_id", corrected = false)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(run(ev) == run(ev.repartition(13)))
  }

  // ── similarity ────────────────────────────────────────────────────
  test("brute-force knn is symmetric-sane and deterministic") {
    val knn = Similarity
      .bruteForceKnn(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
      .collect()
    assert(knn.length == 30)
    assert(knn.forall(r => r.getLong(0) != r.getLong(1)))
    val again = Similarity
      .bruteForceKnn(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
      .collect()
    assert(knn.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0)))
      .toDF("a", "b", "c")
    val r = df
      .select(
        Similarity.cosine(col("a"), col("b")).as("same"),
        Similarity.cosine(col("a"), col("c")).as("orth"))
      .head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("LSH ANN recall@3 vs brute force is useful (> 0.25) and rescoring is exact") {
    val brute = Similarity
      .bruteForceKnn(emb, emb, "vec_id", "embedding", k = 3)
      .select("query_id", "corpus_id", "sim")
    // tiny fixture (50 vectors): coarse buckets + more tables so the
    // probe set is meaningful; production sizing is data-dependent
    val ann = Similarity
      .lshKnn(emb, "vec_id", "embedding", k = 3, bits = 3, tables = 8)
      .select("query_id", "corpus_id", "sim")
    val b = brute.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val a = ann.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val recall = a.keySet.count(b.keySet).toDouble / b.size
    assert(recall > 0.25, s"recall@3 = $recall")
    // where ANN returned a true-top-3 pair, the rescored sim is exact
    a.keySet.intersect(b.keySet).foreach(k => assert(a(k) == b(k)))
  }

  test("NN-Descent refines a weak LSH init toward the exact kNN graph, deterministically") {
    // clustered corpus — the structure NN-Descent exploits: 12 well-
    // separated directions, members = direction + small deterministic
    // perturbation (the corpus's perturbed-replica shape)
    val dim = 16
    val rows = for (c <- 0 until 12; m <- 0 until 5) yield {
      val id = (c * 5 + m).toLong
      val v = Array.tabulate(dim) { j =>
        val centre = math.sin(1.0 + c * 7919.0 * (j + 1)) // fixed per (c, j)
        centre + 0.01 * math.sin(1.0 + id * 104729.0 * (j + 1))
      }
      (id, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineKnnKernel(df, df, "vec_id", "embedding", k = 4)
      .select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // weak init: 2 bits, 1 table, cap 4 — co-buckets mostly wrong pairs
    val init = Similarity.lshKnn(df, "vec_id", "embedding",
      k = 4, bits = 2, tables = 1, bucketCap = 4)
      .select("query_id", "corpus_id")
    def recall(knn: org.apache.spark.sql.DataFrame): Double = {
      val got = knn.select("query_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(exact).toDouble / exact.size
    }
    val r0 = recall(init)
    val r2 = recall(Similarity.nnDescentKnn(df, "vec_id", "embedding", k = 4,
      init = init, rounds = 2))
    assert(r2 > r0 + 0.2, s"descent must lift exact-kNN recall: init=$r0 rounds2=$r2")
    assert(r2 > 0.8, s"clustered corpus must converge near the exact graph: $r2")
    // bit-determinism under repartitioning (same ties, same rounding)
    val a = Similarity.nnDescentKnn(df, "vec_id", "embedding", k = 4,
      init = init, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val b = Similarity.nnDescentKnn(df.repartition(7), "vec_id", "embedding", k = 4,
      init = init.repartition(5), rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a == b, "descent rounds must be partition-invariant")
  }

  test("capped LSH: huge cap equals lshKnn exactly; small cap bounds bucket work and still answers") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val full = rows(Similarity.lshKnn(emb, "vec_id", "embedding", k = 3, bits = 3, tables = 2))
    val hugeCap = rows(Similarity.lshKnn(
      emb, "vec_id", "embedding", k = 3, bits = 3, tables = 2, bucketCap = 1000000))
    assert(hugeCap == full, "a cap larger than every bucket must reproduce lshKnn exactly")
    // bits=1: two buckets of ~25 vectors — the synthetic-mega-bucket
    // shape. cap=5 ⇒ candidates per query ≤ tables × 5
    val capped = Similarity.lshKnn(
      emb, "vec_id", "embedding", k = 50, bits = 1, tables = 1, bucketCap = 5)
    val perQuery = capped.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getLong(1) <= 5),
      "bucket truncation must bound per-query candidates at tables x cap")
    val answered = capped.select("query_id").distinct().count()
    // every query still gets answers except possibly the cap members
    // themselves being each other's only candidates
    assert(answered >= 45, s"queries answered: $answered")
    // the same bound on the multi-probe family: huge cap = byte-equal
    // to the uncapped plan, small cap stays bounded per query
    val mpFull = rows(Similarity.lshKnn(
      emb, "vec_id", "embedding", k = 3, bits = 4, tables = 1, multiProbe = true))
    val mpHuge = rows(Similarity.lshKnn(
      emb, "vec_id", "embedding", k = 3, bits = 4, tables = 1, bucketCap = 1000000,
      multiProbe = true))
    assert(mpHuge == mpFull, "Int.MaxValue-adjacent cap must reproduce multi-probe exactly")
    val mpCapped = Similarity.lshKnn(
      emb, "vec_id", "embedding", k = 50, bits = 1, tables = 1, bucketCap = 5, multiProbe = true)
    val mpPer = mpCapped.groupBy("query_id").count().collect()
    // bits=1 ⇒ identity + 1 flip probe reach BOTH buckets: ≤ 2 × cap
    assert(mpPer.nonEmpty && mpPer.forall(_.getLong(1) <= 10),
      "multi-probe bucket truncation must bound per-query candidates")
  }

  test("capped LSH sweep: per-cap frames equal independent lshKnnCapped runs exactly") {
    // the one-plan sweep (min_rn at the largest cap, each pair exploded
    // to the caps that admit it, one top-k per (cap, query)) must be
    // row-identical, cap by cap, to running the capped lshKnn per cap
    // and post-filtering the query slice — the ss20 rewrite's contract
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val caps = Seq(2, 5, 1000000)
    val sweep = Similarity.lshKnnCappedSweep(emb, "vec_id", "embedding",
      k = 3, bits = 3, tables = 2, caps = caps, queryPred = col("id") < 30)
    assert(sweep.columns.toSeq == Seq("bucket_cap", "query_id", "corpus_id", "sim", "rank"))
    assert(sweep.select("bucket_cap").distinct().collect().map(_.getInt(0)).toSet == caps.toSet)
    caps.foreach { c =>
      val independent = Similarity.lshKnn(
        emb, "vec_id", "embedding", k = 3, bits = 3, tables = 2, bucketCap = c)
        .filter(col("query_id") < 30)
      val want = rows(independent)
      assert(want.nonEmpty, s"cap=$c: the per-cap run found no neighbors")
      assert(rows(sweep.filter(col("bucket_cap") === c)) == want,
        s"sweep at cap=$c must equal the per-cap run")
    }
  }

  test("multi-probe LSH: 1 table + bit-flip probes recalls at least as much as 1 plain table") {
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity
        .bruteForceKnn(emb, emb, "vec_id", "embedding", k = 3)
        .select("query_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val a = ann.select("query_id", "corpus_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      a.count(brute).toDouble / brute.size
    }
    val plain = recallOf(
      Similarity.lshKnn(emb, "vec_id", "embedding", k = 3, bits = 4, tables = 1))
    val multi = recallOf(
      Similarity.lshKnn(emb, "vec_id", "embedding", k = 3, bits = 4, tables = 1,
        multiProbe = true))
    // the probe set strictly contains the identity probe, so the
    // candidate set (and hence recall) can only grow
    assert(multi >= plain, s"multi-probe $multi < plain $plain")
    assert(multi > 0.4 && multi > plain,
      s"multi-probe recall@3 = $multi should beat the single-probe $plain on this fixture")
  }

  // ── text analysis ─────────────────────────────────────────────────
  test("langId kernel equals the declarative regex form on the corpus and edge cases") {
    val onCorpus = docs
      .withColumn("a", TextAnalysis.langId(col("text")))
      .withColumn("b", TextAnalysis.langIdDeclarative(col("text")))
      .filter(col("a") =!= col("b"))
    assert(onCorpus.isEmpty)
    val edges = Seq(
      "The9 and_x with-this the,the.the THE",       // boundary shapes
      "café theé une",                     // unicode letters adjacent to markers
      "的是了在的",              // CJK substring counts
      "", "   ", "no markers here at all zz").toDF("t")
    val onEdges = edges
      .withColumn("a", TextAnalysis.langId(col("t")))
      .withColumn("b", TextAnalysis.langIdDeclarative(col("t")))
      .filter(col("a") =!= col("b"))
    assert(onEdges.isEmpty)
  }

  test("langId identifies real sentences per language and 'und' for noise") {
    val df = Seq(
      ("en", "the cat sat on the mat and this is fine"),
      ("de", "der hund und das kind sind nicht da"),
      ("es", "el perro que corre y los gatos una casa"),
      ("fr", "le chien dans les rues une belle ville"),
      ("zh", "这 是 的 一个 测试 了 在 北京"),
      ("und", "xyzzy plugh qwertyuiop")
    ).toDF("expected", "t")
    val got = df
      .select(col("expected"), TextAnalysis.langId(col("t")).as("got"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (exp, g) => assert(g == exp, s"expected $exp got $g") }
  }

  test("tokenCount handles empties; bpeish counts symbol runs") {
    val df = Seq(("", 0), ("  ", 1), ("one two  three", 2), ("a-b c3d!", 3)).toDF("t", "id")
    val got = df
      .select(col("id"), TextAnalysis.tokenCount(col("t")).as("n"),
        TextAnalysis.bpeishTokenCount(col("t")).as("b"))
      .collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    assert(got(0) == ((0, 0)) && got(1) == ((0, 0)))
    assert(got(2) == ((3, 3)))
    // "a-b c3d!" → tokens: [a-b, c3d!]; bpeish: a, -, b, c, 3, d, !
    assert(got(3) == ((2, 7)))
  }

  test("GraftExtensions exposes rolling_hash64 to pure-SQL sessions") {
    // getOrCreate() returns the suite's shared session and silently
    // drops builder-time extensions — clear active/default so a NEW
    // SparkSession (same SparkContext) is constructed with them
    val S = org.apache.spark.sql.SparkSession
    val prior = spark
    S.clearActiveSession(); S.clearDefaultSession()
    try {
      val ext = S.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val got = ext.sql("SELECT rolling_hash64('hello world') AS h").head().getLong(0)
      var h = 1469598103934665603L
      "hello world".getBytes("UTF-8").foreach(b => h = h * 1000003L + (b & 0xffL))
      assert(got == h)
      // round-3 kernels reach pure SQL too
      assert(ext.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0) == 11.0)
      assert(ext.sql("SELECT lang_id('the cat and the hat with this') AS l")
        .head().getString(0) == "en")
      assert(ext.sql("SELECT hyperplane_sig(array(1.0d), 4, 0) AS s").head().getLong(0) >= 0L)
      assert(ext.sql("SELECT phash63('some payload bytes here') AS p").head().getLong(0)
        == graft.functions.Sketches.pHash63("some payload bytes here".getBytes))
      assert(ext.sql("SELECT interleave_bits(3, 1) AS z").head().getLong(0) == 7L)
      assert(ext.sql("SELECT sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS c")
        .head().getInt(0) == 2)
    } finally {
      S.setActiveSession(prior); S.setDefaultSession(prior)
    }
  }

  test("rolling_hash64 matches the scala reference implementation and runs under codegen") {
    RollingHash64.register(spark)
    def ref(s: String): Long = {
      var h = 1469598103934665603L
      s.getBytes("UTF-8").foreach(b => h = h * 1000003L + (b & 0xffL))
      h
    }
    val inputs = Seq("", "a", "hello world", "é中文")
    val got = inputs.toDF("t")
      .select(RollingHash64(col("t")).as("h"))
      .collect()
      .map(_.getLong(0))
    assert(got.toSeq == inputs.map(ref))
  }

  test("IVF ANN: trained index + probe search beats LSH recall at a fraction of the scan") {
    import graft.operators.Ivf
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 4)
    assert(model.centroids.length == 8)
    val indexed = Ivf.index(emb, "vec_id", "embedding", model)
    // every row lands in exactly one cluster
    assert(indexed.count() == emb.count())
    assert(indexed.select("cluster_id").distinct().count() <= 8)
    val brute = Similarity.bruteForceKnn(emb, emb, "vec_id", "embedding", k = 3)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.search(indexed, emb, "vec_id", "embedding", model, k = 3, nprobe = 4)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.count(brute).toDouble / brute.size
    assert(recall > 0.5, s"IVF recall@3 = $recall")
    // nprobe = all clusters -> exact equality with brute force
    val full = Ivf.search(indexed, emb, "vec_id", "embedding", model, k = 3, nprobe = 8)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
    // reproducible training: the decimal-exact mean reduction makes
    // centroids bit-identical across input partitionings
    val model2 = Ivf.train(emb.repartition(7), "vec_id", "embedding", k = 8, iters = 4)
    assert(model.centroids.map(_.toSeq).toSeq == model2.centroids.map(_.toSeq).toSeq)
  }

  test("IVF and PQ reject degenerate parameters before any Spark job runs") {
    import graft.operators.{Ivf, IvfPq, Pq}
    // models built by hand and lazy frames: setting up runs no job
    val dim = 64
    val coarse = Ivf.Model(Array.fill(2)(Array.fill(dim)(0.0)))
    val pq = Pq.Model(Array.fill(4)(Array.fill(16)(Array.fill(dim / 4)(0.0))))
    val indexed = Ivf.index(emb, "vec_id", "embedding", coarse)
    val encoded = Pq.encode(emb, "vec_id", "embedding", pq)
    val queries = emb.filter(col("vec_id") < 5)
    val mn = Array.fill(dim)(0.0)
    val step = Array.fill(dim)(1.0)
    val edges = emb.select(col("vec_id").as("query_id"), col("vec_id").as("corpus_id"))
    val cases: Seq[(String, String, () => Any)] = Seq(
      ("Ivf.train k=0", "k must be at least 1",
        () => Ivf.train(emb, "vec_id", "embedding", k = 0, iters = 1)),
      ("Ivf.train iters=-1", "iters must be at least 0",
        () => Ivf.train(emb, "vec_id", "embedding", k = 2, iters = -1)),
      ("Ivf.search k=0", "k must be at least 1",
        () => Ivf.search(indexed, queries, "vec_id", "embedding", coarse, k = 0, nprobe = 1)),
      ("Ivf.search nprobe=0", "nprobe must be at least 1",
        () => Ivf.search(indexed, queries, "vec_id", "embedding", coarse, k = 3, nprobe = 0)),
      ("Ivf.searchStored k=0", "k must be at least 1",
        () => Ivf.searchStored(spark, "/nonexistent", queries, "vec_id", "embedding", coarse,
          k = 0, nprobe = 1)),
      ("Ivf.searchStored nprobe=0", "nprobe must be at least 1",
        () => Ivf.searchStored(spark, "/nonexistent", queries, "vec_id", "embedding", coarse,
          k = 3, nprobe = 0)),
      ("Ivf.searchSq8 k=0", "k must be at least 1",
        () => Ivf.searchSq8(indexed, emb, queries, "vec_id", "embedding", coarse, mn, step,
          shortlist = 10, k = 0, nprobe = 1)),
      ("Ivf.searchSq8 nprobe=0", "nprobe must be at least 1",
        () => Ivf.searchSq8(indexed, emb, queries, "vec_id", "embedding", coarse, mn, step,
          shortlist = 10, k = 3, nprobe = 0)),
      ("Ivf.searchSq8 shortlist=0", "shortlist must be at least 1",
        () => Ivf.searchSq8(indexed, emb, queries, "vec_id", "embedding", coarse, mn, step,
          shortlist = 0, k = 3, nprobe = 1)),
      ("IvfPq.search k=0", "k must be at least 1",
        () => IvfPq.search(indexed, encoded, queries, "vec_id", "embedding", coarse, pq,
          k = 0, nprobe = 1)),
      ("IvfPq.search nprobe=0", "nprobe must be at least 1",
        () => IvfPq.search(indexed, encoded, queries, "vec_id", "embedding", coarse, pq,
          k = 3, nprobe = 0)),
      ("IvfPq.search byResidual k=0", "k must be at least 1",
        () => IvfPq.search(indexed, encoded, queries, "vec_id", "embedding", coarse, pq,
          k = 0, nprobe = 1, byResidual = true)),
      ("IvfPq.search byResidual nprobe=0", "nprobe must be at least 1",
        () => IvfPq.search(indexed, encoded, queries, "vec_id", "embedding", coarse, pq,
          k = 3, nprobe = 0, byResidual = true)),
      ("Pq.train m=0", "m must be at least 1",
        () => Pq.train(emb, "vec_id", "embedding", m = 0, k = 16, iters = 1)),
      ("Pq.train k=0", "k must be at least 1",
        () => Pq.train(emb, "vec_id", "embedding", m = 4, k = 0, iters = 1)),
      ("Pq.train iters=-1", "iters must be at least 0",
        () => Pq.train(emb, "vec_id", "embedding", m = 4, k = 16, iters = -1)),
      ("Pq.adcSearch k=0", "k must be at least 1",
        () => Pq.adcSearch(encoded, queries, "vec_id", "embedding", pq, k = 0)),
      ("Pq.adcRerank shortlist=0", "shortlist must be at least 1",
        () => Pq.adcRerank(encoded, emb, queries, "vec_id", "embedding", pq,
          shortlist = 0, k = 3)),
      ("Pq.adcRerank k=0", "k must be at least 1",
        () => Pq.adcRerank(encoded, emb, queries, "vec_id", "embedding", pq,
          shortlist = 10, k = 0)),
      ("lshKnn k=0", "k must be at least 1",
        () => Similarity.lshKnn(emb, "vec_id", "embedding", k = 0, bits = 8, tables = 2)),
      ("lshKnn tables=0", "tables must be at least 1",
        () => Similarity.lshKnn(emb, "vec_id", "embedding", k = 3, bits = 8, tables = 0)),
      ("lshKnn bits=0", "bits must be between 1 and 64",
        () => Similarity.lshKnn(emb, "vec_id", "embedding", k = 3, bits = 0, tables = 2)),
      ("lshKnn bits=65", "bits must be between 1 and 64",
        () => Similarity.lshKnn(emb, "vec_id", "embedding", k = 3, bits = 65, tables = 2,
          multiProbe = true)),
      ("lshKnn bucketCap=0", "bucketCap must be at least 1",
        () => Similarity.lshKnn(emb, "vec_id", "embedding", k = 3, bits = 8, tables = 2,
          bucketCap = 0)),
      ("lshKnnCappedSweep caps empty", "caps must name at least one bucket cap",
        () => Similarity.lshKnnCappedSweep(emb, "vec_id", "embedding", k = 3, bits = 8,
          tables = 2, caps = Seq(), queryPred = col("id") < 5)),
      ("lshKnnCappedSweep cap=0", "every cap must be at least 1",
        () => Similarity.lshKnnCappedSweep(emb, "vec_id", "embedding", k = 3, bits = 8,
          tables = 2, caps = Seq(8, 0), queryPred = col("id") < 5)),
      ("sq8Knn k=0", "k must be at least 1",
        () => Similarity.sq8Knn(emb, queries, "vec_id", "embedding", mn, step,
          shortlist = 10, k = 0)),
      ("sq8Knn shortlist=0", "shortlist must be at least 1",
        () => Similarity.sq8Knn(emb, queries, "vec_id", "embedding", mn, step,
          shortlist = 0, k = 3)),
      ("bqKnn k=0", "k must be at least 1",
        () => Similarity.bqKnn(emb, queries, "vec_id", "embedding", mn,
          shortlist = 10, k = 0)),
      ("bqKnn shortlist=0", "shortlist must be at least 1",
        () => Similarity.bqKnn(emb, queries, "vec_id", "embedding", mn,
          shortlist = 0, k = 3)),
      ("nnDescentKnn k=0", "k must be at least 1",
        () => Similarity.nnDescentKnn(emb, "vec_id", "embedding", k = 0, init = edges)),
      ("nnDescentKnn rounds=-1", "rounds must be at least 0",
        () => Similarity.nnDescentKnn(emb, "vec_id", "embedding", k = 3, init = edges,
          rounds = -1)))
    for ((name, msg, call) <- cases) {
      val (e, jobs) = jobsIn(intercept[IllegalArgumentException](call()))
      assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
      assert(jobs == 0, s"$name ran $jobs Spark jobs before rejecting")
    }
    // too few vectors is known only after the init take(k): same
    // rejection and wording for IVF as for PQ, before any Lloyd pass
    val three = emb.orderBy("vec_id").limit(3)
    for (train <- Seq[() => Any](
        () => Ivf.train(three, "vec_id", "embedding", k = 8, iters = 1),
        () => Pq.train(three, "vec_id", "embedding", m = 4, k = 8, iters = 1))) {
      val e = intercept[IllegalArgumentException](train())
      assert(e.getMessage.contains("needs at least k=8 vectors, found only 3"), e.getMessage)
    }
    // iters = 0 stays legal: the model is the k smallest-id vectors
    val init = Ivf.train(emb, "vec_id", "embedding", k = 2, iters = 0)
    val want = emb.orderBy("vec_id").limit(2)
      .select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0))
    assert(init.centroids.map(_.toSeq).toSeq == want.toSeq)

    // data cases: the error names the trainer, the vector id and the
    // length or value. A vector that is not among the k init vectors
    // is caught inside the Lloyd pass, so it reaches the caller
    // wrapped in Spark's job failure: look along the cause chain
    def vecs(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    val ok = (1L to 4L).map(i => i -> Seq(i.toDouble, 0.5, -i.toDouble, 1.0))
    def trainers(df: org.apache.spark.sql.DataFrame): Seq[(String, () => Any)] = Seq(
      "IVF" -> (() => Ivf.train(df, "vec_id", "embedding", k = 2, iters = 1)),
      "PQ" -> (() => Pq.train(df, "vec_id", "embedding", m = 2, k = 2, iters = 1)),
      "BQ" -> (() => Similarity.bqTrain(df, "vec_id", "embedding")))
    def failsWith(what: String, call: () => Any, msg: String): Unit = {
      val e = intercept[Exception](call())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(c => String.valueOf(c.getMessage)).toList
      assert(chain.exists(_.contains(msg)), s"$what: no '$msg' in the cause chain:\n$chain")
    }
    for ((len, name) <- Seq(5 -> "longer", 3 -> "shorter");
         (trainer, call) <- trainers(vecs(ok :+ (9L -> Seq.fill(len)(0.25)): _*)))
      failsWith(s"$trainer $name vector", call,
        s"$trainer training: vector 9 has $len components, expected 4")
    // a trained model checks every vector it indexes, encodes or
    // probes with, inside the map pass that reads it: a shorter one
    // used to fail in a task with ArrayIndexOutOfBoundsException, a
    // longer one was silently assigned on its first components
    val okDf = vecs(ok: _*)
    val ivf4 = Ivf.train(okDf, "vec_id", "embedding", k = 2, iters = 1)
    val pq4 = Pq.train(okDf, "vec_id", "embedding", m = 2, k = 2, iters = 1)
    val idx4 = Ivf.index(okDf, "vec_id", "embedding", ivf4)
    val enc4 = Pq.encode(okDf, "vec_id", "embedding", pq4)
    val res4 = IvfPq.residuals(idx4, "vec_id", "embedding", ivf4)
    val resEnc4 = Pq.encode(res4, "vec_id", "embedding",
      Pq.train(res4, "vec_id", "embedding", m = 2, k = 2, iters = 1))
    val stored = java.nio.file.Files.createTempDirectory("ivf-len").resolve("idx").toString
    Ivf.writeIndex(okDf, "vec_id", "embedding", ivf4, stored)
    for ((len, name) <- Seq(5 -> "longer", 3 -> "shorter")) {
      val bad = vecs(ok :+ (9L -> Seq.fill(len)(0.25)): _*)
      val badQ = bad.filter(col("vec_id") === 9L)
      val calls: Seq[(String, () => Any)] = Seq(
        "IVF index" -> (() => Ivf.index(bad, "vec_id", "embedding", ivf4).collect()),
        "PQ encode" -> (() => Pq.encode(bad, "vec_id", "embedding", pq4).collect()),
        "IVF probe" -> (() => Ivf.search(idx4, badQ, "vec_id", "embedding", ivf4,
          k = 2, nprobe = 1).collect()),
        "IVF probe" -> (() => Ivf.searchStored(spark, stored, badQ, "vec_id", "embedding",
          ivf4, k = 2, nprobe = 1).collect()),
        "PQ ADC" -> (() => Pq.adcSearch(enc4, badQ, "vec_id", "embedding", pq4,
          k = 2).collect()),
        "IVF probe" -> (() => IvfPq.search(idx4, enc4, badQ, "vec_id", "embedding", ivf4, pq4,
          k = 2, nprobe = 1).collect()),
        "IVF probe" -> (() => IvfPq.search(idx4, resEnc4, badQ, "vec_id", "embedding", ivf4,
          pq4, k = 2, nprobe = 1, byResidual = true).collect()))
      for ((who, call) <- calls)
        failsWith(s"$who $name vector", call, s"$who: vector 9 has $len components, expected 4")
    }
    // the ADC table checks against its own model: IVF-PQ with
    // codebooks narrower than the coarse model reaches it (nprobe = 2
    // probes every cluster, so the query has candidates to rank)
    val pq2 = Pq.Model(Array.fill(2)(Array.fill(2)(Array(0.0))))
    failsWith("IVF-PQ ADC wider query", () => IvfPq.search(idx4, enc4,
      okDf.filter(col("vec_id") === 1L), "vec_id", "embedding", ivf4, pq2,
      k = 2, nprobe = 2).collect(),
      "IVF-PQ ADC: vector 1 has 4 components, expected 2")
    // a ragged init vector is caught on the driver, before any pass
    for ((trainer, call) <- trainers(vecs((0L -> Seq(1.0, 2.0)) +: ok: _*)).take(2))
      failsWith(s"$trainer ragged init", call,
        s"$trainer training: vector 1 has 4 components, expected 2")
    failsWith("BQ empty", trainers(vecs(ok: _*).filter(col("vec_id") < 0))(2)._2,
      "BQ training needs at least k=1 vectors, found only 0")
    // NaN and ±Inf become NULL under the SQL cast, which SUM skipped
    // while COUNT(*) still counted the row — a silently wrong mean;
    // |x| >= 1e14 already failed there (NUMERIC_VALUE_OUT_OF_RANGE).
    // All four now fail, and no cell is dropped from any sum
    for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e14, -2e15);
         (trainer, call) <- trainers(vecs(ok :+ (9L -> Seq(0.0, x, 0.0, 0.0)): _*)))
      failsWith(s"$trainer component $x", call,
        s"$trainer training: vector 9 component 1 = $x cannot be represented as Decimal(28, 14)")
  }

  test("Lloyd trainer: IVF, PQ, IVF-PQ residual and BQ models equal the SQL-aggregate reference bit for bit") {
    import graft.operators.{Ivf, IvfPq, Pq}
    def bits(books: Array[Array[Array[Double]]]) =
      books.map(_.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq).toSeq
    def same(what: String, got: Array[Array[Array[Double]]], want: Array[Array[Array[Double]]]) =
      assert(bits(got) == bits(want), s"$what drifted from the SQL reference")
    def check(df: org.apache.spark.sql.DataFrame, k: Int, iters: Int, m: Int): Unit = {
      same(s"IVF k=$k iters=$iters", Array(Ivf.train(df, "vec_id", "embedding", k, iters).centroids),
        TrainerReference.lloyd(df, "vec_id", "embedding", 1, k, iters))
      same(s"PQ m=$m k=$k iters=$iters", Pq.train(df, "vec_id", "embedding", m, k, iters).codebooks,
        TrainerReference.lloyd(df, "vec_id", "embedding", m, k, iters))
      same("BQ", Array(Array(Similarity.bqTrain(df, "vec_id", "embedding"))),
        Array(Array(TrainerReference.bq(df, "embedding"))))
    }
    // the catalog's shapes at sf0.001: IVF k=16 iters=3, PQ m=4 k=16
    // iters=2, and PQ over the IVF residuals (ss08)
    same("IVF k=16 iters=3", Array(Ivf.train(emb, "vec_id", "embedding", 16, 3).centroids),
      TrainerReference.lloyd(emb, "vec_id", "embedding", 1, 16, 3))
    same("PQ m=4 k=16 iters=2", Pq.train(emb, "vec_id", "embedding", 4, 16, 2).codebooks,
      TrainerReference.lloyd(emb, "vec_id", "embedding", 4, 16, 2))
    val coarse = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 1)
    val res = IvfPq.residuals(Ivf.index(emb, "vec_id", "embedding", coarse),
      "vec_id", "embedding", coarse)
    same("IVF-PQ residuals", Pq.train(res, "vec_id", "embedding", 4, 16, 1).codebooks,
      TrainerReference.lloyd(res, "vec_id", "embedding", 4, 16, 1))
    assert(Similarity.bqTrain(emb, "vec_id", "embedding").map(java.lang.Double.doubleToRawLongBits)
      .toSeq == TrainerReference.bq(emb, "embedding").map(java.lang.Double.doubleToRawLongBits).toSeq)
    // planted vectors: ids 1 and 2 are the same point, so init cluster
    // 1 ties cluster 0 everywhere and the lowest index wins — it stays
    // empty and keeps its centroid; id 4 is equidistant from centroids
    // 0 and 2; ids 5–8 sit on HALF_UP boundaries at the 14th decimal,
    // positive and negative; ids 8–10 carry unscaled values beyond a
    // Long or whose sum overflows one; the rest are full 17-digit
    // doubles, whose plain double mean differs from the decimal one
    val rnd = new scala.util.Random(7)
    val planted = Seq(
      1L -> Seq(0.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 0.0, 0.0, 0.0),
      3L -> Seq(2.0, 2.0, 2.0, 2.0),
      4L -> Seq(1.0, 1.0, 1.0, 1.0),
      5L -> Seq(0.100000000000005, -0.100000000000005, 2.5e-14, -2.5e-14),
      6L -> Seq(1.000000000000015, -1.000000000000015, 5e-15, -5e-15),
      7L -> Seq(2.000000000000005, 1.999999999999995, -0.000000000000015, 0.3),
      8L -> Seq(-99999.999999999995, 99999.999999999995, 0.1, 0.2),
      9L -> Seq(90000.0, -90000.0, 90000.00000000001, 0.5),
      10L -> Seq(90000.0, -90000.0, 90000.0, 0.5)) ++
      (11L to 60L).map(i => i -> Seq.fill(4)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(9) - 4)))
    val plantedDf = planted.toDF("vec_id", "embedding")
    check(plantedDf, k = 3, iters = 3, m = 2)
    check(plantedDf.repartition(5), k = 3, iters = 3, m = 2)
    // the empty cluster really occurs: after one pass cluster 1 is
    // still the init point
    assert(Ivf.train(plantedDf, "vec_id", "embedding", 3, 1).centroids(1).toSeq ==
      Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("Lloyd trainer: one init job, then exactly one Spark job per iteration") {
    import graft.operators.{Ivf, Pq}
    for (iters <- 0 to 3) {
      val (_, ivf) = jobsIn(Ivf.train(emb, "vec_id", "embedding", k = 8, iters = iters))
      assert(ivf == 1 + iters, s"IVF iters=$iters ran $ivf jobs")
      val (_, pq) = jobsIn(Pq.train(emb, "vec_id", "embedding", m = 4, k = 16, iters = iters))
      assert(pq == 1 + iters, s"PQ iters=$iters ran $pq jobs")
    }
    val (_, bq) = jobsIn(Similarity.bqTrain(emb, "vec_id", "embedding"))
    assert(bq == 2, s"BQ training ran $bq jobs")
  }

  test("approx_count_distinct sketch stays within rsd bounds of exact") {
    val events = Tables(spark, sf).events
    // td07 now carries its own bound: (event_type, n, exact_users,
    // within_bound) — the boolean is what the oracle pins to TRUE
    val rows = graft.queries.TrainingData.td07ApproxDistinct.build(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    val exact = events.groupBy("event_type").agg(countDistinct("user_id").as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val (exactInQuery, withinBound) = rows(k)
      assert(exactInQuery == e, s"$k: exact side must replay countDistinct")
      assert(withinBound, s"$k: HLL++ estimate outside 3×rsd of $e")
    }
  }

  test("PII detection counts and redacts emails/urls/phones; quality filter routes rejects") {
    val df = Seq(
      (1L, "contact me at jane.doe@example.com or visit https://example.com/x?q=1 today"),
      (2L, "call +1 (555) 123-4567 now"),
      (3L, "clean text with no identifiers at all in it")
    ).toDF("id", "t")
    val (e, u, p) = TextAnalysis.piiCounts(col("t"))
    val got = df.select(col("id"), e, u, p, TextAnalysis.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1 && got(1L)._4.contains("<EMAIL>") && got(1L)._4.contains("<URL>"))
    assert(got(2L)._3 == 1 && got(2L)._4.contains("<PHONE>"))
    assert(got(3L) == ((0, 0, 0, "clean text with no identifiers at all in it")))

    val corpus = Seq(
      (1L, "a solid document with plenty of distinct and varied words inside"),
      (2L, "tiny"),
      (3L, "spam spam spam spam spam spam spam spam spam spam spam spam")
    ).toDF("id", "t")
    val (kept, rejected) = TextAnalysis.qualityFilter(corpus, col("t"),
      TextAnalysis.QualityThresholds(minTokens = 3, maxRepetitionRatio = 0.5))
    assert(kept.collect().map(_.getLong(0)).toSet == Set(1L))
    val reasons = rejected.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(reasons == Map(2L -> "too_short", 3L -> "repetitive"))
  }

  // ── multimodal ────────────────────────────────────────────────────
  test("media decode plumbing: deterministic features, frame sampling covers all bytes") {
    val media = Multimodal.asMediaBatch(docs, "doc_id", "text")
    val feats = Multimodal.decodeFeatures(media, new Multimodal.StubDecoder).collect()
    assert(feats.length == docs.count())
    assert(feats.forall(f => f.n_bytes > 0 && f.width >= 16 && f.n_frames >= 1))
    // determinism across runs
    val again = Multimodal.decodeFeatures(media, new Multimodal.StubDecoder).collect()
    assert(feats.sortBy(_.media_id).toSeq == again.sortBy(_.media_id).toSeq)
    // frame sampling: ceil(bytes/frameBytes) frames per doc, bytes roundtrip
    val frames = Multimodal.sampleFrames(media, frameBytes = 64)
    val perDoc = frames.groupBy("media_id").agg(count(lit(1)).as("n"),
      sum(length(col("frame"))).as("bytes")).withColumnRenamed("media_id", "mid")
    val check = media
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .join(perDoc, col("media_id") === col("mid"))
      .filter(col("n") =!= ceil(col("n_bytes") / 64.0).cast("long") || col("bytes") =!= col("n_bytes"))
    assert(check.isEmpty)
  }

  // ── frequency sketches ────────────────────────────────────────────
  test("count-min estimate dominates the exact count and is tight at large width") {
    val hh = graft.operators.Frequency.heavyHitters(docs, "text", d = 4, w = 128, topK = 50)
      .collect()
    assert(hh.nonEmpty)
    assert(hh.forall(r => r.getLong(2) >= r.getLong(1)),
      "CM estimate must upper-bound the exact count")
    // a sketch wider than the vocabulary has no collisions → exact
    val tf = graft.operators.Frequency.termCounts(docs, "text")
    val vocabSize = tf.count().toInt
    val wide = Integer.highestOneBit(vocabSize) * 8
    val hhWide = graft.operators.Frequency.heavyHitters(docs, "text", d = 4, w = wide, topK = 50)
      .collect()
    assert(hhWide.forall(r => r.getLong(2) == r.getLong(1)),
      s"width $wide > vocab $vocabSize should make estimates exact")
  }

  test("oovRatio: empty docs get 0.0; all-common docs get 0; gibberish gets 1") {
    val corpus = Seq(
      (1L, "the the the the the"),
      (2L, ""),
      (3L, "zzqx9 vvkpl2")
    ).toDF("doc_id", "text")
    val r = graft.operators.Frequency.oovRatio(corpus, "doc_id", "text", minCount = 2L)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) == 0.0 && r(2L) == 0.0 && r(3L) == 1.0)
  }

  // ── bloom filter ──────────────────────────────────────────────────
  test("bloom probe has no false negatives and bounded false positives") {
    import graft.operators.Bloom
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val (k, nh, m) = (5, 5, 1 << 16)
    val filter = Bloom.buildFilter(bench, "text", k, nh, m)
    // probing the bench docs themselves: every gram must be found
    val self = bench
      .select(Bloom.probe(col("text"), filter, k, nh, m).as("b"))
      .select(col("b.n_grams"), col("b.n_maybe"))
      .collect()
    assert(self.forall(r => r.getLong(0) == r.getLong(1)), "bloom must have no false negatives")
    // set bits bounded by grams * hashes; filter is sketch-sized
    assert(filter.length == m / 64)
    val setBits = filter.map(java.lang.Long.bitCount).sum
    val nGrams = self.map(_.getLong(0)).sum
    assert(setBits <= nGrams * nh)
    // deterministic rebuild
    assert(java.util.Arrays.equals(filter, Bloom.buildFilter(bench, "text", k, nh, m)))
  }

  test("HLL register merge equals sketching the union (pre-aggregation path)") {
    import graft.operators.ApproxDistinct
    val ev = Tables(spark, sf).events
    val first = ev.filter(col("event_id") % 2 === 0)
    val second = ev.filter(col("event_id") % 2 =!= 0) // overlapping users, split rows
    val merged = ApproxDistinct.mergeRegisters(Seq("event_type"),
      ApproxDistinct.hllRegisters(first, Seq("event_type"), "user_id"),
      ApproxDistinct.hllRegisters(second, Seq("event_type"), "user_id"))
    val direct = ApproxDistinct.hllRegisters(ev, Seq("event_type"), "user_id")
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
    // estimates therefore agree exactly too
    val em = ApproxDistinct.hllEstimate(merged, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val ed = ApproxDistinct.hllEstimate(direct, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(em == ed)
  }

  test("native vector kernels are bit-identical to the HOF/unrolled forms") {
    import graft.functions.VectorKernels
    val v = emb.select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double")).as("v"))
    // vec_dot vs the unrolled left-assoc chain
    val dotDiff = v
      .withColumn("a", VectorKernels.vecDot(col("v"), col("v")))
      .withColumn("b", Similarity.dotUnrolled(col("v"), col("v"), 64))
      .filter(col("a") =!= col("b"))
    assert(dotDiff.isEmpty)
    // hyperplane_sig vs the HOF signature fold, both tables
    (0 until 2).foreach { seed =>
      val sigDiff = v
        .withColumn("a", VectorKernels.hyperplaneSig(col("v"), 8, seed))
        .withColumn("b", Similarity.hyperplaneSignature(col("v"), 8, seed))
        .filter(col("a") =!= col("b"))
      assert(sigDiff.isEmpty, s"signature mismatch at seed $seed")
    }
    // vectors LONGER than the plane dim: both forms must ignore the
    // tail beyond dim (kernel caps its loop; zip_with null-pads)
    val padded = v.withColumn("vp",
      org.apache.spark.sql.functions.concat(col("v"),
        org.apache.spark.sql.functions.array(lit(9.0d), lit(-3.0d), lit(7.0d))))
    val longDiff = padded
      .withColumn("a", VectorKernels.hyperplaneSig(col("vp"), 8, 1, dim = 64))
      .withColumn("b", Similarity.hyperplaneSignature(col("vp"), 8, 1, dim = 64))
      .filter(col("a") =!= col("b"))
    assert(longDiff.isEmpty, "tail beyond dim must not change the signature")
  }

  test("sorted_intersect_count merges ascending arrays and fails loudly on unsorted input") {
    import graft.functions.VectorKernels
    def merged(a: Seq[Long], b: Seq[Long]): Int =
      Seq((a, b)).toDF("a", "b")
        .select(VectorKernels.sortedIntersectCount(col("a"), col("b"))).head().getInt(0)
    val cases = Seq(
      "empty" -> (Seq.empty[Long], Seq.empty[Long], 0),
      "one side empty" -> (Seq.empty[Long], Seq(1L, 2L), 0),
      "disjoint" -> (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L), 0),
      "identical" -> (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3),
      "unequal lengths" -> (Seq(1L, 5L, 9L), (0L to 10L), 3),
      "negative longs" -> (Seq(Long.MinValue, -5L, -1L, 0L, 7L), Seq(-5L, 0L, Long.MaxValue), 2),
      "match at the first element" -> (Seq(1L, 4L, 6L), Seq(1L, 2L, 3L), 1),
      "match at the last element" -> (Seq(2L, 9L), Seq(5L, 7L, 9L), 1))
    cases.foreach { case (name, (a, b, want)) =>
      assert(merged(a, b) == want, name)
      assert(merged(b, a) == want, s"$name, sides swapped")
    }
    def failure(body: => Any): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    }
    // unsorted at the head, and in a tail the merge passes after the
    // other side is exhausted; a duplicate breaks strict ascent too
    Seq((Seq(3L, 1L, 2L), Seq(1L, 2L, 3L)), (Seq(1L), Seq(2L, 5L, 3L)),
      (Seq(1L, 2L, 2L, 3L), Seq(2L, 3L))).foreach { case (a, b) =>
      val m = failure(merged(a, b))
      assert(m.contains("sorted_intersect_count") && m.contains("not strictly ascending"), m)
    }
    val nullElem = failure(Seq((Seq(Option(1L), None), Seq(Option(1L)))).toDF("a", "b")
      .select(VectorKernels.sortedIntersectCount(col("a"), col("b"))).head())
    assert(nullElem.contains("null element"), nullElem)
    val nulls = Seq((Option.empty[Seq[Long]], Option(Seq(1L)))).toDF("a", "b")
      .select(VectorKernels.sortedIntersectCount(col("a"), col("b")))
    assert(nulls.head().isNullAt(0), "a null array gives null")
    // on real documents the merge equals Spark's array_intersect size
    // for every pair
    val sets = docs.select(col("doc_id").as("id"),
      array_sort(graft.functions.Sketches.gramXxHashesCol(col("text"), 3)).as("hs"))
    val diff = sets.alias("x").crossJoin(sets.alias("y"))
      .select(VectorKernels.sortedIntersectCount(col("x.hs"), col("y.hs")).as("got"),
        size(array_intersect(col("x.hs"), col("y.hs"))).as("want"))
      .agg(count(lit(1)).as("pairs"), sum(when(col("got") =!= col("want"), 1).otherwise(0)).as("bad"))
      .head()
    assert(diff.getLong(0) > 1000L && diff.getLong(1) == 0L, diff.toString)
  }

  test("exact-moment stats agree with Spark's corr/stddev_samp builtins") {
    val got = graft.queries.Extras.x17StatsMoments
      .build(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(6))).toMap
    val ref = Tables(spark, sf).lineitem
      .groupBy("l_returnflag")
      .agg(stddev_samp(col("l_quantity")).as("sd"),
        corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    got.foreach { case (k, (sd, c)) =>
      assert(math.abs(sd - ref(k)._1) < 1e-9, s"stddev mismatch for $k")
      assert(math.abs(c - ref(k)._2) < 1e-6, s"corr mismatch for $k")
    }
  }

  test("topK aggregator equals the window form and pre-aggregates map-side") {
    val ev = Tables(spark, sf).events
    val got = ev.groupBy("event_type")
      .agg(graft.functions.TopK.topK(col("value"), col("event_id"), 5).as("tk"))
      .select(col("event_type"), posexplode(col("tk")))
      .select(col("event_type"), col("pos"), col("col._1").as("value"),
        col("col._2").as("event_id"))
      .orderBy("event_type", "pos")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(desc("value"), asc("event_id"))
    val want = ev
      .withColumn("r", row_number().over(w)).filter(col("r") <= 5)
      .select(col("event_type"), (col("r") - 1).as("pos"), col("value"), col("event_id"))
      .orderBy("event_type", "pos")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
    // partial (map-side) aggregation: two aggregate stages, no Window
    val plan = ev.groupBy("event_type")
      .agg(graft.functions.TopK.topK(col("value"), col("event_id"), 5).as("tk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkagg"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("TopK buffer merge/insert equals full-sort take-k (property)") {
    import graft.functions.TopK
    val gen = for {
      n <- org.scalacheck.Gen.chooseNum(0, 60)
      k <- org.scalacheck.Gen.chooseNum(1, 8)
      vs <- org.scalacheck.Gen.listOfN(n,
        org.scalacheck.Gen.zip(
          org.scalacheck.Gen.chooseNum(-5.0, 5.0)
            // force ties; normalize -0.0 like Spark SQL comparisons do
            // (the local Ordering[Double] reference would otherwise
            // order -0.0 < 0.0 while the aggregator ties them)
            .map { v => val r = math.rint(v * 4) / 4; if (r == 0.0) 0.0 else r },
          org.scalacheck.Gen.chooseNum(0L, 1000L)))
      split <- org.scalacheck.Gen.chooseNum(0, n)
    } yield (k, vs, split)
    Iterator.continually(gen.sample).flatten.take(300).foreach { case (k, vs, split) =>
      val agg = TopK.TopKAgg(k)
      val (l, r) = vs.splitAt(split)
      val b1 = l.foldLeft(agg.zero)(agg.reduce)
      val b2 = r.foldLeft(agg.zero)(agg.reduce)
      val got = agg.finish(agg.merge(b1, b2))
      val want = vs.distinct.sortBy { case (v, id) => (-v, id) }.take(k)
      // duplicates of the SAME (v, id) pair may both enter the top-k;
      // compare against the sorted multiset prefix instead
      val wantMulti = vs.sortBy { case (v, id) => (-v, id) }.take(k)
      assert(got == wantMulti || got == want, s"k=$k vs=$vs got=$got")
    }
  }

  test("PQ/ADC: deterministic codes, useful euclidean recall, 16x compression shape") {
    import graft.operators.Pq
    val model = Pq.train(emb, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    assert(model.m == 4 && model.subDim == 16)
    val enc = Pq.encode(emb, "vec_id", "embedding", model)
    val enc2 = Pq.encode(emb, "vec_id", "embedding",
      Pq.train(emb, "vec_id", "embedding", m = 4, k = 16, iters = 1))
    assert(enc.except(enc2).isEmpty, "training + encoding must be reproducible")
    // ADC top-3 vs exact euclidean top-3
    val queries = emb.filter(col("vec_id") < 30)
    val adc = Pq.adcSearch(enc, queries, "vec_id", "embedding", model, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val v = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val exact = v.as("q").filter(col("q.vec_id") < 30)
      .crossJoin(v.as("c").withColumnRenamed("vec_id", "cid").withColumnRenamed("v", "cv"))
      .filter(col("q.vec_id") =!= col("cid"))
      .withColumn("d",
        Similarity.dotUnrolled(col("v"), col("v"), 64) +
          Similarity.dotUnrolled(col("cv"), col("cv"), 64) -
          Similarity.dotUnrolled(col("v"), col("cv"), 64) * 2)
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("q.vec_id").orderBy(asc("d"), asc("cid"))))
      .filter(col("r") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(r.fieldIndex("cid"))))
    val hit = adc.count(exact.toSet)
    val recall = hit.toDouble / exact.length
    // synthetic embeddings are near-orthogonal (no cluster structure),
    // the worst case for PQ — so the bar is "far above chance", not an
    // absolute recall: random top-3 hits 3/(n-1) ≈ 0.02 here
    val chance = 3.0 / (emb.count() - 1)
    assert(recall > 5 * chance, s"ADC recall@3 $recall not above 5x chance ($chance)")
  }

  test("sequence packing: bins respect capacity, offsets are contiguous, oversized isolated") {
    import graft.operators.Packing
    val rows = Seq(
      ("a", 1L, 200), ("a", 2L, 300), ("a", 3L, 20), ("a", 4L, 600), ("a", 5L, 100),
      ("b", 10L, 512), ("b", 11L, 1)
    ).toDF("group", "doc_id", "n_tokens")
    val packed = Packing.packSequences(rows, capacity = 512).collect()
      .map(p => (p.group, p.doc_id) -> (p.bin_id, p.bin_offset)).toMap
    // group a: 200+300 fill bin0 (20 fits too: 520 > 512? 200+300+20=520 > 512 → 20 to bin1)
    assert(packed(("a", 1L)) == (0, 0) && packed(("a", 2L)) == (0, 200))
    assert(packed(("a", 3L)) == (1, 0))
    assert(packed(("a", 4L)) == (2, 0), "oversized doc gets its own bin")
    assert(packed(("a", 5L)) == (3, 0), "bin after an oversized doc starts fresh")
    // group b: exactly-full bin, then next starts bin 1
    assert(packed(("b", 10L)) == (0, 0) && packed(("b", 11L)) == (1, 0))
    // global invariant on the corpus: per (group, bin) token sums ≤ capacity
    // unless the bin holds a single oversized doc
    val toks = docs.select(col("source").as("group"), col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val corpusPacked = Packing.packSequences(toks, capacity = 512).toDF()
    val bad = corpusPacked.groupBy("group", "bin_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("cnt"))
      .filter(col("tot") > 512 && col("cnt") > 1)
    assert(bad.isEmpty)
  }

  test("KMV overlap: with k >= universe the estimate equals exact jaccard") {
    // sources a and b share 10 of their 30 docs -> jaccard 10/50 = 0.2
    val docs = (0 until 30).map(i => ("a", s"shared doc $i".take(100), i)) ++
      (0 until 30).map(i => if (i < 10) ("b", s"shared doc $i", i) else ("b", s"only b $i", i))
    val df = docs.toDF("source", "text", "i").select(col("source"), col("text"))
    val q = graft.queries.TrainingData.td23KmvOverlap
    // run the catalog builder against a temp parquet dir shaped like testdata
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    df.withColumn("doc_id", monotonically_increasing_id())
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val out = q.build(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "a" && r.getString(1) == "b")
    assert(r.getDouble(3) == 10.0 / 50.0, s"expected exact jaccard, got ${r.getDouble(3)}")
  }

  test("simHashPairs finds banded near-dups and verifies hamming exactly") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely unrelated text about databases and distributed query engines")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("distributed CC: iteration checkpoints release superseded blocks (O(1) live storage)") {
    // a 12-node path needs 11 min-label propagation rounds — the
    // worst case for per-iteration checkpoint accumulation
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    val cc = graft.operators.Graph
      .connectedComponents(path, maxIters = 20, smallGraphEdges = 0)
      .collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(cc.forall(_.getLong(1) == 1L), "a path is one component rooted at min id")
    assert(after - before <= 3,
      s"11 propagation rounds must retain O(1) checkpoints, grew by ${after - before}")
  }

  test("simHashClassPairs conserves simHashPairs' doc-pair count exactly") {
    // multiplicity-heavy corpus: 1/2/4 are word permutations (identical
    // bag ⇒ identical sketch ⇒ one class of 3), 2-gram near-dup 5, and
    // an unrelated singleton
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "quick the brown fox jumps over the lazy dog again and again today"),
      (4L, "today again and again dog lazy the over jumps fox brown quick the"),
      (5L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (9L, "completely unrelated text about databases and distributed query engines")
    ).toDF("doc_id", "text")
    val docPairs = Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 6).count()
    val cls = Dedup.simHashClassPairs(corpus, "doc_id", "text", maxHamming = 6).collect()
    assert(cls.map(_.getLong(5)).sum == docPairs,
      s"implied_pairs must sum to the doc-level pair count ($docPairs)")
    val self = cls.filter(r => r.getLong(0) == r.getLong(1))
    assert(self.length == 1 && self.head.getLong(0) == 1L &&
      self.head.getLong(3) == 3L && self.head.getLong(5) == 3L,
      "the permutation class collapses to one self row: rep 1, size 3, 3 implied pairs")
    assert(cls.forall(r => r.getLong(0) == r.getLong(1) || r.getInt(2) > 0),
      "cross rows are between distinct sketches (hamming > 0)")
  }

  test("prefix-filtered jaccard join equals the full join at thresholds 0.3/0.5/0.7") {
    Seq(0.3, 0.5, 0.7).foreach { t =>
      val full = Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = t, k = 3,
        maxFanout = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val pref = Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = t, k = 3,
        maxFanout = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(pref == full, s"threshold $t: prefix filter must be lossless " +
        s"(missing=${full -- pref} extra=${pref -- full})")
    }
    // and the prefix postings really are smaller than the full postings
    val sh = docs.select(col("doc_id").as("id"),
      explode(graft.functions.Sketches.gramXxHashesCol(col("text"), 3)).as("h"))
    val shCount = sh.count()
    assert(shCount > 0)
    Seq(0.3, 0.5, 0.7).foreach { t =>
      val pfxCount = Dedup.prefixPostings(sh, t).count()
      assert(pfxCount > 0 && pfxCount < shCount,
        s"threshold $t: prefix postings $pfxCount vs full postings $shCount")
    }
  }

  test("containmentPairs catches an excerpt Jaccard misses") {
    // doc 2 = a 6-shingle excerpt of the 40-word doc 1: containment of
    // 2 in 1 is 1.0 while jaccard ≈ 6/38 — below any useful threshold.
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (10 to 17).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, long), (2L, excerpt),
      (3L, "entirely disjoint vocabulary about streams windows and state stores")
    ).toDF("doc_id", "text")
    val got = Dedup.setSimPairs(corpus, "doc_id", "text", Dedup.Containment, threshold = 0.9,
      k = 3, maxFanout = Long.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == 1.0) // excerpt fully contained
    val jac = Dedup.setSimPairs(corpus, "doc_id", "text", Dedup.Jaccard, threshold = 0.5, k = 3,
      maxFanout = Long.MaxValue)
    assert(jac.count() == 0, "jaccard at 0.5 must miss the asymmetric pair")
  }

  test("prefix-filtered containment equals the full join at thresholds 0.3/0.5/0.7") {
    // the asymmetric excerpt pair from the test above plus the corpus:
    // the prefix bound must hold for short-inside-long pairs too (the
    // case where only the SMALLER side guarantees a prefix hit)
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (10 to 17).map(i => s"w$i").mkString(" ")
    val extra = Seq((9001L, long), (9002L, excerpt)).toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(extra)
    Seq(0.3, 0.5, 0.7).foreach { t =>
      val full = Dedup.setSimPairs(corpus, "doc_id", "text", Dedup.Containment, threshold = t,
        k = 3, maxFanout = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val pref = Dedup.setSimPairs(corpus, "doc_id", "text", Dedup.Containment, threshold = t,
        k = 3, maxFanout = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pref == full, s"threshold $t: containment prefix filter must be lossless " +
        s"(missing=${full -- pref} extra=${pref -- full})")
    }
  }

  test("exact-pair size gate measures fan-out and routes each side of the cap") {
    // fan-out estimator: Σ n_h² over shingle postings, computed
    // independently here
    val expected = docs
      .select(explode(graft.functions.Sketches.gramXxHashesCol(col("text"), 3)).as("h"))
      .groupBy("h").count()
      .collect().map(r => { val n = r.getLong(1); n * n }).sum
    val fan = Dedup.exactPairFanout(docs, "text", k = 3)
    assert(fan == expected, s"fanout $fan != independent Σ n² $expected")
    assert(fan > 0)

    // over the cap + no threshold = no prefix bound: the gate must
    // REFUSE loudly rather than run the posting-squared join
    val e = intercept[IllegalArgumentException] {
      Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 0.0, k = 3,
        maxFanout = 0L)
    }
    assert(e.getMessage.contains("maxFanout"))
    // under the cap, threshold 0 is the plain exact join — allowed
    assert(Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 0.0, k = 3,
      maxFanout = fan).count() ==
      Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 0.0, k = 3,
      maxFanout = Long.MaxValue).count())

    // both routes agree with the ungated form (the oracle rows dd22/
    // dd23 prove the same at sf0.01 against DuckDB)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = key(Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 0.5, k = 3,
      maxFanout = Long.MaxValue))
    assert(key(Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 0.5, k = 3,
      maxFanout = 0L)) == base, "over-cap route (prefix) drifted")
    assert(key(Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 0.5, k = 3,
      maxFanout = fan)) == base, "under-cap route drifted")
    val baseC = key(Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Containment, threshold = 0.5,
      k = 3, maxFanout = Long.MaxValue))
    assert(key(Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Containment, threshold = 0.5,
      k = 3, maxFanout = 0L)) == baseC, "over-cap containment route drifted")
  }

  test("set-similarity join rejects a threshold outside [0, 1] or NaN on every route") {
    for {
      m <- Seq(Dedup.Jaccard, Dedup.Containment)
      fanout <- Seq(Long.MaxValue, 0L)
      t <- Seq(1.5, Double.NaN, -0.1)
    } {
      val e = intercept[IllegalArgumentException] {
        Dedup.setSimPairs(docs, "doc_id", "text", m, threshold = t, k = 3, maxFanout = fanout)
      }
      assert(e.getMessage.contains("threshold"), s"$m maxFanout=$fanout t=$t: ${e.getMessage}")
    }
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.verifyCandidates(docs, "doc_id", "text", cand, k = 3, threshold = Double.NaN)
    }
    val scs = Dedup.shingleClasses(docs, "doc_id", "text", k = 3)
    intercept[IllegalArgumentException](Dedup.repJaccardPairs(scs, threshold = 1.5))
    scs.release()
    // the bounds themselves are valid thresholds
    Seq(0.0, 1.0).foreach { t =>
      Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Containment, threshold = t, k = 3,
        maxFanout = Long.MaxValue).count()
    }
    assert(Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard, threshold = 1.0, k = 3,
      maxFanout = 0L).collect().forall(_.getDouble(3) == 1.0))
  }

  test("verifyCandidates normalizes reversed pairs, collapses duplicates and drops self-pairs") {
    val corpus = Seq(
      (3L, "the quick brown fox jumps over the lazy dog again"),
      (5L, "the quick brown fox jumps over the lazy dog today"),
      (8L, "entirely disjoint vocabulary about streams windows and state stores")
    ).toDF("doc_id", "text")
    def verify(pairs: (Long, Long)*) =
      Dedup.verifyCandidates(corpus, "doc_id", "text", pairs.toDF("id_a", "id_b"),
        k = 3, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ordered = verify((3L, 5L))
    assert(ordered.map(p => (p._1, p._2)) == Seq((3L, 5L)), s"fixture pair must verify: $ordered")
    assert(verify((5L, 3L)) == ordered, "a reversed pair is verified as (least, greatest)")
    assert(verify((3L, 5L), (3L, 5L), (5L, 3L)) == ordered, "duplicates collapse to one row")
    assert(verify((5L, 5L), (8L, 8L)).isEmpty, "self-pairs are dropped")
    assert(verify((3L, 8L)).isEmpty, "a pair sharing no gram never qualifies")
  }

  test("shingle width below 1 is rejected by every posting consumer") {
    // k = 0 emits only the empty gram: every doc would share one
    // one-element set and every pair would report jaccard 1.0
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val calls: Seq[(String, () => Any)] = Seq(
      "setSimPairs" -> (() => Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard,
        threshold = 0.5, k = 0, maxFanout = Long.MaxValue)),
      "setSimPairs prefix" -> (() => Dedup.setSimPairs(docs, "doc_id", "text",
        Dedup.Containment, threshold = 0.5, k = 0, maxFanout = 0L)),
      "setSimPairs gated" -> (() => Dedup.setSimPairs(docs, "doc_id", "text", Dedup.Jaccard,
        threshold = 0.5, k = 0, maxFanout = 1000L)),
      "verifyCandidates" -> (() => Dedup.verifyCandidates(docs, "doc_id", "text", cand, k = 0)),
      "shingleClasses" -> (() => Dedup.shingleClasses(docs, "doc_id", "text", k = 0)),
      "exactPairFanout" -> (() => Dedup.exactPairFanout(docs, "text", k = -1)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("k must be >= 1"), s"$name: ${e.getMessage}")
    }
  }

  test("shingle class collapse: expanded pair/flagged counts equal the direct join at every cut") {
    // the td53 rewrite's contract (r14): intra pairs = Σ C(m,2) at
    // jaccard exactly 1.0, each rep pair stands for m_a·m_b doc pairs,
    // flagged docs = Σ m·[m ≥ 2 ∨ maxCross ≥ cut] — all integer-exact.
    // The corpus gets explicit shingle-set replicas (the sf1 GenData
    // shape the collapse exists for): every doc_id % 7 == 0 doc is
    // re-delivered twice under new ids. Documents with no 3-gram (under
    // three words, or NULL text) have no postings, so they must join no
    // class: two of them sharing the empty set would otherwise form a
    // class of intra pairs no direct join reports.
    val noGrams = Seq[(Long, String)](
      (3000001L, "too short"), (3000002L, "one"), (3000003L, null)).toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(noGrams)
      .localCheckpoint()
    val scs = Dedup.shingleClasses(corpus, "doc_id", "text", k = 3)
    val classes = scs.classes.collect()
      .map(r => (r.getAs[Long]("rep"), r.getAs[Long]("m")))
    assert(classes.exists(_._2 >= 2), "fixture must contain replica classes")
    val cross = Dedup.repJaccardPairs(scs, threshold = 0.2).collect()
      .map(r => (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"),
        r.getAs[Double]("jaccard"), r.getAs[Long]("m_a"), r.getAs[Long]("m_b")))
    val direct = Dedup.setSimPairs(corpus, "doc_id", "text", Dedup.Jaccard, threshold = 0.2,
      k = 3, maxFanout = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val intra = classes.map { case (_, m) => m * (m - 1) / 2 }.sum
    Seq(0.2, 0.5, 0.8).foreach { cut =>
      val directPairs = direct.count(_._3 >= cut).toLong
      val expanded = intra + cross.filter(_._3 >= cut).map(p => p._4 * p._5).sum
      assert(expanded == directPairs,
        s"cut $cut: expanded pair count $expanded != direct $directPairs")
      val directFlagged = direct.filter(_._3 >= cut)
        .flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
      val maxCross = (cross.map(p => p._1 -> p._3) ++ cross.map(p => p._2 -> p._3))
        .groupBy(_._1).map { case (rep, js) => rep -> js.map(_._2).max }
      val expandedFlagged = classes.collect {
        case (rep, m) if m >= 2 || maxCross.getOrElse(rep, 0.0) >= cut => m
      }.sum
      assert(expandedFlagged == directFlagged,
        s"cut $cut: expanded flagged $expandedFlagged != direct $directFlagged")
    }
    // the dd05 contract: CC over (rep pairs + m ≥ 2 self-edges),
    // expanded through classes, equals CC over the direct pair list
    import graft.operators.Graph
    val directComp = Graph.connectedComponents(
      Dedup.setSimPairs(corpus, "doc_id", "text", Dedup.Jaccard, threshold = 0.2, k = 3,
        maxFanout = Long.MaxValue)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossE = Dedup.repJaccardPairs(scs, threshold = 0.2)
      .select(col("rep_a").as("src"), col("rep_b").as("dst"))
    val selfE = scs.classes.filter(col("m") >= 2)
      .select(col("rep").as("src"), col("rep").as("dst"))
    val expandedComp = scs.perDoc
      .join(scs.classes.select(col("fp"), col("n"), col("rep")), Seq("fp", "n"))
      .join(Graph.connectedComponents(crossE.union(selfE))
        .withColumnRenamed("id", "rep"), Seq("rep"))
      .select(col("id"), col("component"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expandedComp == directComp,
      s"components drifted (missing=${directComp -- expandedComp} " +
        s"extra=${expandedComp -- directComp})")
    scs.release()
  }

  test("shingleClasses then release leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val scs = Dedup.shingleClasses(docs, "doc_id", "text", k = 3)
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.size == 2, s"the gram sets and the classes are the two checkpoints: $held")
    Dedup.repJaccardPairs(scs, threshold = 0.5).collect()
    scs.release()
    // a subset, not equality: the context cleaner may free blocks other
    // suites left behind while this test runs
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"release() left persisted RDDs $leaked")
  }

  test("distributed global rank equals the window forms (rank, ntile)") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Ranks
    val vals = docs.select(col("doc_id"), length(col("text")).as("v"))
    val (ranked, n) = Ranks.withGlobalRank(
      vals, "__rank", Seq(col("v").desc, col("doc_id").asc))
    assert(n == vals.count())
    val got = ranked.select("doc_id", "__rank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = vals
      .withColumn("rn", row_number().over(Window.orderBy(desc("v"), asc("doc_id"))))
      .collect().map(r => (r.getLong(0), r.getInt(2).toLong)).toMap
    assert(got == expected, "distributed rank drifted from the window row_number")
    // NTILE arithmetic vs the window ntile, including the uneven split
    Seq(3, 7, 10).foreach { b =>
      val tiles = ranked
        .select(col("doc_id"), Ranks.ntileOfRank(col("__rank"), n, b).as("t"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val wTiles = vals
        .withColumn("t", ntile(b).over(Window.orderBy(desc("v"), asc("doc_id"))))
        .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
      assert(tiles == wTiles, s"ntile($b) arithmetic drifted from the window form")
    }
  }

  test("labelPropStats equals the r13 windowed two-round form") {
    import org.apache.spark.sql.expressions.Window
    val und = queries.TrainingData.undFromKnn(
      Similarity.lshKnn(emb, "vec_id", "embedding", k = 3, bits = 3, tables = 2)
        .select("query_id", "corpus_id"))
    // the pre-r14 reference implementation, inlined
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
    def step(labels: org.apache.spark.sql.DataFrame) = {
      val cnt = adj
        .join(labels.select(col("node").as("y"), col("label")), Seq("y"))
        .groupBy("x", "label").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("x").orderBy(desc("cnt"), asc("label"))
      cnt.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("x").as("node"), col("label"))
    }
    val l0 = adj.select(col("x").as("node")).distinct().withColumn("label", col("node"))
    val l2 = step(step(l0))
    val sz = l2.groupBy("label").agg(count(lit(1)).as("community_size"))
    val expected = l2.join(sz, Seq("label"))
      .select(col("node"), col("label"), col("community_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = queries.TrainingData.labelPropStats(und)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, "label propagation rewrite drifted from the windowed form")
  }

  test("nnDescentKnn (TopK-aggregate form) equals the r13 windowed rounds") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorKernels
    val k = 5
    val init = Similarity.lshKnn(emb, "vec_id", "embedding", k = k, bits = 3, tables = 2)
      .select("query_id", "corpus_id")
    // the pre-r14 reference implementation (row_number windows, edge
    // self-join), inlined round by round
    val base = emb
      .select(col("vec_id").cast("long").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("v_norm", sqrt(VectorKernels.vecDot(col("v"), col("v"))))
    var knn = init.select(col("query_id").cast("long"), col("corpus_id").cast("long"))
    var expected: org.apache.spark.sql.DataFrame = null
    for (_ <- 1 to 2) {
      val und2 = knn
        .select(least(col("query_id"), col("corpus_id")).as("a"),
          greatest(col("query_id"), col("corpus_id")).as("b"))
        .distinct()
      val rawAdj = und2.select(col("a").as("x"), col("b").as("y"))
        .union(und2.select(col("b").as("x"), col("a").as("y")))
      val adj = rawAdj
        .withColumn("rn", row_number().over(Window.partitionBy("x").orderBy(asc("y"))))
        .filter(col("rn") <= 2 * k)
        .select("x", "y")
      val twoHop = adj.alias("e1")
        .join(adj.alias("e2"), col("e1.y") === col("e2.x"))
        .filter(col("e1.x") =!= col("e2.y"))
        .select(col("e1.x").as("query_id"), col("e2.y").as("corpus_id"))
      val cand = twoHop
        .union(adj.select(col("x").as("query_id"), col("y").as("corpus_id")))
        .distinct()
      val pairs = cand
        .join(base.select(col("id").as("query_id"), col("v").as("qv"), col("v_norm").as("qn")),
          "query_id")
        .join(base.select(col("id").as("corpus_id"), col("v").as("cv"), col("v_norm").as("cn")),
          "corpus_id")
        .select(col("query_id"), col("corpus_id"),
          round(VectorKernels.vecDot(col("qv"), col("cv")) /
            (col("qn") * col("cn")), 4).as("sim"))
      val next = pairs
        .withColumn("rank",
          row_number().over(Window.partitionBy("query_id").orderBy(desc("sim"), asc("corpus_id"))))
        .filter(col("rank") <= k)
      knn = next.select("query_id", "corpus_id")
      expected = next
    }
    val exp = expected.select("query_id", "corpus_id", "sim", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val got = Similarity.nnDescentKnn(emb, "vec_id", "embedding", k = k, init = init, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == exp, "nnDescent TopK-aggregate rewrite drifted from the windowed rounds")
  }

  test("mix-weights sampling keeps every max-count language doc and downsamples the rest") {
    val q = graft.queries.TrainingData.td24MixWeights
    val out = q.build(spark, sf).select("lang", "rate").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val rates = out.toMap
    assert(rates.values.max == 1000L, "argmax language must keep rate 1000 (sqrt(n/nmax)=1)")
    assert(rates.values.min < 1000L, "lower-resource languages must be downsampled")
    // rate 1000 ⇒ the hash filter keeps every doc of that language
    val full = Tables(spark, sf).documents
    val maxLang = rates.maxBy(_._2)._1
    val kept = out.count(_._1 == maxLang)
    assert(kept == full.filter(col("lang") === maxLang).count())
  }

  test("boilerplate ratio is a valid fraction over every document") {
    val rows = graft.queries.TrainingData.td25Boilerplate.build(spark, sf).collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      val (n, bp, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(bp >= 0 && bp <= n, s"doc ${r.getLong(0)}: n_bp $bp out of [0, $n]")
      assert(ratio == bp.toDouble / n)
    }
    assert(rows.exists(_.getDouble(3) > 0), "corpus-common bigrams must exist")
  }

  test("semanticDedup removals are true near-duplicates backed by an exact high-sim pair") {
    val removed = Similarity
      .semanticDedup(emb, "vec_id", "embedding", k = 16, iters = 1, threshold = 0.35)
      .collect()
    assert(removed.nonEmpty, "fixture must contain same-cluster near-dups")
    val exact = Similarity.cosinePairsKernel(emb, "vec_id", "embedding", threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    removed.foreach { r =>
      val (rem, kept) = (r.getLong(0), r.getLong(1))
      assert(kept < rem, "keeper is always the smaller id")
      assert(exact.contains((kept, rem)),
        s"removal ($rem, kept $kept) must correspond to a true cosine>=0.35 pair")
    }
  }

  // order-sensitive, bit-exact rows: NaN equals NaN, -0.0 differs from 0.0
  private def bitRows(rows: Seq[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case x => x
    })
  private def sortedBitRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    bitRows(df.collect().toSeq).sortBy(_.map(String.valueOf).mkString("\u0001"))

  /** percentile() per (group, p), all-null groups dropped, in the
    * percentiles output order (group nulls first, then p).
    */
  private def percentileRows(df: org.apache.spark.sql.DataFrame, g: String, v: String,
      ps: Seq[Double]): Seq[org.apache.spark.sql.Row] =
    df.groupBy(g).agg(array(ps.map(p => expr(s"percentile($v, $p)")): _*).as("vals"))
      .collect().toSeq
      .flatMap(r => ps.zip(r.getSeq[Any](1)).collect {
        case (p, x: Double) => org.apache.spark.sql.Row(r.get(0), p, x)
      })
      .sortBy(r => (Option(r.getString(0)), r.getDouble(1)))

  test("ranked percentiles are bit-identical to the percentile aggregate, partition-invariant") {
    import graft.operators.Quantiles
    val li = Tables(spark, sf).lineitem
    val ps = Seq(0.25, 0.5, 0.9)
    val agg = bitRows(percentileRows(li, "l_returnflag", "l_extendedprice", ps))
    def run(df: org.apache.spark.sql.DataFrame) =
      bitRows(Quantiles.percentiles(df, "l_returnflag", "l_extendedprice", ps).collect().toSeq)
    assert(run(li) == agg, "the cell selection must replay percentile() bit-exactly, in order")
    assert(run(li.repartition(7)) == agg, "cell counts are global: partitioning must not matter")
    // coarse cells (2 mantissa bits) leave most ranks inside multi-value
    // cells, so scan 2 resolves them; a budget below zero forces the
    // sort-rank fallback
    for ((bits, budget) <- Seq((2, Quantiles.CollectBudget), (Quantiles.MantissaBits, -1L)))
      assert(bitRows(Quantiles.percentilesCore(li, "l_returnflag", "l_extendedprice", ps,
        bits, budget).collect().toSeq) == agg, s"mantissaBits=$bits collectBudget=$budget")
  }

  /** Random (g, v) frames: heavy ties, negatives, nulls, and 0, 1 or 8
    * special values (NaN, ±∞) per 8 finite ones, so medians land on ±∞
    * and NaN. Each run's percentilesCore settings must replay
    * percentile() bit-exactly on every sample. */
  private def checkPercentilesProperty(runs: Seq[(Int, Long)]): Unit = {
    import graft.operators.Quantiles
    import org.scalacheck.Gen
    val ps = Seq(0.3, 0.5, 0.9)
    val gen = for {
      n <- Gen.chooseNum(5, 120)
      w <- Gen.oneOf(0, 1, 8)
      gs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
      // integers ×0.1: heavy ties, negatives, and inexact decimals, so
      // equal neighbours at a fractional rank need percentile()'s
      // no-interpolation case to stay bit-exact
      vs <- Gen.listOfN(n, Gen.frequency(8 -> Gen.chooseNum(-40, 40).map(_ * 0.1),
        w -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)))
      nullIdx <- Gen.listOfN(n / 5, Gen.chooseNum(0, n - 1))
    } yield (gs.zip(vs), nullIdx.toSet)
    Iterator.continually(gen.sample).flatten.take(12).foreach { case (rows, nullIdx) =>
      val data = rows.zipWithIndex.map { case ((g, v), i) =>
        (g, if (nullIdx(i)) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf(v))
      }
      val df = data.toDF("g", "v")
      val ref = bitRows(percentileRows(df, "g", "v", ps))
      for ((bits, budget) <- runs)
        assert(bitRows(Quantiles.percentilesCore(df, "g", "v", ps, bits, budget).collect().toSeq) ==
          ref, s"mantissaBits=$bits collectBudget=$budget data=$data")
    }
  }

  test("property: percentiles equal percentile() with ties, nulls, NaN and infinities") {
    import graft.operators.Quantiles
    // default cells, then the forced sort-rank fallback
    checkPercentilesProperty(Seq((Quantiles.MantissaBits, Quantiles.CollectBudget),
      (Quantiles.MantissaBits, -1L)))
  }

  test("property: coarse-cell percentiles equal percentile() on random data") {
    import graft.operators.Quantiles
    // 3 mantissa bits: coarse cells reach every resolution branch
    checkPercentilesProperty(Seq((3, Quantiles.CollectBudget)))
  }

  test("percentiles keep the null group; the sort-rank fallback agrees bit-exactly") {
    import graft.operators.Quantiles
    // d: at p = 0.3 the interpolation 0.7·0.1 + 0.3·0.1 reads
    // 0.09999999999999999, where percentile() returns 0.1 uninterpolated
    val data = Seq[(String, java.lang.Double)](("a", 1.0), ("a", 2.0), ("a", 5.0), ("b", 3.0),
      ("b", 4.0), (null, 7.0), (null, 9.0), ("c", null), ("d", 0.1), ("d", 0.1))
    val df = data.toDF("g", "v")
    val ps = Seq(0.9, 0.3, 0.5) // unordered on purpose: the output orders by p
    val ref = bitRows(percentileRows(df, "g", "v", ps))
    assert(ref.map(_.head).distinct == Seq(null, "a", "b", "d"), "the all-null group c is dropped")
    for (budget <- Seq(Quantiles.CollectBudget, -1L))
      assert(bitRows(Quantiles.percentilesCore(df, "g", "v", ps, Quantiles.MantissaBits, budget)
        .collect().toSeq) == ref, s"collectBudget=$budget")
    for (bad <- Seq(1.5, -0.1, Double.NaN))
      intercept[IllegalArgumentException](Quantiles.percentiles(df, "g", "v", Seq(0.5, bad)))
  }

  test("madByGroup fuses median+MAD and is bit-identical to the percentile() form") {
    import graft.operators.Quantiles
    val li = Tables(spark, sf).lineitem
    def reference(df: org.apache.spark.sql.DataFrame) = {
      val med = df.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
      sortedBitRows(df.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("l_extendedprice") - col("med")))
        .groupBy("l_returnflag")
        .agg(min("med").as("med"), expr("percentile(adev, 0.5)").as("mad")))
    }
    val ref = reference(li.select("l_returnflag", "l_extendedprice"))
    val fused = sortedBitRows(Quantiles.madByGroup(li, "l_returnflag", "l_extendedprice"))
    assert(fused == ref, "fused selection must replay percentile-median and percentile-MAD bit-exactly")
    assert(sortedBitRows(Quantiles.madByGroup(
      li.repartition(7), "l_returnflag", "l_extendedprice")) == fused,
      "bits-histogram cells are partition-invariant")
    // coarse cells (2 mantissa bits) force wide ambiguity brackets and a
    // large terminal collect — stresses the interval-arithmetic path; a
    // budget below zero forces the sort-rank fallback
    for ((bits, budget) <- Seq((2, Quantiles.CollectBudget), (Quantiles.MantissaBits, -1L)))
      assert(sortedBitRows(Quantiles.madCore(li, "l_returnflag", "l_extendedprice", None,
        bits, budget)) == fused, s"mantissaBits=$bits collectBudget=$budget")
  }

  test("madOutliers counts threshold exceedances exactly from the same two scans") {
    import graft.operators.Quantiles
    val li = Tables(spark, sf).lineitem
    def reference(k: Double) = {
      val med = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
      val dev = li.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("l_extendedprice") - col("med")))
      val mad = dev.groupBy("l_returnflag").agg(expr("percentile(adev, 0.5)").as("mad"))
      sortedBitRows(dev.join(broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag", "med", "mad")
        .agg(count(lit(1)).as("n"),
          count(when(col("adev") > lit(k) * col("mad"), 1)).as("n_outliers"))
        .select("l_returnflag", "med", "mad", "n", "n_outliers"))
    }
    def run(k: Double, bits: Int = Quantiles.MantissaBits, budget: Long = Quantiles.CollectBudget) =
      sortedBitRows(Quantiles.madCore(li, "l_returnflag", "l_extendedprice", Some(k), bits, budget))
    for (k <- Seq(1.5, 0.5, 3.0)) {
      val ref = reference(k)
      assert(sortedBitRows(Quantiles.madOutliers(li, "l_returnflag", "l_extendedprice", k)) == ref,
        s"k=$k")
      assert(run(k, bits = 2) == ref, s"k=$k coarse cells") // wide brackets, big collect
    }
    assert(run(1.5, budget = -1L) == reference(1.5), "the sort-rank fallback must agree too")
  }

  test("property: madByGroup equals percentile() MAD on random data with ties, nulls, negatives") {
    import graft.operators.Quantiles
    import org.scalacheck.Gen
    val k = 1.5
    val gen = for {
      n <- Gen.chooseNum(4, 120)
      // 0, 1 or 8 special values per 8 finite ones: medians and MADs
      // land on ±∞ and NaN
      w <- Gen.oneOf(0, 1, 8)
      gs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
      vs <- Gen.listOfN(n, Gen.frequency(8 -> Gen.chooseNum(-40, 40).map(_ * 0.25),
        w -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)))
      nullIdx <- Gen.listOfN(n / 5, Gen.chooseNum(0, n - 1))
    } yield (gs.zip(vs), nullIdx.toSet)
    Iterator.continually(gen.sample).flatten.take(12).foreach { case (rows, nullIdx) =>
      val data = rows.zipWithIndex.map { case ((g, v), i) =>
        (g, if (nullIdx(i)) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf(v))
      }
      val df = data.toDF("g", "v")
      val vals = df.filter(col("v").isNotNull)
      val med = vals.groupBy("g").agg(expr("percentile(v, 0.5)").as("med"))
      val dev = vals.join(broadcast(med), "g").withColumn("adev", abs(col("v") - col("med")))
      val mad = dev.groupBy("g").agg(expr("percentile(adev, 0.5)").as("mad"))
      val ref = sortedBitRows(dev.join(broadcast(mad), "g")
        .groupBy("g", "med", "mad")
        .agg(count(lit(1)).as("n"),
          count(when(col("adev") > lit(k) * col("mad"), 1)).as("n_outliers"))
        .select("g", "med", "mad", "n", "n_outliers"))
      assert(sortedBitRows(Quantiles.madByGroup(df, "g", "v")) == ref.map(_.take(3)), s"data=$data")
      // tiny mantissa bits → single-binade coarse cells, exercising every
      // resolution branch (exact bounds, point cells, interval sweep); a
      // budget below zero forces the sort-rank fallback
      for ((bits, budget) <- Seq((3, Quantiles.CollectBudget), (Quantiles.MantissaBits, -1L)))
        assert(sortedBitRows(Quantiles.madCore(df, "g", "v", Some(k), bits, budget)) == ref,
          s"mantissaBits=$bits collectBudget=$budget data=$data")
    }
  }

  test("percentiles at 100k groups take the sort-rank fallback, bit-identical") {
    import graft.operators.Quantiles
    val nGroups = 100000L
    // 3 values per group, deterministic, with ties and interpolation points
    val df = spark.range(3 * nGroups)
      .select((col("id") % nGroups).cast("string").as("g"),
        ((col("id") / nGroups) * ((col("id") % 17) + lit(1))).cast("double").as("v"))
    val viaAgg = df.groupBy("g").agg(expr("percentile(v, 0.5)").as("m"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val out = Quantiles.percentiles(df, "g", "v", Seq(0.5))
    // the cell selection builds its rows on the driver (a local relation);
    // past the group budget the sort-rank fallback stays distributed
    assert(!out.queryExecution.analyzed.collectLeaves()
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "100k groups exceed the group budget")
    val viaRank = out.collect().map(r => (r.getString(0), r.getDouble(2))).sorted.toSeq
    assert(viaRank == viaAgg, "the sort-rank fallback must replay percentile() bit-exactly")
  }

  test("budgetSelect equals the global-window cumsum, partition-invariant, exact boundary") {
    import graft.operators.Packing
    import org.apache.spark.sql.expressions.Window
    // scores with heavy ties (forcing the id tiebreak) + zero costs
    val rows = (0L until 400L).map(i => (i, (i % 7) + (if (i % 13 == 0) 0L else 1L), (i % 5).toDouble / 4.0))
    val df = rows.toDF("id", "cost", "score")
    val budget = 600L
    def viaWindow = df
      .withColumn("cum", sum("cost").over(Window.orderBy(desc("score"), asc("id"))))
      .filter(col("cum") <= budget)
      .select("id", "cost", "cum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def viaSelect(d: org.apache.spark.sql.DataFrame) =
      Packing.budgetSelect(d, "id", "cost", "score", budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val expected = viaWindow
    assert(expected.nonEmpty && expected.size < rows.size, "budget must cut mid-corpus")
    assert(viaSelect(df) == expected)
    assert(viaSelect(df.repartition(11)) == expected, "global cumsum must not depend on partitioning")
    // boundary: a row landing exactly on the budget is kept
    val exact = Seq((1L, 10L, 3.0), (2L, 10L, 2.0), (3L, 10L, 1.0)).toDF("id", "cost", "score")
    val kept = Packing.budgetSelect(exact, "id", "cost", "score", 20L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L), "cum == budget keeps the row; the next row is cut")
  }

  test("negative samples: k per vector, never self, ids in range, partition-deterministic") {
    val df = graft.queries.TrainingData.td37NegativeSamples.build(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nVec = Tables(spark, sf).embeddings.count()
    assert(rows.length == 3 * nVec, "exactly k=3 negatives per vector")
    assert(rows.forall { case (v, _, neg) => neg != v }, "a vector must never be its own negative")
    assert(rows.forall { case (_, _, neg) => neg >= 0 && neg < nVec }, "negatives stay in id range")
    // same hash, same negatives — reproducible across runs
    val again = graft.queries.TrainingData.td37NegativeSamples.build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == rows.toSeq)
  }

  test("epoch shuffle: every doc placed once per epoch; epochs reorder; reproducible") {
    val rows = graft.queries.TrainingData.td38EpochShuffle.build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val nDocs = Tables(spark, sf).documents.count()
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L))
    byEpoch.foreach { case (e, rs) =>
      assert(rs.map(_._3).distinct.length == nDocs, s"epoch $e must place every doc exactly once")
      // positions are dense 1..count within each shard
      rs.groupBy(_._2).foreach { case (_, shardRows) =>
        assert(shardRows.map(_._4).sorted.toSeq == (1 to shardRows.length))
      }
    }
    // different epochs must actually reshuffle (orders differ)
    def order(e: Long) = byEpoch(e).sortBy(r => (r._2, r._4)).map(_._3).toSeq
    assert(order(0L) != order(1L), "epochs must produce different orders")
  }

  test("fingerprint index: a new batch drops exactly its already-seen content, append composes") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-fp-idx")
    val p = s"$dir/fp"
    val oldBatch = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "text")
    Dedup.writeFingerprintIndex(oldBatch, Seq("text"), p)
    val newBatch = Seq((10L, "beta"), (11L, "delta"), (12L, "gamma"), (13L, "eps")).toDF("id", "text")
    val fresh = Dedup.dropKnownExact(newBatch, Seq("text"), p)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(fresh == Seq(11L, 13L), "only never-seen content survives")
    // append the surviving batch's fingerprints; a re-delivery now drops fully
    Dedup.writeFingerprintIndex(newBatch, Seq("text"), p, mode = "append")
    assert(Dedup.dropKnownExact(newBatch, Seq("text"), p).count() == 0)
  }

  test("incremental LSH index: batch-vs-corpus candidates equal the full-corpus cross pairs") {
    import graft.operators.Dedup
    // sf0.01 here: enough duplicate clusters that the old/new split
    // produces cross pairs, so the equality below is non-vacuous
    val docs = Tables(spark, "/root/testdata/sf0.01").documents
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-idx")
    Dedup.writeLshIndex(docs.filter(col("doc_id") < 400), "doc_id", "text", s"$dir/idx")
    val inc = Dedup.dedupAgainstIndex(
      docs.filter(col("doc_id") >= 400), "doc_id", "text", s"$dir/idx")
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)),
        r.getDouble(2)))
      .sorted.toSeq
    val full = Dedup.minHashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a < 400) != (b < 400) }
      .sorted.toSeq
    assert(full.nonEmpty, "the split must cut through duplicate clusters")
    assert(inc == full,
      "incremental candidates must be bit-identical to the full run's cross pairs")
  }

  test("dd11 reuses one index dir per testdata dir across rebuilds") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def idxDirs() = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-dd11-idx")).map(_.getName).toSet
    val before = idxDirs()
    val first = graft.queries.TrainingData.dd11IncrementalDedup.build(spark, sf).collect()
    val second = graft.queries.TrainingData.dd11IncrementalDedup.build(spark, sf).collect()
    assert(second.toSeq == first.toSeq)
    val added = idxDirs() -- before
    assert(added.size == 1, s"two builds must leave one new index dir, got $added")
    assert(idxDirs().size <= before.size + 1, "a rebuild deletes the previous build's dir")
  }

  test("index compaction: K appended batches → fewer files, candidates bit-equal") {
    import graft.operators.Dedup
    import graft.ops.Maintenance
    val docs = Tables(spark, "/root/testdata/sf0.001").documents.localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-idx")
    val lshP = s"$dir/lsh"
    val fpP = s"$dir/fp"
    // 4 appended corpus batches + one RE-DELIVERED batch (each append
    // distincts only itself, so the re-delivery duplicates every one of
    // its fingerprints — exactly what compaction's re-distinct removes)
    (0 until 4).foreach { b =>
      val batch = docs.filter(col("doc_id") % 4 === b)
      Dedup.writeLshIndex(batch, "doc_id", "text", lshP,
        mode = if (b == 0) "overwrite" else "append")
      Dedup.writeFingerprintIndex(batch, Seq("text"), fpP,
        mode = if (b == 0) "overwrite" else "append")
    }
    Dedup.writeFingerprintIndex(docs.filter(col("doc_id") % 4 === 0),
      Seq("text"), fpP, mode = "append")
    val probe = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    def lshCands = Dedup.dedupAgainstIndex(probe, "doc_id", "text", lshP)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    def freshIds = Dedup.dropKnownExact(probe, Seq("text"), fpP)
      .collect().map(_.getLong(0)).sorted.toSeq
    val (candsBefore, freshBefore) = (lshCands, freshIds)
    assert(candsBefore.nonEmpty, "probe must hit the index for a non-vacuous check")
    val filesBefore =
      (Maintenance.parquetFileCount(spark, lshP), Maintenance.parquetFileCount(spark, fpP))
    val distinctFpBefore = spark.read.parquet(fpP).distinct().count()
    assert(spark.read.parquet(fpP).count() > distinctFpBefore,
      "batches must have written overlapping fingerprints (each distincts only itself)")

    val lshReports = Dedup.compactLshIndex(spark, lshP)
    val fpReport = Dedup.compactFingerprintIndex(spark, fpP)
    assert(lshReports.forall(r => r.filesAfter < r.filesBefore))
    assert(fpReport.filesAfter < fpReport.filesBefore)
    assert(Maintenance.parquetFileCount(spark, lshP) < filesBefore._1)
    assert(Maintenance.parquetFileCount(spark, fpP) < filesBefore._2)
    // bands/ keeps its partitionBy layout (partition pruning still works)
    val bandDirs = new java.io.File(s"$lshP/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(bandDirs.nonEmpty && bandDirs.forall(_.startsWith("band_idx=")))
    // compaction must be invisible to readers — same candidates, same
    // surviving rows; the fingerprint set is now exactly the distinct set
    assert(lshCands == candsBefore, "LSH candidates changed across compaction")
    assert(freshIds == freshBefore, "exact-dedup survivors changed across compaction")
    assert(spark.read.parquet(fpP).count() == distinctFpBefore)

    // trigger: fires only above maxFiles, and compacting resets it
    assert(!Dedup.maybeCompactIndexes(spark, Some(lshP), Some(fpP), maxFiles = 1000L))
    (0 until 3).foreach { b =>
      Dedup.writeFingerprintIndex(docs.filter(col("doc_id") % 4 === b),
        Seq("text"), fpP, mode = "append")
    }
    assert(Dedup.maybeCompactIndexes(spark, fingerprintPath = Some(fpP), maxFiles = 2L))
    assert(!Dedup.maybeCompactIndexes(spark, fingerprintPath = Some(fpP), maxFiles = 2L),
      "a fresh compaction must leave the file count at or below the trigger")
  }

  test("ingestBatch E2E: K batches auto-compact mid-stream, candidates bit-equal to from-scratch") {
    import graft.operators.Dedup
    import graft.ops.Maintenance
    val docs = Tables(spark, "/root/testdata/sf0.001").documents.localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-e2e")
    val lshP = s"$dir/lsh"
    val fpP = s"$dir/fp"
    // 6 batches; batch 4 RE-DELIVERS batch 1's rows (exact dupes the
    // fingerprint index must swallow). maxFiles is tiny so the wired
    // maybeCompactIndexes trigger MUST fire during the stream, proving
    // compaction mid-pipeline is invisible to later batches.
    def batchOf(b: Int) = docs.filter(col("doc_id") % 5 === (b % 5))
    var compactions = 0
    var relanded = -1L
    val keptIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 6).foreach { b =>
      val r = Dedup.ingestBatch(batchOf(b), "doc_id", "text", lshP, fpP,
        threshold = 0.35, maxFiles = 24L)
      if (r.compacted) compactions += 1
      if (b == 5) relanded = r.fresh.count() // re-delivery of batch 0's content
      keptIds ++= r.fresh.select("doc_id").collect().map(_.getLong(0))
    }
    assert(compactions > 0, "the auto-compaction trigger must fire at this maxFiles")
    assert(relanded == 0, "a re-delivered batch must be fully dropped by the fingerprint index")
    assert(Maintenance.parquetFileCount(spark, fpP) <= 24L)

    // candidates after the compacting stream == candidates from an index
    // built IN ONE SHOT over exactly the rows the stream kept (first-
    // seen-batch dedup is ingestBatch's contract; this isolates index
    // append+compaction integrity from that ordering policy)
    val probe = docs.filter(col("doc_id") % 11 === 3)
      .withColumn("doc_id", col("doc_id") + lit(5000000L))
    val streamed = Dedup.dedupAgainstIndex(probe, "doc_id", "text", lshP, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val oneShot = s"$dir/oneshot"
    Dedup.writeLshIndex(docs.filter(col("doc_id").isin(keptIds.toSeq: _*)),
      "doc_id", "text", oneShot)
    val scratch = Dedup.dedupAgainstIndex(probe, "doc_id", "text", oneShot, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(streamed == scratch,
      s"incremental+compacted index diverged from from-scratch (${streamed.size} vs ${scratch.size})")
    assert(streamed.nonEmpty, "probe must hit the corpus for a non-vacuous check")
  }

  test("IVF appendToIndex: batched appends + compaction ≡ one-shot index under the same model") {
    import graft.operators.Ivf
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings.localCheckpoint()
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append")
    // day 0 bootstrap + two daily appends, maxFiles tiny enough that
    // the second append must trigger a compaction
    Ivf.writeIndex(emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
      model, s"$dir/inc")
    val c1 = Ivf.appendToIndex(emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", model, s"$dir/inc", maxFiles = 12L)
    val c2 = Ivf.appendToIndex(emb.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", model, s"$dir/inc", maxFiles = 12L)
    assert(c1 || c2, "the compaction trigger must fire at this maxFiles")
    // compaction must keep the cluster_id directory layout (pruning)
    val clusterDirs = new java.io.File(s"$dir/inc").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(clusterDirs.nonEmpty && clusterDirs.forall(_.startsWith("cluster_id=")))

    Ivf.writeIndex(emb, "vec_id", "embedding", model, s"$dir/oneshot")
    val queries = emb.filter(col("vec_id") % 17 === 5)
    def results(p: String) = Ivf.searchStored(spark, p, queries,
      "vec_id", "embedding", model, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val (inc, full) = (results(s"$dir/inc"), results(s"$dir/oneshot"))
    assert(inc.nonEmpty && inc == full,
      s"incremental index diverged from one-shot (${inc.size} vs ${full.size})")
  }

  test("blocked cosine kernels: any block count is bit-identical to a single block") {
    // block-pair shuffle vs the degenerate 1-block run (all pairs in
    // one group) — per-pair IEEE arithmetic is block-independent, so
    // every B must produce the identical (id_a, id_b, sim) set
    def pairs(b: Int) =
      Similarity.cosinePairsKernel(emb, "vec_id", "embedding", threshold = 0.35, nBlocks = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val single = pairs(1)
    assert(single.nonEmpty, "fixture must contain cosine>=0.35 pairs")
    for (b <- Seq(2, 5, 8)) assert(pairs(b) == single, s"nBlocks=$b diverged from single block")

    def knn(b: Int) =
      Similarity.cosineKnnKernel(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 3, nBlocks = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sorted.toSeq
    val knnSingle = knn(1)
    assert(knnSingle.size == 60, "20 queries x k=3")
    for (b <- Seq(3, 7)) assert(knn(b) == knnSingle, s"knn nBlocks=$b diverged from single block")
  }

  test("BM25 ranking: positive scores sorted desc, term count bounded by the query") {
    val rows = graft.queries.TrainingData.td32Bm25.build(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getDouble(2))
    assert(scores.forall(_ > 0))
    assert(scores.sameElements(scores.sortBy(-_)), "must be ranked by score desc")
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3))
    // every ranked doc really contains a query term
    val ids = rows.map(_.getLong(0)).toSet
    val withTerm = docs
      .filter(col("text").rlike("\\b(data|spark|query)\\b"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(withTerm))
  }

  test("rolling HLL estimates stay within theoretical error of the exact rolling counts") {
    // sf0.01: rolling counts are past the raw estimator's ~2.5m floor
    // regime (sf0.001's ~15 users/window sit in the documented
    // small-range bias zone — hllEstimate's corrected=true exists for
    // those; the catalog query stays raw for oracle bit-exactness)
    val dir = "/root/testdata/sf0.01"
    val est = graft.queries.TrainingData.td31RollingDistinct.build(spark, dir).collect()
      .map(r => r.getDate(0).toString -> r.getDouble(2)).toMap
    val exact = graft.queries.TrainingData.td34RollingExact.build(spark, dir).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    // 64 registers: ~1.04/sqrt(64) = 13% typical; allow 3 sigma
    exact.foreach { case (day, n) =>
      val rel = math.abs(est(day) - n) / n.toDouble
      assert(rel < 0.4, s"$day: est=${est(day)} exact=$n rel=$rel")
    }
  }

  test("rolling 7-day HLL equals sketching the 7-day union directly") {
    import graft.operators.ApproxDistinct
    val events = Tables(spark, sf).events.withColumn("day", col("ts").cast("date"))
    val rolled = graft.queries.TrainingData.td31RollingDistinct.build(spark, sf).collect()
      .map(r => r.getDate(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rolled.nonEmpty)
    // pick the last day: its rolling value covers exactly days hi-6..hi
    val hi = rolled.keys.maxBy(_.getTime)
    val window = events.filter(
      col("day") <= lit(hi) && col("day") >= date_sub(lit(hi), 6))
    val direct = ApproxDistinct
      .approxDistinct(window.withColumn("g", lit(1)), Seq("g"), "user_id", corrected = false)
      .head()
    assert(rolled(hi) == ((direct.getLong(1), direct.getDouble(2))),
      s"rolling(${rolled(hi)}) must equal direct 7-day sketch " +
        s"(${(direct.getLong(1), direct.getDouble(2))})")
  }

  test("phashPairs: identical payloads collide at hamming 0, single-byte edits stay close") {
    val base = ("x" * 40 + "abcdefgh" + "y" * 40) * 2
    val corpus = Seq(
      (1L, base),
      (2L, base),                                   // exact copy
      (3L, base.updated(50, 'Z')),                  // one-byte edit, same length
      (4L, "q" * 30 + "Q" * 99)                     // different content/length
    ).toDF("doc_id", "text")
    val pairs = Multimodal.phashPairs(corpus, "doc_id", "text", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0, "identical payloads must hash identically")
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 12,
      "a one-byte edit moves few sampled pixels")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated payload must not pair")
    // kernel agrees with a plain reimplementation
    val h = graft.functions.Sketches.pHash63("hello world, this is a payload".getBytes)
    val b = "hello world, this is a payload".getBytes
    val px = (0 until 63).map(j => b((j * b.length) / 63) & 0xff)
    val want = (0 until 63).foldLeft(0L)((acc, j) =>
      if (px(j) * 63 > px.sum) acc | (1L << j) else acc)
    assert(h == want)
  }

  test("chunking tiles every document: strided starts, full coverage, exact reassembly") {
    val chunks = graft.queries.TrainingData.td29Chunking.build(spark, sf).collect()
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+")).toMap
    assert(chunks.map(_.getLong(0)).toSet == texts.keySet, "every doc must chunk")
    chunks.groupBy(_.getLong(0)).foreach { case (id, cs) =>
      val words = texts(id)
      val sorted = cs.sortBy(_.getInt(1))
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getInt(1) == i, "chunk indices are dense from 0")
        assert(c.getInt(2) == i * 24 + 1, "starts advance by the stride")
        assert(c.getInt(3) == math.min(i * 24 + 32, words.length))
        assert(c.getString(4) == words.slice(c.getInt(2) - 1, c.getInt(3)).mkString(" "))
      }
      assert(sorted.last.getInt(3) == words.length, "chunks must reach the document end")
    }
  }

  test("duplicateSpans merges overlapping dup windows into maximal spans; repeats split islands") {
    // w=3. doc1/doc2 share "a b c" and "b c d"; doc3 repeats "p q r"
    // at positions 1 and 5 (two disjoint islands); doc4 is unique.
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z"),
      (3L, "p q r s p q r t"),
      (4L, "unique words only here really")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, "doc_id", "text", w = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // doc1: dup windows at pos 1,2 -> span [1,4]; doc2: pos 3,4 -> [3,6];
    // doc3: pos 1 and 5 -> [1,3] + [5,7]
    assert(got.toSeq == Seq((1L, 6, 1L, 4L), (2L, 7, 1L, 4L), (3L, 8, 2L, 6L)))

    // partition-invariance: same result under a different partitioning
    val re = Dedup.duplicateSpans(df.repartition(7), "doc_id", "text", w = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(re.toSeq == got.toSeq)
  }

  test("removeDupSpans cuts spans, passes unique docs through, empties full duplicates") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z"),
      (3L, "p q r s p q r t"),
      (4L, "unique words only here really"),
      (5L, "m n o"),
      (6L, "m n o")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(df, "doc_id", "text", w = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 6, 2, "e f"),
      (2L, 7, 3, "x y z"),
      (3L, 8, 2, "s t"),
      (4L, 5, 5, "unique words only here really"),
      (5L, 3, 0, ""),
      (6L, 3, 0, "")))
  }

  test("canonicalByQuality keeps the longest copy per prefix group, min-id on ties") {
    val df = Seq(
      (1L, "Hello,  World!"),     // normalizes with 2 (short docs: whole text is the prefix)
      (2L, "hello world"),
      (4L, "hello world again"),  // 3-word prefix != 2-word prefix -> singleton
      (3L, "a b"),                // ties with 5 on n_toks -> keep 3
      (5L, "A b!"),
      (7L, "one two three four five six seven eight nine ten"),
      (8L, "one two three four five six seven eight") // truncated copy of 7
    ).toDF("doc_id", "text")
    val got = Dedup.canonicalByQuality(df, "doc_id", "text")
      .orderBy("kept_doc_id").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getInt(3)))
    // {1,2}: equal token counts -> keep doc 1; {3,5}: keep doc 3;
    // {7,8}: same 8-word prefix, 7 is longer -> keep 7; 4 is singleton
    assert(got.toSeq == Seq((2, 1L, 2), (2, 3L, 2), (2, 7L, 10)))
  }

  test("dupNgramStats: duplicate/top n-gram fractions, zeros for short docs") {
    val df = Seq(
      (1L, "a b a b a"),
      (2L, "x y z"),
      (3L, "q")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupNgramStats(df, "doc_id", "text", Seq(2, 3))
      .orderBy("doc_id", "n").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    // doc1 bigrams: ab,ba,ab,ba -> all duplicated, top covers 2/4;
    // doc1 trigrams: aba,bab,aba -> 2 of 3 duplicated, top 2/3
    assert(got.toSeq == Seq(
      (1L, 2, 4, 1.0, 0.5),
      (1L, 3, 3, 2.0 / 3, 2.0 / 3),
      (2L, 2, 2, 0.0, 0.5),
      (2L, 3, 1, 0.0, 1.0),
      (3L, 2, 0, 0.0, 0.0),
      (3L, 3, 0, 0.0, 0.0)))
  }

  test("novelGramStats: cross-doc novelty over distinct 3-grams, zeros for short docs") {
    val df = Seq(
      (1L, "a b c d"),      // grams: abc, bcd
      (2L, "x a b c"),      // grams: xab, abc -> abc shared with 1
      (3L, "a b")           // too short
    ).toDF("doc_id", "text")
    val got = TextAnalysis.novelGramStats(df, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2, 1, 0.5), (2L, 2, 1, 0.5), (3L, 0, 0, 0.0)))
  }

  test("bigramLmScores: add-one smoothed transition means; empty docs score zero") {
    val df = Seq(
      (1L, "a b"),
      (2L, "a b"),
      (3L, "a c"),
      (4L, "")
    ).toDF("doc_id", "text")
    // unigrams a=3 b=2 c=1 -> V=3; bigrams (a,b)=2 (a,c)=1
    val got = TextAnalysis.bigramLmScores(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 1, 0.5, 0.5),           // (2+1)/(3+3)
      (2L, 1, 0.5, 0.5),
      (3L, 1, 2.0 / 6, (2.0 / 6) / 1), // (1+1)/(3+3)
      (4L, 0, 0.0, 0.0)))
  }

  test("truncated-recall plumbing: identity truncation recovers the full top-k exactly") {
    // slicing to the FULL dimension must give overlap k for every query —
    // pins the join/count composition ss09 builds on the knn kernel
    val q = emb.filter(col("vec_id") < 10)
    val full = Similarity.cosineKnnKernel(emb, q, "vec_id", "embedding", k = 5)
    val same = Similarity.cosineKnnKernel(
      emb.withColumn("embedding", slice(col("embedding"), 1, 64)),
      q.withColumn("embedding", slice(col("embedding"), 1, 64)),
      "vec_id", "embedding", k = 5)
    val ov = full.select("query_id", "corpus_id")
      .join(same.select("query_id", "corpus_id"), Seq("query_id", "corpus_id"))
      .groupBy("query_id").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(1))
    assert(ov.length == 10 && ov.forall(_ == 5L))
  }

  test("centroidOutliers ranks by distance to own-label centroid, id-asc on ties") {
    val df = Seq(
      (1L, Seq(0f, 0f), 1),
      (2L, Seq(0f, 0f), 1),
      (3L, Seq(3f, 0f), 1),   // label-1 centroid (1,0): dists 1,1,2
      (4L, Seq(10f, 10f), 2),
      (5L, Seq(10f, 10f), 2)  // label-2 centroid: both dist 0
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(df, "vec_id", "embedding", "label", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (3L, 1, 2.0), (1L, 1, 1.0), (2L, 1, 1.0), (4L, 2, 0.0), (5L, 2, 0.0)))
    // the vectors of one label share one length; the error names the
    // vector (it is raised inside the centroid job: search the causes)
    val ragged = df.union(Seq((6L, Seq(1f), 1)).toDF("vec_id", "embedding", "label")).coalesce(1)
    val e = intercept[Exception](
      Similarity.centroidOutliers(ragged, "vec_id", "embedding", "label", k = 5))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage)
        .contains("centroid outliers: vector 6 has 1 components, expected 2")), e)
  }

  test("bpeMerges learns the classic es/est/lo/low sequence with lexicographic ties") {
    // Sennrich's worked example: vocab low:5 lower:2 newest:6 widest:3.
    // Round 1 ties (e,s)=9 with (s,t)=9 -> lexicographic 'e s' wins;
    // round 2 must pair the MERGED symbol ('es t'); rounds 3-4 chain
    // l o -> lo w.
    val df = Seq(
      "low low low low low lower lower",
      "newest newest newest newest newest newest widest widest widest"
    ).toDF("text")
    val got = TextAnalysis.bpeMerges(df, "text", k = 4).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "e s", "es", 9L), (2, "es t", "est", 9L),
      (3, "l o", "lo", 7L), (4, "lo w", "low", 7L)))
    // runs out of pairs gracefully: one 2-char word has exactly 1 merge
    val tiny = TextAnalysis.bpeMerges(Seq("ab").toDF("text"), "text", k = 5).collect()
    assert(tiny.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a b")))

    // applying those merges segments by the SAME leftmost-rewrite
    // contract: low->1, lower->low+e+r=3, newest->n+e+w+est=4,
    // widest->w+i+d+est=4
    val m = got.map(r => (r._2, r._3)).toSeq
    val seg = TextAnalysis.bpeSegmentCounts(
      Seq((1L, "low lower newest widest"), (2L, "  ")).toDF("id", "text"), "id", "text", m)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(seg.toSeq == Seq((1L, 4, 1 + 3 + 4 + 4), (2L, 0, 0)))
  }

  test("bpeMerges checkpoint cadence: identical rules, O(1) live storage, no replay tax at k=64") {
    // vocabulary rich enough for 64 distinct merges: varied words from
    // the testdata corpus
    val docs = queries.Tables(spark, "/root/testdata/sf0.001").documents
      .select("text").localCheckpoint()
    def rules(df: org.apache.spark.sql.DataFrame) = df.orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

    // 1) the cadence must not change the learned table (checkpointing
    //    is a plan-materialization detail, not semantics)
    val every1 = rules(TextAnalysis.bpeMerges(docs, "text", k = 12, checkpointEvery = 1))
    val never = rules(TextAnalysis.bpeMerges(docs, "text", k = 12, checkpointEvery = 1 << 30))
    assert(every1 == never, "checkpoint cadence changed the merge table")

    // 2) live checkpoint storage stays O(1) in k: superseded vocab
    //    checkpoints are dropped as training proceeds
    val before = spark.sparkContext.getPersistentRDDs.size
    val t0 = System.nanoTime()
    val ckpt64 = rules(TextAnalysis.bpeMerges(docs, "text", k = 64, checkpointEvery = 8))
    val tCkpt = (System.nanoTime() - t0) / 1e9
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(ckpt64.size == 64, s"corpus must support 64 merges, got ${ckpt64.size}")
    assert(after - before <= 3,
      s"k=64 training must retain O(1) checkpoints, grew by ${after - before}")

    // 3) the cadence must not COST versus no checkpointing at the same
    //    k (it exists to remove the O(k^2) plan replay; at minimum it
    //    must break even, and the k=32000 case rides on this property)
    val t1 = System.nanoTime()
    val plain64 = rules(TextAnalysis.bpeMerges(docs, "text", k = 64, checkpointEvery = 1 << 30))
    val tPlain = (System.nanoTime() - t1) / 1e9
    assert(ckpt64 == plain64, "k=64 tables must agree between cadences")
    info(f"k=64 rounds: checkpointed $tCkpt%.1fs vs plan-replay $tPlain%.1fs")
    assert(tCkpt <= tPlain * 1.25 + 2.0,
      f"checkpoint cadence must not tax training: $tCkpt%.1fs vs $tPlain%.1fs")
  }

  test("prioritySample: deterministic top-k by weight/u, replayable from the hash") {
    import graft.functions.MixedHash64
    val items = (0L until 200L).map(i => (i, 1L + i % 7)).toDF("id", "w")
    val got = graft.operators.Packing.prioritySample(items, "id", "w", k = 25, seed = "s")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 25)
    // replay the exact construction in Scala: fold + fmix64, mod 2^53
    def mixed(s: String): Long = {
      var h = 1469598103934665603L
      s.getBytes("UTF-8").foreach(b => h = h * 1000003L + (b & 0xffL))
      MixedHash64.fmix64(h)
    }
    val expected = (0L until 200L).map { i =>
      val u = (java.lang.Math.floorMod(mixed(s"s$i"), 1L << 53) + 1).toDouble / (1L << 53).toDouble
      (i, (1L + i % 7).toDouble, (1L + i % 7).toDouble / u)
    }.sortBy { case (id, _, p) => (-p, id) }.take(25)
    assert(got.toSeq == expected, "operator must match the hash replay bit-for-bit")
    // invariant under input partitioning
    val re = graft.operators.Packing
      .prioritySample(items.repartition(13), "id", "w", k = 25, seed = "s")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(re.toSeq == got.toSeq)
  }

  test("RRF fusion: contributions are exactly 1/(60+rank) per list, dual-hit docs outrank") {
    val rows = graft.queries.TrainingData.ss11RrfFusion.build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(rows.length == 20)
    rows.foreach { case (_, lexR, vecR, rrf) =>
      val expect = (if (lexR > 0) 1.0 / (60 + lexR) else 0.0) +
        (if (vecR > 0) 1.0 / (60 + vecR) else 0.0)
      assert(rrf == expect, s"rrf must be the exact two-term sum, got $rrf vs $expect")
    }
    // sorted descending and any dual-hit doc beats the best single-list score it contains
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(-_).toSeq)
    rows.filter(r => r._2 > 0 && r._3 > 0).foreach { case (_, lexR, vecR, rrf) =>
      assert(rrf > math.max(1.0 / (60 + lexR), 1.0 / (60 + vecR)))
    }
  }

  test("perplexity buckets: per language, head avg_p strictly above middle strictly above tail") {
    val rows = graft.queries.TrainingData.td45PerplexityBuckets.build(spark, sf)
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      def band(b: String) = rs.filter(_._3 == b).map(_._2)
      for {
        hi <- Seq("head" -> band("head"), "middle" -> band("middle"))
        lo = if (hi._1 == "head") band("middle") ++ band("tail") else band("tail")
        if hi._2.nonEmpty && lo.nonEmpty
      } assert(hi._2.min > lo.max,
        s"$lang: ${hi._1} min ${hi._2.min} must exceed lower-band max ${lo.max}")
    }
  }

  test("frame sampling: everyNth=1 frames reassemble the payload; everyNth=2 keeps even indices") {
    import graft.operators.Multimodal
    val payload = "x" * 150 // 3 frames of 64: [64, 64, 22]
    val media = Multimodal.asMediaBatch(
      Seq((1L, payload), (2L, "")).toDF("id", "t"), "id", "t")
    val all = Multimodal.sampleFrames(media, 64, 1).orderBy("media_id", "frame_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), new String(r.getAs[Array[Byte]](2))))
    assert(all.map(_._1).forall(_ == 1L), "empty payload must emit zero frames")
    assert(all.map(_._2).toSeq == Seq(0, 1, 2))
    assert(all.map(_._3).mkString == payload, "frames must reassemble the payload exactly")
    val sampled = Multimodal.sampleFrames(media, 64, 2).collect().map(_.getInt(1)).sorted
    assert(sampled.toSeq == Seq(0, 2))
  }

  test("source dup profile counts surplus copies per source from the normalized prefix fp") {
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog today", "a"),
      (2L, "the QUICK brown fox jumps over the lazy dog yesterday!", "a"), // same 8-word prefix
      (3L, "completely different text body", "a"),
      (4L, "solo doc", "b")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceDupProfile(docs, "text", "source")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(("a", 3L, 2L, 1L, 1.0 / 3), ("b", 1L, 1L, 0L, 0.0)))
  }

  test("importance resample: weight is exactly target_p/corpus_p, sorted, target-domain-favoring") {
    val rows = graft.queries.TrainingData.td46ImportanceResample.build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 50)
    rows.foreach { case (_, tp, cp, w) =>
      assert(cp > 0.0)
      assert(w == tp / cp, "weight must be the exact likelihood ratio")
    }
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(-_).toSeq)
    // docs from the target domain score themselves well: the top of the
    // ranking must contain at least one src0 doc
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.take(10).exists(r => srcOf(r._1) == "src0"),
      "top-10 by target-likeness should surface target-domain docs")
  }

  test("approx quantiles: GK sketch rank error within epsilon*n for every group/percentile") {
    val rows = graft.queries.Extras.x34ApproxQuantiles.build(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags x 2 percentiles
    rows.foreach { r =>
      assert(r.getBoolean(3), s"sketch out of bound for ${r.getString(0)} p=${r.getDouble(1)}")
      assert(r.getDouble(2) > 0.0)
    }
  }

  test("semantic decontam screen: nearest eval vec and flag match brute force on known vectors") {
    val eval = Seq((0L, Seq(1.0f, 0.0f)), (50L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Seq(0.8f, 0.6f)),   // cos vs e0 = 0.8, vs e50 = 0.6 → nearest 0, not flagged
      (2L, Seq(0.01f, 0.9999f)) // cos vs e50 ≈ 0.9999 → flagged at 0.99
    ).toDF("vec_id", "embedding")
    val got = Similarity.cosineKnnKernel(eval, train, "vec_id", "embedding", k = 1)
      .select(col("query_id"), col("corpus_id"), col("sim"), (col("sim") >= 0.99).as("flagged"))
      .orderBy("query_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.toSeq == Seq((1L, 0L, 0.8, false), (2L, 50L, 0.9999, true)))
  }

  test("sentence splitter: terminal punctuation segments, trailing marks stripped, empties dropped") {
    val got = Seq(
      "One two. Three four! Five?  Six",
      "No punctuation here",
      "Trailing dot.",
      "!. ?",
      ""
    ).toDF("t").select(TextAnalysis.sentences(col("t")).as("s"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(
      List("One two", "Three four", "Five", "Six"),
      List("No punctuation here"),
      List("Trailing dot"),
      Nil,
      Nil))
  }

  test("MAD outliers: robust center flags the uniform tails, counts partition the groups") {
    val rows = graft.queries.Extras.x24MadOutliers.build(spark, sf).collect()
    assert(rows.length == 3) // returnflags A/N/R
    val total = rows.map(_.getLong(3)).sum
    assert(total == Tables(spark, sf).lineitem.count())
    rows.foreach { r =>
      assert(r.getDouble(2) > 0, "MAD must be positive on a spread distribution")
      val out = r.getLong(4)
      assert(out > 0 && out < r.getLong(3),
        s"uniform prices: some but not all rows beyond 1.5*MAD, got $out")
    }
  }

  test("QualityModel: exact-grain GD — weights bit-invariant under repartitioning, classes separate") {
    import spark.implicits._
    // separable-with-noise fixture: 'good' rows sit high on x1/x3 and
    // low on x2; every 11th row is mislabeled so the learner sees a
    // weak-label regime, not a trivially consistent one
    val feats = (1 to 200).map { i =>
      val good = i % 3 != 0
      val y = if (i % 11 == 0) (if (good) 0.0 else 1.0) else (if (good) 1.0 else 0.0)
      val x1 = (if (good) 0.70 else 0.10) + (i % 5) * 0.02
      val x2 = (if (good) 0.04 else 0.24) + (i % 7) * 0.01
      val x3 = if (good) 0.40 else 0.05
      val x4 = 0.50 + (i % 4) * 0.05
      (y, x1, x2, x3, x4)
    }.toDF("y", "x1", "x2", "x3", "x4")
    val xs = Seq("x1", "x2", "x3", "x4")
    val a = graft.operators.QualityModel.trainScore(feats, xs, "y")
    assert(a.weights.forall(w => !w.isNaN && !w.isInfinite))

    // exact integer-grain gradient sums: the learned weights are
    // BIT-identical under any repartitioning (a naive double sum is
    // aggregation-order-dependent and would differ here)
    val b = graft.operators.QualityModel.trainScore(feats.repartition(7), xs, "y")
    assert(a.weights == b.weights,
      s"weights must be partition-invariant:\n${a.weights}\nvs\n${b.weights}")

    // the smooth score must separate the classes the weak labels define
    val mean = a.scored.groupBy("y")
      .agg((sum(round(col("score") * lit(1e9))) / count(lit(1))).as("m"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(mean(1.0) > mean(0.0) + 1e7, // ≥0.01 separation in 1e-9 grains
      s"mean score of positives must exceed negatives: $mean")

    // r14: the RDD training loop must learn BIT-identical weights to
    // the r13 DataFrame-aggregate form (round/decimal-sum replay) —
    // on the synthetic fixture AND on the real td55 feature frame
    val ref = TrainerReference.qualityScore(feats, xs, "y")
    assert(a.weights == ref.weights,
      s"RDD loop drifted from the aggregate form:\n${a.weights}\nvs\n${ref.weights}")

    // a NaN or ±Inf label or feature, and a grain that overflows, fail
    // with the column and the value: skipped from the grain sums while
    // n counts the row, they would shrink the mean gradient
    def failsWith(df: org.apache.spark.sql.DataFrame, msg: String): Unit = {
      val e = intercept[Exception](graft.operators.QualityModel.trainScore(df, xs, "y"))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(c => String.valueOf(c.getMessage)).toList
      assert(chain.exists(_.contains(msg)), s"no '$msg' in the cause chain:\n$chain")
    }
    def planted(c: String, v: Double) =
      feats.withColumn(c, when(col("x1") > 0.75, lit(v)).otherwise(col(c)))
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity);
         c <- Seq("y", "x2"))
      failsWith(planted(c, bad), s"quality classifier: $c = $bad is not finite")
    // 1e300 is finite, but (r·x)·1e9 is not
    failsWith(planted("x3", 1e300), "quality classifier: x3 grain = ")
  }

  test("QualityModel: RDD loop equals the aggregate form on the real td55 features") {
    val feats = graft.queries.TrainingData.qcFeaturesForSpec(Tables(spark, sf).documents)
    val xs = Seq("x1", "x2", "x3", "x4")
    val a = graft.operators.QualityModel.trainScore(feats, xs, "y", iters = 16, lr = 16.0)
    val ref = TrainerReference.qualityScore(feats, xs, "y", iters = 16, lr = 16.0)
    assert(a.weights == ref.weights,
      s"RDD loop drifted from the aggregate form on real features:\n" +
        s"${a.weights}\nvs\n${ref.weights}")
  }

  // ── SQ8 scalar quantization (ss25/ss26) ──────────────────────────
  test("sq8 pack/dequant: codes are bytes in [0,255], reconstruction within step/2") {
    import graft.functions.VectorKernels
    val (mn, step) = Similarity.sq8Train(emb, "embedding")
    assert(mn.length == 64 && step.length == 64 && step.forall(_ >= 0))
    val mnL = lit(mn)
    val stepL = lit(step)
    val codes = VectorKernels.sq8Pack(
      transform(col("embedding"), _.cast("double")), mnL, stepL)
    val rows = emb
      .select(transform(col("embedding"), _.cast("double")).as("v"), codes.as("c"))
      .select(col("v"), col("c"),
        VectorKernels.sq8Dequant(col("c"), mnL, stepL).as("dq"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      val c = r.getAs[Array[Byte]](1)
      val dq = r.getSeq[Double](2)
      assert(c.length == 64 && dq.length == 64)
      v.indices.foreach { d =>
        // quantization error bound: half a step (+ ulp slack)
        val bound = step(d) / 2 + 1e-12
        assert(math.abs(v(d) - dq(d)) <= bound,
          s"dim $d: |${v(d)} - ${dq(d)}| > $bound")
      }
    }
  }

  test("sq8 ADC decomposition matches the dequantized inner product") {
    import graft.functions.VectorKernels
    val (mn, step) = Similarity.sq8Train(emb, "embedding")
    val mnL = lit(mn)
    val stepL = lit(step)
    val qv = transform(col("embedding"), _.cast("double"))
    val codes = VectorKernels.sq8Pack(qv, mnL, stepL)
    // per row: qmin + sq8_adc(qw, codes) ≈ vec_dot(qv, dequant(codes))
    // (same terms, different association — equal to ~1e-12 relative)
    val got = emb
      .select(
        (VectorKernels.vecDot(qv, mnL) +
          VectorKernels.sq8Adc(zip_with(qv, stepL, (x, s) => x * s), codes)).as("decomp"),
        VectorKernels.vecDot(qv, VectorKernels.sq8Dequant(codes, mnL, stepL)).as("direct"))
      .collect()
    got.foreach { r =>
      val (a, b) = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"$a vs $b")
    }
  }

  test("sq8Knn with a full-corpus shortlist reranks to exactly the brute-force top-k") {
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 10)
    val (mn, step) = Similarity.sq8Train(emb, "embedding")
    val brute = Similarity
      .bruteForceKnn(emb, queries, "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val sq8 = Similarity
      .sq8Knn(emb, queries, "vec_id", "embedding", mn, step, shortlist = n, k = 3)
      .select("query_id", "corpus_id", "sim", "rank")
      .orderBy("query_id", "rank").collect().toSeq
    assert(sq8 == brute)
  }

  test("ivf sq8: all-cluster probes + full shortlist equal brute force; tight probes stay plausible") {
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 10)
    val model = graft.operators.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val indexed = graft.operators.Ivf.index(emb, "vec_id", "embedding", model)
    val (mn, step) = Similarity.sq8Train(emb, "embedding")
    val brute = Similarity
      .bruteForceKnn(emb, queries, "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val full = graft.operators.Ivf
      .searchSq8(indexed, emb, queries, "vec_id", "embedding", model, mn, step,
        shortlist = n, k = 3, nprobe = 8)
      .select("query_id", "corpus_id", "sim", "rank")
      .orderBy("query_id", "rank").collect().toSeq
    assert(full == brute)
    // tight probes: a real subset search still returns k ranked rows per query
    val tight = graft.operators.Ivf
      .searchSq8(indexed, emb, queries, "vec_id", "embedding", model, mn, step,
        shortlist = 10, k = 3, nprobe = 2)
      .collect()
    assert(tight.length == 30)
  }

  test("binary quantization: codes are partition-invariant; full shortlist equals brute force") {
    import graft.functions.VectorKernels
    val thr = Similarity.bqTrain(emb, "vec_id", "embedding")
    assert(thr.length == 64)
    // thresholds from a different partitioning are bit-identical
    assert(Similarity.bqTrain(emb.repartition(7), "vec_id", "embedding").toSeq == thr.toSeq)
    // codes: bit d set iff v(d) > thr(d) — cross-check one row in Scala
    val row = emb
      .select(transform(col("embedding"), _.cast("double")).as("v"),
        VectorKernels.signBits64(transform(col("embedding"), _.cast("double")), lit(thr))
          .as("code"))
      .head()
    val v = row.getSeq[Double](0)
    val expected = v.indices.take(64)
      .foldLeft(0L)((acc, d) => if (v(d) > thr(d)) acc | (1L << d) else acc)
    assert(row.getLong(1) == expected)
    // with a full-corpus shortlist the exact rerank recovers brute-force top-k
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity
      .bruteForceKnn(emb, queries, "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val bq = Similarity
      .bqKnn(emb, queries, "vec_id", "embedding", thr, shortlist = n, k = 3)
      .select("query_id", "corpus_id", "sim", "rank")
      .orderBy("query_id", "rank").collect().toSeq
    assert(bq == brute)
  }

  test("sortedNeighborhood: window bounds comparisons; ranks are partition-invariant") {
    // docs 1/2/3 share the 24-char blocking prefix, so their rank order
    // is the id tiebreak: doc 2 sits BETWEEN the identical pair 1 and 3
    val docs = Seq(
      (1L, "alpha alpha common tail words here one two three four"),
      (2L, "alpha alpha common tail but totally different after that point"),
      (3L, "alpha alpha common tail words here one two three four"), // identical to 1
      (4L, "zeta omega unrelated trailing content five four three two")
    ).toDF("id", "t")
    // w=2: doc 3 is 2 ranks after doc 1 (doc 2 sorts between) → flagged
    val w2 = Dedup.sortedNeighborhood(docs, "id", "t", window = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(w2 == Set((1L, 3L, 1.0)), s"got $w2")
    // w=1: the identical pair is OUT of the window → nothing flagged
    val w1 = Dedup.sortedNeighborhood(docs, "id", "t", window = 1, threshold = 0.9)
      .collect()
    assert(w1.isEmpty, w1.mkString(","))
    // partition-invariance: ranks from a different input partitioning
    val re = Dedup.sortedNeighborhood(docs.repartition(5), "id", "t",
      window = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(re == w2)
  }

  test("lshDecontam flags near-identical train/eval docs and ignores disjoint ones") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different text about shipping metrics and quarterly parquet files"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tomorrow")
    ).toDF("id", "t")
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("id", "t")
    val got = Dedup.lshDecontam(train, eval, "id", "t", threshold = 0.35)
      .orderBy("doc_id").collect()
    val byId = got.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byId.contains(1L), s"identical doc must be flagged: ${got.mkString(",")}")
    assert(byId(1L) == ((1L, 1.0))) // identical text → est 1.0 vs 1 eval doc
    assert(!byId.contains(2L), "disjoint doc must not be flagged")
  }
}
