package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Functions, RollingHash64}
import graft.operators.{Dedup, Graph, Multimodal, Similarity, TextAnalysis}

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal plumbing) + ingestion scalar ops, instantiated
  * against the `documents`/`embeddings` tables as verifiable queries.
  * Every op carries a DuckDB oracle — td07's engine-private HLL++
  * estimate is oracle-checked through an in-query error bound (and
  * td12's deterministic HLL covers the replayable form) — including
  * the MinHash/SimHash/winnowing sketches and the IVF k-means
  * pipeline, whose hash/centroid arithmetic is reproduced in SQL
  * exactly (HUGEINT mod-2^64 folds, decimal-exact means).
  */
object TrainingData {

  /** DuckDB fragment: graft's rolling_hash64 fold over `col`'s chars
    * (ASCII corpus ⇒ ord(char) = UTF-8 byte), as unsigned HUGEINT.
    */
  private[queries] def foldSql(col: String): String =
    s"""list_reduce(
       |    list_prepend(1469598103934665603::HUGEINT,
       |      list_transform(regexp_split_to_array($col, ''), x -> ord(x)::HUGEINT)),
       |    (acc, c) -> (acc * 1000003 + c) % 18446744073709551616::HUGEINT)""".stripMargin

  /** DuckDB fragment: reinterpret an unsigned mod-2^64 HUGEINT as the
    * two's-complement signed BIGINT Spark's LongType holds.
    */
  private[queries] def toSignedSql(u: String): String =
    s"""CAST(CASE WHEN $u >= 9223372036854775808::HUGEINT
       |          THEN $u - 18446744073709551616::HUGEINT ELSE $u END AS BIGINT)""".stripMargin

  /** DuckDB fragment: `a * c mod 2^64` via 32-bit limbs — the direct
    * product of two ~2^64 values overflows INT128, so split:
    * a*c ≡ al*cl + 2^32·((al*ch + ah*cl) mod 2^32)  (mod 2^64).
    */
  private def mulModSql(a: String, c: BigInt): String = {
    val (ch, cl) = (c >> 32, c & 0xffffffffL)
    s"""((($a % 4294967296) * $cl + 4294967296 *
       |   ((($a % 4294967296) * $ch + ($a // 4294967296) * $cl) % 4294967296))
       |  % 18446744073709551616::HUGEINT)""".stripMargin
  }

  /** DuckDB fragment: murmur3 fmix64 over an unsigned HUGEINT —
    * mirrors functions.MixedHash64 (logical >>33 = // 2^33).
    */
  private[queries] def fmixSql(u: String): String = {
    val s1 = s"xor($u, $u // 8589934592)"
    val s2 = mulModSql(s"($s1)", BigInt("ff51afd7ed558ccd", 16))
    val s3 = s"xor(($s2), ($s2) // 8589934592)"
    val s4 = mulModSql(s"($s3)", BigInt("c4ceb9fe1a85ec53", 16))
    s"xor(($s4), ($s4) // 8589934592)"
  }

  // ── exact dedup ──────────────────────────────────────────────────
  val td01ExactDedup = Query(
    "td01_exact_dedup",
    Some("""SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies, text
            |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Dedup
        .exactDedupStats(t.documents, "doc_id", Seq("text"))
        .orderBy("keeper_id")
        .select("keeper_id", "n_copies", "text")
    }
  )

  /** MD5 content fingerprint — same algorithm in both engines, so the
    * exact-dup prefilter is oracle-checkable end to end.
    */
  val td02Fingerprint = Query(
    "td02_fingerprint",
    Some("""SELECT doc_id, MD5(text) AS fp_md5 FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.documents.select(col("doc_id"), md5(col("text")).as("fp_md5")).orderBy("doc_id")
    }
  )

  // ── text analysis ────────────────────────────────────────────────
  val td03Tokens = Query(
    "td03_tokens",
    Some("""SELECT doc_id,
            |  CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
            |       ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS INT) AS n_tokens,
            |  CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpeish
            |FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.documents
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish")
        )
        .orderBy("doc_id")
    }
  )

  val td04Quality = Query(
    "td04_quality",
    Some("""WITH q AS (SELECT doc_id, text,
            |  CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
            |       ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS INT) AS n_tokens,
            |  CAST(LEN(regexp_extract_all(LOWER(text),
            |    '\b(the|a|and|of|to|in|is|it)\b')) AS INT) AS n_stop
            |FROM documents)
            |SELECT doc_id, n_tokens,
            |  CASE WHEN n_tokens > 0
            |    THEN CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / n_tokens
            |    ELSE 0.0 END AS avg_token_len,
            |  CASE WHEN LENGTH(text) > 0
            |    THEN CAST(LEN(regexp_extract_all(text, '[\.,;:!\?]')) AS DOUBLE) / LENGTH(text)
            |    ELSE 0.0 END AS punct_ratio,
            |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END
            |    AS stopword_ratio
            |FROM q ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      TextAnalysis
        .qualityFeatures(t.documents, col("text"))
        .select("doc_id", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio")
        .orderBy("doc_id")
    }
  )

  val td05LangId = Query(
    "td05_langid", {
      // score expressions mirror TextAnalysis.langMarkers exactly; the
      // CASE evaluates languages in ascending code order, which is the
      // same deterministic tiebreak the Scala argmax applies.
      def score(l: String) =
        s"LEN(regexp_extract_all(LOWER(text), '${TextAnalysis.langPattern(l)}'))"
      val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
      val scores = langs.map(l => s"(${score(l)}) AS s_$l").mkString(",\n  ")
      val greatest = s"GREATEST(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
      Some(
        s"""WITH s AS (SELECT doc_id, lang,
           |  $scores
           |FROM documents),
           |m AS (SELECT *, $greatest AS m FROM s)
           |SELECT doc_id, lang, CASE WHEN m = 0 THEN 'und' $cases END AS lang_guess
           |FROM m ORDER BY doc_id""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        t.documents
          .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("lang_guess")),
        "doc_id")
    }
  )

  // ── exact n-gram Jaccard near-dup (ground truth) ─────────────────
  val td06Jaccard = Query(
    "td06_jaccard_pairs",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            |       FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
            |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
            |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_common
            |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
            |SELECT id_a, id_b, n_common,
            |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
            |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
            |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
            |ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.setSimPairs(t.documents, "doc_id", "text", Dedup.Jaccard, threshold = 0.2,
          k = 3, maxFanout = Long.MaxValue),
        "id_a", "id_b")
    }
  )

  // ── approximate dedup — every sketch below is EXACTLY reproduced
  // in DuckDB SQL (rolling-hash fold in HUGEINT arithmetic), so the
  // oracle verifies the full pipeline bit-for-bit, not just recall ──
  /** Shared CTE chain: MinHash signature replay (64 universal hashes
    * over the Mersenne-prime domain, identical (a,b) constants),
    * 16×4 banding on exact values, candidate pairs with estimate ≥
    * 0.35. Ends with `cand(id_a, id_b, est_jaccard)`; `grams` stays
    * referenceable for downstream exact verification.
    */
  private def minhashCandCtes: String = {
    val ab = Dedup.hashParams(64)
    val alist = ab.map(_._1).mkString("[", ",", "]")
    val blist = ab.map(_._2).mkString("[", ",", "]")
    s"""words AS (
       |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS w FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       |  FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
       |gh AS (
       |  SELECT doc_id, ((${toSignedSql("u")} % 2147483647) + 2147483647) % 2147483647 AS h
       |  FROM (SELECT doc_id, ${foldSql("g")} AS u FROM grams)),
       |sig AS (
       |  SELECT doc_id, CAST(i AS INT) AS i,
       |    MIN(($alist[CAST(i AS INT) + 1] * h + $blist[CAST(i AS INT) + 1]) % 2147483647) AS s
       |  FROM gh, range(64) r(i) GROUP BY doc_id, i),
       |sigs AS (SELECT doc_id, list(s ORDER BY i) AS sg FROM sig GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, CAST(i // 4 AS INT) AS band_idx, list(s ORDER BY i) AS key
       |  FROM sig GROUP BY doc_id, i // 4),
       |cand0 AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM banded x JOIN banded y
       |    ON x.band_idx = y.band_idx AND x.key = y.key AND x.doc_id < y.doc_id),
       |est AS (
       |  SELECT id_a, id_b,
       |    CAST(LEN(list_filter(range(1, 65),
       |      j -> sa.sg[CAST(j AS INT)] = sb.sg[CAST(j AS INT)])) AS DOUBLE) / 64 AS est_jaccard
       |  FROM cand0 JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id),
       |cand AS (SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.35)""".stripMargin
  }

  val dd01MinHash = Query(
    "dd01_minhash_lsh",
    Some(
      s"""WITH $minhashCandCtes
         |SELECT id_a, id_b, est_jaccard FROM cand ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.minHashCandidates(t.documents, "doc_id", "text",
          k = 3, numHashes = 64, bands = 16, threshold = 0.35),
        "id_a", "id_b")
    }
  )

  // dd11's index dir per testdata dir (see the build below)
  private val dd11IndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** dd11: the INCREMENTAL near-dup path as an oracle-checked query.
    * The corpus (doc_id % 5 <> 0) is indexed once with
    * [[Dedup.writeLshIndex]]; the batch (doc_id % 5 = 0) is deduped
    * against the stored band postings without re-reading corpus text —
    * the daily-append shape. The oracle replays the FULL-corpus MinHash
    * chain restricted to cross pairs, so a green row is the proof that
    * indexing loses nothing vs a from-scratch run (same sketch
    * constants as dd01: k=3, 64 hashes, 16 bands, est ≥ 0.35).
    */
  val dd11IncrementalDedup = Query(
    "dd11_incremental_dedup",
    Some(
      s"""WITH $minhashCandCtes
         |SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS id_new,
         |       CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS id_old,
         |       est_jaccard
         |FROM cand
         |WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)
         |ORDER BY id_new, id_old""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val idx = java.nio.file.Files.createTempDirectory("graft-dd11-idx").toString
      // one index dir per testdata dir: a rebuild deletes the previous
      // build's (the result reads it lazily, so it lives until then)
      Option(dd11IndexDirs.put(dir, idx)).foreach { prev =>
        val p = new org.apache.hadoop.fs.Path(prev)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      Dedup.writeLshIndex(
        t.documents.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", idx)
      Query.checkpointSort(
        Dedup.dedupAgainstIndex(
          t.documents.filter(col("doc_id") % 5 === 0), "doc_id", "text", idx,
          threshold = 0.35),
        "id_new", "id_old")
    }
  )

  /** Fuzzy decontamination ([[graft.operators.Dedup.lshDecontam]], the
    * GPT-3/Pile eval-set near-dup filter): flag TRAIN docs whose
    * MinHash-estimated Jaccard against some EVAL doc (td54's
    * `doc_id % 10 = 7` split) reaches 0.35 — catches paraphrased
    * benchmark leakage that td13's exact / td16's Bloom / td54's
    * n-gram forms miss. The oracle reuses dd01's full MinHash chain
    * restricted to cross pairs (a cross candidate band-matches
    * regardless of which side banded), then aggregates per train doc.
    */
  val dd20LshDecontam = Query(
    "dd20_lsh_decontam",
    Some(
      s"""WITH $minhashCandCtes,
         |crossc AS (
         |  SELECT CASE WHEN id_a % 10 = 7 THEN id_b ELSE id_a END AS doc_id,
         |         CASE WHEN id_a % 10 = 7 THEN id_a ELSE id_b END AS eval_id,
         |         est_jaccard
         |  FROM cand WHERE (id_a % 10 = 7) <> (id_b % 10 = 7))
         |SELECT doc_id, CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs,
         |  MAX(est_jaccard) AS max_est
         |FROM crossc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.lshDecontam(
          t.documents.filter(col("doc_id") % 10 =!= 7),
          t.documents.filter(col("doc_id") % 10 === 7),
          "doc_id", "text", k = 3, numHashes = 64, bands = 16, threshold = 0.35),
        "doc_id")
    }
  )

  /** Sorted-neighborhood near-dup candidates
    * ([[graft.operators.Dedup.sortedNeighborhood]], Hernández & Stolfo
    * 1995): sort by the first 24 chars of the dedup-normalized text,
    * compare each doc against the next 3 in that order via MinHash
    * signature agreement — O(N·w) pairs, the record-linkage
    * complement to dd01's band joins. The oracle reuses dd01's
    * signature CTEs (unreferenced banding CTEs prune away), ranks with
    * the same (key, id) total order, and replays the windowed rank
    * join and the agreement estimate exactly.
    */
  val dd21SortedNeighborhood = Query(
    "dd21_sorted_neighborhood",
    Some(
      s"""WITH $minhashCandCtes,
         |keyed AS (
         |  SELECT s.doc_id AS id,
         |    SUBSTRING(TRIM(regexp_replace(regexp_replace(LOWER(d.text), '[^a-z0-9\\s]', ' ', 'g'),
         |                                  '\\s+', ' ', 'g')), 1, 24) AS key,
         |    s.sg
         |  FROM sigs s JOIN documents d USING (doc_id)),
         |ranked AS MATERIALIZED (
         |  SELECT id, sg, ROW_NUMBER() OVER (ORDER BY key, id) AS r FROM keyed),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(LEN(list_filter(range(1, 65),
         |      j -> a.sg[CAST(j AS INT)] = b.sg[CAST(j AS INT)])) AS DOUBLE) / 64 AS est_jaccard
         |  FROM ranked a JOIN ranked b ON b.r BETWEEN a.r + 1 AND a.r + 3)
         |SELECT id_a, id_b, est_jaccard FROM pairs
         |WHERE est_jaccard >= 0.35 ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.sortedNeighborhood(t.documents, "doc_id", "text",
          window = 3, k = 3, numHashes = 64, keyLen = 24, threshold = 0.35),
        "id_a", "id_b")
    }
  )

  /** The complete near-dup pipeline as ONE operator
    * (Dedup.dedupPipeline): MinHash → LSH candidates (est ≥ 0.35) →
    * exact-Jaccard verification on candidates only (≥ 0.5) →
    * connected components → keeper = min id per component. The oracle
    * replays every stage: the shared MinHash CTE chain, a
    * candidate-restricted exact-Jaccard check, a recursive-CTE
    * closure, and the final left-join keeper assignment. The exact
    * check stages candidate-side grams through a MATERIALIZED CTE
    * before the intersection join: written as grams⋈grams⋈cand,
    * DuckDB's estimate-blind join order put the full shared-gram
    * pair join below the cand filter and spilled >79 GB at sf1;
    * cand-first is the same count at 37 s.
    */
  val dd07DedupPipeline = Query(
    "dd07_dedup_pipeline",
    Some(
      s"""WITH RECURSIVE $minhashCandCtes,
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
         |pairgrams AS MATERIALIZED (
         |  SELECT cand.id_a, cand.id_b, x.g
         |  FROM cand JOIN grams x ON x.doc_id = cand.id_a),
         |counts AS (
         |  SELECT pg.id_a, pg.id_b, COUNT(*) AS c
         |  FROM pairgrams pg JOIN grams y ON y.doc_id = pg.id_b AND y.g = pg.g
         |  GROUP BY 1, 2),
         |edges0 AS (
         |  SELECT id_a AS a, id_b AS b FROM counts
         |  JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
         |edges AS (SELECT a AS src, b AS dst FROM edges0 UNION SELECT b, a FROM edges0),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS keeper_id,
         |  d.doc_id = COALESCE(comp.component, d.doc_id) AS is_kept
         |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.dedupPipeline(t.documents, "doc_id", "text"),
        "doc_id")
    }
  )

  /** Shared CTE chain for the SimHash oracles: per-token rolling hash
    * → per-bit ±1 votes (arithmetic >> matches Spark's shiftright) →
    * sign bits reassembled in HUGEINT. Ends with `agg(doc_id, u2)`.
    */
  private def simhashCtes: String =
    s"""toks AS (
       |  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS t FROM documents),
       |th AS (
       |  SELECT doc_id,
       |    CASE WHEN strlen(t) = 0 THEN 1469598103934665603::HUGEINT ELSE ${foldSql("t")} END AS u
       |  FROM toks),
       |ts AS (SELECT doc_id, ${toSignedSql("u")} AS s FROM th),
       |votes AS (
       |  SELECT doc_id, b, SUM(CASE WHEN (s >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM ts, range(64) r(b) GROUP BY doc_id, b),
       |agg AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN (1::HUGEINT << CAST(b AS INT)) ELSE 0::HUGEINT END) AS u2
       |  FROM votes GROUP BY doc_id)""".stripMargin

  val dd02SimHash = Query(
    "dd02_simhash",
    Some(
      s"""WITH $simhashCtes
         |SELECT doc_id, ${toSignedSql("u2")} AS simhash FROM agg ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        t.documents
          .select(col("doc_id"), Dedup.simHash64(col("text")).as("simhash")),
        "doc_id")
    }
  )

  /** Custom codegen'd Catalyst expression fingerprint; the oracle
    * replays the identical mod-2^64 polynomial fold in HUGEINT.
    */
  val dd03Rolling = Query(
    "dd03_rolling_fingerprint",
    Some(
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CASE WHEN strlen(text) = 0 THEN 1469598103934665603::HUGEINT
         |         ELSE ${foldSql("text")} END AS u
         |  FROM documents)
         |SELECT doc_id, ${toSignedSql("u")} AS fp_rolling FROM h ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      RollingHash64.register(spark)
      val t = Tables(spark, dir)
      t.documents
        .select(col("doc_id"), RollingHash64(col("text")).as("fp_rolling"))
        .orderBy("doc_id")
    }
  )

  /** Winnowing fingerprints (MOSS scheme) over the positional k-gram
    * sequence. Oracle: per-gram rolling hash, window-min via MIN OVER
    * (ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING) restricted to full
    * windows (single global min when the doc has fewer than w grams),
    * then DISTINCT — byte-identical to the engine's native kernel.
    */
  val dd06Winnow = Query(
    "dd06_winnow_fingerprints",
    Some(
      s"""WITH words AS (
         |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS w FROM documents),
         |grams AS (
         |  SELECT doc_id, CAST(i AS INT) AS i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
         |  FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
         |gh AS (
         |  SELECT doc_id, i, ${toSignedSql("u")} AS h
         |  FROM (SELECT doc_id, i, ${foldSql("g")} AS u FROM grams)),
         |wm AS (
         |  SELECT doc_id, i,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    COUNT(*) OVER (PARTITION BY doc_id) AS m
         |  FROM gh)
         |SELECT DISTINCT doc_id, fp AS fingerprint FROM wm
         |WHERE i <= GREATEST(m - 3, 1)
         |ORDER BY doc_id, fingerprint""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        t.documents
          .select(col("doc_id"),
            explode(Dedup.winnowFingerprints(col("text"), k = 3, w = 4)).as("fingerprint")),
        "doc_id", "fingerprint")
    }
  )

  // ── similarity search ────────────────────────────────────────────
  val ss01CosineKnn = Query(
    "ss01_cosine_knn",
    Some("""WITH p AS (
            |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            |                                 CAST(c.embedding AS DOUBLE[])), 4) AS sim
            |  FROM embeddings q, embeddings c
            |  WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
            |SELECT query_id, corpus_id, sim, CAST(r AS INT) AS rank FROM (
            |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
            |  FROM p) WHERE r <= 3 ORDER BY query_id, rank""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Similarity
          .cosineKnnKernel(t.embeddings, t.embeddings.filter(col("vec_id") < 50),
            "vec_id", "embedding", k = 3),
        "query_id", "rank")
    }
  )

  /** Random-hyperplane LSH ANN. The hyperplanes are deterministic ±1
    * literals, so the oracle replays the ENTIRE pipeline exactly:
    * per-table bucket signatures (left-associative dot folds — IEEE
    * addition order matters), bucket self-join, rounded cosine
    * rescoring, top-k window.
    */
  val ss02LshAnn = Query(
    "ss02_lsh_ann", {
      val (bits, tables, dim, k) = (8, 2, 64, 3)
      // left-assoc term chains mirror dotUnrolled / the signature fold
      def signDot(v: String, signs: Seq[Double]): String =
        signs.zipWithIndex.map { case (s, i) =>
          s"$v[${i + 1}] * ${if (s > 0) "1.0" else "-1.0"}"
        }.mkString(" + ")
      def bucketExpr(t: Int): String =
        Similarity.hyperplaneSigns(bits, t, dim).zipWithIndex.map { case (signs, j) =>
          s"(CASE WHEN ${signDot("v", signs)} >= 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
      val normTerms = (1 to dim).map(i => s"v[$i] * v[$i]").mkString(" + ")
      val pairDot = (1 to dim).map(i => s"a.v[$i] * b.v[$i]").mkString(" + ")
      val tabled = (0 until tables).map { t =>
        s"SELECT id, v, v_norm, $t AS table_id, ${bucketExpr(t)} AS bucket FROM base"
      }.mkString("\nUNION ALL\n")
      Some(
        s"""WITH b0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |base AS (SELECT id, v, SQRT($normTerms) AS v_norm FROM b0),
           |tabled AS (
           |$tabled),
           |pairs AS (
           |  SELECT DISTINCT a.id AS query_id, b.id AS corpus_id,
           |    ROUND(($pairDot) / (a.v_norm * b.v_norm), 4) AS sim
           |  FROM tabled a JOIN tabled b
           |    ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.id <> b.id)
           |SELECT query_id, corpus_id, sim, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
           |  FROM pairs) WHERE r <= $k ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Similarity.lshKnn(t.embeddings, "vec_id", "embedding", k = 3, bits = 8, tables = 2),
        "query_id", "rank")
    }
  )

  /** Multi-probe LSH ANN — ss02's recall knob turned the OTHER way:
    * one hash table whose queries also probe every single-bit-flip
    * neighbour bucket (Lv et al. 2007), trading a ×(bits+1) fan-out
    * of 24-byte probe keys for (tables−1) whole index copies. The
    * oracle replays the identity probe + the 8 XOR probes and the
    * exact rescore; only the query side fans out, asserted in the
    * shared PlanSpec convention (narrow keys through the self-join).
    */
  val ss16MultiprobeLsh = Query(
    "ss16_multiprobe_lsh", {
      val (bits, dim, k) = (8, 64, 3)
      def signDot(v: String, signs: Seq[Double]): String =
        signs.zipWithIndex.map { case (s, i) =>
          s"$v[${i + 1}] * ${if (s > 0) "1.0" else "-1.0"}"
        }.mkString(" + ")
      val bucketExpr =
        Similarity.hyperplaneSigns(bits, 0, dim).zipWithIndex.map { case (signs, j) =>
          s"(CASE WHEN ${signDot("v", signs)} >= 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
      val normTerms = (1 to dim).map(i => s"v[$i] * v[$i]").mkString(" + ")
      val pairDot = (1 to dim).map(i => s"a.v[$i] * b.v[$i]").mkString(" + ")
      Some(
        s"""WITH b0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |base AS (SELECT id, v, SQRT($normTerms) AS v_norm FROM b0),
           |tabled AS (SELECT id, v, v_norm, $bucketExpr AS bucket FROM base),
           |probes AS (
           |  SELECT id, bucket FROM tabled
           |  UNION ALL
           |  SELECT id, xor(bucket, CAST(POWER(2, j) AS BIGINT))
           |  FROM tabled, UNNEST(range(0, $bits)) t(j)),
           |pairs AS (
           |  SELECT DISTINCT a.id AS query_id, b.id AS corpus_id,
           |    ROUND(($pairDot) / (a.v_norm * b.v_norm), 4) AS sim
           |  FROM probes pa JOIN tabled b
           |    ON pa.bucket = b.bucket AND pa.id <> b.id
           |  JOIN base a ON a.id = pa.id)
           |SELECT query_id, corpus_id, sim, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
           |  FROM pairs) WHERE r <= $k ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Similarity.lshKnn(t.embeddings, "vec_id", "embedding",
          k = 3, bits = 8, tables = 1, multiProbe = true),
        "query_id", "rank")
    }
  )

  /** Capped-bucket LSH ANN — ss02 with deterministic bucket
    * truncation (the ANN mirror of dd19's sketch-class collapse):
    * each (table, bucket)'s corpus side keeps only the `cap` members
    * with the smallest mixed-hash of id, bounding per-query
    * candidates at tables × cap and total candidate volume at
    * O(N·tables·cap) — linear even when one bucket holds the corpus
    * (exactly what the synthetic sf10 notch does to ss02). The
    * oracle replays signatures, the hash-ordered truncation window,
    * and the rescore exactly.
    */
  /** Shared oracle CTEs for the capped-bucket LSH replay (ss18/ss20):
    * [[lshTableCtes]] builds the per-table signatures once (`b0`,
    * `base`, `tabled`); [[lshRankedCte]] adds the hash-ordered
    * truncation rank, computed ONCE and filtered per cap (`rn <= c`)
    * by consumers. Memory discipline (this oracle OOMed the round-8
    * driver gate when DuckDB ran memory-starved next to the Spark
    * JVM): `tabled`/`ranked` carry only (id, table_id, bucket[, rn])
    * — four integers a row — and the 64-dim vectors re-join from
    * `base` strictly at rescore time, so the only materialized
    * vector-bearing CTE is `base` itself.
    */
  private def lshTableCtes(bits: Int, tables: Int, dim: Int): String = {
    def signDot(v: String, signs: Seq[Double]): String =
      signs.zipWithIndex.map { case (s, i) =>
        s"$v[${i + 1}] * ${if (s > 0) "1.0" else "-1.0"}"
      }.mkString(" + ")
    def bucketExpr(t: Int): String =
      Similarity.hyperplaneSigns(bits, t, dim).zipWithIndex.map { case (signs, j) =>
        s"(CASE WHEN ${signDot("v", signs)} >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
    val normTerms = (1 to dim).map(i => s"v[$i] * v[$i]").mkString(" + ")
    val tabled = (0 until tables).map { t =>
      s"SELECT id, $t AS table_id, ${bucketExpr(t)} AS bucket FROM base"
    }.mkString("\nUNION ALL\n")
    s"""b0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |base AS MATERIALIZED (SELECT id, v, SQRT($normTerms) AS v_norm FROM b0),
       |tabled AS MATERIALIZED (
       |$tabled)""".stripMargin
  }

  private def lshRankedCte: String = {
    val hid = toSignedSql(s"(${fmixSql(s"(${foldSql("CAST(id AS VARCHAR)")})")})")
    s"""ranked AS (
       |  SELECT id, table_id, bucket,
       |    ROW_NUMBER() OVER (PARTITION BY table_id, bucket
       |                       ORDER BY $hid, id) AS rn
       |  FROM tabled)""".stripMargin
  }

  val ss18CappedLshAnn = Query(
    "ss18_capped_lsh_ann", {
      val pairDot = (1 to 64).map(i => s"va.v[$i] * vb.v[$i]").mkString(" + ")
      Some(
        s"""WITH ${lshTableCtes(bits = 8, tables = 2, dim = 64)},
           |$lshRankedCte,
           |pairs AS (
           |  SELECT DISTINCT a.id AS query_id, b.id AS corpus_id,
           |    ROUND(($pairDot) / (va.v_norm * vb.v_norm), 4) AS sim
           |  FROM tabled a JOIN ranked b
           |    ON a.table_id = b.table_id AND a.bucket = b.bucket
           |   AND a.id <> b.id AND b.rn <= 8
           |  JOIN base va ON va.id = a.id
           |  JOIN base vb ON vb.id = b.id)
           |SELECT query_id, corpus_id, sim, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
           |  FROM pairs) WHERE r <= 3 ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Similarity.lshKnn(t.embeddings, "vec_id", "embedding",
          k = 3, bits = 8, tables = 2, bucketCap = 8),
        "query_id", "rank")
    }
  )

  /** Recall@3 of the capped-LSH path against the brute-force ground
    * truth, swept over three bucket caps on a deterministic 50-query
    * slice — "measure, don't guess" for the truncation's accuracy
    * cost. On THIS corpus the curve matters: GenData's perturbed
    * replicas pile ~100-deep into the same hyperplane buckets, so a
    * tight cap evicts true neighbors and the recall climbs steeply
    * with the cap — exactly the tradeoff a production deployment
    * tunes (cap ≈ expected duplicate multiplicity). Both sides round
    * similarities to the same 4-decimal grid with the same id
    * tiebreak, so top-k membership is deterministic in both engines;
    * recall is exact integer 1e-4 units (no double division). The
    * exact side is O(|slice|·N) — bounded by the fixed slice.
    *
    * The engine builds the whole sweep as one lazy plan — the exact
    * top-3 exploded over the caps, left-joined to the one-frame
    * [[Similarity.lshKnnCappedSweep]], one `groupBy(bucket_cap)` —
    * so the only materialization is the sweep's vector table.
    */
  val ss20CappedRecall = Query(
    "ss20_capped_recall", {
      val dim = 64
      val caps = Seq(8, 32, 128)
      val exDot = (1 to dim).map(i => s"q.v[$i] * c.v[$i]").mkString(" + ")
      val pairDot = (1 to dim).map(i => s"va.v[$i] * vb.v[$i]").mkString(" + ")
      val capSelects = caps.map { c =>
        s"""SELECT CAST($c AS BIGINT) AS bucket_cap, nq.n AS n_queries,
           |  CAST(hit_$c.n AS BIGINT) AS sum_hits,
           |  CAST((hit_$c.n * 10000) // (3 * nq.n) AS BIGINT) AS recall_e4
           |FROM hit_$c, nq""".stripMargin
      }.mkString("\nUNION ALL\n")
      val hitCtes = caps.map { c =>
        s"""ann_$c AS (SELECT query_id, corpus_id FROM (
           |    SELECT query_id, corpus_id,
           |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
           |    FROM pairs WHERE min_rn <= $c) WHERE r <= 3),
           |hit_$c AS (SELECT COUNT(*) AS n FROM ex JOIN ann_$c USING (query_id, corpus_id))""".stripMargin
      }.mkString(",\n")
      // ONE candidate join at the largest cap carrying MIN(rn): a pair
      // is in cap c's candidate set iff some shared (table, bucket) has
      // the corpus member inside c's truncation window, i.e. min_rn <=
      // c — so the three per-cap chains of round 8 (each rescanning
      // tabled and re-materializing vector-bearing pairs) collapse to
      // one id-only join + one vector re-join, cutting the DuckDB peak
      // ~3x on top of the slimmed `tabled`.
      Some(
        s"""WITH ${lshTableCtes(bits = 8, tables = 2, dim = 64)},
           |$lshRankedCte,
           |cand AS (
           |  SELECT a.id AS query_id, b.id AS corpus_id, MIN(b.rn) AS min_rn
           |  FROM tabled a JOIN ranked b
           |    ON a.table_id = b.table_id AND a.bucket = b.bucket
           |   AND a.id <> b.id AND b.rn <= ${caps.max}
           |  WHERE a.id < 50
           |  GROUP BY 1, 2),
           |pairs AS MATERIALIZED (
           |  SELECT query_id, corpus_id, min_rn,
           |    ROUND(($pairDot) / (va.v_norm * vb.v_norm), 4) AS sim
           |  FROM cand JOIN base va ON va.id = query_id
           |  JOIN base vb ON vb.id = corpus_id),
           |ex AS MATERIALIZED (SELECT query_id, corpus_id FROM (
           |    SELECT q.id AS query_id, c.id AS corpus_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.id
           |        ORDER BY ROUND(($exDot) / (q.v_norm * c.v_norm), 4) DESC, c.id) AS r
           |    FROM base q, base c WHERE q.id < 50 AND c.id <> q.id)
           |  WHERE r <= 3),
           |nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n FROM ex),
           |$hitCtes
           |$capSelects
           |ORDER BY bucket_cap""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val caps = Seq(8, 32, 128)
      val exact = Similarity.cosineKnnKernel(
        t.embeddings, t.embeddings.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 3)
        .select(explode(typedLit(caps)).as("bucket_cap"), col("query_id"), col("corpus_id"),
          col("rank"))
      val ann = Similarity.lshKnnCappedSweep(t.embeddings, "vec_id", "embedding",
        k = 3, bits = 8, tables = 2, caps = caps, queryPred = col("id") < 50)
        .select(col("bucket_cap"), col("query_id"), col("corpus_id"), lit(1).as("hit"))
      // the sweep's answers are ≤ |slice| × |caps| × k rows: broadcast
      // them, so the exact side joins where it stands
      val recall = exact.join(broadcast(ann), Seq("bucket_cap", "query_id", "corpus_id"), "left")
        .groupBy("bucket_cap")
        // every query with an answer has exactly one rank-1 row, so
        // counting those counts the distinct queries without a distinct
        // aggregate (and its second exchange)
        .agg(count(when(col("rank") === 1, 1)).as("n_queries"), count("hit").as("sum_hits"))
        .select(col("bucket_cap").cast("long").as("bucket_cap"), col("n_queries"),
          col("sum_hits"), expr("sum_hits * 10000 div (3 * n_queries)").as("recall_e4"))
      Query.checkpointSort(recall, "bucket_cap")
    }
  )

  // ── kNN-graph construction (shared by ss13–ss15 and ss21–ss23) ──
  /** Exact-kNN oracle prelude (the ss13–ss15 recall baselines): O(N²)
    * brute-force cosine on the deterministic %4 slice, ending in
    * `knn(qa, qb)`. The slice keeps the DuckDB replay inside an N²-row
    * window it can sort; the engine-side KERNEL is corpus-agnostic.
    */
  private def exactKnnCtes(k: Int): String =
    s"""base AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id % 4 = 0),
       |p AS (
       |  SELECT a.id AS qa, b.id AS qb,
       |    ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
       |  FROM base a, base b WHERE a.id <> b.id),
       |r AS (SELECT qa, qb,
       |        ROW_NUMBER() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
       |      FROM p),
       |knn AS (SELECT qa, qb FROM r WHERE rk <= $k)""".stripMargin

  /** Capped-LSH oracle prelude (ss21–ss23): ss18's bounded candidate
    * generation ([[CappedGraphBits]]/[[CappedGraphTables]]/
    * [[CappedGraphCap]]) rescored and cut to top-`k`
    * per query, ending in the same `knn(qa, qb)` frame the exact
    * prelude does — the graph SQL after this point is IDENTICAL to the
    * exact baselines'. Unlike those (quadratic kernel, %4 slice), this
    * prelude is linear in N and runs over the FULL corpus.
    */
  private def cappedKnnCtes(k: Int): String = {
    val pairDot = (1 to 64).map(i => s"va.v[$i] * vb.v[$i]").mkString(" + ")
    s"""${lshTableCtes(bits = CappedGraphBits, tables = CappedGraphTables, dim = 64)},
       |$lshRankedCte,
       |p AS (
       |  SELECT DISTINCT a.id AS qa, b.id AS qb,
       |    ROUND(($pairDot) / (va.v_norm * vb.v_norm), 4) AS sim
       |  FROM tabled a JOIN ranked b
       |    ON a.table_id = b.table_id AND a.bucket = b.bucket
       |   AND a.id <> b.id AND b.rn <= $CappedGraphCap
       |  JOIN base va ON va.id = a.id
       |  JOIN base vb ON vb.id = b.id),
       |knn AS (SELECT qa, qb FROM (
       |    SELECT qa, qb,
       |      ROW_NUMBER() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
       |    FROM p) WHERE rk <= $k)""".stripMargin
  }

  /** Graph-algorithm oracle bodies over a `knn(qa, qb)` CTE — shared
    * verbatim between the exact and capped graph rows, so a capped row
    * differs from its baseline ONLY in how the edge list was built.
    */
  private val triangleSqlAfterKnn =
    """und AS MATERIALIZED (SELECT DISTINCT LEAST(qa, qb) AS a, GREATEST(qa, qb) AS b FROM knn),
      |deg AS (SELECT id, COUNT(*) AS d FROM (
      |          SELECT a AS id FROM und UNION ALL SELECT b FROM und)
      |        GROUP BY id),
      |o AS MATERIALIZED (SELECT
      |        CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS src,
      |        CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS dst
      |      FROM und JOIN deg da ON a = da.id JOIN deg db ON b = db.id),
      |tri AS (SELECT o1.src AS t1, o1.dst AS t2, o2.dst AS t3
      |        FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
      |        JOIN und e ON e.a = LEAST(o1.dst, o2.dst)
      |                  AND e.b = GREATEST(o1.dst, o2.dst)),
      |tn AS (SELECT id, COUNT(*) AS n_tri FROM (
      |         SELECT t1 AS id FROM tri UNION ALL SELECT t2 FROM tri
      |         UNION ALL SELECT t3 FROM tri)
      |       GROUP BY id)
      |SELECT d.id AS vec_id, CAST(d.d AS BIGINT) AS degree,
      |  CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_tri,
      |  CASE WHEN d.d >= 2
      |    THEN CAST(2 * COALESCE(tn.n_tri, 0) AS DOUBLE) / (d.d * (d.d - 1))
      |    ELSE 0.0 END AS clustering
      |FROM deg d LEFT JOIN tn ON d.id = tn.id
      |ORDER BY vec_id""".stripMargin

  private val linkPredSqlAfterKnn =
    """und AS MATERIALIZED (SELECT DISTINCT LEAST(qa, qb) AS a, GREATEST(qa, qb) AS b FROM knn),
      |adj AS MATERIALIZED (SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
      |deg AS (SELECT x AS id, COUNT(*) AS d FROM adj GROUP BY x),
      |wedge AS (
      |  SELECT a1.y AS u, a2.y AS v, COUNT(*) AS cn
      |  FROM adj a1 JOIN adj a2 ON a1.x = a2.x AND a1.y < a2.y
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT w.u, w.v, w.cn FROM wedge w
      |  LEFT JOIN und e ON e.a = w.u AND e.b = w.v
      |  WHERE e.a IS NULL AND w.cn >= 2)
      |SELECT c.u AS node_a, c.v AS node_b, CAST(c.cn AS BIGINT) AS common_neighbors,
      |  CAST(c.cn AS DOUBLE) / (du.d + dv.d - c.cn) AS jaccard
      |FROM cand c JOIN deg du ON c.u = du.id JOIN deg dv ON c.v = dv.id
      |ORDER BY node_a, node_b""".stripMargin

  private val labelPropSqlAfterKnn =
    """und AS MATERIALIZED (SELECT DISTINCT LEAST(qa, qb) AS a, GREATEST(qa, qb) AS b FROM knn),
      |adj AS MATERIALIZED (SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
      |l0 AS (SELECT DISTINCT x AS node, x AS label FROM adj),
      |c1 AS (SELECT adj.x, l0.label, COUNT(*) AS cnt
      |       FROM adj JOIN l0 ON adj.y = l0.node GROUP BY 1, 2),
      |s1 AS (SELECT x, label,
      |         ROW_NUMBER() OVER (PARTITION BY x ORDER BY cnt DESC, label) AS rn
      |       FROM c1),
      |l1 AS (SELECT x AS node, label FROM s1 WHERE rn = 1),
      |c2 AS (SELECT adj.x, l1.label, COUNT(*) AS cnt
      |       FROM adj JOIN l1 ON adj.y = l1.node GROUP BY 1, 2),
      |s2 AS (SELECT x, label,
      |         ROW_NUMBER() OVER (PARTITION BY x ORDER BY cnt DESC, label) AS rn
      |       FROM c2),
      |l2 AS (SELECT x AS node, label FROM s2 WHERE rn = 1),
      |sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
      |       FROM l2 GROUP BY label)
      |SELECT l2.node AS vec_id, l2.label AS community, sz.community_size
      |FROM l2 JOIN sz USING (label) ORDER BY vec_id""".stripMargin

  /** Symmetrize a (query_id, corpus_id) kNN frame into the undirected
    * edge list the graph operators consume.
    */
  private[graft] def undFromKnn(knn: DataFrame): DataFrame =
    knn.select(least(col("query_id"), col("corpus_id")).as("a"),
      greatest(col("query_id"), col("corpus_id")).as("b"))
      .distinct()

  /** Triangle counts + clustering coefficients over an undirected edge
    * list — ss13's degree-ordered-orientation shape (out-degree
    * O(√m)-bounded, each triangle found once at its minimum-order
    * apex), shared between the exact and capped graph rows.
    */
  private[graft] def triangleStats(und0: DataFrame): DataFrame = {
    val und = und0.localCheckpoint() // consumed by deg, orientation, and the closing join
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
    val fwd = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val o = withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("src"),
      when(fwd, col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint() // wedge self-join reads it twice
    val tri = o.alias("o1")
      .join(o.alias("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("t1"), col("o1.dst").as("t2"), col("o2.dst").as("t3"))
      .join(und,
        col("a") === least(col("t2"), col("t3")) &&
          col("b") === greatest(col("t2"), col("t3")))
      .select("t1", "t2", "t3")
    val tn = tri.select(col("t1").as("id"))
      .union(tri.select(col("t2").as("id")))
      .union(tri.select(col("t3").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(tn, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("d").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("d") >= 2,
          (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
            (col("d") * (col("d") - 1)))
          .otherwise(0.0).as("clustering"))
      .orderBy("vec_id")
  }

  /** Common-neighbour / Jaccard link prediction over an undirected
    * edge list — ss14's center-wedge shape (Σ deg² pairs, never |V|²),
    * shared between the exact and capped graph rows.
    */
  private[graft] def linkPredStats(und0: DataFrame): DataFrame = {
    val und = und0.localCheckpoint() // consumed by adjacency (twice), anti-join
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
    val deg = adj.groupBy(col("x").as("id")).agg(count(lit(1)).as("d"))
    val wedge = adj.alias("a1")
      .join(adj.alias("a2"),
        col("a1.x") === col("a2.x") && col("a1.y") < col("a2.y"))
      .groupBy(col("a1.y").as("u"), col("a2.y").as("v"))
      .agg(count(lit(1)).as("cn"))
    val cand = wedge
      .join(und, col("a") === col("u") && col("b") === col("v"), "left_anti")
      .filter(col("cn") >= 2)
    cand
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u").as("node_a"), col("v").as("node_b"),
        col("cn").as("common_neighbors"),
        (col("cn").cast("double") / (col("du") + col("dv") - col("cn")))
          .as("jaccard"))
      .orderBy("node_a", "node_b")
  }

  /** Two rounds of deterministic synchronous label propagation over an
    * undirected edge list — ss15's shape (most-frequent neighbour
    * label, ties to the smallest), shared between the exact and capped
    * graph rows.
    */
  private[graft] def labelPropStats(und: DataFrame): DataFrame = {
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint() // round-1 aggregate + round-2 join both read it
    // Round 1 collapses algebraically (r14): the seed labels are the
    // node ids themselves, und is DISTINCT and self-loop-free, so every
    // (x, label=y) group in round 1 has count exactly 1 and the
    // most-frequent-then-smallest winner is simply MIN(neighbor id) —
    // one aggregate instead of the r13 join + count + rank window.
    val l1 = adj.groupBy(col("x").as("node")).agg(min(col("y")).as("label"))
    // Round 2: most-frequent neighbour label, ties to the smallest.
    // argmax via MAX(struct(cnt, -label)) — two hash aggregates with
    // map-side partials instead of the r13 sort + single-key rank
    // window (guide §2.3/§2.4: aggregate before you shuffle; no
    // row_number sort). Labels are non-negative ids, so -label is
    // overflow-safe and max(-label) picks the smallest label.
    val l2 = adj
      .join(l1.select(col("node").as("y"), col("label")), Seq("y"))
      .groupBy("x", "label").agg(count(lit(1)).as("cnt"))
      .groupBy(col("x").as("node"))
      .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("best"))
      .select(col("node"), (-col("best.nl")).as("label"))
    val sz = l2.groupBy("label").agg(count(lit(1)).as("community_size"))
    l2.join(sz, Seq("label"))
      .select(col("node").as("vec_id"), col("label").as("community"),
        col("community_size"))
      .orderBy("vec_id")
  }

  /** Capped-kNN-graph LSH config, shared by ss21–ss23 (engine + the
    * [[cappedKnnCtes]] oracle prelude) and `tools.GraphDelta` — one
    * constant so the engine, the oracle, and the quality-delta tool
    * can never drift apart. Chosen by `tools.GraphSweep` (r10) on the
    * BYTE-DISTINCT %4 slice — exact duplicates collapsed, the corpus's
    * perturbed near-replicas (cosine ≈ 0.99998, the real neighbor
    * structure) kept: bits=12/tables=2/cap=8 reads edge Jaccard 0.796
    * vs exact kNN at the SAME candidate cost (tables × cap = 16/query)
    * where the old bits=8 config read 0.378. The sweep also shows the
    * SKETCH-COLLAPSED residue (every near-replica class reduced to one
    * representative) is isotropic noise — mean pairwise cosine 0.0016,
    * p99 0.295 — where no bounded-candidate method recovers the "kNN
    * graph" (LSH ≤ 0.09 over bits ∈ {8,12,16} × tables ∈ {2,4,8};
    * NN-Descent accretes ~+0.02/round like random sampling), so the
    * quality floor there is a property of the synthetic data, not a
    * tuning gap.
    */
  private[graft] val CappedGraphBits = 12
  private[graft] val CappedGraphTables = 2
  private[graft] val CappedGraphCap = 8

  private def cappedKnnGraph(t: Tables): DataFrame =
    undFromKnn(Similarity.lshKnn(t.embeddings, "vec_id", "embedding",
      k = 5, bits = CappedGraphBits, tables = CappedGraphTables,
      bucketCap = CappedGraphCap))

  /** ss13's triangle/clustering analytics with the edge list built
    * from the CAPPED-LSH kNN (ss18's kernel) instead of the exact
    * quadratic kernel: candidates per query are bounded at
    * tables × cap, so graph construction is linear in corpus size and
    * the row runs over the FULL corpus where the exact baseline needs
    * the %4 slice. The exact row stays as the recall baseline; the
    * graph-metric deltas between the two frames are recorded in NOTES
    * (regenerate via tools.GraphDelta).
    */
  val ss21CappedTriangles = Query(
    "ss21_capped_triangles",
    Some(s"WITH ${cappedKnnCtes(k = 5)},\n$triangleSqlAfterKnn"),
    (spark, dir) => triangleStats(cappedKnnGraph(Tables(spark, dir)))
  )

  /** ss14's common-neighbour link prediction over the capped-LSH kNN
    * graph — full corpus, bounded candidate generation (see
    * [[ss21CappedTriangles]]).
    */
  val ss22CappedLinkpred = Query(
    "ss22_capped_linkpred",
    Some(s"WITH ${cappedKnnCtes(k = 5)},\n$linkPredSqlAfterKnn"),
    (spark, dir) => linkPredStats(cappedKnnGraph(Tables(spark, dir)))
  )

  /** ss15's label-propagation communities over the capped-LSH kNN
    * graph — full corpus, bounded candidate generation (see
    * [[ss21CappedTriangles]]).
    */
  val ss23CappedLabelprop = Query(
    "ss23_capped_labelprop",
    Some(s"WITH ${cappedKnnCtes(k = 5)},\n$labelPropSqlAfterKnn"),
    (spark, dir) => labelPropStats(cappedKnnGraph(Tables(spark, dir)))
  )

  /** One unrolled NN-Descent round as oracle CTEs: symmetrize the
    * previous round's kNN edges, cap the adjacency at 2k smallest
    * neighbor ids (bounds hub fan-out — the same cap the engine
    * applies), rescore the 2-hop-∪-adjacent candidates with the
    * rounded cosine, keep top-k per query. Ends in `knn$i`.
    */
  private def descentRoundCtes(prev: String, i: Int, k: Int): String = {
    val pairDot = (1 to 64).map(j => s"va.v[$j] * vb.v[$j]").mkString(" + ")
    s"""u$i AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(qa, qb) AS a, GREATEST(qa, qb) AS b FROM $prev),
       |ra$i AS (SELECT a AS x, b AS y FROM u$i UNION ALL SELECT b, a FROM u$i),
       |adj$i AS MATERIALIZED (SELECT x, y FROM (
       |    SELECT x, y, ROW_NUMBER() OVER (PARTITION BY x ORDER BY y) AS rn FROM ra$i)
       |  WHERE rn <= ${2 * k}),
       |cand$i AS (
       |  SELECT e1.x AS qa, e2.y AS qb
       |  FROM adj$i e1 JOIN adj$i e2 ON e1.y = e2.x WHERE e1.x <> e2.y
       |  UNION
       |  SELECT x, y FROM adj$i),
       |sc$i AS MATERIALIZED (
       |  SELECT qa, qb, ROUND(($pairDot) / (va.v_norm * vb.v_norm), 4) AS sim
       |  FROM cand$i JOIN base va ON va.id = qa JOIN base vb ON vb.id = qb),
       |knn$i AS (SELECT qa, qb, sim, rk FROM (
       |    SELECT qa, qb, sim,
       |      ROW_NUMBER() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
       |    FROM sc$i) WHERE rk <= $k)""".stripMargin
  }

  /** NN-Descent kNN graph ([[graft.operators.Similarity.nnDescentKnn]],
    * Dong et al. 2011) from the ss21–ss23 capped-LSH init: two rounds
    * of "a neighbor of my neighbor is probably my neighbor", each a
    * bounded 2-hop rescore (≤ (2k)² candidates per node). This is the
    * quality path GraphSweep measured: the capped-LSH graph alone
    * reads edge Jaccard 0.80 on the byte-distinct slice; two descent
    * rounds lift it to 0.998 — at O(N·k²) per round where reaching
    * that recall by LSH tables alone is brute-force-priced. The oracle
    * unrolls both rounds over the full corpus, candidate generation
    * and tie-breaks replayed exactly.
    */
  val ss24NnDescent = Query(
    "ss24_nn_descent",
    Some(s"""WITH ${cappedKnnCtes(k = 5)},
            |${descentRoundCtes("knn", 1, 5)},
            |${descentRoundCtes("knn1", 2, 5)}
            |SELECT qa AS query_id, qb AS corpus_id, sim, CAST(rk AS INT) AS rank
            |FROM knn2 ORDER BY query_id, rank""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Similarity.nnDescentKnn(t.embeddings, "vec_id", "embedding", k = 5,
          init = Similarity.lshKnn(t.embeddings, "vec_id", "embedding",
            k = 5, bits = CappedGraphBits, tables = CappedGraphTables,
            bucketCap = CappedGraphCap).select("query_id", "corpus_id"),
          rounds = 2),
        "query_id", "rank")
    }
  )

  /** DuckDB fragments shared by the SQ8-family oracles (ss25/ss26):
    * replay [[graft.operators.Similarity.sq8Train]]'s per-dimension
    * (min, step) params — exact, no summation — then the byte codes
    * (ROUND/clamp), the reconstructed norms, and the query-side
    * asymmetric-distance decomposition ⟨qv, dequant⟩ = qmin +
    * Σ (qv·step)·code. Assumes `b0(id, v)` is already defined; ends in
    * `dqv(id, codes, dqn)` and `q(qid, qv, qn, qmin)`.
    */
  private def sq8CtesSql(dim: Int): String = {
    val fold = ivfFoldSql(dim) _
    val dqTerm = "(par.mnv[CAST(i AS INT)] + codes[CAST(i AS INT)] * par.stepv[CAST(i AS INT)])"
    s"""mm AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx
       |      FROM (SELECT UNNEST(v) AS x, UNNEST(range(1, ${dim + 1})) AS i FROM b0)
       |      GROUP BY i),
       |par AS MATERIALIZED (SELECT list(mn ORDER BY i) AS mnv,
       |               list(CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0.0 END ORDER BY i) AS stepv
       |        FROM mm),
       |cd AS (SELECT id, list_transform(range(1, ${dim + 1}),
       |         i -> CASE WHEN par.stepv[CAST(i AS INT)] > 0
       |           THEN LEAST(255.0, GREATEST(0.0,
       |             ROUND((v[CAST(i AS INT)] - par.mnv[CAST(i AS INT)]) / par.stepv[CAST(i AS INT)])))
       |           ELSE 0.0 END) AS codes
       |       FROM b0, par),
       |dqv AS (SELECT id, codes,
       |          SQRT(${fold(s"$dqTerm * $dqTerm")}) AS dqn
       |        FROM cd, par),
       |q AS (SELECT b0.id AS qid, b0.v AS qv,
       |        SQRT(${fold("b0.v[CAST(i AS INT)] * b0.v[CAST(i AS INT)]")}) AS qn,
       |        ${fold("b0.v[CAST(i AS INT)] * par.mnv[CAST(i AS INT)]")} AS qmin
       |      FROM b0, par WHERE b0.id < 50)""".stripMargin
  }

  /** Shared compressed-domain ranking tail (ss25/ss26/ss27): candidate
    * shortlist (top `shortlist` by the approximate `score` ordered
    * `dir`, id tiebreak) then the exact rounded-cosine rerank to top
    * `k` — assumes `pairs(query_id, corpus_id, qv, qn, $score)`.
    */
  private def sq8RerankSql(dim: Int, shortlist: Int, k: Int,
      score: String = "adc", dir: String = "DESC"): String = {
    val fold = ivfFoldSql(dim) _
    s"""cand AS (SELECT query_id, corpus_id, qv, qn, $score FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                                 ORDER BY $score $dir, corpus_id) AS rn
       |    FROM pairs) WHERE rn <= $shortlist),
       |resc AS (
       |  SELECT c.query_id, c.corpus_id, c.$score,
       |    ROUND(${fold("c.qv[CAST(i AS INT)] * cb.v[CAST(i AS INT)]")} /
       |          (c.qn * SQRT(${fold("cb.v[CAST(i AS INT)] * cb.v[CAST(i AS INT)]")})), 4) AS sim
       |  FROM cand c JOIN b0 cb ON cb.id = c.corpus_id)
       |SELECT query_id, corpus_id, $score, sim, CAST(r AS INT) AS rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
       |  FROM resc) WHERE r <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** SQ8 flat scan + exact rerank (FAISS IndexScalarQuantizer QT_8bit
    * with a refine step) — the third quantization family next to PQ
    * (ss04/ss05) and IVF-PQ (ss07/ss08): per-DIMENSION affine byte
    * codes give an 8× smaller scan column with none of PQ's codebook
    * training, and the asymmetric-distance scan ranks candidates
    * without touching raw vectors; only the shortlist pays an id
    * equi-join back to exact vectors. The oracle replays params,
    * codes, both rankings bit for bit.
    */
  val ss25Sq8Rerank = Query(
    "ss25_sq8_rerank", {
      val (dim, shortlist, topK) = (64, 10, 3)
      val fold = ivfFoldSql(dim) _
      Some(
        s"""WITH b0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |${sq8CtesSql(dim)},
           |pairs AS (
           |  SELECT q.qid AS query_id, d.id AS corpus_id, q.qv, q.qn,
           |    ROUND((q.qmin + ${fold(
               "(q.qv[CAST(i AS INT)] * par.stepv[CAST(i AS INT)]) * d.codes[CAST(i AS INT)]")}) /
           |          (q.qn * d.dqn), 4) AS adc
           |  FROM q, dqv d, par WHERE d.id <> q.qid),
           |${sq8RerankSql(dim, shortlist, topK)}""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val (mn, step) = Similarity.sq8Train(t.embeddings, "embedding")
      Query.checkpointSort(
        Similarity
          .sq8Knn(t.embeddings, t.embeddings.filter(col("vec_id") < 50),
            "vec_id", "embedding", mn, step, shortlist = 10, k = 3),
        "query_id", "rank")
    }
  )

  /** IVF + SQ8 composed search (FAISS IndexIVFScalarQuantizer with a
    * refine step): the coarse probes bound the scan to nprobe/k of the
    * corpus, the within-cluster ranking runs on the 8×-compressed byte
    * codes, and the shortlist reranks exactly — the composition that
    * actually serves 100 TB (partition-pruned clusters × compressed
    * scan). The oracle replays the coarse Lloyd (ss03's CTEs), the SQ8
    * params/codes, the probe selection, and both rankings in one
    * query.
    */
  val ss26IvfSq8 = Query(
    "ss26_ivf_sq8", {
      val (dim, ck, citers, nprobe, shortlist, topK) = (64, 16, 3, 4, 10, 3)
      val dist = ivfDistSql(dim) _
      val fold = ivfFoldSql(dim) _
      val (idxCtes, last) = ivfIdxCtes(dim, ck, citers)
      Some(
        s"""WITH $idxCtes,
           |${sq8CtesSql(dim)},
           |probe AS (
           |  SELECT qid, qv, qn, qmin, c FROM (
           |    SELECT q.qid, q.qv, q.qn, q.qmin, $last.c, ROW_NUMBER() OVER (
           |      PARTITION BY q.qid ORDER BY ${dist("q.qv", s"$last.cv")}, $last.c) AS rn
           |    FROM q CROSS JOIN $last) WHERE rn <= $nprobe),
           |mem AS (SELECT d.id, d.codes, d.dqn, idx.c FROM dqv d JOIN idx ON idx.id = d.id),
           |pairs AS (
           |  SELECT probe.qid AS query_id, mem.id AS corpus_id, probe.qv, probe.qn,
           |    ROUND((probe.qmin + ${fold(
               "(probe.qv[CAST(i AS INT)] * par.stepv[CAST(i AS INT)]) * mem.codes[CAST(i AS INT)]")}) /
           |          (probe.qn * mem.dqn), 4) AS adc
           |  FROM probe JOIN mem ON probe.c = mem.c, par WHERE mem.id <> probe.qid),
           |${sq8RerankSql(dim, shortlist, topK)}""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val model = graft.operators.Ivf.train(t.embeddings, "vec_id", "embedding", k = 16, iters = 3)
      val indexed = graft.operators.Ivf.index(t.embeddings, "vec_id", "embedding", model)
      val (mn, step) = Similarity.sq8Train(t.embeddings, "embedding")
      Query.checkpointSort(
        graft.operators.Ivf
          .searchSq8(indexed, t.embeddings, t.embeddings.filter(col("vec_id") < 50),
            "vec_id", "embedding", model, mn, step, shortlist = 10, k = 3, nprobe = 4),
        "query_id", "rank")
    }
  )

  /** Binary quantization + exact rerank — the 1-bit member of the
    * compression ladder (SQ8 8×, PQ 16×, BQ 64×): sign codes around
    * the per-dimension decimal-exact corpus mean collapse a 64-dim
    * embedding to ONE BIGINT, candidates rank by Hamming distance
    * (xor + bit_count over an 8-byte column), and the shortlist
    * reranks with exact cosine. The oracle replays thresholds
    * (Lloyd-mean DECIMAL(28,14) contract), the bit fold (MSB-first
    * a·2+x over HUGEINT, reinterpreted signed), Hamming, and both
    * rankings.
    */
  val ss27BinaryQuant = Query(
    "ss27_binary_quant", {
      val (dim, shortlist, topK) = (64, 10, 3)
      val bitFold =
        s"""list_reduce(list_prepend(0::HUGEINT, list_transform(range($dim, 0, -1),
           |      i -> CASE WHEN v[CAST(i AS INT)] > tv.t[CAST(i AS INT)]
           |           THEN 1::HUGEINT ELSE 0::HUGEINT END)),
           |    (a, x) -> a * 2 + x)""".stripMargin
      val fold = ivfFoldSql(dim) _
      Some(
        s"""WITH b0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |mt AS (SELECT i, CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS t
           |       FROM (SELECT UNNEST(v) AS x, UNNEST(range(1, ${dim + 1})) AS i FROM b0)
           |       GROUP BY i),
           |tv AS MATERIALIZED (SELECT list(t ORDER BY i) AS t FROM mt),
           |cdb AS MATERIALIZED (SELECT id, v, ${toSignedSql(s"($bitFold)")} AS code FROM b0, tv),
           |q AS (SELECT id AS qid, v AS qv, code AS qcode,
           |        SQRT(${fold("v[CAST(i AS INT)] * v[CAST(i AS INT)]")}) AS qn
           |      FROM cdb WHERE id < 50),
           |pairs AS (
           |  SELECT q.qid AS query_id, c.id AS corpus_id, q.qv, q.qn,
           |    CAST(bit_count(xor(c.code, q.qcode)) AS INT) AS ham
           |  FROM q, cdb c WHERE c.id <> q.qid),
           |${sq8RerankSql(dim, shortlist, topK, score = "ham", dir = "ASC")}""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val thr = Similarity.bqTrain(t.embeddings, "vec_id", "embedding")
      Query.checkpointSort(
        Similarity
          .bqKnn(t.embeddings, t.embeddings.filter(col("vec_id") < 50),
            "vec_id", "embedding", thr, shortlist = 10, k = 3),
        "query_id", "rank")
    }
  )

  /** Capped multi-probe LSH ANN — ss16's probe fan-out over a
    * bucket-truncated corpus (ss18's bound applied to the multi-probe
    * family): candidates per query ≤ (bits+1) × cap, so the one
    * remaining uncapped ANN path also gets a linear form on
    * duplicate-heavy corpora. Oracle replays signature, probes,
    * hash-ordered truncation, and rescore exactly.
    */
  val ss19CappedMultiprobe = Query(
    "ss19_capped_multiprobe", {
      val (bits, dim, k, cap) = (8, 64, 3, 8)
      def signDot(v: String, signs: Seq[Double]): String =
        signs.zipWithIndex.map { case (s, i) =>
          s"$v[${i + 1}] * ${if (s > 0) "1.0" else "-1.0"}"
        }.mkString(" + ")
      val bucketExpr =
        Similarity.hyperplaneSigns(bits, 0, dim).zipWithIndex.map { case (signs, j) =>
          s"(CASE WHEN ${signDot("v", signs)} >= 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
      val normTerms = (1 to dim).map(i => s"v[$i] * v[$i]").mkString(" + ")
      val pairDot = (1 to dim).map(i => s"a.v[$i] * vb.v[$i]").mkString(" + ")
      val hid = toSignedSql(s"(${fmixSql(s"(${foldSql("CAST(id AS VARCHAR)")})")})")
      Some(
        s"""WITH b0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |base AS (SELECT id, v, SQRT($normTerms) AS v_norm FROM b0),
           |tabled AS MATERIALIZED (SELECT id, $bucketExpr AS bucket FROM base),
           |capped AS (
           |  SELECT id, bucket FROM (
           |    SELECT id, bucket,
           |      ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY $hid, id) AS rn
           |    FROM tabled) WHERE rn <= $cap),
           |probes AS (
           |  SELECT id, bucket FROM tabled
           |  UNION ALL
           |  SELECT id, xor(bucket, CAST(POWER(2, j) AS BIGINT))
           |  FROM tabled, UNNEST(range(0, $bits)) t(j)),
           |pairs AS (
           |  SELECT DISTINCT pa.id AS query_id, b.id AS corpus_id,
           |    ROUND(($pairDot) / (a.v_norm * vb.v_norm), 4) AS sim
           |  FROM probes pa JOIN capped b
           |    ON pa.bucket = b.bucket AND pa.id <> b.id
           |  JOIN base a ON a.id = pa.id
           |  JOIN base vb ON vb.id = b.id)
           |SELECT query_id, corpus_id, sim, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
           |  FROM pairs) WHERE r <= $k ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Similarity.lshKnn(t.embeddings, "vec_id", "embedding",
          k = 3, bits = 8, tables = 1, bucketCap = 8, multiProbe = true),
        "query_id", "rank")
    }
  )

  /** IVF ANN (k-means coarse quantizer + probe search) — the
    * beyond-LSH scale path. Training is deterministic (decimal-exact
    * centroid means, smallest-id init), so the oracle replays the
    * ENTIRE pipeline: three unrolled Lloyd iterations (left-assoc
    * distance folds, row_number argmin with index tiebreak,
    * DECIMAL(28,14) mean reduction), the index assignment, nprobe=4
    * probe selection, and the rounded-cosine top-k.
    */
  /** DuckDB fragments shared by the IVF-family oracles: an exact
    * replay of [[graft.operators.Ivf.train]]'s deterministic Lloyd
    * (init = k smallest ids; each cell mean is the DECIMAL(28,14) sum
    * the engine adds up as exact integers, over the count; empty
    * clusters keep their centroid) ending in `idx(id, v, c)` — every
    * vector with its final cluster — plus the fold-based dist/dot/norm
    * helpers. ss03 appends a probe search; ss06 appends a
    * within-cluster pair scan.
    */
  private def ivfFoldSql(dim: Int)(term: String) =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}),
       |      i -> $term)), (a, x) -> a + x)""".stripMargin
  private def ivfDistSql(dim: Int)(v: String, cv: String) =
    ivfFoldSql(dim)(
      s"($v[CAST(i AS INT)]-$cv[CAST(i AS INT)])*($v[CAST(i AS INT)]-$cv[CAST(i AS INT)])")
  private def ivfDotSql(dim: Int)(a: String, b: String) =
    ivfFoldSql(dim)(s"$a[CAST(i AS INT)]*$b[CAST(i AS INT)]")
  private def ivfIdxCtes(dim: Int, k: Int, iters: Int): (String, String) = {
    val dist = ivfDistSql(dim) _
    def assignAndUpdate(prev: String, n: Int) =
      s"""asg$n AS (
         |  SELECT id, v, c FROM (
         |    SELECT b0.id, b0.v, $prev.c, ROW_NUMBER() OVER (
         |      PARTITION BY b0.id ORDER BY ${dist("b0.v", s"$prev.cv")}, $prev.c) AS rn
         |    FROM b0 CROSS JOIN $prev) WHERE rn = 1),
         |cm$n AS (
         |  SELECT c, i, CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS m
         |  FROM (SELECT c, UNNEST(v) AS x, UNNEST(range(1, ${dim + 1})) AS i FROM asg$n)
         |  GROUP BY c, i),
         |c$n AS (
         |  SELECT c, list(m ORDER BY i) AS cv FROM cm$n GROUP BY c
         |  UNION ALL
         |  SELECT c, cv FROM $prev WHERE c NOT IN (SELECT DISTINCT c FROM asg$n))""".stripMargin
    val iterCtes = (1 to iters).map(n => assignAndUpdate(s"c${n - 1}", n)).mkString(",\n")
    val last = s"c$iters"
    val ctes =
      s"""b0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS c, v AS cv
         |       FROM (SELECT id, v FROM b0 ORDER BY id LIMIT $k)),
         |$iterCtes,
         |idx AS (
         |  SELECT id, v, c FROM (
         |    SELECT b0.id, b0.v, $last.c, ROW_NUMBER() OVER (
         |      PARTITION BY b0.id ORDER BY ${dist("b0.v", s"$last.cv")}, $last.c) AS rn
         |    FROM b0 CROSS JOIN $last) WHERE rn = 1)""".stripMargin
    (ctes, last)
  }

  /** Filtered vector search — ANN under a metadata predicate (the
    * vector-database "WHERE label = …" feature): the coarse model is
    * trained on the FULL corpus, the index is restricted to the
    * label's members, and each query's probe clusters are scanned
    * post-filter — so rare labels simply surface fewer than k hits
    * (the documented filtered-ANN caveat; raise nprobe to
    * compensate). Reuses ss03's deterministic Lloyd replay verbatim
    * plus one label equi-join in both engines.
    */
  val ss17FilteredAnn = Query(
    "ss17_filtered_ann", {
      val (dim, k, iters, nprobe, topK) = (64, 16, 3, 4, 3)
      val dist = ivfDistSql(dim) _
      def dot(a: String, b: String) = ivfDotSql(dim)(a, b)
      def norm(v: String) = s"SQRT(${dot(v, v)})"
      val (idxCtes, last) = ivfIdxCtes(dim, k, iters)
      Some(
        s"""WITH $idxCtes,
           |lab AS (SELECT vec_id AS id FROM embeddings WHERE label = 3),
           |q AS (SELECT id AS qid, v AS qv FROM b0 WHERE id < 50),
           |probe AS (
           |  SELECT qid, qv, c FROM (
           |    SELECT q.qid, q.qv, $last.c, ROW_NUMBER() OVER (
           |      PARTITION BY q.qid ORDER BY ${dist("q.qv", s"$last.cv")}, $last.c) AS rn
           |    FROM q CROSS JOIN $last) WHERE rn <= $nprobe),
           |pairs AS (
           |  SELECT probe.qid AS query_id, idx.id AS corpus_id,
           |    ROUND(${dot("probe.qv", "idx.v")} /
           |          (${norm("probe.qv")} * ${norm("idx.v")}), 4) AS sim
           |  FROM probe JOIN idx ON probe.c = idx.c AND idx.id <> probe.qid
           |  JOIN lab ON idx.id = lab.id)
           |SELECT query_id, corpus_id, sim, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
           |  FROM pairs) WHERE r <= $topK ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val model = graft.operators.Ivf.train(t.embeddings, "vec_id", "embedding", k = 16, iters = 3)
      val indexed = graft.operators.Ivf.index(
        t.embeddings.filter(col("label") === 3), "vec_id", "embedding", model)
      Query.checkpointSort(
        graft.operators.Ivf
          .search(indexed, t.embeddings.filter(col("vec_id") < 50), "vec_id", "embedding",
            model, k = 3, nprobe = 4),
        "query_id", "rank")
    }
  )

  val ss03IvfAnn = Query(
    "ss03_ivf_ann", {
      val (dim, k, iters, nprobe, topK) = (64, 16, 3, 4, 3)
      val dist = ivfDistSql(dim) _
      def dot(a: String, b: String) = ivfDotSql(dim)(a, b)
      def norm(v: String) = s"SQRT(${dot(v, v)})"
      val (idxCtes, last) = ivfIdxCtes(dim, k, iters)
      Some(
        s"""WITH $idxCtes,
           |q AS (SELECT id AS qid, v AS qv FROM b0 WHERE id < 50),
           |probe AS (
           |  SELECT qid, qv, c FROM (
           |    SELECT q.qid, q.qv, $last.c, ROW_NUMBER() OVER (
           |      PARTITION BY q.qid ORDER BY ${dist("q.qv", s"$last.cv")}, $last.c) AS rn
           |    FROM q CROSS JOIN $last) WHERE rn <= $nprobe),
           |pairs AS (
           |  SELECT probe.qid AS query_id, idx.id AS corpus_id,
           |    ROUND(${dot("probe.qv", "idx.v")} /
           |          (${norm("probe.qv")} * ${norm("idx.v")}), 4) AS sim
           |  FROM probe JOIN idx ON probe.c = idx.c AND idx.id <> probe.qid)
           |SELECT query_id, corpus_id, sim, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS r
           |  FROM pairs) WHERE r <= $topK ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val model = graft.operators.Ivf.train(t.embeddings, "vec_id", "embedding", k = 16, iters = 3)
      val indexed = graft.operators.Ivf.index(t.embeddings, "vec_id", "embedding", model)
      Query.checkpointSort(
        graft.operators.Ivf
          .search(indexed, t.embeddings.filter(col("vec_id") < 50), "vec_id", "embedding",
            model, k = 3, nprobe = 4),
        "query_id", "rank")
    }
  )

  /** Product quantization + ADC search (Jégou et al., TPAMI 2011):
    * 4 subspaces × 16 dims, k=16 codebooks (deterministic Lloyd per
    * subspace — the ss03 machinery on slices), corpus stored as 4
    * codes/vector, queries ranked by asymmetric distance (codebook
    * lookups only). The oracle replays all four Lloyd chains, the
    * code assignment, and the ADC ranking bit-for-bit.
    */
  /** Shared PQ oracle chain (m=4 subspaces × 16 dims, k=16, one Lloyd
    * iteration, queries = id < 5): WITH-body through
    * `pairs(query_id, corpus_id, adc_dist)`. ss04 ranks it directly;
    * ss05 shortlists then re-ranks with exact distances.
    */
  private def pqFoldSql(sub: Int)(term: String) =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}),
       |      i -> $term)), (a, x) -> a + x)""".stripMargin
  private def pqSubDistSql(sub: Int)(v: String, off: Int, cv: String) =
    pqFoldSql(sub)(s"($v[$off + CAST(i AS INT)] - $cv[CAST(i AS INT)])" +
      s" * ($v[$off + CAST(i AS INT)] - $cv[CAST(i AS INT)])")

  /** Per-subspace Lloyd + encode CTE chain over `base(id, v)`
    * (the raw `b0` for plain PQ, a residual frame for IVF-PQ); `p`
    * prefixes every CTE name so the chain composes with the IVF CTEs
    * inside one query (ss07/ss08). Produces `${p}cb\$s` (codebooks)
    * and `${p}code\$s` (per-id codes) for each subspace.
    */
  private def pqPerSubCtes(m: Int, sub: Int, k: Int, p: String, base: String = "b0"): String = {
    def slicedDist(sv: String, cv: String) =
      pqFoldSql(sub)(s"($sv[CAST(i AS INT)] - $cv[CAST(i AS INT)]) * " +
        s"($sv[CAST(i AS INT)] - $cv[CAST(i AS INT)])")
    // one Lloyd iteration per subspace (init = k smallest ids)
    (0 until m).map { s =>
      val off = s * sub
      s"""${p}sub$s AS (SELECT id, v[${off + 1}:${off + sub}] AS sv FROM $base),
         |${p}c0_$s AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS c, sv AS cv
         |          FROM (SELECT id, sv FROM ${p}sub$s ORDER BY id LIMIT $k)),
         |${p}asg$s AS (
         |  SELECT id, sv, c FROM (
         |    SELECT ${p}sub$s.id, ${p}sub$s.sv, ${p}c0_$s.c, ROW_NUMBER() OVER (
         |      PARTITION BY ${p}sub$s.id ORDER BY ${slicedDist(s"${p}sub$s.sv", s"${p}c0_$s.cv")}, ${p}c0_$s.c) AS rn
         |    FROM ${p}sub$s CROSS JOIN ${p}c0_$s) WHERE rn = 1),
         |${p}cm$s AS (
         |  SELECT c, i, CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS mu
         |  FROM (SELECT c, UNNEST(sv) AS x, UNNEST(range(1, ${sub + 1})) AS i FROM ${p}asg$s)
         |  GROUP BY c, i),
         |${p}cb$s AS (
         |  SELECT c, list(mu ORDER BY i) AS cv FROM ${p}cm$s GROUP BY c
         |  UNION ALL
         |  SELECT c, cv FROM ${p}c0_$s WHERE c NOT IN (SELECT DISTINCT c FROM ${p}asg$s)),
         |${p}code$s AS (
         |  SELECT id, c AS code FROM (
         |    SELECT ${p}sub$s.id, ${p}cb$s.c, ROW_NUMBER() OVER (
         |      PARTITION BY ${p}sub$s.id ORDER BY ${slicedDist(s"${p}sub$s.sv", s"${p}cb$s.cv")}, ${p}cb$s.c) AS rn
         |    FROM ${p}sub$s CROSS JOIN ${p}cb$s) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  }

  private def pqOracleWith: String = {
    val (m, sub, k) = (4, 16, 16)
    val perSub = pqPerSubCtes(m, sub, k, "")
    val codeJoins = (0 until m).map(s => s"JOIN code$s ON code$s.id = co.id").mkString(" ")
    val cbJoins = (0 until m).map(s => s"JOIN cb$s ON cb$s.c = code$s.code").mkString(" ")
    val adcSum =
      (0 until m).map(s => s"(${pqSubDistSql(sub)("q.v", s * sub, s"cb$s.cv")})").mkString(" + ")
    s"""b0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$perSub,
       |q AS (SELECT id, v FROM b0 WHERE id < 5),
       |co AS (SELECT id FROM b0),
       |pairs AS (
       |  SELECT q.id AS query_id, co.id AS corpus_id,
       |    ROUND($adcSum, 4) AS adc_dist
       |  FROM q JOIN co ON co.id <> q.id $codeJoins $cbJoins)""".stripMargin
  }

  val ss04PqAdc = Query(
    "ss04_pq_adc",
    Some(
      s"""WITH $pqOracleWith
         |SELECT query_id, corpus_id, adc_dist, CAST(r AS INT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, corpus_id) AS r
         |  FROM pairs) WHERE r <= 3 ORDER BY query_id, rank""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val model = graft.operators.Pq.train(
        t.embeddings, "vec_id", "embedding", m = 4, k = 16, iters = 1)
      val encoded = graft.operators.Pq.encode(t.embeddings, "vec_id", "embedding", model)
      Query.checkpointSort(
        graft.operators.Pq
          .adcSearch(encoded, t.embeddings.filter(col("vec_id") < 5), "vec_id", "embedding",
            model, k = 3),
        "query_id", "rank")
    }
  )

  /** PQ re-rank — the production composition: ADC shortlists 10
    * candidates in the compressed domain, exact euclidean distances
    * re-rank them to a top-3 (recall of the exact metric at a
    * fraction of its cost). The oracle replays shortlist AND the
    * exact-fold re-ranking.
    */
  val ss05PqRerank = Query(
    "ss05_pq_rerank", {
      def fold64(term: String) =
        s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
           |      i -> $term)), (a, x) -> a + x)""".stripMargin
      val exactD = fold64(
        "(qb.v[CAST(i AS INT)] - cb2.v[CAST(i AS INT)]) * " +
          "(qb.v[CAST(i AS INT)] - cb2.v[CAST(i AS INT)])")
      Some(
        s"""WITH $pqOracleWith,
           |short AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |                                 ORDER BY adc_dist, corpus_id) AS r
           |    FROM pairs) WHERE r <= 10),
           |resc AS (
           |  SELECT s.query_id, s.corpus_id, ROUND($exactD, 4) AS exact_d
           |  FROM short s JOIN b0 qb ON qb.id = s.query_id JOIN b0 cb2 ON cb2.id = s.corpus_id)
           |SELECT query_id, corpus_id, exact_d, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY exact_d, corpus_id) AS r
           |  FROM resc) WHERE r <= 3 ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val model = graft.operators.Pq.train(
        t.embeddings, "vec_id", "embedding", m = 4, k = 16, iters = 1)
      val encoded = graft.operators.Pq.encode(t.embeddings, "vec_id", "embedding", model)
      Query.checkpointSort(
        graft.operators.Pq
          .adcRerank(encoded, t.embeddings, t.embeddings.filter(col("vec_id") < 5),
            "vec_id", "embedding", model, shortlist = 10, k = 3),
        "query_id", "rank")
    }
  )

  /** IVF-PQ composed search (FAISS IndexIVFPQ, by_residual=false):
    * IVF probes bound the scan to nprobe/k of the corpus, PQ ADC
    * ranks inside the probed clusters in the compressed domain. The
    * oracle replays BOTH chains in one query — the coarse Lloyd + the
    * four subspace Lloyds (prefixed CTEs) — then the probe join and
    * the ADC ranking, bit-for-bit.
    */
  val ss07IvfPq = Query(
    "ss07_ivf_pq", {
      val (dim, ck, citers, nprobe, topK) = (64, 8, 1, 2, 3)
      val (m, sub, pk) = (4, 16, 16)
      val dist = ivfDistSql(dim) _
      val (idxCtes, last) = ivfIdxCtes(dim, ck, citers)
      val pqCtes = pqPerSubCtes(m, sub, pk, "p")
      val codeJoins = (0 until m).map(s => s"JOIN pcode$s ON pcode$s.id = idx.id").mkString(" ")
      val cbJoins = (0 until m).map(s => s"JOIN pcb$s ON pcb$s.c = pcode$s.code").mkString(" ")
      val adcSum = (0 until m)
        .map(s => s"(${pqSubDistSql(sub)("probe.qv", s * sub, s"pcb$s.cv")})").mkString(" + ")
      Some(
        s"""WITH $idxCtes,
           |$pqCtes,
           |q2 AS (SELECT id AS qid, v AS qv FROM b0 WHERE id < 30),
           |probe AS (
           |  SELECT qid, qv, c FROM (
           |    SELECT q2.qid, q2.qv, $last.c, ROW_NUMBER() OVER (
           |      PARTITION BY q2.qid ORDER BY ${dist("q2.qv", s"$last.cv")}, $last.c) AS rn
           |    FROM q2 CROSS JOIN $last) WHERE rn <= $nprobe),
           |pairs AS (
           |  SELECT probe.qid AS query_id, idx.id AS corpus_id,
           |    ROUND($adcSum, 4) AS adc_dist
           |  FROM probe JOIN idx ON probe.c = idx.c AND idx.id <> probe.qid
           |  $codeJoins $cbJoins)
           |SELECT query_id, corpus_id, adc_dist, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, corpus_id) AS r
           |  FROM pairs) WHERE r <= $topK ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val coarse = graft.operators.Ivf.train(t.embeddings, "vec_id", "embedding", k = 8, iters = 1)
      val indexed = graft.operators.Ivf.index(t.embeddings, "vec_id", "embedding", coarse)
      val pq = graft.operators.Pq.train(
        t.embeddings, "vec_id", "embedding", m = 4, k = 16, iters = 1)
      val encoded = graft.operators.Pq.encode(t.embeddings, "vec_id", "embedding", pq)
      Query.checkpointSort(
        graft.operators.IvfPq
          .search(indexed, encoded, t.embeddings.filter(col("vec_id") < 30),
            "vec_id", "embedding", coarse, pq, k = 3, nprobe = 2),
        "query_id", "rank")
    }
  )

  /** Residual IVF-PQ (`by_residual=true` — the FAISS default): PQ
    * trains on and encodes `v − centroid(assigned cluster)`, and each
    * probed cluster ranks against the QUERY's residual w.r.t. that
    * cluster's centroid (one ADC table per query×probe). Residuals
    * concentrate near 0, which is why one codebook set quantizes them
    * better than the raw space. The oracle adds one residual frame on
    * top of the ss07 machinery and stays bit-exact (IEEE subtraction
    * is exact; everything downstream replays as before).
    */
  val ss08IvfPqResidual = Query(
    "ss08_ivfpq_residual", {
      val (dim, ck, citers, nprobe, topK) = (64, 8, 1, 2, 3)
      val (m, sub, pk) = (4, 16, 16)
      val dist = ivfDistSql(dim) _
      val (idxCtes, last) = ivfIdxCtes(dim, ck, citers)
      val pqCtes = pqPerSubCtes(m, sub, pk, "p", base = "rb")
      val codeJoins = (0 until m).map(s => s"JOIN pcode$s ON pcode$s.id = idx.id").mkString(" ")
      val cbJoins = (0 until m).map(s => s"JOIN pcb$s ON pcb$s.c = pcode$s.code").mkString(" ")
      val adcSum = (0 until m)
        .map(s => s"(${pqSubDistSql(sub)("probeR.qr", s * sub, s"pcb$s.cv")})").mkString(" + ")
      Some(
        s"""WITH $idxCtes,
           |rb AS (
           |  SELECT idx.id, list_transform(range(1, ${dim + 1}),
           |    i -> idx.v[CAST(i AS INT)] - l.cv[CAST(i AS INT)]) AS v
           |  FROM idx JOIN $last l ON idx.c = l.c),
           |$pqCtes,
           |q2 AS (SELECT id AS qid, v AS qv FROM b0 WHERE id < 30),
           |probe AS (
           |  SELECT qid, qv, c FROM (
           |    SELECT q2.qid, q2.qv, $last.c, ROW_NUMBER() OVER (
           |      PARTITION BY q2.qid ORDER BY ${dist("q2.qv", s"$last.cv")}, $last.c) AS rn
           |    FROM q2 CROSS JOIN $last) WHERE rn <= $nprobe),
           |probeR AS (
           |  SELECT probe.qid, probe.c, list_transform(range(1, ${dim + 1}),
           |    i -> probe.qv[CAST(i AS INT)] - l.cv[CAST(i AS INT)]) AS qr
           |  FROM probe JOIN $last l ON probe.c = l.c),
           |pairs AS (
           |  SELECT probeR.qid AS query_id, idx.id AS corpus_id,
           |    ROUND($adcSum, 4) AS adc_dist
           |  FROM probeR JOIN idx ON probeR.c = idx.c AND idx.id <> probeR.qid
           |  $codeJoins $cbJoins)
           |SELECT query_id, corpus_id, adc_dist, CAST(r AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, corpus_id) AS r
           |  FROM pairs) WHERE r <= $topK ORDER BY query_id, rank""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val coarse = graft.operators.Ivf.train(t.embeddings, "vec_id", "embedding", k = 8, iters = 1)
      val indexed = graft.operators.Ivf.index(t.embeddings, "vec_id", "embedding", coarse)
      val res = graft.operators.IvfPq.residuals(indexed, "vec_id", "embedding", coarse)
      val pq = graft.operators.Pq.train(res, "vec_id", "embedding", m = 4, k = 16, iters = 1)
      val encoded = graft.operators.Pq.encode(res, "vec_id", "embedding", pq)
      Query.checkpointSort(
        graft.operators.IvfPq
          .search(indexed, encoded, t.embeddings.filter(col("vec_id") < 30),
            "vec_id", "embedding", coarse, pq, k = 3, nprobe = 2, byResidual = true),
        "query_id", "rank")
    }
  )

  // ── multimodal plumbing ──────────────────────────────────────────
  val mm01BinaryMeta = Query(
    "mm01_binary_meta",
    Some("""SELECT doc_id, CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
            |  CAST(CEIL(OCTET_LENGTH(ENCODE(text)) / 256.0) AS BIGINT) AS n_frames
            |FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.documents
        .select(
          col("doc_id"),
          length(col("text").cast("binary")).cast("long").as("n_bytes"),
          ceil(length(col("text").cast("binary")) / 256.0).cast("long").as("n_frames")
        )
        .orderBy("doc_id")
    }
  )

  /** Partition-wise media decode (stub codec). The stub derives every
    * feature from the payload's rolling-hash fold, so the oracle
    * replays it in HUGEINT arithmetic: logical shifts become integer
    * division (the fold value is kept unsigned), floorMod becomes
    * plain modulus on the nonnegative form.
    */
  val mm02MediaFeatures = Query(
    "mm02_media_features",
    Some(
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CASE WHEN strlen(text) = 0 THEN 1469598103934665603::HUGEINT
         |         ELSE ${foldSql("text")} END AS u,
         |    strlen(text) AS nb
         |  FROM documents)
         |SELECT doc_id AS media_id,
         |  CASE WHEN nb % 3 = 0 THEN 'image/png'
         |       WHEN nb % 3 = 1 THEN 'audio/wav'
         |       ELSE 'video/mp4' END AS mime,
         |  CAST(nb AS BIGINT) AS n_bytes,
         |  CAST(16 + u % 1024 AS INT) AS width,
         |  CAST(16 + (u // 1024) % 1024 AS INT) AS height,
         |  CAST(1 + (u // 1048576) % 64 AS INT) AS n_frames,
         |  ${toSignedSql("u")} AS checksum
         |FROM h ORDER BY media_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val media = Multimodal.asMediaBatch(t.documents, "doc_id", "text")
      Multimodal
        .decodeFeatures(media, new Multimodal.StubDecoder)
        .toDF()
        .orderBy("media_id")
    }
  )

  /** Perceptual-hash near-dup over media payloads
    * ([[Multimodal.phashPairs]]): the multimodal counterpart of the
    * SimHash text pairs — 63-bit aHash from 63 sampled payload bytes
    * (integer above-mean test), 4×16-bit banded candidate join, exact
    * hamming verify. ASCII payloads make every sampled byte
    * `ord(substr(...))` in the oracle, which replays hash, bands, and
    * verification bit-for-bit.
    */
  val mm03PhashPairs = Query(
    "mm03_phash_pairs",
    Some("""WITH px AS (
            |  SELECT doc_id,
            |    list_transform(range(0, 63), j ->
            |      ord(substr(text, CAST(1 + (j * strlen(text)) // 63 AS INT), 1))) AS p
            |  FROM documents WHERE strlen(text) > 0),
            |ph AS (
            |  SELECT doc_id,
            |    CAST(list_sum(list_transform(range(0, 63), j ->
            |      CASE WHEN p[CAST(j AS INT) + 1] * 63 > list_sum(p)
            |           THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END)) AS BIGINT) AS h
            |  FROM px),
            |banded AS (
            |  SELECT doc_id, CAST(b AS INT) AS band_idx,
            |    (h >> CAST(16 * b AS INT)) & 65535 AS band_key
            |  FROM ph, UNNEST(range(0, 4)) t(b)),
            |cand AS (
            |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            |  FROM banded a JOIN banded b
            |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            |   AND a.doc_id < b.doc_id)
            |SELECT id_a, id_b, CAST(bit_count(xor(pa.h, pb.h)) AS INT) AS hamming
            |FROM cand JOIN ph pa ON id_a = pa.doc_id JOIN ph pb ON id_b = pb.doc_id
            |WHERE bit_count(xor(pa.h, pb.h)) <= 12
            |ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Multimodal.phashPairs(t.documents, "doc_id", "text", maxHamming = 12),
        "id_a", "id_b")
    }
  )

  /** REAL image decode, oracle-gated (the r11 VERDICT's mm06): the
    * engine synthesizes per-doc payloads with the REAL JDK encoders
    * ([[Multimodal.MediaFixtures.imageBytes]] — even ids PNG, odd ids
    * BMP, pixels an arithmetic function of doc_id), then runs the REAL
    * `javax.imageio` decode ([[Multimodal.decodeImageFacts]]: magic
    * sniff, dimension extraction, ARGB pixel-fold checksum, 9×7
    * luma-grid aHash). PNG and BMP are lossless for opaque 24-bit RGB,
    * so the decoded raster equals the synthesized one and DuckDB
    * recomputes every decoded fact from the same arithmetic — no codec
    * needed on the oracle side, yet a wrong IDCT-path, channel order,
    * row order, or luma weight on the engine side breaks the hash
    * compare. Encoded byte length is intentionally not an output
    * column (it is an encoder property, not a decode fact).
    */
  val mm06RealImageDecode = Query(
    "mm06_real_image_decode",
    Some(
      s"""WITH d AS (
         |  SELECT doc_id, CAST(9 + doc_id % 8 AS INT) AS w, CAST(7 + doc_id % 5 AS INT) AS h
         |  FROM documents),
         |px AS (
         |  SELECT doc_id, w, h,
         |    list_transform(range(0, CAST(w AS BIGINT) * h), i ->
         |      CAST(4278190080 +
         |        ((doc_id * 7  + 13 * (i % w) + 31 * (i // w)) % 256) * 65536 +
         |        ((doc_id * 11 + 17 * (i % w) + 5  * (i // w)) % 256) * 256 +
         |        ((doc_id * 3  + 29 * (i % w) + 23 * (i // w)) % 256) AS HUGEINT)) AS argb
         |  FROM d),
         |lum AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 63), j ->
         |      (299 * ((doc_id * 7  + 13 * (((j % 9) * (w - 1)) // 8) + 31 * (((j // 9) * (h - 1)) // 6)) % 256) +
         |       587 * ((doc_id * 11 + 17 * (((j % 9) * (w - 1)) // 8) + 5  * (((j // 9) * (h - 1)) // 6)) % 256) +
         |       114 * ((doc_id * 3  + 29 * (((j % 9) * (w - 1)) // 8) + 23 * (((j // 9) * (h - 1)) // 6)) % 256)) // 1000) AS l
         |  FROM d)
         |SELECT px.doc_id AS media_id,
         |  CASE WHEN px.doc_id % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS mime,
         |  w AS width, h AS height, 1 AS n_frames,
         |  ${toSignedSql(
        """list_reduce(list_prepend(1469598103934665603::HUGEINT, argb),
          |    (acc, c) -> (acc * 1000003 + c) % 18446744073709551616::HUGEINT)""".stripMargin)} AS pixel_checksum,
         |  CAST(list_sum(list_transform(range(0, 63), j ->
         |    CASE WHEN l[CAST(j AS INT) + 1] * 63 > list_sum(l)
         |         THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END)) AS BIGINT) AS ahash
         |FROM px JOIN lum ON px.doc_id = lum.doc_id
         |ORDER BY media_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      import spark.implicits._
      val media = t.documents
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.MediaFixtures.imageBytes(id))))
        .toDF("media_id", "payload")
      Multimodal.decodeImageFacts(media).toDF().orderBy("media_id")
    }
  )

  /** REAL audio decode, oracle-gated (the r11 VERDICT's mm07 — the
    * JDK DOES ship WAV/PCM parsing in `javax.sound.sampled`): payloads
    * are real RIFF/WAVE containers written by the JDK encoder over
    * arithmetic mono PCM16 ([[Multimodal.MediaFixtures.wavBytes]]:
    * rate ∈ {8000, 16000, 44100} by id, 120–376 frames, samples a
    * linear-congruential function of (id, i)), decoded by the REAL
    * parser ([[Multimodal.WavDecoder]]: header fields, sample-fold
    * checksum over the decoded little-endian PCM, 63-point
    * absolute-amplitude energy hash under the shared above-mean rule).
    * WAV is lossless, so the oracle recomputes all of it from the
    * arithmetic; a wrong endianness, header parse, or channel stride
    * on the engine side breaks the compare.
    */
  val mm07RealAudioDecode = Query(
    "mm07_real_audio_decode",
    Some(
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate,
         |    CAST(120 + doc_id % 257 AS BIGINT) AS n
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, rate, n,
         |    list_transform(range(0, n), i ->
         |      (doc_id * 31 + 7919 * i + 12345) % 65536) AS u
         |  FROM d)
         |SELECT doc_id AS media_id, 'audio/wav' AS mime,
         |  CAST(rate AS INT) AS sample_rate, 1 AS channels, 16 AS bits,
         |  n AS n_samples, n * 1000 // rate AS duration_ms,
         |  ${toSignedSql(
        """list_reduce(list_prepend(1469598103934665603::HUGEINT,
          |      list_transform(u, v -> CAST((v + 32768) % 65536 AS HUGEINT))),
          |    (acc, c) -> (acc * 1000003 + c) % 18446744073709551616::HUGEINT)""".stripMargin)} AS pcm_checksum,
         |  CAST(list_sum(list_transform(range(0, 63), j ->
         |    CASE WHEN abs(u[CAST((j * (n - 1)) // 62 AS INT) + 1] - 32768) * 63 >
         |              list_sum(list_transform(range(0, 63), k ->
         |                abs(u[CAST((k * (n - 1)) // 62 AS INT) + 1] - 32768)))
         |         THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END)) AS BIGINT) AS energy_hash
         |FROM s ORDER BY media_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      import spark.implicits._
      val media = t.documents
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.MediaFixtures.wavBytes(id))))
        .toDF("media_id", "payload")
      Multimodal.decodeAudioFacts(media).toDF().orderBy("media_id")
    }
  )

  /** Header-only audio facts ([[Multimodal.WavHeaderDecoder]], VERDICT
    * r12 item 6): the format/duration half of mm07 WITHOUT the PCM
    * pass — `getAudioFileFormat` parses the RIFF/fmt chunks and stops.
    * Measured per row (single thread, 20k fixture clips): full decode
    * 37 μs, the direct RIFF header walk 0.12 μs, so mime census
    * / duration histogram / rate-mix audits at corpus scale take this
    * row's path and only checksum-needing facts pay mm07's cost. The
    * oracle recomputes the same header facts from the fixture
    * arithmetic — a wrong header parse (rate, frame count, channel
    * stride) breaks the compare exactly as it does for mm07.
    */
  val mm08AudioHeaders = Query(
    "mm08_audio_headers",
    Some(
      """SELECT doc_id AS media_id, 'audio/wav' AS mime,
        |  CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate,
        |  1 AS channels, 16 AS bits,
        |  CAST(120 + doc_id % 257 AS BIGINT) AS n_samples,
        |  CAST(120 + doc_id % 257 AS BIGINT) * 1000
        |    // CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      import spark.implicits._
      val media = t.documents
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.MediaFixtures.wavBytes(id))))
        .toDF("media_id", "payload")
      Multimodal.decodeAudioHeaders(media).toDF().orderBy("media_id")
    }
  )

  /** T5-style span corruption (Raffel et al. 2020) — the pretraining
    * target builder: tokens are grouped into 3-token blocks, a block
    * is masked iff the mixed hash of (doc, block) ≡ 0 mod 7 (~14%
    * corruption, fully deterministic, no RNG state), the corrupted
    * input replaces each masked block with a numbered sentinel and
    * the target pairs each sentinel with the text it hides. Blocked
    * (rather than greedy) span placement keeps every step map-side
    * expressible — one hash per block, one partitioned cumsum for
    * sentinel numbers, ordered aggs for the two strings — so both
    * engines replay it exactly.
    */
  val td51SpanCorruption = Query(
    "td51_span_corruption", {
      val fold = foldSql("CONCAT(doc_id, '_', b)")
      Some(
        s"""WITH w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS toks
           |  FROM documents WHERE LENGTH(TRIM(text)) > 0),
           |t AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS word,
           |        CAST((i - 1) // 3 AS BIGINT) AS b
           |      FROM w, UNNEST(range(1, LEN(toks) + 1)) r(i)),
           |h0 AS (SELECT DISTINCT doc_id, b FROM t),
           |h1 AS (SELECT doc_id, b, ($fold) AS u0 FROM h0),
           |h2 AS (SELECT doc_id, b, ${fmixSql("u0")} AS u FROM h1),
           |h3 AS (SELECT doc_id, b, ${toSignedSql("u")} AS s FROM h2),
           |h AS (SELECT doc_id, b,
           |        ((s % 7) + 7) % 7 = 0 AS masked FROM h3),
           |sn AS (SELECT doc_id, b, masked,
           |         CASE WHEN masked THEN
           |           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, masked ORDER BY b)
           |                AS BIGINT) - 1
           |         END AS k
           |       FROM h),
           |j AS (SELECT t.doc_id, t.pos, t.word, t.b, sn.masked, sn.k,
           |        t.pos = t.b * 3 AS block_start
           |      FROM t JOIN sn ON t.doc_id = sn.doc_id AND t.b = sn.b)
           |SELECT doc_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           |  COALESCE(string_agg(
           |    CASE WHEN NOT masked THEN word
           |         WHEN block_start THEN '<extra_id_' || k || '>' END,
           |    ' ' ORDER BY pos), '') AS corrupted,
           |  COALESCE(string_agg(
           |    CASE WHEN masked THEN
           |      CASE WHEN block_start THEN '<extra_id_' || k || '> ' || word
           |           ELSE word END END,
           |    ' ' ORDER BY pos), '') AS target
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    },
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val words = t.documents
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "word")))
        .withColumn("b", expr("pos div 3"))
      val blocks = words.select("doc_id", "b").distinct()
        .withColumn("masked",
          pmod(graft.functions.MixedHash64(
            concat(col("doc_id").cast("string"), lit("_"), col("b").cast("string"))),
            lit(7L)) === 0)
      val wk = Window.partitionBy("doc_id", "masked").orderBy("b")
      val sn = blocks.withColumn("k",
        when(col("masked"), row_number().over(wk).cast("long") - 1))
      val j = words.join(sn, Seq("doc_id", "b"))
        .withColumn("block_start", col("pos") === col("b") * 3)
      val sentinel = concat(lit("<extra_id_"), col("k"), lit(">"))
      j.groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
          coalesce(array_join(expr("filter(" +
            "transform(array_sort(collect_list(struct(pos, " +
            "  CASE WHEN NOT masked THEN word " +
            "       WHEN block_start THEN concat('<extra_id_', k, '>') END AS v))), " +
            "s -> s.v), x -> x IS NOT NULL)"), " "), lit("")).as("corrupted"),
          coalesce(array_join(expr("filter(" +
            "transform(array_sort(collect_list(struct(pos, " +
            "  CASE WHEN masked THEN " +
            "    CASE WHEN block_start THEN concat('<extra_id_', k, '> ', word) " +
            "         ELSE word END END AS v))), " +
            "s -> s.v), x -> x IS NOT NULL)"), " "), lit("")).as("target"))
        .orderBy("doc_id")
    }
  )

  /** Dedup threshold tuning curve: how much of the corpus would each
    * Jaccard cutoff flag? ONE exact 3-gram pair scan at the loosest
    * cutoff (0.2) feeds all three thresholds — per threshold the pair
    * count, the distinct flagged-doc count, and the flagged fraction
    * (integer counts, one division) — the sweep an operator reads
    * before fixing the pipeline's dedup aggressiveness. Never three
    * scans: thresholds are filters over the same pair frame.
    */
  val td53ThresholdSweep = Query(
    "td53_threshold_sweep",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            |       FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
            |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
            |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
            |         FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
            |pairs AS MATERIALIZED (
            |          SELECT a, b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
            |          FROM cand JOIN sizes sa ON a = sa.doc_id
            |          JOIN sizes sb ON b = sb.doc_id
            |          WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
            |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
            |th AS (SELECT UNNEST([0.2::DOUBLE, 0.5::DOUBLE, 0.8::DOUBLE]) AS threshold),
            |fl AS (SELECT th.threshold, p.a, p.b FROM th JOIN pairs p ON p.jac >= th.threshold),
            |agg AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
            |        FROM fl GROUP BY threshold),
            |docs AS (SELECT threshold,
            |           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_flagged
            |         FROM (SELECT threshold, a AS id FROM fl
            |               UNION ALL SELECT threshold, b FROM fl)
            |         GROUP BY threshold)
            |SELECT th.threshold,
            |  COALESCE(a2.n_pairs, 0) AS n_pairs,
            |  COALESCE(d2.n_flagged, 0) AS n_flagged,
            |  CAST(COALESCE(d2.n_flagged, 0) AS DOUBLE) / nd.n_docs AS frac_flagged
            |FROM th LEFT JOIN agg a2 USING (threshold)
            |LEFT JOIN docs d2 USING (threshold), nd
            |ORDER BY th.threshold""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      // r14 (VERDICT r13 item 3): identical-shingle-set CLASS COLLAPSE
      // before the posting self-join (Dedup.shingleClasses — the dd19
      // trick). The sweep needs only COUNTS, and every count expands
      // exactly from the collapsed graph: a class of m replicas adds
      // C(m,2) intra pairs at jaccard exactly 1.0 (every cut ≤ 1) and
      // each rep pair stands for m_a·m_b document pairs of identical
      // jaccard; a doc is flagged at cut c iff its class has m ≥ 2 OR
      // its class's best cross-pair jaccard reaches c. The posting join
      // — the pair-volume ∝ multiplicity² quadratic that made this the
      // #2 sf1 row — now runs over one doc per class. Integer counts,
      // same final division: sweep rows value-identical (pinned by the
      // OperatorsSpec equivalence test + the oracle).
      import spark.implicits._
      val th = Seq(0.2, 0.5, 0.8)
      val scs = Dedup.shingleClasses(t.documents, "doc_id", "text", k = 3)
      val pairs = Dedup.repJaccardPairs(scs, threshold = 0.2)
        .select(col("rep_a"), col("rep_b"), col("jaccard").as("jac"),
          col("m_a"), col("m_b"))
        .localCheckpoint() // cross-pair counts + per-class max both read it
      val nDocs = t.documents.count()
      // cross-class pair counts per cut, in ONE conditional aggregate
      val crossCounts = pairs
        .agg(count(lit(1)), th.map(c =>
          sum(when(col("jac") >= c, col("m_a") * col("m_b")).otherwise(0L))): _*)
        .head()
      // per-class best cross-pair jaccard, then ONE classes-level
      // conditional aggregate: intra pairs Σ C(m,2) (cut-invariant)
      // and flagged docs Σ m·[m ≥ 2 ∨ maxCross ≥ cut] per cut
      val maxCross = pairs.select(col("rep_a").as("rep"), col("jac"))
        .union(pairs.select(col("rep_b").as("rep"), col("jac")))
        .groupBy("rep").agg(max(col("jac")).as("mx"))
      // DIV: integer division (m·(m−1) is even) — Column./ is double
      val clsAggCols = sum(expr("m * (m - 1) DIV 2")).as("intra") +:
        th.map(c => sum(when(col("m") >= 2 || col("mx") >= c, col("m"))
          .otherwise(0L)))
      val clsAgg = scs.classes
        .join(maxCross, Seq("rep"), "left")
        .agg(clsAggCols.head, clsAggCols.tail: _*)
        .head()
      scs.release()
      // sums are null over an empty classes/pairs frame (shingle-free
      // corpus) — the original count() forms read 0 there
      def longAt(r: org.apache.spark.sql.Row, i: Int): Long =
        if (r.isNullAt(i)) 0L else r.getLong(i)
      val intraPairs = longAt(clsAgg, 0)
      th.zipWithIndex.map { case (cut, i) =>
        val nPairs = intraPairs + longAt(crossCounts, i + 1)
        val nFlagged = longAt(clsAgg, i + 1)
        (cut, nPairs, nFlagged, nFlagged.toDouble / nDocs)
      }.toDF("threshold", "n_pairs", "n_flagged", "frac_flagged")
        .orderBy("threshold")
    }
  )

  /** Preference-pair construction (DPO/RLHF data prep): within each
    * source, pair the i-th most lexically diverse document with the
    * i-th least diverse one (k pairs, margin > 0 required) — the
    * deterministic "chosen vs rejected" builder a preference-tuning
    * pipeline runs over quality signals. The score is an exact
    * distinct/total token ratio (one division); ranks come from two
    * opposite-direction windows with id tie-breaks, so the pairing
    * is reproducible under any partitioning. Shape: one map pass for
    * scores, two partitioned rank windows, one equi-join on
    * (source, pair rank).
    */
  val td52PreferencePairs = Query(
    "td52_preference_pairs",
    Some("""WITH sc AS (
            |  SELECT doc_id, source,
            |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0
            |         ELSE CAST(LEN(list_distinct(regexp_split_to_array(TRIM(text), '\s+')))
            |                   AS DOUBLE)
            |              / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS score
            |  FROM documents),
            |hi AS (SELECT doc_id, source, score,
            |         CAST(ROW_NUMBER() OVER (PARTITION BY source
            |           ORDER BY score DESC, doc_id) AS BIGINT) AS rk
            |       FROM sc),
            |lo AS (SELECT doc_id, source, score,
            |         CAST(ROW_NUMBER() OVER (PARTITION BY source
            |           ORDER BY score ASC, doc_id DESC) AS BIGINT) AS rk
            |       FROM sc)
            |SELECT hi.source, hi.rk AS pair_idx,
            |  hi.doc_id AS chosen_id, lo.doc_id AS rejected_id,
            |  hi.score AS chosen_score, lo.score AS rejected_score,
            |  hi.score - lo.score AS margin
            |FROM hi JOIN lo ON hi.source = lo.source AND hi.rk = lo.rk
            |WHERE hi.rk <= 5 AND hi.score - lo.score > 0
            |ORDER BY hi.source, pair_idx""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val toks = split(trim(col("text")), "\\s+")
      val sc = t.documents.select(col("doc_id"), col("source"),
        when(length(trim(col("text"))) === 0, 0.0)
          .otherwise(size(array_distinct(toks)).cast("double") / size(toks))
          .as("score"))
        .localCheckpoint() // ranked twice (opposite directions)
      val hi = sc.withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(desc("score"), asc("doc_id"))).cast("long"))
      val lo = sc.withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(asc("score"), desc("doc_id"))).cast("long"))
      hi.alias("hi").filter(col("rk") <= 5)
        .join(lo.alias("lo"), Seq("source", "rk"))
        .filter(col("hi.score") - col("lo.score") > 0)
        .select(col("source"), col("rk").as("pair_idx"),
          col("hi.doc_id").as("chosen_id"), col("lo.doc_id").as("rejected_id"),
          col("hi.score").as("chosen_score"), col("lo.score").as("rejected_score"),
          (col("hi.score") - col("lo.score")).as("margin"))
        .orderBy("source", "pair_idx")
    }
  )

  /** Canonical media dedup — the actionable form of mm03: resolve the
    * pHash near-dup pairs into groups (connected components), keep
    * the smallest doc_id as canonical, and report the bytes each
    * non-canonical copy would reclaim — the media mirror of dd14's
    * quality-canonical text dedup. Pair discovery is mm03's banded
    * equi-join; the closure is the bounded-probe CC; the byte ledger
    * is one join back to the metadata, never the payloads. Like
    * ss12, the catalog row runs on a deterministic `doc_id % 4`
    * slice for the ORACLE's benefit: DuckDB's recursive-CTE closure
    * materializes |component|² reach rows and cannot finish against
    * the full sf1 replica cliques, while the engine-side CC is the
    * bounded-probe loop (full-N pair coverage lives in mm03).
    */
  val mm05MediaCanonical = Query(
    "mm05_media_canonical",
    Some("""WITH RECURSIVE px AS (
            |  SELECT doc_id,
            |    list_transform(range(0, 63), j ->
            |      ord(substr(text, CAST(1 + (j * strlen(text)) // 63 AS INT), 1))) AS p
            |  FROM documents WHERE strlen(text) > 0 AND doc_id % 4 = 0),
            |ph AS (
            |  SELECT doc_id,
            |    CAST(list_sum(list_transform(range(0, 63), j ->
            |      CASE WHEN p[CAST(j AS INT) + 1] * 63 > list_sum(p)
            |           THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END)) AS BIGINT) AS h
            |  FROM px),
            |banded AS (
            |  SELECT doc_id, CAST(b AS INT) AS band_idx,
            |    (h >> CAST(16 * b AS INT)) & 65535 AS band_key
            |  FROM ph, UNNEST(range(0, 4)) t(b)),
            |cand AS (
            |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            |  FROM banded a JOIN banded b
            |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            |   AND a.doc_id < b.doc_id),
            |pairs AS (
            |  SELECT id_a, id_b FROM cand
            |  JOIN ph pa ON id_a = pa.doc_id JOIN ph pb ON id_b = pb.doc_id
            |  WHERE bit_count(xor(pa.h, pb.h)) <= 12),
            |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
            |          UNION SELECT id_b, id_a FROM pairs),
            |nodes AS (SELECT DISTINCT src AS id FROM edges),
            |reach AS (
            |  SELECT id, id AS r FROM nodes
            |  UNION
            |  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
            |comp AS (SELECT id AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY id),
            |sz AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS group_size
            |       FROM comp GROUP BY canonical_id)
            |SELECT c.doc_id, c.canonical_id, sz.group_size,
            |  c.doc_id = c.canonical_id AS is_canonical,
            |  CAST(CASE WHEN c.doc_id = c.canonical_id THEN 0 ELSE d.n_chars END
            |       AS BIGINT) AS reclaimable_bytes
            |FROM comp c JOIN sz USING (canonical_id)
            |JOIN documents d ON d.doc_id = c.doc_id
            |ORDER BY c.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val docs = t.documents.filter(col("doc_id") % 4 === 0)
      val pairs = Multimodal.phashPairs(docs, "doc_id", "text", maxHamming = 12)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val comp = Graph.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component").as("canonical_id"))
      val sz = comp.groupBy("canonical_id").agg(count(lit(1)).as("group_size"))
      comp.join(sz, Seq("canonical_id"))
        .join(t.documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .select(col("doc_id"), col("canonical_id"), col("group_size"),
          (col("doc_id") === col("canonical_id")).as("is_canonical"),
          when(col("doc_id") === col("canonical_id"), 0L)
            .otherwise(col("n_chars")).cast("long").as("reclaimable_bytes"))
        .orderBy("doc_id")
    }
  )

  // ── ingestion scalar ops over testdata ───────────────────────────
  val in01NormalizeStamp = Query(
    "in01_normalize_stamp",
    Some("""SELECT doc_id, text, lang AS metadata_label, CAST(42 AS BIGINT) AS datasetid
            |FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      // T1 applied to deliberately messy upstream names + T3 stamp
      val messy = t.documents.select(
        col("doc_id").as("Doc ID"), col("text").as("Text"), col("lang").as("Lang-Code"))
      val normalized = Functions.normalizeColumns(messy)
      normalized
        .select(
          col("doc_id"),
          col("text"),
          col("lang_code").as("metadata_label"),
          lit(42L).as("datasetid")
        )
        .orderBy("doc_id")
    }
  )

  val in02MetaExtract = Query(
    "in02_meta_extract",
    Some("""WITH f AS (SELECT doc_id, source, source || '_' || doc_id || '.csv' AS fname FROM documents)
            |SELECT doc_id,
            |  CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) AS src_num,
            |  split_part(regexp_replace(fname, '\.[^.]*$', ''), '_', 2) AS fname_token
            |FROM f ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val f = t.documents.withColumn(
        "fname", concat(col("source"), lit("_"), col("doc_id"), lit(".csv")))
      f.select(
          col("doc_id"),
          regexp_extract(col("source"), "src(\\d+)", 1).cast("int").as("src_num"),
          Functions.filenameToken(col("fname"), "_", 1).as("fname_token")
        )
        .orderBy("doc_id")
    }
  )

  val in03LengthPolicy = Query(
    "in03_length_policy",
    Some("""SELECT source, CAST(MAX(LENGTH(text)) AS INT) AS max_len,
            |  CAST(LEAST(FLOOR(MAX(LENGTH(text)) * 1.5), 4000) AS INT) AS varchar_len
            |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.documents
        .groupBy("source")
        .agg(
          max(length(col("text"))).cast("int").as("max_len"),
          least(floor(max(length(col("text"))) * 1.5), lit(4000)).cast("int").as("varchar_len")
        )
        .orderBy("source")
    }
  )

  val in04Truncate = Query(
    "in04_truncate",
    Some("""SELECT doc_id, SUBSTRING(text, 1, 100) AS t100,
            |  LENGTH(text) > 100 AS was_truncated
            |FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.documents
        .select(
          col("doc_id"),
          substring(col("text"), 1, 100).as("t100"),
          (length(col("text")) > 100).as("was_truncated")
        )
        .orderBy("doc_id")
    }
  )

  /** JSONL round trip — the LLM-corpus interchange format as a
    * first-class source/sink: write the documents table as sharded
    * JSON-lines, read it back under the pinned schema, and prove the
    * cycle is lossless by oracle-comparing against the parquet
    * original (string escaping, longs, every row). Shards write and
    * scan in parallel; the explicit read schema skips Spark's
    * whole-data inference pass — the difference between one scan and
    * two at 100 TB.
    */
  // one JSONL staging dir per (JVM, sf dir): repeated builds (bench
  // reruns, oracle runs) overwrite in place instead of accumulating a
  // corpus copy in /tmp per call; the write itself still happens every
  // build — it IS half the round trip being measured
  private val jsonlDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  val in05JsonlRoundtrip = Query(
    "in05_jsonl_roundtrip",
    Some("""SELECT doc_id, text, lang, source, n_chars
            |FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val tmp = jsonlDirs.computeIfAbsent(dir, _ => {
        val p = java.nio.file.Files.createTempDirectory("graft-jsonl")
        p.toFile.deleteOnExit()
        p.toString
      })
      t.documents.coalesce(4).write.mode("overwrite").json(tmp)
      spark.read.schema(t.documents.schema).json(tmp)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }
  )

  /** ORC round trip — the second columnar interchange format, through
    * Spark's native ORC source/sink (predicate pushdown and column
    * pruning work the same as parquet). DuckDB cannot read ORC, so
    * like in05 the oracle pins losslessness by comparing the
    * read-back against the parquet original.
    */
  val in06OrcRoundtrip = Query(
    "in06_orc_roundtrip",
    Some("""SELECT doc_id, text, lang, source, n_chars
            |FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val tmp = jsonlDirs.computeIfAbsent(s"orc:$dir", _ => {
        val p = java.nio.file.Files.createTempDirectory("graft-orc")
        p.toFile.deleteOnExit()
        p.toString
      })
      t.documents.coalesce(4).write.mode("overwrite").orc(tmp)
      spark.read.schema(t.documents.schema).orc(tmp)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }
  )

  /** Content-defined chunking dedup (LBFS/rsync-style, word-level):
    * chunk boundaries fall where a word's rolling hash ≡ 0 (mod 8),
    * so chunk edges move WITH the content — an insertion early in a
    * document shifts fixed-window chunks (td29) everywhere, but CDC
    * chunks re-synchronize at the next boundary word and the
    * unchanged tail still dedups. Chunks are grouped by literal
    * content across the corpus (the dd12 convention: the hash only
    * PLACES boundaries, it never stands in for equality), and the
    * per-doc dup ratio is integer counts with one final division.
    * Shape: one map pass for hashes, a partitioned cumsum for chunk
    * ids, one exchange on chunk text for the corpus-wide group.
    */
  val dd18CdcChunks = Query(
    "dd18_cdc_chunks", {
      val fold = foldSql("word")
      Some(
        s"""WITH w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS toks
           |  FROM documents WHERE LENGTH(TRIM(text)) > 0),
           |t AS (SELECT doc_id, CAST(i AS INT) AS pos, toks[i] AS word
           |      FROM w, UNNEST(range(1, LEN(toks) + 1)) r(i)),
           |b AS (SELECT doc_id, pos, word,
           |        CASE WHEN ($fold) % 8 = 0 THEN 1 ELSE 0 END AS bd
           |      FROM t),
           |c AS (SELECT doc_id, pos, word,
           |        COALESCE(SUM(bd) OVER (PARTITION BY doc_id ORDER BY pos
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           |      FROM b),
           |chunks AS (SELECT doc_id, chunk_id,
           |             string_agg(word, ' ' ORDER BY pos) AS chunk
           |           FROM c GROUP BY doc_id, chunk_id),
           |dup AS (SELECT chunk FROM chunks GROUP BY chunk HAVING COUNT(*) > 1)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           |  CAST(SUM(CASE WHEN d.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS dup_chunks,
           |  CAST(SUM(CASE WHEN d.chunk IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS dup_ratio
           |FROM chunks ch LEFT JOIN dup d ON ch.chunk = d.chunk
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    },
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      RollingHash64.register(spark)
      val t = Tables(spark, dir)
      val words = t.documents
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos0", "word")))
      val b = words.withColumn("bd",
        when(pmod(RollingHash64(col("word")), lit(8L)) === 0, 1L).otherwise(0L))
      val wPrev = Window.partitionBy("doc_id").orderBy("pos0")
        .rowsBetween(Window.unboundedPreceding, -1)
      val c = b.withColumn("chunk_id", coalesce(sum(col("bd")).over(wPrev), lit(0L)))
      val chunks = c.groupBy("doc_id", "chunk_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos0"), col("word")))),
            s => s.getField("word")), " ").as("chunk"))
      val dup = chunks.groupBy("chunk").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1).select("chunk")
      chunks.join(dup.withColumn("is_dup", lit(1L)), Seq("chunk"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce(col("is_dup"), lit(0L))).as("dup_chunks"))
        .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
          (col("dup_chunks").cast("double") / col("n_chunks")).as("dup_ratio"))
        .orderBy("doc_id")
    }
  )

  /** Raw-media landing-zone scan via Spark's `binaryFile` source — the
    * ingestion seam a multimodal corpus enters through: one row per
    * blob with (path, length, content), no decode on the scan. The
    * fixture stages every 10th document's bytes as loose files
    * (executor-side writes, one pass), then the scan recovers the id
    * from the filename and fingerprints the payload with sha2 — the
    * dedup-ready manifest shape. The oracle recomputes length+sha256
    * from the parquet original (ASCII corpus ⇒ chars == bytes),
    * pinning the file round trip bit-exactly.
    */
  val in07BinaryScan = Query(
    "in07_binary_scan",
    Some("""SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_bytes,
            |  sha256(text) AS sha
            |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val tmp = jsonlDirs.computeIfAbsent(s"bin:$dir", _ => {
        val p = java.nio.file.Files.createTempDirectory("graft-bin")
        p.toFile.deleteOnExit()
        p.toString
      })
      t.documents.filter(col("doc_id") % 10 === 0)
        .select("doc_id", "text")
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, s"doc_${r.getLong(0)}.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      spark.read.format("binaryFile").load(s"$tmp/*.bin")
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          sha2(col("content"), 256).as("sha"))
        .orderBy("doc_id")
    }
  )

  /** Manifest-driven corpus ingestion — the shard-list pattern every
    * published corpus snapshot ships with (C4/Pile-style): a manifest
    * records each shard's path and expected document count; the scan
    * reads ONLY the manifest-listed paths, stamps shard provenance,
    * and audits actual vs declared counts. The manifest is
    * control-plane-small by contract (it lists shards, not rows); the
    * shard reads scan in parallel with the pinned schema. The oracle
    * recomputes the per-shard counts from the parquet original, so a
    * green row proves the staged shards are complete and the audit
    * arithmetic is honest.
    */
  val in08ManifestScan = Query(
    "in08_manifest_scan",
    Some("""SELECT CAST(doc_id % 3 AS BIGINT) AS shard_id,
            |  CAST(COUNT(*) AS BIGINT) AS n_docs,
            |  CAST(COUNT(*) AS BIGINT) AS manifest_n,
            |  TRUE AS matches
            |FROM documents GROUP BY doc_id % 3 ORDER BY shard_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val tmp = jsonlDirs.computeIfAbsent(s"manifest:$dir", _ => {
        val p = java.nio.file.Files.createTempDirectory("graft-manifest")
        p.toFile.deleteOnExit()
        p.toString
      })
      val docs = t.documents.withColumn("shard_id", col("doc_id") % 3)
      (0L to 2L).foreach { s =>
        docs.filter(col("shard_id") === s).drop("shard_id")
          .coalesce(1).write.mode("overwrite").json(s"$tmp/shard_$s")
      }
      val manifest = docs.groupBy("shard_id").agg(count(lit(1)).as("manifest_n"))
        .withColumn("path", concat(lit(s"$tmp/shard_"), col("shard_id")))
      manifest.coalesce(1).write.mode("overwrite").json(s"$tmp/manifest")
      // the manifest is shard-count-sized by contract — collecting it
      // is the control-plane step that names what to scan
      val entries = spark.read
        .schema("shard_id LONG, manifest_n LONG, path STRING")
        .json(s"$tmp/manifest")
        .collect()
      val perShard = entries.map { e =>
        spark.read.schema(t.documents.schema).json(e.getString(2))
          .agg(count(lit(1)).as("n_docs"))
          .select(lit(e.getLong(0)).as("shard_id"), col("n_docs"),
            lit(e.getLong(1)).as("manifest_n"))
      }.reduce(_ unionByName _)
      perShard
        .withColumn("matches", col("n_docs") === col("manifest_n"))
        .orderBy("shard_id")
    }
  )

  // in09 pipeline state is rebuilt from scratch on every build (the
  // registry/index/shard state is what the query exercises); the
  // PREVIOUS build's work dir is deleted so bench reruns stay
  // disk-bounded. The landing zone is staged once per sf dir.
  private val e2eWorkDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The composed end-to-end curation pipeline as ONE verifiable row
    * (operators.CurationPipeline — quality gate → FUZZY EVAL-SET
    * DECONTAMINATION (dd20's MinHash-LSH filter, the GPT-3 recipe
    * stage) → incremental exact/LSH dedup ingest with auto-compaction
    * → registry version commit → hash-sharded packing → manifest
    * audit), fed four deliveries from a staged landing zone: shards
    * 0, 1, 2 and then a RE-DELIVERY of shard 0, whose rows must all
    * die in the fingerprint anti-join and leave only an Empty registry
    * version behind. The eval suite is the td54/dd20 `doc_id % 10 = 7`
    * split — and the corpus CONTAINS it, so decontam must drop both
    * the delivered eval members themselves (self-leak: a doc
    * band-matches its own eval copy at est 1.0) and their near-dups.
    * The oracle replays the externally-determined outcome — quality
    * thresholds (td49's), the dd01 MinHash chain restricted to cross
    * pairs plus the self-leak rule, first-delivery-wins exact dedup
    * (delivery order = shard number, then doc_id), and the dd03-hash
    * shard assignment — so a green row proves the COMPOSITION
    * (including the re-delivery) preserved exactly the documents and
    * counts it should, at any scale. Decontam commutes with the
    * incremental dedup because contamination is a function of the
    * text alone (identical text → identical signature → same flag).
    */
  val in09CurationE2e = Query(
    "in09_curation_e2e", {
      val signed = toSignedSql(s"(${fmixSql(s"(${foldSql("CAST(doc_id AS VARCHAR)")})")})")
      Some(
        s"""WITH $minhashCandCtes,
           |w AS (SELECT doc_id, text,
           |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
           |       ELSE regexp_split_to_array(TRIM(text), '\\s+') END AS toks
           |FROM documents),
           |f AS (SELECT doc_id, text,
           |  LEN(toks) AS n_tokens,
           |  CASE WHEN LEN(toks) > 0
           |    THEN 1.0 - CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks)
           |    ELSE 0.0 END AS rep,
           |  CASE WHEN LENGTH(text) > 0
           |    THEN CAST(LEN(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) / LENGTH(text)
           |    ELSE 0.0 END AS punct
           |FROM w),
           |kept AS (SELECT doc_id, text FROM f
           |  WHERE NOT (n_tokens < 25 OR n_tokens > 1000000
           |             OR rep > 0.65 OR punct > 0.3)),
           |cont AS MATERIALIZED (
           |  SELECT CASE WHEN id_a % 10 = 7 THEN id_b ELSE id_a END AS doc_id
           |  FROM cand WHERE (id_a % 10 = 7) <> (id_b % 10 = 7)
           |  UNION
           |  SELECT doc_id FROM sigs WHERE doc_id % 10 = 7),
           |decon AS (SELECT doc_id, text FROM kept
           |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
           |ded AS MATERIALIZED (SELECT doc_id FROM (
           |    SELECT doc_id,
           |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id % 3, doc_id) AS rn
           |    FROM decon) WHERE rn = 1),
           |ns AS (SELECT GREATEST(1, (COUNT(*) + 63) // 64) AS n_shards FROM ded),
           |h AS (SELECT doc_id, $signed AS hv FROM ded),
           |sh AS (SELECT ((hv % (SELECT n_shards FROM ns)) + (SELECT n_shards FROM ns))
           |         % (SELECT n_shards FROM ns) AS shard_id FROM h)
           |SELECT CAST(shard_id AS BIGINT) AS shard_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(COUNT(*) AS BIGINT) AS manifest_n, TRUE AS matches
           |FROM sh GROUP BY shard_id ORDER BY shard_id""".stripMargin)
    },
    (spark, dir) => {
      import graft.operators.CurationPipeline
      val t = Tables(spark, dir)
      val landing = jsonlDirs.computeIfAbsent(s"e2e:$dir", _ => {
        val p = java.nio.file.Files.createTempDirectory("graft-e2e-landing")
        p.toFile.deleteOnExit()
        val docs = t.documents.withColumn("shard", col("doc_id") % 3)
        (0L to 2L).foreach { s =>
          docs.filter(col("shard") === s).drop("shard")
            .coalesce(1).write.mode("overwrite").json(s"$p/shard_$s")
        }
        p.toString
      })
      val work = java.nio.file.Files.createTempDirectory("graft-e2e-work").toString
      Option(e2eWorkDirs.put(dir, work)).foreach { prev =>
        val fs = new org.apache.hadoop.fs.Path(prev)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(prev), true)
      }
      val cfg = CurationPipeline.Config(work, java.sql.Date.valueOf("2026-01-01"),
        decontamEval = Some(t.documents.filter(col("doc_id") % 10 === 7)))
      val reg = new graft.registry.DatasetRegistry(spark, cfg.registryPath)
      Seq(0, 1, 2, 0).foreach { s => // 0 again = the re-delivery
        val batch = spark.read.schema(t.documents.schema).json(s"$landing/shard_$s")
        CurationPipeline.processDelivery(batch, s"shard_$s", reg, cfg)
      }
      CurationPipeline.packAndAudit(spark, cfg)
    }
  )

  /** Embedding-cosine near-duplicate pairs: vectors whose cosine
    * exceeds a tight threshold — semantic dedup over the embedding
    * column. Same broadcast-pair plan as the KNN; the threshold filter
    * makes the output the dedup candidate set.
    */
  val dd04CosineDup = Query(
    "dd04_cosine_dup",
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            |                               CAST(b.embedding AS DOUBLE[])), 4) AS sim
            |FROM embeddings a, embeddings b
            |WHERE a.vec_id < b.vec_id
            |  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            |                                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.35
            |ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Similarity
        .cosinePairsKernel(t.embeddings, "vec_id", "embedding", threshold = 0.35)
        .orderBy("id_a", "id_b")
    }
  )

  /** HLL approximate distinct (the sketch aggregate the exact path
    * can't afford at 100 TB). The estimate itself has no DuckDB replay
    * (Spark's HLL++ is engine-private), so the query carries its OWN
    * error-bound check: `within_bound` compares the estimate against
    * the exact distinct (computed in the same aggregation) at 3× the
    * requested rsd — the oracle replays the exact side and pins the
    * boolean, so an estimator drifting out of its advertised bound
    * fails the hash compare instead of hiding behind `no_oracle`.
    */
  val td07ApproxDistinct = Query(
    "td07_approx_distinct",
    Some("""SELECT event_type, COUNT(*) AS n,
            |  COUNT(DISTINCT user_id) AS exact_users,
            |  CAST(TRUE AS BOOLEAN) AS within_bound
            |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.events
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n")
        )
        .select(
          col("event_type"), col("n"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(lit(1L), (col("exact_users") * lit(3 * 0.02)).cast("long")))
            .as("within_bound")
        )
        .orderBy("event_type")
    }
  )

  /** Dedup-canonical normalization + fingerprint of the normalized
    * form — trivially-different copies collapse to one hash.
    */
  val td08NormalizedFp = Query(
    "td08_normalized_fp",
    Some("""SELECT doc_id,
            |  TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
            |                      '\s+', ' ', 'g')) AS norm_text,
            |  MD5(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
            |                          '\s+', ' ', 'g'))) AS norm_fp
            |FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val norm = TextAnalysis.normalizeForDedup(col("text"))
      t.documents
        .select(col("doc_id"), norm.as("norm_text"), md5(norm).as("norm_fp"))
        .orderBy("doc_id")
    }
  )

  /** Token repetition ratio (Gopher/RefinedWeb-style quality filter):
    * 1 - distinct/total tokens; high values flag boilerplate/spam.
    */
  val td09Repetition = Query(
    "td09_repetition",
    Some("""WITH w AS (SELECT doc_id,
            |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
            |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS toks
            |FROM documents)
            |SELECT doc_id, CAST(LEN(toks) AS INT) AS n_tokens,
            |  CAST(LEN(list_distinct(toks)) AS INT) AS n_distinct,
            |  CASE WHEN LEN(toks) > 0
            |    THEN 1.0 - CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks)
            |    ELSE 0.0 END AS repetition_ratio
            |FROM w ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val toks = when(length(trim(col("text"))) === 0, array().cast("array<string>"))
        .otherwise(split(trim(col("text")), "\\s+"))
      t.documents
        .select(col("doc_id"), toks.as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("int").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("int").as("n_distinct"),
          when(size(col("toks")) > 0,
            lit(1.0) - size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
            .otherwise(lit(0.0)).as("repetition_ratio")
        )
        .orderBy("doc_id")
    }
  )

  /** PII detection + redaction (pre-training scrub). The synthetic
    * corpus contains no PII, so counts are zero and redaction is
    * identity — which the exact oracle verifies; OperatorsSpec proves
    * the positive cases on constructed text.
    */
  val td10Pii = Query(
    "td10_pii",
    Some(s"""SELECT doc_id,
             |  CAST(LEN(regexp_extract_all(text, '${TextAnalysis.emailPattern}')) AS INT) AS n_emails,
             |  CAST(LEN(regexp_extract_all(text, '${TextAnalysis.urlPattern}')) AS INT) AS n_urls,
             |  CAST(LEN(regexp_extract_all(text, '${TextAnalysis.phonePattern}')) AS INT) AS n_phones,
             |  regexp_replace(regexp_replace(regexp_replace(text,
             |    '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
             |    '${TextAnalysis.urlPattern}', '<URL>', 'g'),
             |    '${TextAnalysis.phonePattern}', '<PHONE>', 'g') AS redacted
             |FROM documents ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val (e, u, p) = TextAnalysis.piiCounts(col("text"))
      t.documents
        .select(col("doc_id"), e.as("n_emails"), u.as("n_urls"), p.as("n_phones"),
          TextAnalysis.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")
    }
  )

  /** Batch sessionization — lag + cumulative-sum windows (the
    * window-function form of the stateful streaming operator in
    * `streaming.Sessionize`; SessionizeSpec asserts agreement).
    */
  val st01Sessionize = Query(
    "st01_sessionize",
    Some("""WITH lagged AS (
            |  SELECT user_id, ts, event_id,
            |    CASE WHEN LAG(ts) OVER w IS NULL
            |         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
            |         THEN 1 ELSE 0 END AS new_s
            |  FROM events
            |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            |sess AS (
            |  SELECT user_id, ts,
            |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
            |  FROM lagged)
            |SELECT user_id, session_num, COUNT(*) AS n_events,
            |  MIN(ts) AS start_ts, MAX(ts) AS end_ts
            |FROM sess GROUP BY user_id, session_num
            |ORDER BY user_id, session_num""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val lagged = t.events
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      lagged
        .withColumn("session_num",
          sum(col("new_s")).over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_num")
        .agg(count(lit(1)).as("n_events"), min("ts").as("start_ts"), max("ts").as("end_ts"))
        .orderBy("user_id", "session_num")
    }
  )

  /** Deterministic HLL sketch (operators.ApproxDistinct): unlike the
    * engine-private HLL++ in td07, every step — rolling hash, bucket
    * split, leading-zero rank via bin()-length, clamped 2^-rho sum —
    * is exactly reproduced in the oracle, so an APPROXIMATE operator
    * still gets an EXACT correctness check.
    */
  val td12HllSketch = Query(
    "td12_hll_sketch",
    Some(
      s"""WITH h0 AS (
         |  SELECT event_type, ${foldSql("CAST(user_id AS VARCHAR)")} AS u0
         |  FROM events WHERE user_id IS NOT NULL),
         |h AS (SELECT event_type, ${fmixSql("u0")} AS u FROM h0),
         |regs AS (
         |  SELECT event_type, u % 64 AS bucket,
         |    MAX(LEAST(40, CASE WHEN u // 64 = 0 THEN 59
         |                       ELSE 59 - length(bin(CAST(u // 64 AS BIGINT))) END)) AS max_rho
         |  FROM h GROUP BY event_type, u % 64)
         |SELECT event_type, COUNT(*) AS n_filled,
         |  0.709 * 64 * 64 / (SUM(1.0 / (1::BIGINT << CAST(max_rho AS INT))) + (64 - COUNT(*)))
         |    AS est_distinct
         |FROM regs GROUP BY event_type ORDER BY event_type""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      graft.operators.ApproxDistinct
        .approxDistinct(t.events, Seq("event_type"), "user_id", corrected = false)
        .orderBy("event_type")
    }
  )

  /** Rolling 7-day distinct users from DAILY HLL REGISTERS — the
    * sketch-algebra rollup: persist m rows per day, answer any
    * trailing window by max-merging 7 register sets, never rescanning
    * history (the mergeRegisters property, used in anger). Each daily
    * register row is exploded to the 7 windows it feeds, then
    * max-merged per (window, bucket). The estimate sum is over exact
    * powers of two, so it is order-insensitive in binary64 and the
    * whole pipeline replays bit-exact (td12's raw-estimator caveat
    * applies: no ln() correction).
    */
  val td31RollingDistinct = Query(
    "td31_rolling_distinct", {
      val fold = foldSql("CAST(user_id AS VARCHAR)")
      Some(
        s"""WITH h0 AS (
           |  SELECT CAST(ts AS DATE) AS day, $fold AS u0
           |  FROM events WHERE user_id IS NOT NULL),
           |h AS (SELECT day, ${fmixSql("u0")} AS u FROM h0),
           |regs AS (
           |  SELECT day, u % 64 AS bucket,
           |    MAX(LEAST(40, CASE WHEN u // 64 = 0 THEN 59
           |                       ELSE 59 - length(bin(CAST(u // 64 AS BIGINT))) END)) AS max_rho
           |  FROM h GROUP BY day, u % 64),
           |bounds AS (SELECT MAX(day) AS hi FROM regs),
           |exp AS (SELECT day + CAST(i AS INT) AS day, bucket, max_rho
           |        FROM regs, UNNEST(range(0, 7)) t(i)),
           |roll AS (SELECT day, bucket, MAX(max_rho) AS max_rho FROM exp, bounds
           |         WHERE day <= hi GROUP BY day, bucket)
           |SELECT day, COUNT(*) AS n_filled,
           |  0.709 * 64 * 64 / (SUM(1.0 / (1::BIGINT << CAST(max_rho AS INT))) + (64 - COUNT(*)))
           |    AS est_distinct
           |FROM roll GROUP BY day ORDER BY day""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val regs = graft.operators.ApproxDistinct.hllRegisters(
        t.events.withColumn("day", col("ts").cast("date")), Seq("day"), "user_id")
      val bounds = regs.agg(max("day").as("hi"))
      val rolled = regs
        .select(col("day"), col("bucket"), col("max_rho"),
          explode(sequence(lit(0), lit(6))).as("i"))
        .select(date_add(col("day"), col("i")).as("day"), col("bucket"), col("max_rho"))
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("hi"))
        .groupBy("day", "bucket")
        .agg(max("max_rho").as("max_rho"))
      graft.operators.ApproxDistinct
        .hllEstimate(rolled, Seq("day"), corrected = false)
        .orderBy("day")
    }
  )

  /** BM25-shaped retrieval scoring (k1=1.2, b=0.75) for a fixed query
    * term set: saturated tf with document-length normalization times a
    * RATIONAL Robertson idf ((N−df+0.5)/(df+0.5) — no ln, same policy
    * as td11). avgdl is exact (integer sum / count, one division),
    * every per-term score is one fixed chain of IEEE ops, and the
    * per-document total folds in FIXED TERM ORDER through the
    * `ordered_pair_sum` kernel — a plain SUM of the term scores would
    * be aggregation-order-dependent and break the exact oracle.
    */
  val td32Bm25 = Query(
    "td32_bm25",
    Some("""WITH toks AS (SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS tok
            |             FROM documents),
            |dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
            |avgdl AS (SELECT CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
            |n AS (SELECT COUNT(*) AS n_docs FROM documents),
            |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
            |       WHERE tok IN ('data', 'spark', 'query') GROUP BY doc_id, tok),
            |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
            |scored AS (
            |  SELECT tf.doc_id,
            |    CASE tf.tok WHEN 'data' THEN 0 WHEN 'spark' THEN 1 ELSE 2 END AS ti,
            |    -- 2.2::DOUBLE, not the decimal literal: DuckDB would multiply
            |    -- tf * DECIMAL(2,1) exactly and round once, while the engine
            |    -- multiplies two doubles — off by an ulp for some tf
            |    (((tf.tf * 2.2::DOUBLE)
            |        / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.len / avgdl.avgdl))))
            |      * (CAST(n.n_docs - df.df AS DOUBLE) + 0.5)) / (df.df + 0.5) AS s
            |  FROM tf JOIN dl USING (doc_id), avgdl, n JOIN df ON tf.tok = df.tok),
            |agg AS (
            |  SELECT doc_id, COUNT(*) AS n_terms,
            |    list_reduce(list_prepend(0.0, list(s ORDER BY ti)), (a, x) -> a + x) AS bm25
            |  FROM scored GROUP BY doc_id)
            |SELECT doc_id, n_terms, bm25 FROM agg
            |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      TextAnalysis.bm25Scores(t.documents, "doc_id", "text", Seq("data", "spark", "query"))
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(20)
    }
  )

  /** Exact rolling 7-day distinct users — td31's ground truth. Same
    * window expansion (each event feeds 7 trailing windows) but a true
    * COUNT(DISTINCT): the cost difference is the point — this shuffles
    * every (day, user) pair, the sketch ships 64 registers/day.
    * OperatorsSpec bounds td31's estimate against this.
    */
  val td34RollingExact = Query(
    "td34_rolling_exact",
    Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events
            |          WHERE user_id IS NOT NULL),
            |bounds AS (SELECT MAX(day) AS hi FROM d),
            |exp AS (SELECT day + CAST(i AS INT) AS day, user_id
            |        FROM d, UNNEST(range(0, 7)) t(i)),
            |w AS (SELECT day, user_id FROM exp, bounds WHERE day <= hi)
            |SELECT day, COUNT(DISTINCT user_id) AS n_users
            |FROM w GROUP BY day ORDER BY day""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val d = t.events.filter(col("user_id").isNotNull)
        .select(col("ts").cast("date").as("day"), col("user_id"))
      val bounds = d.agg(max("day").as("hi"))
      d.select(explode(sequence(lit(0), lit(6))).as("i"), col("day"), col("user_id"))
        .select(date_add(col("day"), col("i")).as("day"), col("user_id"))
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("hi"))
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("day")
    }
  )

  /** Per-document character-distribution diversity (Simpson index,
    * distinct code points, top-char ratio) — a repetition/padding
    * quality signal computed MAP-ONLY by the native
    * [[graft.functions.CharDiversityExpr]] kernel (one pass per doc
    * inside whole-stage codegen; no per-character explode/shuffle, so
    * the 100 TB shape is a scan+project). The oracle re-derives the
    * same values the heavy way (per-char unnest + group) with the Σp²
    * fold in ascending code-point order — rational arithmetic only
    * (house rule: no cross-engine transcendentals), so the compare is
    * bit-exact.
    */
  val td35CharDiversity = Query(
    "td35_char_diversity",
    Some("""WITH ch AS (SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS x
            |           FROM documents WHERE LENGTH(text) > 0),
            |c AS (SELECT doc_id, ord(x) AS cp, CAST(COUNT(*) AS DOUBLE) AS cnt
            |      FROM ch GROUP BY doc_id, ord(x)),
            |t AS (SELECT doc_id, SUM(cnt) AS n, MAX(cnt) AS mx,
            |             CAST(COUNT(*) AS DOUBLE) AS nd
            |      FROM c GROUP BY doc_id),
            |s AS (SELECT c.doc_id,
            |        list_reduce(list_prepend(0.0::DOUBLE,
            |          list((cnt / n) * (cnt / n) ORDER BY cp)), (a, b) -> a + b) AS sq
            |      FROM c JOIN t USING (doc_id) GROUP BY c.doc_id, t.n)
            |SELECT d.doc_id,
            |  COALESCE(1.0 - s.sq, 0.0) AS simpson,
            |  CAST(COALESCE(t.nd, 0.0) AS INT) AS n_distinct,
            |  COALESCE(t.mx / t.n, 0.0) AS top_ratio
            |FROM documents d
            |LEFT JOIN t USING (doc_id) LEFT JOIN s ON d.doc_id = s.doc_id
            |ORDER BY d.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      graft.functions.CharDiversity.register(spark)
      // coalesce: the kernel is null-preserving, but the oracle's LEFT
      // JOIN form yields the empty-string zeros for a NULL text — keep
      // both sides on the zeros if the generator ever emits NULLs
      val d = graft.functions.CharDiversity(coalesce(col("text"), lit("")))
      t.documents
        .select(col("doc_id"), d.as("div"))
        .select(
          col("doc_id"),
          element_at(col("div"), 1).as("simpson"),
          element_at(col("div"), 2).cast("int").as("n_distinct"),
          element_at(col("div"), 3).as("top_ratio"))
        .orderBy("doc_id")
    }
  )

  /** Token-budget subset selection: keep the highest-lexical-diversity
    * documents until a 20k-token budget is spent — the "train on the
    * best N tokens" pipeline step. The oracle is the naive
    * un-partitioned window cumsum (`SUM OVER (ORDER BY ttr DESC,
    * doc_id)`); the engine side is [[graft.operators.Packing
    * .budgetSelect]] — range-sort + per-partition offsets, no global
    * single-task window — and integral costs make every cumulative sum
    * exact, so the two forms compare bit-identically.
    */
  val td36BudgetSelect = Query(
    "td36_budget_select",
    Some("""WITH t AS (
            |  SELECT doc_id,
            |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
            |         ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_tokens,
            |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0
            |         ELSE CAST(LEN(list_distinct(regexp_split_to_array(TRIM(text), '\s+'))) AS DOUBLE)
            |              / LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS ttr
            |  FROM documents),
            |s AS (SELECT doc_id, n_tokens,
            |        SUM(n_tokens) OVER (ORDER BY ttr DESC, doc_id) AS cum
            |      FROM t)
            |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
            |  CAST(cum AS BIGINT) AS cum_tokens
            |FROM s WHERE cum <= 20000 ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val trimmed = trim(col("text"))
      val toks = when(length(trimmed) === 0, lit(0))
        .otherwise(size(split(trimmed, "\\s+")))
      val ttr = when(length(trimmed) === 0, lit(0.0))
        .otherwise(size(array_distinct(split(trimmed, "\\s+"))).cast("double") /
          size(split(trimmed, "\\s+")))
      val scored = t.documents.select(col("doc_id"), toks.as("n_tokens"), ttr.as("ttr"))
      graft.operators.Packing.budgetSelect(scored, "doc_id", "n_tokens", "ttr", 20000L)
        .select(col("doc_id"), col("cost").as("n_tokens"), col("cum").as("cum_tokens"))
        .orderBy("doc_id")
    }
  )

  /** Deterministic negative sampling for contrastive training: each
    * vector gets k pseudo-random negatives, `neg = fmix64(hash("id_j"))
    * mod N` with a +1 self-collision bump — reproducible across runs
    * and partitionings because the "randomness" is the same mixed hash
    * the sketches use (and the oracle replays it in HUGEINT). Scale
    * shape: a map-only expansion (k rows per vector, no shuffle) plus
    * ONE equi-join on `neg_id` to attach the negative's metadata —
    * never a cross join or per-row sampling loop. Requires dense ids
    * 0..N−1 (the generator's contract for `embeddings.vec_id`).
    */
  val td37NegativeSamples = Query(
    "td37_negative_samples", {
      val fold = foldSql("CONCAT(vec_id, '_', j)")
      Some(
        s"""WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
           |k AS (SELECT vec_id, i AS j FROM embeddings, UNNEST(range(1, 4)) t(i)),
           |h0 AS (SELECT vec_id, j, ($fold) AS u0 FROM k),
           |h AS (SELECT vec_id, j, ${fmixSql("u0")} AS u FROM h0),
           |sgn AS (SELECT vec_id, j, ${toSignedSql("u")} AS s FROM h),
           |m AS (SELECT vec_id, j,
           |        CAST(((s % cnt) + cnt) % cnt AS BIGINT) AS neg0 FROM sgn, n),
           |x AS (SELECT vec_id, j,
           |        CASE WHEN neg0 = vec_id THEN (neg0 + 1) % cnt ELSE neg0 END AS neg_id
           |      FROM m, n)
           |SELECT x.vec_id, x.j, x.neg_id, e.label AS neg_label
           |FROM x JOIN embeddings e ON e.vec_id = x.neg_id
           |ORDER BY x.vec_id, x.j""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      graft.functions.MixedHash64.register(spark)
      val n = t.embeddings.agg(count(lit(1)).as("cnt"))
      val expanded = t.embeddings.select(col("vec_id"))
        .crossJoin(broadcast(n))
        .select(col("vec_id"), explode(sequence(lit(1L), lit(3L))).as("j"), col("cnt"))
      val h = graft.functions.MixedHash64(
        concat(col("vec_id").cast("string"), lit("_"), col("j").cast("string")))
      val neg0 = pmod(h, col("cnt"))
      val withNeg = expanded.select(col("vec_id"), col("j"),
        when(neg0 === col("vec_id"), pmod(neg0 + 1, col("cnt"))).otherwise(neg0).as("neg_id"))
      withNeg
        .join(t.embeddings.select(col("vec_id").as("neg_id"), col("label").as("neg_label")),
          "neg_id")
        .select("vec_id", "j", "neg_id", "neg_label")
        .orderBy("vec_id", "j")
    }
  )

  /** Deterministic epoch shuffle + sharding: each document's (shard,
    * position) for an epoch comes from the mixed hash of
    * `"ep{epoch}_{doc_id}"` — a different but fully reproducible order
    * every epoch, the way a training loader reshuffles between passes
    * without any stateful RNG. Scale shape: hash + pmod are map-only;
    * the position rank is a window PARTITIONED BY (epoch, shard), so
    * ranking parallelizes across shards (the shard count is the
    * parallelism knob — there is no global ordering anywhere).
    */
  val td38EpochShuffle = Query(
    "td38_epoch_shuffle", {
      val fold = foldSql("CONCAT('ep', epoch, '_', doc_id)")
      Some(
        s"""WITH k AS (SELECT doc_id, e AS epoch FROM documents, UNNEST(range(0, 2)) t(e)),
           |h0 AS (SELECT doc_id, epoch, ($fold) AS u0 FROM k),
           |hm AS (SELECT doc_id, epoch, ${fmixSql("u0")} AS u FROM h0),
           |s AS (SELECT doc_id, epoch, ${toSignedSql("u")} AS h FROM hm),
           |sh AS (SELECT doc_id, epoch, h, ((h % 8) + 8) % 8 AS shard FROM s)
           |SELECT epoch, shard, doc_id,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id) AS INT) AS pos
           |FROM sh ORDER BY epoch, shard, pos""".stripMargin)
    },
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      graft.functions.MixedHash64.register(spark)
      val base = t.documents.select(col("doc_id"),
        explode(sequence(lit(0L), lit(1L))).as("epoch"))
      val h = graft.functions.MixedHash64(
        concat(lit("ep"), col("epoch").cast("string"), lit("_"), col("doc_id").cast("string")))
      val sharded = base.select(col("doc_id"), col("epoch"), h.as("h"))
        .withColumn("shard", pmod(col("h"), lit(8L)))
      val w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
      sharded
        .withColumn("pos", row_number().over(w))
        .select("epoch", "shard", "doc_id", "pos")
        .orderBy("epoch", "shard", "pos")
    }
  )

  /** Benchmark-contamination check (decontamination shape): fraction
    * of each training document's word 5-grams that appear anywhere in
    * a "benchmark" document set (stand-in: every 50th doc). One gram
    * explode + one semi-join on the 8-byte gram hash — the standard
    * scalable containment test.
    */
  val td13Contamination = Query(
    "td13_contamination",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |g AS (SELECT DISTINCT doc_id,
            |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
            |      FROM words, UNNEST(range(1, LEN(w) - 3)) AS t(i)),
            |bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 50 = 0),
            |train AS (SELECT doc_id, s FROM g WHERE doc_id % 50 <> 0),
            |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
            |hit AS (SELECT doc_id, COUNT(*) AS n_hits FROM train
            |        WHERE s IN (SELECT s FROM bench) GROUP BY doc_id)
            |SELECT tot.doc_id AS doc_id, n_grams, COALESCE(n_hits, 0) AS n_hits,
            |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / n_grams AS contamination
            |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
            |ORDER BY tot.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val grams = t.documents
        .select(col("doc_id"),
          explode(graft.functions.Sketches.gramXxHashesCol(col("text"), 5)).as("h"))
      val bench = grams.filter(col("doc_id") % 50 === 0).select("h").distinct()
      val train = grams.filter(col("doc_id") % 50 =!= 0)
      val tot = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val hit = train.join(bench, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      tot.join(hit, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_grams")).as("contamination"))
        .orderBy("doc_id")
    }
  )

  /** Deterministic stratified sampling (data-mixing shape): per-source
    * sampling rates applied via a hash threshold on the document id —
    * reproducible across runs/partitions (unlike rand()-based
    * sample()), and the SQL oracle replays the identical hash.
    */
  val td14StratifiedSample = Query(
    "td14_stratified_sample", {
      // pmod over the SIGNED value (2^64 % 1000 != 0, so unsigned-mod
      // and signed-pmod disagree — convert before bucketing). The fold
      // is staged through a MATERIALIZED CTE: fmixSql inlines its
      // argument ~36x and DuckDB re-substitutes inlined single-use
      // CTEs, so an un-staged fold is folded 36x per row (see x32).
      val signed = toSignedSql("u")
      Some(
        s"""WITH h0 AS MATERIALIZED (
           |  SELECT doc_id, source, ${foldSql("CAST(doc_id AS VARCHAR)")} AS u0
           |  FROM documents),
           |h1 AS MATERIALIZED (
           |  SELECT doc_id, source, ${fmixSql("u0")} AS u FROM h0),
           |h AS (
           |  SELECT doc_id, source, ((($signed) % 1000) + 1000) % 1000 AS b
           |  FROM h1)
           |SELECT doc_id, source FROM h
           |WHERE b < CASE source WHEN 'src0' THEN 900 WHEN 'src1' THEN 500 ELSE 100 END
           |ORDER BY doc_id""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val bucket = pmod(graft.functions.MixedHash64(col("doc_id").cast("string")), lit(1000L))
      val rate = when(col("source") === "src0", 900)
        .when(col("source") === "src1", 500)
        .otherwise(100)
      t.documents
        .filter(bucket < rate)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }
  )

  /** Sliding event-time windows (1h window, 30m slide) — the
    * Structured Streaming windowed-aggregation shape run in batch
    * (identical semantics; StreamingSpec proves stream/batch agreement
    * for the tumbling case). Each event lands in exactly two windows;
    * the oracle expands them via UNNEST of the two aligned starts.
    */
  val st02SlidingWindow = Query(
    "st02_sliding_window",
    Some("""WITH e AS (
            |  SELECT UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
            |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS win_start,
            |    event_type, value
            |  FROM events)
            |SELECT win_start, event_type, COUNT(*) AS n,
            |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            |FROM e GROUP BY win_start, event_type
            |ORDER BY win_start, event_type""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.events
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    }
  )

  /** Term salience (TF-IDF shape): top-3 terms per document by
    * tf × (N+1)/(df+1). The idf is kept RATIONAL (no log): every part
    * is integer-exact and the single double division is IEEE-identical
    * in both engines, so the oracle compares bits, not tolerances.
    */
  val td11Tfidf = Query(
    "td11_tfidf",
    Some("""WITH toks AS (
            |  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS term
            |  FROM documents),
            |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
            |       GROUP BY doc_id, term),
            |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks WHERE term <> ''
            |       GROUP BY term),
            |n AS (SELECT COUNT(*) AS n_docs FROM documents),
            |scored AS (
            |  SELECT tf.doc_id, tf.term,
            |    CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (df.df + 1) AS score
            |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
            |SELECT doc_id, term, score, CAST(r AS INT) AS rank FROM (
            |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS r
            |  FROM scored) WHERE r <= 3 ORDER BY doc_id, rank""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val toks = t.documents
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val n = t.documents.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(df, "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          ((col("tf") * (col("n_docs") + 1)).cast("double") / (col("df") + 1)).as("score"))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "term", "score", "rank")
        .orderBy("doc_id", "rank")
    }
  )

  /** Count-Min sketch heavy hitters: top-20 terms by exact count,
    * with the sketch estimate alongside (min over d=4 row counters,
    * always ≥ exact; the gap is deterministic collision error at
    * w=128). The oracle replays every counter: same prefixed
    * mixed-hash positions in HUGEINT, integer sums throughout.
    */
  val td15HeavyHitters = Query(
    "td15_heavy_hitters", {
      val (d, w) = (4, 128)
      val fold = foldSql("('cm' || CAST(r AS VARCHAR) || ':' || term)")
      Some(
        s"""WITH toks AS (
           |  SELECT UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS term FROM documents),
           |tf AS (SELECT term, COUNT(*) AS n FROM toks WHERE term <> '' GROUP BY term),
           |ph0 AS (SELECT term, n, r, $fold AS u0 FROM tf, range($d) t(r)),
           |ph1 AS (SELECT term, n, r, ${fmixSql("u0")} AS u FROM ph0),
           |ph AS (SELECT term, n, r, ((${toSignedSql("u")} % $w) + $w) % $w AS pos FROM ph1),
           |counters AS (SELECT r, pos, CAST(SUM(n) AS BIGINT) AS c FROM ph GROUP BY r, pos),
           |est AS (
           |  SELECT ph.term, MAX(ph.n) AS n, MIN(counters.c) AS cm_estimate
           |  FROM ph JOIN counters ON ph.r = counters.r AND ph.pos = counters.pos
           |  GROUP BY ph.term)
           |SELECT term, CAST(n AS BIGINT) AS exact_count, cm_estimate
           |FROM est ORDER BY exact_count DESC, term LIMIT 20""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      graft.operators.Frequency.heavyHitters(t.documents, "text", d = 4, w = 128, topK = 20)
    }
  )

  /** Bloom-filter decontamination (constant-memory variant of td13):
    * benchmark 5-grams compressed into a 65,536-bit filter that ships
    * as a broadcast literal; training docs probe it map-only — no
    * join against the benchmark set. The oracle rebuilds the filter
    * as a position set and replays the double-hash probes, so even
    * the false positives match bit-for-bit.
    */
  val td16BloomContamination = Query(
    "td16_bloom_contamination", {
      val (mBits, nk) = (65536, 5)
      val tweakU = BigInt("9e3779b97f4a7c15", 16)
      Some(
        s"""WITH words AS (
           |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS w FROM documents),
           |g AS (
           |  SELECT DISTINCT doc_id,
           |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
           |  FROM words, UNNEST(range(1, LEN(w) - 3)) AS t(i)),
           |gh0 AS (SELECT doc_id, s, ${foldSql("s")} AS u0 FROM g),
           |gh AS (SELECT doc_id, s, ${fmixSql("u0")} AS h1,
           |  ${fmixSql(s"xor(u0, $tweakU::HUGEINT)")} AS h2 FROM gh0),
           |pos AS (
           |  SELECT doc_id, s, i, (h1 + i * h2) % $mBits AS pos
           |  FROM gh, range($nk) t(i)),
           |benchpos AS (SELECT DISTINCT pos FROM pos WHERE doc_id % 50 = 0),
           |hitg AS (
           |  SELECT doc_id, s FROM pos WHERE doc_id % 50 <> 0 GROUP BY doc_id, s
           |  HAVING COUNT(CASE WHEN pos IN (SELECT pos FROM benchpos) THEN 1 END) = $nk),
           |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g WHERE doc_id % 50 <> 0
           |        GROUP BY doc_id),
           |hits AS (SELECT doc_id, COUNT(*) AS n_maybe FROM hitg GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(tot.n_grams, 0) AS n_grams,
           |  COALESCE(hits.n_maybe, 0) AS n_maybe,
           |  CASE WHEN COALESCE(tot.n_grams, 0) > 0
           |    THEN CAST(COALESCE(hits.n_maybe, 0) AS DOUBLE) / tot.n_grams
           |    ELSE 0.0 END AS hit_ratio
           |FROM documents d
           |LEFT JOIN tot ON d.doc_id = tot.doc_id
           |LEFT JOIN hits ON d.doc_id = hits.doc_id
           |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val bench = t.documents.filter(col("doc_id") % 50 === 0)
      val filter = graft.operators.Bloom.buildFilter(
        bench, "text", k = 5, numHashes = 5, mBits = 65536)
      t.documents
        .filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"),
          graft.operators.Bloom.probe(col("text"), filter, 5, 5, 65536).as("b"))
        .select(col("doc_id"), col("b.n_grams").as("n_grams"), col("b.n_maybe").as("n_maybe"))
        .withColumn("hit_ratio",
          when(col("n_grams") > 0, col("n_maybe").cast("double") / col("n_grams"))
            .otherwise(lit(0.0)))
        .orderBy("doc_id")
    }
  )

  /** SimHash banded near-dup join (Manku et al.): 4×16-bit bands →
    * equi-join candidates → popcount verify at Hamming ≤ 3. The
    * oracle replays the sketch AND the banding/verify chain.
    */
  val dd08SimHashPairs = Query(
    "dd08_simhash_pairs",
    Some(
      s"""WITH $simhashCtes,
         |sk AS (SELECT doc_id, ${toSignedSql("u2")} AS s FROM agg),
         |banded AS (
         |  SELECT doc_id, b, (s >> CAST(16 * b AS INT)) & 65535 AS key
         |  FROM sk, range(4) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM banded a JOIN banded b2
         |    ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa.s, sb.s)) AS INT) AS hamming
         |FROM cand JOIN sk sa ON id_a = sa.doc_id JOIN sk sb ON id_b = sb.doc_id
         |WHERE bit_count(xor(sa.s, sb.s)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.simHashPairs(t.documents, "doc_id", "text", maxHamming = 3),
        "id_a", "id_b")
    }
  )

  /** Two-level SimHash near-dup (the duplicate-multiplicity-proof
    * form of dd08): identical sketches collapse into classes BEFORE
    * the banded join, so the join is quadratic in distinct sketches,
    * not documents — Σ implied_pairs reproduces dd08's pair count
    * exactly while emitting O(classes) rows. This is the path that
    * stays linear on this corpus at sf10, where dd08's doc-level
    * pair output itself grows ~110× per 10× of data (replica
    * multiplicity²; see NOTES round 8).
    */
  val dd19SimhashClasses = Query(
    "dd19_simhash_classes",
    Some(
      s"""WITH $simhashCtes,
         |sk AS (SELECT doc_id, ${toSignedSql("u2")} AS s FROM agg),
         |cls AS MATERIALIZED (SELECT s, MIN(doc_id) AS rep, COUNT(*) AS m FROM sk GROUP BY s),
         |banded AS MATERIALIZED (
         |  SELECT s, rep, m, b, (s >> CAST(16 * b AS INT)) & 65535 AS key
         |  FROM cls, range(4) t(b)),
         |cand AS (
         |  SELECT DISTINCT a.rep AS rep_a, b2.rep AS rep_b, a.s AS s_a, b2.s AS s_b,
         |    a.m AS size_a, b2.m AS size_b
         |  FROM banded a JOIN banded b2
         |    ON a.b = b2.b AND a.key = b2.key AND a.rep < b2.rep),
         |cross_pairs AS (
         |  SELECT rep_a, rep_b, CAST(bit_count(xor(s_a, s_b)) AS INT) AS hamming,
         |    size_a, size_b, CAST(size_a * size_b AS BIGINT) AS implied_pairs
         |  FROM cand WHERE bit_count(xor(s_a, s_b)) <= 3),
         |self_pairs AS (
         |  SELECT rep AS rep_a, rep AS rep_b, 0 AS hamming, m AS size_a, m AS size_b,
         |    CAST(m * (m - 1) // 2 AS BIGINT) AS implied_pairs
         |  FROM cls WHERE m >= 2)
         |SELECT * FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM self_pairs)
         |ORDER BY rep_a, rep_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.simHashClassPairs(t.documents, "doc_id", "text", maxHamming = 3),
        "rep_a", "rep_b")
    }
  )

  /** Approximate quantiles via deterministic hash sampling: a 10%
    * sample keyed on mixed_hash64(o_orderkey) — reproducible across
    * runs AND replayable in the oracle (unlike rand()-based
    * approx_percentile), then exact percentiles on the sample. The
    * scale path for "good-enough quantiles without a full sort".
    */
  val td18SampledQuantiles = Query(
    "td18_sampled_quantiles", {
      val fold = foldSql("CAST(o_orderkey AS VARCHAR)")
      val signed = toSignedSql(s"(${fmixSql(s"($fold)")})")
      Some(
        s"""WITH s AS (
           |  SELECT o_orderpriority, o_totalprice FROM orders
           |  WHERE (($signed % 100) + 100) % 100 < 10)
           |SELECT o_orderpriority, COUNT(*) AS n_sample,
           |  PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50_est,
           |  PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_est
           |FROM s GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      t.orders
        .filter(pmod(graft.functions.MixedHash64(col("o_orderkey").cast("string")),
          lit(100L)) < 10)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_sample"),
          expr("percentile(o_totalprice, 0.5)").as("p50_est"),
          expr("percentile(o_totalprice, 0.9)").as("p90_est"))
        .orderBy("o_orderpriority")
    }
  )

  /** Vocabulary OOV ratio (deterministic sibling of LM-perplexity
    * quality filtering): share of a document's tokens outside the
    * corpus vocabulary (terms seen ≥ 20 times).
    */
  val td17OovRatio = Query(
    "td17_oov_ratio",
    Some("""WITH toks AS (
            |  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS term
            |  FROM documents),
            |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
            |vocab AS (SELECT term FROM t2 GROUP BY term HAVING COUNT(*) >= 20),
            |tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM t2 GROUP BY doc_id),
            |oov AS (SELECT doc_id, COUNT(*) AS n_oov FROM t2
            |        WHERE term NOT IN (SELECT term FROM vocab) GROUP BY doc_id)
            |SELECT d.doc_id, COALESCE(tot.n_tokens, 0) AS n_tokens,
            |  COALESCE(oov.n_oov, 0) AS n_oov,
            |  CASE WHEN COALESCE(tot.n_tokens, 0) > 0
            |    THEN CAST(COALESCE(oov.n_oov, 0) AS DOUBLE) / tot.n_tokens
            |    ELSE 0.0 END AS oov_ratio
            |FROM documents d
            |LEFT JOIN tot ON d.doc_id = tot.doc_id
            |LEFT JOIN oov ON d.doc_id = oov.doc_id
            |ORDER BY d.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      graft.operators.Frequency
        .oovRatio(t.documents, "doc_id", "text", minCount = 20L)
        .orderBy("doc_id")
    }
  )

  /** Sequence packing (pretraining batch prep): greedy fill of
    * 512-token bins per source shard, docs in id order. Packing is
    * sequential per shard, parallel ACROSS shards
    * (`operators.Packing`); the oracle replays the greedy scan with a
    * recursive CTE.
    */
  val td19SequencePack = Query(
    "td19_sequence_pack",
    Some("""WITH RECURSIVE t AS (
            |  SELECT source, doc_id,
            |    CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
            |         ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS INT) AS n_tokens,
            |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
            |  FROM documents),
            |packed AS (
            |  SELECT source, doc_id, n_tokens, rn,
            |    0 AS bin_id, 0 AS bin_offset, n_tokens AS fill
            |  FROM t WHERE rn = 1
            |  UNION ALL
            |  SELECT t.source, t.doc_id, t.n_tokens, t.rn,
            |    CASE WHEN p.fill + t.n_tokens <= 512 THEN p.bin_id ELSE p.bin_id + 1 END,
            |    CASE WHEN p.fill + t.n_tokens <= 512 THEN p.fill ELSE 0 END,
            |    CASE WHEN p.fill + t.n_tokens <= 512 THEN p.fill + t.n_tokens
            |         ELSE t.n_tokens END
            |  FROM packed p JOIN t ON t.source = p.source AND t.rn = p.rn + 1)
            |SELECT source AS grp, doc_id, n_tokens,
            |  CAST(bin_id AS INT) AS bin_id, CAST(bin_offset AS INT) AS bin_offset
            |FROM packed ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val toks = t.documents.select(
        col("source").as("group"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Packing.packSequences(toks, capacity = 512)
        .toDF()
        .select(col("group").as("grp"), col("doc_id"), col("n_tokens"),
          col("bin_id"), col("bin_offset"))
        .orderBy("doc_id")
    }
  )

  /** Embedding int8 quantization audit: per-vector scale, probe codes
    * at dims 1/32/64, and the squared reconstruction error (left-fold
    * from 0.0 — same association both engines). Bit-exact: scale,
    * codes, and error all replay in SQL.
    */
  val td20Int8Quantize = Query(
    "td20_int8_quantize",
    Some("""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM b),
            |q AS (SELECT vec_id, v, scale,
            |  list_transform(v, x -> CASE WHEN scale > 0
            |    THEN ROUND(x * 127.0 / scale) ELSE 0.0 END) AS qv
            |  FROM s)
            |SELECT vec_id, scale,
            |  CAST(qv[1] AS INT) AS q1, CAST(qv[32] AS INT) AS q32, CAST(qv[64] AS INT) AS q64,
            |  ROUND(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
            |    i -> (v[CAST(i AS INT)] - qv[CAST(i AS INT)] * scale / 127.0) *
            |         (v[CAST(i AS INT)] - qv[CAST(i AS INT)] * scale / 127.0))),
            |    (a, x) -> a + x), 6) AS recon_err
            |FROM q ORDER BY vec_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val (scale, q, err) = Similarity.int8Quantize(col("embedding"))
      t.embeddings
        .select(col("vec_id"), scale, q.as("qv"), round(err, 6).as("recon_err"))
        .select(col("vec_id"), col("scale"),
          element_at(col("qv"), 1).cast("int").as("q1"),
          element_at(col("qv"), 32).cast("int").as("q32"),
          element_at(col("qv"), 64).cast("int").as("q64"),
          col("recon_err"))
        .orderBy("vec_id")
    }
  )

  /** Character-class distribution (alpha/digit/space/other/upper
    * shares) — the cheap non-linguistic quality signal (binary junk,
    * tables, code have distinctive profiles). Integer counts, single
    * exact divisions.
    */
  val td21CharClass = Query(
    "td21_charclass",
    Some("""WITH c AS (SELECT doc_id, LENGTH(text) AS n,
            |  LEN(regexp_extract_all(text, '[A-Za-z]')) AS a,
            |  LEN(regexp_extract_all(text, '[0-9]')) AS d,
            |  LEN(regexp_extract_all(text, '\s')) AS s,
            |  LEN(regexp_extract_all(text, '[A-Z]')) AS u
            |FROM documents)
            |SELECT doc_id, CAST(n AS INT) AS n_chars,
            |  CASE WHEN n > 0 THEN CAST(a AS DOUBLE) / n ELSE 0.0 END AS alpha_ratio,
            |  CASE WHEN n > 0 THEN CAST(d AS DOUBLE) / n ELSE 0.0 END AS digit_ratio,
            |  CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / n ELSE 0.0 END AS space_ratio,
            |  CASE WHEN n > 0 THEN CAST(n - a - d - s AS DOUBLE) / n ELSE 0.0 END AS other_ratio,
            |  CASE WHEN a > 0 THEN CAST(u AS DOUBLE) / a ELSE 0.0 END AS upper_share
            |FROM c ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val n = length(col("text"))
      val a = regexp_count(col("text"), lit("[A-Za-z]"))
      val d = regexp_count(col("text"), lit("[0-9]"))
      val s = regexp_count(col("text"), lit("\\s"))
      val u = regexp_count(col("text"), lit("[A-Z]"))
      def ratio(x: org.apache.spark.sql.Column) =
        when(n > 0, x.cast("double") / n).otherwise(lit(0.0))
      t.documents
        .select(col("doc_id"), n.cast("int").as("n_chars"),
          ratio(a).as("alpha_ratio"), ratio(d).as("digit_ratio"),
          ratio(s).as("space_ratio"), ratio(n - a - d - s).as("other_ratio"),
          when(a > 0, u.cast("double") / a).otherwise(lit(0.0)).as("upper_share"))
        .orderBy("doc_id")
    }
  )

  /** The composite quality gate as a catalog decision table: every
    * document with its keep/reject verdict and first-failing reason
    * (Gopher/RefinedWeb-style rule filter,
    * `TextAnalysis.qualityFilter`). Thresholds chosen to bite on this
    * corpus (short docs + high-repetition docs both occur).
    */
  val td22QualityGate = Query(
    "td22_quality_gate",
    Some("""WITH w AS (SELECT doc_id, text,
            |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
            |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS toks
            |FROM documents),
            |f AS (SELECT doc_id,
            |  LEN(toks) AS n_tokens,
            |  CASE WHEN LEN(toks) > 0
            |    THEN 1.0 - CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks)
            |    ELSE 0.0 END AS rep,
            |  CASE WHEN LENGTH(text) > 0
            |    THEN CAST(LEN(regexp_extract_all(text, '[\.,;:!\?]')) AS DOUBLE) / LENGTH(text)
            |    ELSE 0.0 END AS punct
            |FROM w)
            |SELECT doc_id,
            |  CASE WHEN n_tokens < 25 THEN 'too_short'
            |       WHEN n_tokens > 1000000 THEN 'too_long'
            |       WHEN rep > 0.65 THEN 'repetitive'
            |       WHEN punct > 0.3 THEN 'punctuation' END AS reject_reason,
            |  CASE WHEN n_tokens < 25 THEN 'too_short'
            |       WHEN n_tokens > 1000000 THEN 'too_long'
            |       WHEN rep > 0.65 THEN 'repetitive'
            |       WHEN punct > 0.3 THEN 'punctuation' END IS NULL AS kept
            |FROM f ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val (kept, rejected) = TextAnalysis.qualityFilter(t.documents, col("text"),
        TextAnalysis.QualityThresholds(
          minTokens = 25, maxTokens = 1000000,
          maxRepetitionRatio = 0.65, maxPunctRatio = 0.3))
      kept
        .select(col("doc_id"), lit(null).cast("string").as("reject_reason"),
          lit(true).as("kept"))
        .unionByName(rejected.select(col("doc_id"), col("reject_reason"),
          lit(false).as("kept")))
        .orderBy("doc_id")
    }
  )

  /** KMV (k-minimum-values / theta sketch) cross-source overlap:
    * per source keep the k=64 smallest distinct document hashes
    * (UNSIGNED order — Spark sorts by h XOR Long.MinValue, which is
    * exactly HUGEINT order in the oracle); the Jaccard estimate of
    * two sources is the share of the union's k smallest that sit in
    * both sketches. Constant sketch per source regardless of corpus
    * size — the standard audience-overlap / cross-shard dedup
    * estimator. Bit-exact: integer counts, one division.
    */
  val td23KmvOverlap = Query(
    "td23_kmv_overlap", {
      val fold = foldSql("text")
      val k = 64
      Some(
        s"""WITH h AS (
           |  SELECT DISTINCT source, ${fmixSql(s"($fold)")} AS u FROM documents),
           |sk AS (
           |  SELECT source, u FROM (
           |    SELECT source, u, ROW_NUMBER() OVER (PARTITION BY source ORDER BY u) AS rn
           |    FROM h) WHERE rn <= $k),
           |pr AS (SELECT a.source AS src_a, b.source AS src_b
           |       FROM (SELECT DISTINCT source FROM sk) a
           |       JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
           |uni0 AS (
           |  SELECT DISTINCT pr.src_a, pr.src_b, s.u
           |  FROM pr JOIN sk s ON s.source = pr.src_a OR s.source = pr.src_b),
           |uni AS (
           |  SELECT src_a, src_b, u FROM (
           |    SELECT src_a, src_b, u,
           |      ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY u) AS rn
           |    FROM uni0) WHERE rn <= $k),
           |usz AS (SELECT src_a, src_b, COUNT(*) AS n_union FROM uni GROUP BY src_a, src_b),
           |common AS (
           |  SELECT uni.src_a, uni.src_b, COUNT(*) AS n_common
           |  FROM uni
           |  JOIN sk sa ON sa.source = uni.src_a AND sa.u = uni.u
           |  JOIN sk sb ON sb.source = uni.src_b AND sb.u = uni.u
           |  GROUP BY uni.src_a, uni.src_b)
           |SELECT pr.src_a, pr.src_b, COALESCE(n_common, 0) AS n_common,
           |  CAST(COALESCE(n_common, 0) AS DOUBLE) / usz.n_union AS est_jaccard
           |FROM pr
           |JOIN usz ON pr.src_a = usz.src_a AND pr.src_b = usz.src_b
           |LEFT JOIN common ON pr.src_a = common.src_a AND pr.src_b = common.src_b
           |ORDER BY pr.src_a, pr.src_b""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val k = 64
      // unsigned order in signed LongType: flip the sign bit
      val uord = expr("u ^ -9223372036854775808")
      val h = t.documents
        .select(col("source"), graft.functions.MixedHash64(col("text")).as("u"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy(uord)
      val sk = h.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select("source", "u").localCheckpoint()
      val srcs = sk.select("source").distinct()
      val pr = srcs.as("a").join(srcs.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      val uni = pr
        .join(sk.as("s"), col("s.source") === col("src_a") || col("s.source") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("s.u").as("u"))
        .distinct()
      val wu = org.apache.spark.sql.expressions.Window
        .partitionBy("src_a", "src_b").orderBy(uord)
      val uniK = uni.withColumn("rn", row_number().over(wu)).filter(col("rn") <= k)
      val usz = uniK.groupBy("src_a", "src_b").agg(count(lit(1)).as("n_union"))
      val common = uniK
        .join(sk.select(col("source").as("src_a"), col("u")), Seq("src_a", "u"))
        .join(sk.select(col("source").as("src_b"), col("u")), Seq("src_b", "u"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
      // divide by the kept union size (= min(k, |union|)): identical to
      // /k when the union saturates the sketch, and EXACT jaccard when
      // the sketches cover the whole universe
      pr.join(usz, Seq("src_a", "src_b"))
        .join(common, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          (coalesce(col("n_common"), lit(0L)).cast("double") / col("n_union"))
            .as("est_jaccard"))
        .orderBy("src_a", "src_b")
    }
  )

  /** Temperature-based data mixing (multilingual rebalancing): the
    * per-language sampling rate is DERIVED from corpus statistics —
    * rate ∝ sqrt(n_lang)/sqrt(n_max) (α=0.5 temperature), so
    * high-resource languages are downsampled relative to the rest —
    * then applied with the same deterministic hash-threshold sampling
    * as td14. sqrt is correctly-rounded per IEEE-754 and each derived
    * value is one op on identical inputs, so rates are bit-identical
    * cross-engine; the oracle replays hash, rates, and filter exactly.
    */
  val td24MixWeights = Query(
    "td24_mix_weights", {
      val fold = foldSql("CAST(doc_id AS VARCHAR)")
      val signed = toSignedSql(s"(${fmixSql(s"($fold)")})")
      Some(
        s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
           |m AS (SELECT MAX(n) AS nmax FROM c),
           |r AS (SELECT lang,
           |        CAST(FLOOR(1000.0 * (SQRT(CAST(n AS DOUBLE)) / SQRT(CAST(nmax AS DOUBLE)))) AS BIGINT) AS rate
           |      FROM c, m),
           |h AS (SELECT doc_id, lang, (($signed % 1000) + 1000) % 1000 AS b FROM documents)
           |SELECT h.doc_id, h.lang, r.rate
           |FROM h JOIN r USING (lang) WHERE h.b < r.rate
           |ORDER BY doc_id""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val docs = t.documents
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val rates = counts
        .crossJoin(broadcast(counts.agg(max("n").as("nmax"))))
        .select(col("lang"),
          floor(lit(1000.0) * (sqrt(col("n").cast("double")) / sqrt(col("nmax").cast("double"))))
            .cast("long").as("rate"))
      val bucket = pmod(graft.functions.MixedHash64(col("doc_id").cast("string")), lit(1000L))
      docs
        .join(broadcast(rates), "lang")
        .filter(bucket < col("rate"))
        .select("doc_id", "lang", "rate")
        .orderBy("doc_id")
    }
  )

  /** Corpus-internal boilerplate detection (the CCNet/RefinedWeb
    * shape): a bigram appearing in ≥5% of all documents is
    * boilerplate; each document is scored by the fraction of its
    * distinct bigrams that are boilerplate. Unlike td04's fixed
    * stopword list, the common-phrase set is LEARNED from the corpus
    * itself (one df aggregation). The threshold compares integers
    * (df·20 ≥ n_docs) — no float cutoff to drift. Grams join on the
    * 8-byte xxhash (fixed-width shuffle keys); the oracle joins on
    * the gram strings, identical counts absent 64-bit collisions.
    */
  val td25Boilerplate = Query(
    "td25_boilerplate",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |grams AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS g
            |          FROM words, UNNEST(range(1, LEN(w))) t(i)),
            |n AS (SELECT COUNT(*) AS n_docs FROM documents),
            |df AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
            |bpg AS (SELECT g FROM df, n WHERE df * 20 >= n_docs),
            |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
            |hit AS (SELECT doc_id, COUNT(*) AS n_bp FROM grams JOIN bpg USING (g) GROUP BY doc_id)
            |SELECT t.doc_id, n_grams, COALESCE(n_bp, 0) AS n_bp,
            |  CAST(COALESCE(n_bp, 0) AS DOUBLE) / n_grams AS bp_ratio
            |FROM tot t LEFT JOIN hit USING (doc_id)
            |ORDER BY t.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val docs = t.documents
      val grams = docs
        .select(col("doc_id"),
          explode(graft.functions.Sketches.gramXxHashesCol(col("text"), 2)).as("h"))
        .localCheckpoint()
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val bpg = grams.groupBy("h").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") * 20 >= col("n_docs"))
        .select("h")
      val tot = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val hit = grams.join(bpg, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_bp"))
      tot.join(hit, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_bp"), lit(0L)).as("n_bp"),
          (coalesce(col("n_bp"), lit(0L)).cast("double") / col("n_grams")).as("bp_ratio"))
        .orderBy("doc_id")
    }
  )

  /** Per-source contribution cap: keep at most 20 documents per
    * source, chosen by HASH RANK (row_number over (mixed_hash64(id),
    * id)) — an unbiased, reproducible downsample that needs no
    * randomness state, unlike rand()-based limits. The standard
    * "no domain dominates the mix" curation step; td14/td24 scale
    * rates, this caps absolute counts.
    */
  val td33SourceCap = Query(
    "td33_source_cap", {
      val fold = foldSql("CAST(doc_id AS VARCHAR)")
      val signed = toSignedSql(s"(${fmixSql(s"($fold)")})")
      Some(
        s"""WITH h AS (SELECT doc_id, source, $signed AS hv FROM documents),
           |r AS (SELECT doc_id, source,
           |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS INT) AS rk
           |      FROM h)
           |SELECT doc_id, source, rk FROM r WHERE rk <= 20
           |ORDER BY doc_id""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(graft.functions.MixedHash64(col("doc_id").cast("string")), col("doc_id"))
      t.documents
        .select(col("doc_id"), col("source"),
          row_number().over(w).cast("int").as("rk"))
        .filter(col("rk") <= 20)
        .orderBy("doc_id")
    }
  )

  /** Prefix-filtered exact Jaccard join ([[Dedup.setSimPairs]]'s
    * prefix route, forced by `maxFanout = 0`): candidates come from joining
    * only each document's rarest-first gram PREFIX (the PPJoin bound)
    * instead of every posting — the scale path for exact similarity
    * self-joins at high thresholds. The oracle is the plain
    * full-join formulation at the same threshold: equal output IS the
    * correctness claim (the filter must be lossless).
    */
  val dd10PrefixJaccard = Query(
    "dd10_prefix_jaccard",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            |       FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
            |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
            |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_common
            |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
            |SELECT id_a, id_b, n_common,
            |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
            |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
            |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
            |ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.setSimPairs(t.documents, "doc_id", "text", Dedup.Jaccard, threshold = 0.5,
          k = 3, maxFanout = 0L),
        "id_a", "id_b")
    }
  )

  /** Semantic dedup, SemDeDup-style ([[Similarity.semanticDedup]]):
    * cluster the embedding space (the ss03 deterministic Lloyd, one
    * iteration), then drop any vector whose cluster holds a smaller-id
    * neighbor above the cosine threshold — within-cluster pairs only,
    * ~1/k of the dd04 all-pairs cost. The oracle replays the full
    * Lloyd chain AND the pair scan: clustering, dots, norms, rounding,
    * keeper choice, all bit-exact.
    */
  val ss06SemanticDedup = Query(
    "ss06_semantic_dedup", {
      val dim = 64
      def dot(a: String, b: String) = ivfDotSql(dim)(a, b)
      val (idxCtes, _) = ivfIdxCtes(dim, k = 16, iters = 1)
      Some(
        s"""WITH $idxCtes,
           |pairs AS (
           |  SELECT a.id AS id_a, b.id AS id_b,
           |    ROUND(${dot("a.v", "b.v")} /
           |          (SQRT(${dot("a.v", "a.v")}) * SQRT(${dot("b.v", "b.v")})), 4) AS sim
           |  FROM idx a JOIN idx b ON a.c = b.c AND a.id < b.id)
           |SELECT id_b AS removed_id, MIN(id_a) AS kept_id, MAX(sim) AS max_sim,
           |  COUNT(*) AS n_dups
           |FROM pairs WHERE sim >= 0.35
           |GROUP BY id_b ORDER BY removed_id""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      Similarity
        .semanticDedup(t.embeddings, "vec_id", "embedding", k = 16, iters = 1, threshold = 0.35)
        .orderBy("removed_id")
    }
  )

  /** Lexical diversity (type/token + hapax ratios): low-diversity
    * documents (template spam, keyword stuffing) score near 0. Pure
    * integer counts; the two ratios are single exact divisions.
    */
  val td26LexicalDiversity = Query(
    "td26_lexical_diversity",
    Some("""WITH toks AS (SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS tok
            |             FROM documents),
            |cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
            |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
            |        COUNT(*) FILTER (WHERE c = 1) AS n_hapax FROM cnt GROUP BY doc_id)
            |SELECT doc_id, n_tokens, n_types, n_hapax,
            |  CAST(n_types AS DOUBLE) / n_tokens AS ttr,
            |  CAST(n_hapax AS DOUBLE) / n_tokens AS hapax_ratio
            |FROM agg ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.documents
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          count(when(col("c") === 1, 1)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
          (col("n_hapax").cast("double") / col("n_tokens")).as("hapax_ratio"))
        .orderBy("doc_id")
    }
  )

  /** Percentile-band length filter: reject documents outside the
    * corpus's own [p5, p95] token-length band — the data-driven form
    * of in03's fixed length policy. Exact interpolated percentiles
    * (x02 parity), broadcast to a single filter pass.
    */
  val td27LengthBand = Query(
    "td27_length_band",
    Some("""WITH n AS (SELECT doc_id, LEN(regexp_split_to_array(TRIM(text), '\s+')) AS n_tokens
            |          FROM documents),
            |b AS (SELECT PERCENTILE_CONT(0.05) WITHIN GROUP (ORDER BY n_tokens) AS lo,
            |             PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY n_tokens) AS hi FROM n)
            |SELECT doc_id, n_tokens, lo, hi
            |FROM n, b WHERE n_tokens < lo OR n_tokens > hi
            |ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val n = t.documents
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val b = n.agg(
        expr("percentile(n_tokens, 0.05)").as("lo"),
        expr("percentile(n_tokens, 0.95)").as("hi"))
      n.crossJoin(broadcast(b))
        .filter(col("n_tokens") < col("lo") || col("n_tokens") > col("hi"))
        .orderBy("doc_id")
    }
  )

  /** Deterministic train/val/test split (80/10/10): the split is a
    * pure function of the document id's hash, so it is reproducible
    * across runs, engines, and partitionings, and any two pipelines
    * agree on membership without coordination — the property rand()
    * splits lack. Replayed exactly by the oracle.
    */
  val td28SplitAssign = Query(
    "td28_split_assign", {
      val fold = foldSql("CAST(doc_id AS VARCHAR)")
      val signed = toSignedSql(s"(${fmixSql(s"($fold)")})")
      Some(
        s"""WITH h AS (SELECT doc_id, (($signed % 100) + 100) % 100 AS b FROM documents)
           |SELECT doc_id,
           |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |FROM h ORDER BY doc_id""".stripMargin)
    },
    (spark, dir) => {
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val b = pmod(graft.functions.MixedHash64(col("doc_id").cast("string")), lit(100L))
      t.documents
        .select(col("doc_id"),
          when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    }
  )

  /** Sliding-window document chunking (RAG / context-window prep):
    * 32-token chunks on a 24-token stride (8 overlap), last chunk
    * truncated at the document end. Chunk count and spans are pure
    * integer arithmetic; the text slice is replayed verbatim. The
    * GREATEST(,0) guard also absorbs the engines' differing negative
    * integer-division conventions (truncate vs floor) for short docs.
    */
  val td29Chunking = Query(
    "td29_chunking",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |chunks AS (
            |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
            |    CAST(CAST(i AS INT) * 24 + 1 AS INT) AS tok_start,
            |    CAST(LEAST(CAST(i AS INT) * 24 + 32, LEN(w)) AS INT) AS tok_end,
            |    array_to_string(w[(CAST(i AS INT)*24 + 1):LEAST(CAST(i AS INT)*24 + 32, LEN(w))], ' ') AS chunk_text
            |  FROM words, UNNEST(range(0, GREATEST((LEN(w) - 32 + 23) // 24, 0) + 1)) t(i)
            |  WHERE CAST(i AS INT) * 24 + 1 <= LEN(w))
            |SELECT doc_id, chunk_idx, tok_start, tok_end, chunk_text FROM chunks
            |ORDER BY doc_id, chunk_idx""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val (size_, stride) = (32, 24)
      t.documents
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"), col("w"),
          // (len-9)/24 truncates toward zero vs DuckDB's floor — the
          // GREATEST(,0) guard makes the two agree (negatives only
          // arise for len<9, where both normalize to 0)
          explode(sequence(lit(0),
            greatest(((org.apache.spark.sql.functions.size(col("w")) - size_ + stride - 1)
              / stride).cast("int"), lit(0)))).as("chunk_idx"))
        .filter(col("chunk_idx") * stride + 1 <= org.apache.spark.sql.functions.size(col("w")))
        .select(col("doc_id"), col("w"), col("chunk_idx"),
          (col("chunk_idx") * stride + 1).cast("int").as("tok_start"),
          least(col("chunk_idx") * stride + size_,
            org.apache.spark.sql.functions.size(col("w"))).cast("int").as("tok_end"))
        .withColumn("chunk_text",
          array_join(slice(col("w"), col("tok_start"),
            col("tok_end") - col("tok_start") + 1), " "))
        .drop("w")
        .orderBy("doc_id", "chunk_idx")
    }
  )

  /** Vocabulary induction: frequency-ranked token table with a
    * min-count floor — the word-level tokenizer-training shape (id 1 =
    * most frequent; ties broken lexically). The global ranking window
    * is fine HERE because a vocabulary is small by construction; the
    * corpus-wide counting underneath is the distributed part.
    */
  val td30VocabBuild = Query(
    "td30_vocab_build",
    Some("""WITH toks AS (SELECT UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS tok
            |             FROM documents),
            |cnt AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok)
            |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS INT) AS token_id, tok, n
            |FROM cnt WHERE n >= 5 ORDER BY token_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      // r14 (VERDICT r13 item 2): the global row_number window pushed
      // the whole filtered vocabulary through ONE task; ranks now come
      // from the distributed range-partition + offset fold
      // (operators.Ranks). (n DESC, tok) is unique, so token ids are
      // identical to the window form. The ranked frame is partition-
      // major in rank order, so sortWithinPartitions yields the global
      // ORDER BY token_id with no further exchange.
      val cnt = t.documents
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
      val (ranked, _) = graft.operators.Ranks.withGlobalRank(
        cnt, "__rank", Seq(col("n").desc, col("tok").asc))
      ranked
        .select(col("__rank").cast("int").as("token_id"), col("tok"), col("n"))
        .sortWithinPartitions("token_id")
    }
  )

  /** Asymmetric containment near-dup ([[Dedup.setSimPairs]] with
    * [[Dedup.Containment]], all-pairs route):
    * catches a short document embedded in a longer one, which Jaccard
    * structurally misses (td06 at the same corpus finds only the
    * symmetric pairs). Both directions reported; filter on the max.
    */
  val dd09Containment = Query(
    "dd09_containment_pairs",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            |       FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
            |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
            |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_common
            |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
            |SELECT id_a, id_b, n_common,
            |  CAST(n_common AS DOUBLE) / sa.n AS cont_a,
            |  CAST(n_common AS DOUBLE) / sb.n AS cont_b
            |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
            |WHERE GREATEST(CAST(n_common AS DOUBLE) / sa.n, CAST(n_common AS DOUBLE) / sb.n) >= 0.5
            |ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.setSimPairs(t.documents, "doc_id", "text", Dedup.Containment, threshold = 0.5,
          k = 3, maxFanout = Long.MaxValue),
        "id_a", "id_b")
    }
  )

  /** Size-GATED exact Jaccard ([[Dedup.setSimPairs]]' gate, VERDICT
    * r12 item 1): the engine measures the all-shingle self-join's
    * fan-out first (Σ n_h², one narrow pass) and routes oversized
    * corpora through the prefix-filtered form instead. `maxFanout = 0`
    * here FORCES the over-cap route, so the green oracle row is the
    * proof that the gate's reroute is exact — the SQL is the plain
    * all-pairs ground truth at the same threshold, identical to what
    * the under-cap route must produce. OperatorsSpec's size-gate test
    * covers the routing itself (both branches + the loud threshold-0
    * refusal).
    */
  val dd22GatedJaccard = Query(
    "dd22_gated_jaccard",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            |       FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
            |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
            |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_common
            |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
            |SELECT id_a, id_b, n_common,
            |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
            |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
            |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
            |ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.setSimPairs(t.documents, "doc_id", "text", Dedup.Jaccard, threshold = 0.5,
          k = 3, maxFanout = 0L),
        "id_a", "id_b")
    }
  )

  /** Size-GATED exact containment ([[Dedup.setSimPairs]] with
    * [[Dedup.Containment]]) — dd22's asymmetric sibling. The over-cap
    * route is the containment prefix route: prefixes are pruned against the
    * SMALLER side of each pair (a qualifying pair must share a gram in
    * the smaller doc's rarest-first prefix), joined against full
    * postings, then exact-verified. `maxFanout = 0` forces that route;
    * the oracle is dd09's plain all-pairs containment SQL, so a green
    * row proves the prefix bound loses nothing.
    */
  val dd23GatedContainment = Query(
    "dd23_gated_containment",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            |       FROM words, UNNEST(range(1, LEN(w) - 1)) AS t(i)),
            |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
            |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_common
            |          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
            |SELECT id_a, id_b, n_common,
            |  CAST(n_common AS DOUBLE) / sa.n AS cont_a,
            |  CAST(n_common AS DOUBLE) / sb.n AS cont_b
            |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
            |WHERE GREATEST(CAST(n_common AS DOUBLE) / sa.n, CAST(n_common AS DOUBLE) / sb.n) >= 0.5
            |ORDER BY id_a, id_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Dedup.setSimPairs(t.documents, "doc_id", "text", Dedup.Containment, threshold = 0.5,
          k = 3, maxFanout = 0L),
        "id_a", "id_b")
    }
  )

  /** Duplicate-span detection (exact-substring dedup shape, Lee et
    * al. 2021) over 10-word windows: per doc, merged spans of windows
    * that occur more than once anywhere in the corpus. The Spark side
    * matches windows on xxhash64 (8-byte shuffle keys); the oracle
    * groups the window strings themselves, so the hash-equality
    * shortcut is verified against true string equality end to end.
    */
  val dd12SpanDedup = Query(
    "dd12_span_dedup",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |d AS (SELECT doc_id, CAST(LEN(w) AS INT) AS n, w FROM words WHERE LEN(w) >= 10),
            |g AS (SELECT doc_id, n, CAST(i AS INT) AS pos,
            |        list_aggregate(w[i:i+9], 'string_agg', ' ') AS s
            |      FROM d, UNNEST(range(1, n - 8)) t(i)),
            |dup AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) > 1),
            |m AS (SELECT doc_id, n, pos FROM g JOIN dup USING (s)),
            |fl AS (SELECT doc_id, n, pos,
            |         CASE WHEN pos > COALESCE(MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
            |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000000) + 9
            |              THEN 1 ELSE 0 END AS f
            |       FROM m),
            |isl AS (SELECT doc_id, n, pos,
            |         SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
            |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            |       FROM fl),
            |sp AS (SELECT doc_id, n, island, MIN(pos) AS s0, MAX(pos) + 9 AS e0
            |       FROM isl GROUP BY doc_id, n, island)
            |SELECT doc_id, n AS n_words, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
            |  CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_words,
            |  CAST(SUM(e0 - s0 + 1) AS DOUBLE) / n AS dup_ratio
            |FROM sp GROUP BY doc_id, n ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Dedup.duplicateSpans(t.documents, "doc_id", "text", w = 10).orderBy("doc_id")
    }
  )

  /** Duplicate-span REMOVAL (the actionable form of dd12): cut every
    * merged duplicated 10-word-window span and re-emit the surviving
    * words. Output covers ALL documents (whitespace-normalized text;
    * unflagged docs pass through whole), so the oracle also verifies
    * the pass-through path and the fully-duplicated → empty edge.
    */
  val dd13SpanRemoval = Query(
    "dd13_span_removal",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |d AS (SELECT doc_id, CAST(LEN(w) AS INT) AS n, w FROM words),
            |dw AS (SELECT doc_id, n, w FROM d WHERE n >= 10),
            |g AS (SELECT doc_id, CAST(i AS INT) AS pos,
            |        list_aggregate(w[i:i+9], 'string_agg', ' ') AS s
            |      FROM dw, UNNEST(range(1, n - 8)) t(i)),
            |dup AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) > 1),
            |m AS (SELECT doc_id, pos FROM g JOIN dup USING (s)),
            |fl AS (SELECT doc_id, pos,
            |         CASE WHEN pos > COALESCE(MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
            |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000000) + 9
            |              THEN 1 ELSE 0 END AS f
            |       FROM m),
            |isl AS (SELECT doc_id, pos,
            |         SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
            |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            |       FROM fl),
            |sp AS (SELECT doc_id, island, MIN(pos) AS s0, MAX(pos) + 9 AS e0
            |       FROM isl GROUP BY doc_id, island),
            |pos AS (SELECT doc_id, n, i AS p, w[i] AS word
            |        FROM d, UNNEST(range(1, n + 1)) t(i)),
            |kept AS (SELECT doc_id, p, word FROM pos
            |         WHERE NOT EXISTS (SELECT 1 FROM sp
            |                           WHERE sp.doc_id = pos.doc_id
            |                             AND pos.p BETWEEN sp.s0 AND sp.e0)),
            |agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS kept_words,
            |          string_agg(word, ' ' ORDER BY p) AS cleaned_text
            |        FROM kept GROUP BY doc_id)
            |SELECT d.doc_id, d.n AS n_words,
            |  COALESCE(kept_words, 0) AS kept_words,
            |  COALESCE(cleaned_text, '') AS cleaned_text
            |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
            |ORDER BY d.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Dedup.removeDupSpans(t.documents, "doc_id", "text", w = 10).orderBy("doc_id")
    }
  )

  /** Deterministic weighted priority sampling: top-100 documents by
    * `n_tokens / u` with u the hash-derived uniform in (0,1] — the
    * weighted corpus-subsampling primitive (Duffield–Lund–Thorup).
    * u's construction keeps every value exactly representable, so
    * priority is IEEE-identical across engines and the oracle pins
    * the full double, not a rounding.
    */
  val td39PrioritySample = Query(
    "td39_priority_sample", {
      val fold = foldSql("CONCAT('ps', CAST(doc_id AS VARCHAR))")
      Some(
        s"""WITH h0 AS MATERIALIZED (SELECT doc_id, text, ($fold) AS u0 FROM documents),
           |h1 AS MATERIALIZED (SELECT doc_id, text, ${fmixSql("u0")} AS u64 FROM h0),
           |t AS (SELECT doc_id,
           |        CASE WHEN strlen(TRIM(text)) = 0 THEN CAST(0 AS DOUBLE)
           |             ELSE CAST(LEN(regexp_split_to_array(TRIM(text), '\\s+')) AS DOUBLE)
           |        END AS weight,
           |        CAST(u64 % 9007199254740992::HUGEINT + 1 AS DOUBLE)
           |          / CAST(9007199254740992 AS DOUBLE) AS u
           |      FROM h1)
           |SELECT doc_id, weight, weight / u AS priority
           |FROM t ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val trimmed = trim(col("text"))
      val toks = when(length(trimmed) === 0, lit(0))
        .otherwise(size(split(trimmed, "\\s+")))
      val scored = t.documents.select(col("doc_id"), toks.as("n_tokens"))
      graft.operators.Packing.prioritySample(scored, "doc_id", "n_tokens", k = 100, seed = "ps")
    }
  )

  /** Distributed BPE merge training: the first 8 learned merge rules
    * over the corpus vocabulary (the trained-tokenizer artifact the
    * bpeish proxy in td03 stands in for). The oracle replays every
    * round — pair count, argmax with lexicographic tie-break, leftmost
    * non-overlapping rewrite — as a chained CTE per merge, so the
    * whole training trajectory is engine-exact, not just the final
    * table.
    */
  val td40BpeMerges = Query(
    "td40_bpe_merges", {
      val k = 8
      val sb = new StringBuilder
      sb ++= """WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
               |  FROM (SELECT UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS word
               |        FROM documents)
               |  WHERE word <> '' GROUP BY word),
               |s0 AS MATERIALIZED (SELECT freq,
               |  list_aggregate(regexp_split_to_array(word, ''), 'string_agg', ' ') AS sym
               |  FROM w)""".stripMargin
      // every stage MATERIALIZED: s_i is referenced by both p_{i+1}
      // and s_{i+1}, so DuckDB's single-use CTE inlining would blow
      // the chain up 2^k-fold (the x32/td14 lesson)
      for (i <- 1 to k) {
        val prev = s"s${i - 1}"
        sb ++= s""",
                  |p$i AS MATERIALIZED (SELECT s[i] || ' ' || s[i+1] AS pair, SUM(freq) AS cnt
                  |  FROM (SELECT freq, regexp_split_to_array(sym, ' ') AS s FROM $prev),
                  |       UNNEST(range(1, LEN(s))) t(i)
                  |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
        if (i < k)
          sb ++= s""",
                    |s$i AS MATERIALIZED (SELECT freq, REPLACE(sym, (SELECT pair FROM p$i),
                    |  REPLACE((SELECT pair FROM p$i), ' ', '')) AS sym FROM $prev)""".stripMargin
      }
      sb ++= "\n" + (1 to k).map(i =>
        s"SELECT CAST($i AS INT) AS step, pair, REPLACE(pair, ' ', '') AS merged, " +
          s"CAST(cnt AS BIGINT) AS cnt FROM p$i").mkString("", "\nUNION ALL\n", "\nORDER BY step")
      Some(sb.toString)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      TextAnalysis.bpeMerges(t.documents, "text", k = 8).orderBy("step")
    }
  )

  /** BPE segmentation with the td40-trained merges: per-doc word and
    * subword counts after applying all 8 merge rules in training
    * order. Train + apply together make the tokenizer story
    * end-to-end engine-exact: the oracle re-derives the merges with
    * td40's CTE chain and applies them inside a list_transform lambda
    * capturing the merge scalars.
    */
  val td41BpeSegment = Query(
    "td41_bpe_segment", {
      val k = 8
      val sb = new StringBuilder
      sb ++= """WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
               |  FROM (SELECT UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS word
               |        FROM documents)
               |  WHERE word <> '' GROUP BY word),
               |s0 AS MATERIALIZED (SELECT freq,
               |  list_aggregate(regexp_split_to_array(word, ''), 'string_agg', ' ') AS sym
               |  FROM w)""".stripMargin
      for (i <- 1 to k) {
        val prev = s"s${i - 1}"
        sb ++= s""",
                  |p$i AS MATERIALIZED (SELECT s[i] || ' ' || s[i+1] AS pair, SUM(freq) AS cnt
                  |  FROM (SELECT freq, regexp_split_to_array(sym, ' ') AS s FROM $prev),
                  |       UNNEST(range(1, LEN(s))) t(i)
                  |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
        if (i < k)
          sb ++= s""",
                    |s$i AS MATERIALIZED (SELECT freq, REPLACE(sym, (SELECT pair FROM p$i),
                    |  REPLACE((SELECT pair FROM p$i), ' ', '')) AS sym FROM $prev)""".stripMargin
      }
      // one row of merge scalars, captured by the segmentation lambda
      sb ++= s""",
                |mg AS MATERIALIZED (SELECT ${(1 to k).map(i =>
                  s"(SELECT pair FROM p$i) AS p${i}p, " +
                  s"(SELECT REPLACE(pair, ' ', '') FROM p$i) AS p${i}m").mkString(", ")}),
                |d2 AS (SELECT doc_id,
                |  list_filter(regexp_split_to_array(TRIM(text), '\\s+'), wd -> wd <> '') AS ws
                |  FROM documents)""".stripMargin
      val applied = (1 to k).foldLeft(
        "list_aggregate(regexp_split_to_array(wd, ''), 'string_agg', ' ')") {
        (acc, i) => s"REPLACE($acc, p${i}p, p${i}m)"
      }
      sb ++= s"""
                |SELECT doc_id, CAST(LEN(ws) AS INT) AS n_words,
                |  CAST(COALESCE(list_aggregate(
                |    list_transform(ws, wd -> LEN(regexp_split_to_array($applied, ' '))),
                |    'sum'), 0) AS INT) AS n_subwords
                |FROM d2 CROSS JOIN mg ORDER BY doc_id""".stripMargin
      Some(sb.toString)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val m = TextAnalysis.bpeMerges(t.documents, "text", k = 8).orderBy("step")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeSegmentCounts(t.documents, "doc_id", "text", m).orderBy("doc_id")
    }
  )

  /** Gopher repetition filters: duplicate n-gram fraction and
    * top-n-gram fraction per (document, n) for n ∈ {2,3}. The engine
    * counts grams by their 8-byte xxhash64 (the dd12 kernel — nothing
    * wider than (id, n, hash) shuffles); the oracle counts the TRUE
    * gram strings, so the hash-equality shortcut is itself verified.
    * All-doc coverage: documents shorter than n words carry zeros.
    */
  val td42DupNgrams = Query(
    "td42_dup_ngrams", {
      val perN = Seq(2, 3).map { n =>
        s"""SELECT doc_id, $n AS n, list_aggregate(w[i:i+${n - 1}], 'string_agg', ' ') AS s
           |  FROM d, UNNEST(range(1, nw - ${n - 2})) t(i) WHERE nw >= $n""".stripMargin
      }.mkString("\nUNION ALL\n")
      Some(
        s"""WITH w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS w
           |           FROM documents),
           |d AS (SELECT doc_id, CAST(LEN(w) AS INT) AS nw, w FROM w),
           |g AS (
           |$perN
           |),
           |cnt AS (SELECT doc_id, n, s, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
           |st AS (SELECT doc_id, n, SUM(c) AS n_grams,
           |         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
           |         MAX(c) AS top_cnt
           |       FROM cnt GROUP BY 1, 2),
           |shell AS (SELECT doc_id, n FROM documents, UNNEST([2, 3]) t(n))
           |SELECT shell.doc_id, CAST(shell.n AS INT) AS n,
           |  CAST(COALESCE(n_grams, 0) AS INT) AS n_grams,
           |  CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0::DOUBLE
           |       ELSE CAST(dup_occ AS DOUBLE) / n_grams END AS dup_frac,
           |  CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0::DOUBLE
           |       ELSE CAST(top_cnt AS DOUBLE) / n_grams END AS top_frac
           |FROM shell LEFT JOIN st USING (doc_id, n)
           |ORDER BY doc_id, n""".stripMargin)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      TextAnalysis.dupNgramStats(t.documents, "doc_id", "text", Seq(2, 3))
        .orderBy("doc_id", "n")
    }
  )

  /** CCNet-shaped bigram-LM quality score: add-one-smoothed transition
    * probabilities from the corpus's own unigram/bigram counts, mean
    * per document. No ln() anywhere (the td11/td32 rational policy)
    * and the per-doc total folds in position order through
    * `ordered_pair_sum`, so the oracle replays every double exactly.
    */
  val td43BigramLm = Query(
    "td43_bigram_lm",
    Some("""WITH w AS (SELECT doc_id,
            |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
            |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS toks
            |FROM documents),
            |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS w1, toks[i+1] AS w2
            |        FROM w, UNNEST(range(1, LEN(toks))) t(i)),
            |uni AS (SELECT toks[i] AS w1, COUNT(*) AS c1
            |        FROM w, UNNEST(range(1, LEN(toks) + 1)) t(i) GROUP BY 1),
            |big AS (SELECT w1, w2, COUNT(*) AS c2 FROM tok GROUP BY 1, 2),
            |v AS (SELECT COUNT(*) AS vsz FROM uni),
            |sc AS (SELECT tok.doc_id, tok.pos,
            |         CAST(c2 + 1 AS DOUBLE) / (c1 + vsz) AS p
            |       FROM tok JOIN big USING (w1, w2) JOIN uni USING (w1), v),
            |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
            |          list_reduce(list_prepend(0.0, list(p ORDER BY pos)),
            |                      (a, x) -> a + x) AS sum_p
            |        FROM sc GROUP BY doc_id)
            |SELECT d.doc_id, CAST(COALESCE(n_bigrams, 0) AS INT) AS n_bigrams,
            |  COALESCE(sum_p, 0.0) AS sum_p,
            |  CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0::DOUBLE
            |       ELSE sum_p / n_bigrams END AS avg_p
            |FROM documents d LEFT JOIN agg USING (doc_id)
            |ORDER BY d.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      TextAnalysis.bigramLmScores(t.documents, "doc_id", "text").orderBy("doc_id")
    }
  )

  /** Quality-aware canonical selection: cluster by the first-8-
    * normalized-words fingerprint (same-opening ⇒ truncation-variant
    * candidates) and keep the longest copy (most tokens, ties →
    * lowest id) instead of dd pipelines' min-id — the policy real
    * corpus cleaning uses, since near-identical copies usually differ
    * by truncation. The integer token-count argmax makes the choice
    * engine-exact.
    */
  val dd14QualityCanonical = Query(
    "dd14_quality_canonical",
    Some("""WITH b AS (SELECT doc_id,
            |    TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
            |                        '\s+', ' ', 'g')) AS norm,
            |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
            |         ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END AS n_toks
            |  FROM documents),
            |k AS (SELECT doc_id, n_toks,
            |    MD5(list_aggregate(regexp_split_to_array(norm, ' ')[1:8],
            |                       'string_agg', ' ')) AS norm_fp
            |  FROM b),
            |r AS (SELECT *,
            |        ROW_NUMBER() OVER (PARTITION BY norm_fp
            |                           ORDER BY n_toks DESC, doc_id) AS rn,
            |        COUNT(*) OVER (PARTITION BY norm_fp) AS n_docs
            |      FROM k)
            |SELECT norm_fp, CAST(n_docs AS INT) AS n_docs,
            |  doc_id AS kept_doc_id, CAST(n_toks AS INT) AS kept_n_tokens
            |FROM r WHERE rn = 1 AND n_docs >= 2 ORDER BY norm_fp""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Dedup.canonicalByQuality(t.documents, "doc_id", "text").orderBy("norm_fp")
    }
  )

  /** Matryoshka-style dimension screening: top-10 cosine neighbours
    * from the 32-dim PREFIX of each 64-dim embedding, scored as
    * recall@10 against the full-dimension top-10 — the measurement
    * that justifies (or vetoes) truncated-vector first-pass search at
    * scale. Overlap counts are integers, so the check is exact even
    * where the two rankings disagree.
    */
  val ss09TruncatedRecall = Query(
    "ss09_truncated_recall",
    Some("""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            |fk AS (SELECT query_id, corpus_id FROM (
            |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
            |        ORDER BY ROUND(list_cosine_similarity(q.v, c.v), 4) DESC, c.vec_id) AS r
            |    FROM b q, b c WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
            |  WHERE r <= 10),
            |hk AS (SELECT query_id, corpus_id FROM (
            |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
            |        ORDER BY ROUND(list_cosine_similarity(q.v[1:32], c.v[1:32]), 4) DESC,
            |                 c.vec_id) AS r
            |    FROM b q, b c WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
            |  WHERE r <= 10),
            |ov AS (SELECT query_id, COUNT(*) AS c
            |       FROM fk JOIN hk USING (query_id, corpus_id) GROUP BY 1)
            |SELECT b.vec_id AS query_id,
            |  CAST(COALESCE(c, 0) AS INT) AS n_overlap,
            |  CAST(COALESCE(c, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall_at_10
            |FROM b LEFT JOIN ov ON b.vec_id = ov.query_id
            |WHERE b.vec_id < 50 ORDER BY query_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val emb = t.embeddings
      val q = emb.filter(col("vec_id") < 50)
      def cut(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, 32))
      val full = Similarity.cosineKnnKernel(emb, q, "vec_id", "embedding", k = 10)
      val half = Similarity.cosineKnnKernel(cut(emb), cut(q), "vec_id", "embedding", k = 10)
      val ov = full.select("query_id", "corpus_id")
        .join(half.select("query_id", "corpus_id"), Seq("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("c"))
      q.select(col("vec_id").as("query_id"))
        .join(ov, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("c"), lit(0L)).cast("int").as("n_overlap"),
          (coalesce(col("c"), lit(0L)).cast("double") / lit(10.0)).as("recall_at_10"))
        .orderBy("query_id")
    }
  )

  /** Corpus-novelty: fraction of each document's distinct 3-grams
    * found in no other document (engine counts 8-byte gram hashes,
    * oracle counts the true gram strings — the dd12 verification
    * shortcut). Integer counts + one division keep it exact.
    */
  val td44NovelNgrams = Query(
    "td44_novel_ngrams",
    Some("""WITH w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS w
            |           FROM documents),
            |d AS (SELECT doc_id, CAST(LEN(w) AS INT) AS nw, w FROM w),
            |g AS (SELECT DISTINCT doc_id, list_aggregate(w[i:i+2], 'string_agg', ' ') AS s
            |      FROM d, UNNEST(range(1, nw - 1)) t(i) WHERE nw >= 3),
            |gl AS (SELECT s, COUNT(*) AS nd FROM g GROUP BY s),
            |st AS (SELECT doc_id, COUNT(*) AS n_grams,
            |         SUM(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS n_novel
            |       FROM g JOIN gl USING (s) GROUP BY doc_id)
            |SELECT d2.doc_id, CAST(COALESCE(n_grams, 0) AS INT) AS n_grams,
            |  CAST(COALESCE(n_novel, 0) AS INT) AS n_novel,
            |  CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0::DOUBLE
            |       ELSE CAST(n_novel AS DOUBLE) / n_grams END AS novelty_frac
            |FROM documents d2 LEFT JOIN st USING (doc_id)
            |ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      TextAnalysis.novelGramStats(t.documents, "doc_id", "text", n = 3).orderBy("doc_id")
    }
  )

  /** Embedding QC: the 20 vectors farthest from their own label's
    * centroid — the mislabeled/corrupt-embedding screen. Centroids
    * are DECIMAL(28,14)-exact per-cell means (the IVF policy), the
    * distance folds dimensions left-associatively in both engines,
    * and ROUND(,4) absorbs the residual ulps, so an inherently
    * floating computation still hash-matches.
    */
  val ss10CentroidOutliers = Query(
    "ss10_centroid_outliers",
    Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            |          FROM embeddings),
            |cells AS (SELECT label, i,
            |    CAST(SUM(CAST(v[i] AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS m
            |  FROM e, UNNEST(range(1, 65)) t(i) GROUP BY label, i),
            |cent AS (SELECT label, list(m ORDER BY i) AS c FROM cells GROUP BY label),
            |d AS (SELECT vec_id, e.label,
            |    ROUND(SQRT(list_reduce(list_prepend(0.0,
            |      list_transform(range(1, 65), i -> (v[i] - c[i]) * (v[i] - c[i]))),
            |      (a, x) -> a + x)), 4) AS dist
            |  FROM e JOIN cent USING (label))
            |SELECT vec_id, label, dist FROM d
            |ORDER BY dist DESC, vec_id LIMIT 20""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Similarity.centroidOutliers(t.embeddings, "vec_id", "embedding", "label", k = 20)
    }
  )

  /** Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    * (Cormack et al., SIGIR 2009): the BM25 top-50 for a fixed term
    * query and the cosine top-50 around a fixed query vector each
    * contribute 1/(60+rank); absence from a list contributes zero.
    * Both candidate lists are k-bounded before the fusion join
    * (TakeOrdered / per-query top-k kernel), so the full-outer join
    * touches ≤ 100 rows however large the corpus. Ranks are integers
    * and the fused score is two IEEE divisions plus one add, so the
    * oracle pins the fusion bit-exactly.
    */
  val ss11RrfFusion = Query(
    "ss11_rrf_fusion",
    Some("""WITH toks AS (SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS tok
            |             FROM documents),
            |dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
            |avgdl AS (SELECT CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
            |n AS (SELECT COUNT(*) AS n_docs FROM documents),
            |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
            |       WHERE tok IN ('data', 'spark', 'query') GROUP BY doc_id, tok),
            |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
            |scored AS (
            |  SELECT tf.doc_id,
            |    CASE tf.tok WHEN 'data' THEN 0 WHEN 'spark' THEN 1 ELSE 2 END AS ti,
            |    (((tf.tf * 2.2::DOUBLE)
            |        / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.len / avgdl.avgdl))))
            |      * (CAST(n.n_docs - df.df AS DOUBLE) + 0.5)) / (df.df + 0.5) AS s
            |  FROM tf JOIN dl USING (doc_id), avgdl, n JOIN df ON tf.tok = df.tok),
            |agg AS (
            |  SELECT doc_id,
            |    list_reduce(list_prepend(0.0, list(s ORDER BY ti)), (a, x) -> a + x) AS bm25
            |  FROM scored GROUP BY doc_id),
            |lex AS (SELECT doc_id AS id, CAST(r AS INT) AS lex_rank FROM (
            |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM agg)
            |  WHERE r <= 50),
            |vec AS (SELECT corpus_id AS id, CAST(r AS INT) AS vec_rank FROM (
            |    SELECT c.vec_id AS corpus_id,
            |      ROW_NUMBER() OVER (ORDER BY
            |        ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
            |                                     CAST(c.embedding AS DOUBLE[])), 4) DESC,
            |        c.vec_id) AS r
            |    FROM embeddings q, embeddings c WHERE q.vec_id = 0 AND c.vec_id <> 0)
            |  WHERE r <= 50),
            |f AS (SELECT COALESCE(l.id, v.id) AS id,
            |        CAST(COALESCE(l.lex_rank, 0) AS INT) AS lex_rank,
            |        CAST(COALESCE(v.vec_rank, 0) AS INT) AS vec_rank,
            |        COALESCE(1.0::DOUBLE / (60 + l.lex_rank), 0.0::DOUBLE)
            |          + COALESCE(1.0::DOUBLE / (60 + v.vec_rank), 0.0::DOUBLE) AS rrf
            |      FROM lex l FULL OUTER JOIN vec v ON l.id = v.id)
            |SELECT id, lex_rank, vec_rank, rrf FROM f
            |ORDER BY rrf DESC, id LIMIT 20""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val lexTop = TextAnalysis
        .bm25Scores(t.documents, "doc_id", "text", Seq("data", "spark", "query"))
        .orderBy(desc("bm25"), asc("doc_id")).limit(50)
        .localCheckpoint() // 50 rows — the rank window below is k-bounded
      val lex = lexTop.select(col("doc_id").as("id"),
        row_number().over(Window.orderBy(desc("bm25"), asc("doc_id"))).as("lex_rank"))
      val vec = Similarity
        .cosineKnnKernel(t.embeddings, t.embeddings.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("corpus_id").as("id"), col("rank").as("vec_rank"))
      lex.join(vec, Seq("id"), "full_outer")
        .select(col("id"),
          coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
          coalesce(col("vec_rank"), lit(0)).as("vec_rank"),
          (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0))).as("rrf"))
        .orderBy(desc("rrf"), asc("id"))
        .limit(20)
    }
  )

  /** Embedding-space clustering via the MUTUAL k-NN graph — the
    * standard density-robust preprocessing for graph clustering: keep
    * edge (a,b) only when a is in b's top-k AND b is in a's, then
    * label nodes by connected component. Hub vectors that appear in
    * everyone's neighbor list don't glue unrelated regions together
    * the way a plain kNN graph lets them. The kNN lists come from the
    * blocked kernel (corpus never broadcast, per-task memory = one
    * block), the mutuality check is an equi-join on the reversed edge
    * over the k-bounded lists (N·k rows, never N²), and components
    * reuse the dd05 machinery. Cosine is symmetric in IEEE terms
    * (dot/(n_a·n_b) — identical doubles both directions), so the
    * mutual join needs no tolerance.
    */
  val ss12MutualKnn = Query(
    "ss12_mutual_knn",
    Some("""WITH RECURSIVE base AS (
            |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            |  WHERE vec_id % 4 = 0),
            |p AS (
            |  SELECT a.id AS qa, b.id AS qb,
            |    ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
            |  FROM base a, base b WHERE a.id <> b.id),
            |r AS (SELECT qa, qb,
            |        ROW_NUMBER() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
            |      FROM p),
            |knn AS (SELECT qa, qb FROM r WHERE rk <= 3),
            |mutual AS (
            |  SELECT x.qa AS a, x.qb AS b FROM knn x
            |  JOIN knn y ON x.qa = y.qb AND x.qb = y.qa WHERE x.qa < x.qb),
            |edges AS (SELECT a AS src, b AS dst FROM mutual
            |          UNION SELECT b, a FROM mutual),
            |deg AS (SELECT src AS id, COUNT(*) AS mutual_degree FROM edges GROUP BY src),
            |nodes AS (SELECT DISTINCT src AS id FROM edges),
            |reach AS (
            |  SELECT id, id AS r FROM nodes
            |  UNION
            |  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id)
            |SELECT reach.id AS vec_id, MIN(reach.r) AS component,
            |  MIN(deg.mutual_degree) AS mutual_degree
            |FROM reach JOIN deg ON reach.id = deg.id
            |GROUP BY reach.id ORDER BY vec_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      // the deterministic %4 slice keeps the DuckDB replay inside an
      // N²-row window it can actually sort (the full-corpus replay
      // overspilled at sf1); the KERNEL is corpus-size-agnostic —
      // blocked, never broadcast — and ss01/dd04 cover its full-N use
      val vecs = t.embeddings.filter(col("vec_id") % 4 === 0)
      val knn = Similarity
        .cosineKnnKernel(vecs, vecs, "vec_id", "embedding", k = 3)
        .select(col("query_id").as("a"), col("corpus_id").as("b"))
        .localCheckpoint() // two consumers below (forward + reversed side)
      val mutual = knn
        .join(knn.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"))
        .filter(col("a") < col("b"))
      val edges = mutual.select(col("a").as("src"), col("b").as("dst"))
        .localCheckpoint() // CC probe + degree both read it
      val deg = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("mutual_degree"))
      graft.operators.Graph.connectedComponents(edges)
        .join(deg, Seq("id"))
        .select(col("id").as("vec_id"), col("component"), col("mutual_degree"))
        .orderBy("vec_id")
    }
  )

  /** Triangle counting + local clustering coefficients over the
    * symmetrized k-NN embedding graph — the third graph-analytics
    * family beside connected components (dd05) and PageRank (x27),
    * and the structural QC for embedding spaces: high clustering =
    * tight semantic neighborhoods, low = hub-dominated noise. The
    * scale trick is DEGREE-ORDERED ORIENTATION (each undirected edge
    * points from its lower-(degree,id) endpoint): every node's
    * out-degree is then O(√m)-bounded, so the wedge self-join on the
    * apex never fans out on hubs the way a naive (a<b) orientation
    * does. Wedges close against the undirected edge set with one more
    * equi-join; each triangle is found exactly once (at its unique
    * minimum-order apex). All counts exact; the clustering
    * coefficient is one IEEE division of exact integers.
    */
  val ss13KnnTriangles = Query(
    "ss13_knn_triangles",
    Some(s"WITH ${exactKnnCtes(k = 5)},\n$triangleSqlAfterKnn"),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val vecs = t.embeddings.filter(col("vec_id") % 4 === 0)
      triangleStats(undFromKnn(
        Similarity.cosineKnnKernel(vecs, vecs, "vec_id", "embedding", k = 5)))
    }
  )

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): per
    * language, split documents into head/middle/tail thirds by
    * bigram-LM predictability (td43's avg_p — higher = more fluent).
    * The tertile cut values come from the buffer-free exact-percentile
    * selection ([[graft.operators.Quantiles.percentiles]], exact
    * PERCENTILE_CONT semantics, no per-group buffers) over the
    * materialized scores, then broadcast back against them: the
    * bucket assignment is a map-side comparison, so the shape
    * survives languages whose document counts dwarf a single task.
    */
  val td45PerplexityBuckets = Query(
    "td45_perplexity_buckets",
    Some("""WITH w AS (SELECT doc_id,
            |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
            |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS toks
            |FROM documents),
            |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS w1, toks[i+1] AS w2
            |        FROM w, UNNEST(range(1, LEN(toks))) t(i)),
            |uni AS (SELECT toks[i] AS w1, COUNT(*) AS c1
            |        FROM w, UNNEST(range(1, LEN(toks) + 1)) t(i) GROUP BY 1),
            |big AS (SELECT w1, w2, COUNT(*) AS c2 FROM tok GROUP BY 1, 2),
            |v AS (SELECT COUNT(*) AS vsz FROM uni),
            |sc AS (SELECT tok.doc_id, tok.pos,
            |         CAST(c2 + 1 AS DOUBLE) / (c1 + vsz) AS p
            |       FROM tok JOIN big USING (w1, w2) JOIN uni USING (w1), v),
            |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
            |          list_reduce(list_prepend(0.0, list(p ORDER BY pos)),
            |                      (a, x) -> a + x) AS sum_p
            |        FROM sc GROUP BY doc_id),
            |sc2 AS (SELECT d.doc_id, d.lang,
            |          CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0::DOUBLE
            |               ELSE sum_p / n_bigrams END AS avg_p
            |        FROM documents d LEFT JOIN agg USING (doc_id)),
            |cuts AS (SELECT lang,
            |           PERCENTILE_CONT(CAST(1 AS DOUBLE) / 3) WITHIN GROUP (ORDER BY avg_p) AS c33,
            |           PERCENTILE_CONT(CAST(2 AS DOUBLE) / 3) WITHIN GROUP (ORDER BY avg_p) AS c67
            |         FROM sc2 GROUP BY lang)
            |SELECT doc_id, lang, avg_p,
            |  CASE WHEN avg_p > c67 THEN 'head'
            |       WHEN avg_p > c33 THEN 'middle'
            |       ELSE 'tail' END AS bucket
            |FROM sc2 JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val scores = TextAnalysis.bigramLmScores(t.documents, "doc_id", "text")
        .join(t.documents.select("doc_id", "lang"), "doc_id")
        .localCheckpoint() // the two selection scans and the bucket join all read it
      val cuts = graft.operators.Quantiles
        .percentiles(scores, "lang", "avg_p", Seq(1.0 / 3, 2.0 / 3))
        .groupBy("lang")
        .agg(max(when(col("p") < 0.5, col("value"))).as("c33"),
          max(when(col("p") > 0.5, col("value"))).as("c67"))
      scores.join(broadcast(cuts), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("avg_p"),
          when(col("avg_p") > col("c67"), "head")
            .when(col("avg_p") > col("c33"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }
  )

  /** Video-shaped frame sampling over opaque payloads
    * ([[Multimodal.sampleFrames]]): chunk each payload into 64-byte
    * frames, keep every 2nd, and emit per-frame byte length + MD5
    * (the raw frame stays binary Spark-side; the digest makes the
    * plumbing oracle-checkable). Explode + byte-substring is map-only
    * whole-stage codegen — no shuffle before the final order — which
    * is the shape a real frame extractor must keep at 100 TB.
    */
  val mm04FrameSample = Query(
    "mm04_frame_sample",
    Some("""WITH m AS (SELECT doc_id AS media_id, text FROM documents WHERE strlen(text) > 0),
            |f AS (SELECT media_id, CAST(i AS INT) AS frame_idx,
            |        substring(text, CAST(i * 64 + 1 AS BIGINT), 64) AS frame
            |      FROM m, UNNEST(range(0, CAST(CEIL(strlen(text) / 64.0) AS BIGINT))) t(i)
            |      WHERE i % 2 = 0)
            |SELECT media_id, frame_idx,
            |  CAST(strlen(frame) AS BIGINT) AS n_frame_bytes,
            |  MD5(frame) AS frame_md5
            |FROM f ORDER BY media_id, frame_idx""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val media = Multimodal.asMediaBatch(t.documents, "doc_id", "text")
      Multimodal.sampleFrames(media, frameBytes = 64, everyNth = 2)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("n_frame_bytes"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("media_id", "frame_idx")
    }
  )

  /** Per-source duplication profile — the diagnostic a curation run
    * reads before choosing dedup strength: documents, exact-dup
    * clusters (dd14's first-8-normalized-words fingerprint), surplus
    * copies beyond each cluster's canonical, and the resulting dup
    * fraction. Two hash-partitioned aggregations (per-doc fingerprint
    * → per-source distinct count); nothing corpus-sized converges on
    * fewer keys than there are sources.
    */
  val dd15ClusterProfile = Query(
    "dd15_cluster_profile",
    Some("""WITH b AS (SELECT doc_id, source,
            |    TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9\s]', ' ', 'g'),
            |                        '\s+', ' ', 'g')) AS norm
            |  FROM documents),
            |k AS (SELECT doc_id, source,
            |    MD5(list_aggregate(regexp_split_to_array(norm, ' ')[1:8],
            |                       'string_agg', ' ')) AS fp
            |  FROM b),
            |s AS (SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_clusters
            |      FROM k GROUP BY source)
            |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
            |  CAST(n_clusters AS BIGINT) AS n_clusters,
            |  CAST(n_docs - n_clusters AS BIGINT) AS n_dup_docs,
            |  CAST(n_docs - n_clusters AS DOUBLE) / n_docs AS dup_frac
            |FROM s ORDER BY source""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Dedup.sourceDupProfile(t.documents, "text", "source")
        .orderBy("source")
    }
  )

  /** DSIR-style importance resampling (Xie et al. 2023, simplified to
    * the engine's exact-replayable bigram LM): train one LM on the
    * whole corpus and one on a target domain (source = 'src0'), score
    * every document under both, and keep the top-50 by the
    * target/corpus likelihood ratio — the "select data that looks
    * like the domain you care about" primitive. No logarithms: the
    * ratio of the two avg_p values is a single IEEE division, so the
    * oracle replays the whole selection bit-exactly. Model tables are
    * vocabulary-sized; the corpus streams through two stream-static-
    * shaped joins per scoring pass.
    */
  val td46ImportanceResample = Query(
    "td46_importance_resample",
    Some("""WITH w AS (SELECT doc_id, source,
            |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
            |       ELSE regexp_split_to_array(TRIM(text), '\s+') END AS toks
            |FROM documents),
            |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS w1, toks[i+1] AS w2
            |        FROM w, UNNEST(range(1, LEN(toks))) t(i)),
            |uni AS (SELECT toks[i] AS w1, COUNT(*) AS c1
            |        FROM w, UNNEST(range(1, LEN(toks) + 1)) t(i) GROUP BY 1),
            |big AS (SELECT w1, w2, COUNT(*) AS c2 FROM tok GROUP BY 1, 2),
            |v AS (SELECT COUNT(*) AS vsz FROM uni),
            |tuni AS (SELECT toks[i] AS w1, COUNT(*) AS c1
            |         FROM w, UNNEST(range(1, LEN(toks) + 1)) t(i)
            |         WHERE source = 'src0' GROUP BY 1),
            |tbig AS (SELECT tok.w1, tok.w2, COUNT(*) AS c2
            |         FROM tok JOIN documents d USING (doc_id)
            |         WHERE d.source = 'src0' GROUP BY 1, 2),
            |tv AS (SELECT COUNT(*) AS vsz FROM tuni),
            |csc AS (SELECT tok.doc_id, tok.pos,
            |          CAST(c2 + 1 AS DOUBLE) / (c1 + vsz) AS p
            |        FROM tok JOIN big USING (w1, w2) JOIN uni USING (w1), v),
            |cagg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
            |           list_reduce(list_prepend(0.0, list(p ORDER BY pos)),
            |                       (a, x) -> a + x) AS sum_p
            |         FROM csc GROUP BY doc_id),
            |tsc AS (SELECT tok.doc_id, tok.pos,
            |          CAST(c2 + 1 AS DOUBLE) / (c1 + vsz) AS p
            |        FROM tok JOIN tbig USING (w1, w2) JOIN tuni USING (w1), tv),
            |tagg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
            |           list_reduce(list_prepend(0.0, list(p ORDER BY pos)),
            |                       (a, x) -> a + x) AS sum_p
            |         FROM tsc GROUP BY doc_id),
            |f AS (SELECT d.doc_id,
            |        CASE WHEN COALESCE(tagg.n_bigrams, 0) = 0 THEN 0.0::DOUBLE
            |             ELSE tagg.sum_p / tagg.n_bigrams END AS target_p,
            |        cagg.sum_p / cagg.n_bigrams AS corpus_p
            |      FROM documents d
            |      JOIN cagg ON d.doc_id = cagg.doc_id
            |      LEFT JOIN tagg ON d.doc_id = tagg.doc_id)
            |SELECT doc_id, target_p, corpus_p, target_p / corpus_p AS weight
            |FROM f ORDER BY weight DESC, doc_id LIMIT 50""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      // r14 fused build (guide §1.2 — one pass where three ran): the
      // r13 shape tokenized the corpus THREE times (corpus-model train
      // + corpus scoring, target-model train, target scoring) and ran
      // two separate join/aggregate pipelines. Both models differ only
      // in a source filter, so ONE tokenize pass feeds conditional
      // aggregates — per unigram (c1, src0-only tc1), per bigram (c2,
      // src0-only tc2) — and ONE scoring join computes both
      // likelihoods per position; the per-doc aggregate folds both
      // ordered sums in the same job. Arithmetic per position is the
      // exact expression (and association order) the r13 pipelines
      // used, so every avg_p — and the final ratio — is bit-identical
      // (DSIR rows replay in the oracle unchanged).
      val toksCol = when(length(trim(col("text"))) === 0, array().cast("array<string>"))
        .otherwise(split(trim(col("text")), "\\s+"))
      val base = t.documents
        .select(col("doc_id"), col("source"), toksCol.as("toks"))
        .localCheckpoint() // unigram pass + bigram pass read it
      val sz = size(col("toks"))
      val bigramArr = when(sz >= 2,
        zip_with(
          slice(col("toks"), lit(1), sz - 1),
          slice(col("toks"), lit(2), sz - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val bf = base
        .select(col("doc_id"), col("source"), posexplode(bigramArr))
        .select(col("doc_id"), col("source"), col("pos").cast("long").as("pos"),
          col("col.w1").as("w1"), col("col.w2").as("w2"))
        .localCheckpoint() // bigram counts + the scoring join read it
      val isTarget = col("source") === "src0"
      val uniC = base.select(col("source"), explode(col("toks")).as("w1"))
        .groupBy("w1")
        .agg(count(lit(1)).as("c1"), count(when(isTarget, lit(1))).as("tc1"))
      val bigC = bf.groupBy("w1", "w2")
        .agg(count(lit(1)).as("c2"), count(when(isTarget, lit(1))).as("tc2"))
      val vs = uniC.agg(count(lit(1)).as("vsz"),
        count(when(col("tc1") > 0, lit(1))).as("tvsz"))
      // model tables are corpus-derived (see TextAnalysis.bigramLmScore)
      // — pinned to shuffle builds; the 1-row sizes broadcast explicitly
      val scored = bf
        .join(bigC.hint("shuffle_hash"), Seq("w1", "w2"))
        .join(uniC.hint("shuffle_hash"), Seq("w1"))
        .crossJoin(broadcast(vs))
        .select(col("doc_id"), col("pos"), col("tc2"),
          ((col("c2") + 1).cast("double") / (col("c1") + col("vsz"))).as("p"),
          ((col("tc2") + 1).cast("double") / (col("tc1") + col("tvsz"))).as("tp"))
      val agg = scored.groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_bigrams"),
          graft.functions.VectorKernels.orderedPairSum(
            collect_list(struct(col("pos"), col("p")))).as("sum_p"),
          count(when(col("tc2") > 0, lit(1))).as("t_n"),
          graft.functions.VectorKernels.orderedPairSum(
            collect_list(when(col("tc2") > 0, struct(col("pos"), col("tp")))))
            .as("t_sum"))
      agg
        .select(col("doc_id"),
          when(col("t_n") === 0, lit(0.0))
            .otherwise(col("t_sum") / col("t_n")).as("target_p"),
          (col("sum_p") / col("n_bigrams")).as("corpus_p"))
        .select(col("doc_id"), col("target_p"), col("corpus_p"),
          (col("target_p") / col("corpus_p")).as("weight"))
        .orderBy(desc("weight"), asc("doc_id"))
        .limit(50)
    }
  )

  /** Session windows via Spark's BUILT-IN `session_window` (the
    * streaming-capable path — the same expression works under
    * `readStream` + watermark): 30-minute-gap sessions per user with
    * window bounds and event counts. The oracle replays the identical
    * semantics through the lag/flag/cumsum islands form (st01's
    * machinery), pinning the built-in against first principles:
    * window start = first event, end = last event + gap, events
    * within the gap chain into one session.
    */
  val st03SessionWindow = Query(
    "st03_session_window",
    Some("""WITH lagged AS (
            |  SELECT user_id, ts, event_id,
            |    CASE WHEN LAG(ts) OVER w IS NULL
            |         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
            |         THEN 1 ELSE 0 END AS new_s
            |  FROM events
            |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            |sess AS (
            |  SELECT user_id, ts,
            |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
            |  FROM lagged)
            |SELECT user_id, MIN(ts) AS start_ts,
            |  MAX(ts) + INTERVAL 30 MINUTE AS end_ts, COUNT(*) AS n_events
            |FROM sess GROUP BY user_id, session_num
            |ORDER BY user_id, start_ts""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("start_ts"),
          col("sw.end").as("end_ts"), col("n_events"))
        .orderBy("user_id", "start_ts")
    }
  )

  /** Semantic decontamination screen: every training embedding's
    * nearest neighbour in the (small) benchmark/eval set, with a
    * flagged boolean at cosine ≥ 0.99 — the "drop training docs that
    * embed like the test set" primitive. The eval side is one block
    * in the pair kernel, so the screen is effectively a broadcast
    * map pass over the training corpus: no shuffle proportional to
    * train×eval, no driver collect.
    */
  val dd16SemanticDecontam = Query(
    "dd16_semantic_decontam",
    Some("""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            |p AS (SELECT t.vec_id, e.vec_id AS eval_id,
            |        ROUND(list_cosine_similarity(t.v, e.v), 4) AS sim
            |      FROM b t, b e WHERE t.vec_id % 50 <> 0 AND e.vec_id % 50 = 0),
            |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            |                                   ORDER BY sim DESC, eval_id) AS rn
            |      FROM p)
            |SELECT vec_id, eval_id AS nearest_eval_id, sim, sim >= 0.99 AS flagged
            |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      Query.checkpointSort(
        Similarity
          .cosineKnnKernel(
            t.embeddings.filter(col("vec_id") % 50 === 0),
            t.embeddings.filter(col("vec_id") % 50 =!= 0),
            "vec_id", "embedding", k = 1)
          .select(col("query_id").as("vec_id"),
            col("corpus_id").as("nearest_eval_id"), col("sim"),
            (col("sim") >= 0.99).as("flagged")),
        "vec_id")
    }
  )

  /** Exact n-gram decontamination (GPT-3 appendix C / PaLM): training
    * docs sharing any word 8-gram with the eval slice, with per-doc
    * counts of distinct leaked grams and distinct eval docs hit. The
    * exact-join complement of td16's Bloom probe (approximate,
    * constant-memory) and dd16's embedding screen (semantic): this
    * one names the leaks. Eval gram set is broadcast (eval suites
    * don't grow with the corpus), per-doc gram totals come from the
    * distinct-gram array size BEFORE the explode, so only hit rows
    * reach the aggregation shuffle. The oracle joins the true gram
    * STRINGS, so hash-join equality is itself verified (dd12's rule).
    */
  val td54NgramDecontam = Query(
    "td54_ngram_decontam",
    Some("""WITH words AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') w FROM documents),
            |d AS (SELECT doc_id, CAST(LEN(w) AS INT) AS n, w FROM words WHERE LEN(w) >= 8),
            |g AS (SELECT DISTINCT doc_id, list_aggregate(w[i:i+7], 'string_agg', ' ') AS s
            |      FROM d, UNNEST(range(1, n - 6)) t(i)),
            |ev AS MATERIALIZED (SELECT doc_id AS eval_id, s FROM g WHERE doc_id % 10 = 7),
            |tr AS MATERIALIZED (SELECT doc_id, s FROM g WHERE doc_id % 10 <> 7),
            |sz AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_grams FROM tr GROUP BY doc_id),
            |hit AS (SELECT tr.doc_id, tr.s, ev.eval_id FROM tr JOIN ev USING (s)),
            |agg AS (SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS n_shared_grams,
            |          CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
            |        FROM hit GROUP BY doc_id)
            |SELECT a.doc_id, sz.n_grams, a.n_shared_grams, a.n_eval_docs,
            |  CAST(a.n_shared_grams AS DOUBLE) / CAST(sz.n_grams AS DOUBLE) AS contaminated_frac
            |FROM agg a JOIN sz USING (doc_id) ORDER BY a.doc_id""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      graft.operators.Dedup
        .ngramDecontam(
          t.documents.filter(col("doc_id") % 10 =!= 7),
          t.documents.filter(col("doc_id") % 10 === 7),
          "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }
  )

  /** Learned quality classifier (CCNet/GPT-3 curation setup): the
    * td22 heuristic gate provides weak 0/1 labels, a linear model on
    * four cheap lexical features distills them into a SMOOTH score
    * for threshold sweeps / importance sampling. Training is 8 batch
    * gradient steps made bit-reproducible across engines AND
    * partitionings (`operators.QualityModel`): a rational sigmoid
    * (IEEE ops only — no libm `exp` drift), per-row contributions
    * rounded to integer 1e-9 grains, exact decimal gradient sums.
    * The oracle replays every iteration — the weak labels, the 8
    * weight vectors, the final scores, and the score-decile profile
    * all hash-match, which is only possible because the whole
    * training loop is deterministic arithmetic.
    */
  // ── learned quality classifier (shared by td55/td56) ──────────────
  // 16 steps at lr 16 with n_tokens capped at 32 (the gate's own scale
  // — its threshold is 25) gives a visibly separated decile profile on
  // this corpus; punct is identically 0 here so x2 stays a dead
  // feature, which the learned weight shows.
  private val qcIters = 16
  private val qcXs = Seq("x1", "x2", "x3", "x4")

  /** Left-associated exactly like QualityModel.affine — double
    * addition does not associate, so the order is the contract.
    */
  private def qcZSql(w: String) =
    s"(((($w.w0 + $w.w1 * x1) + $w.w2 * x2) + $w.w3 * x3) + $w.w4 * x4)"
  private def qcSigSql(z: String) = s"(0.5 + $z / (2.0 * (1.0 + ABS($z))))"

  /** The full CTE chain replaying `QualityModel.trainScore`: features,
    * weak labels (`f`, which also carries doc_id + source for
    * downstream sampling), and the k unrolled gradient iterations
    * ending at `w$qcIters`.
    */
  private def qcTrainingCtes: String = {
    val iterCtes = (1 to qcIters).map { i =>
      val r = s"(${qcSigSql(qcZSql(s"w${i - 1}"))} - y)"
      val gCols = (s"SUM(CAST(ROUND($r * 1e9) AS BIGINT)) AS g0" +:
        qcXs.zipWithIndex.map { case (x, j) =>
          s"SUM(CAST(ROUND(($r * $x) * 1e9) AS BIGINT)) AS g${j + 1}"
        }).mkString(", ")
      val wCols = (0 to qcXs.size).map(j =>
        s"w${i - 1}.w$j - 16.0 * (CAST(g$i.g$j AS DOUBLE) / 1e9 / g$i.n) AS w$j")
        .mkString(", ")
      s"""g$i AS MATERIALIZED (SELECT $gCols, COUNT(*) AS n FROM f, w${i - 1}),
         |w$i AS MATERIALIZED (SELECT $wCols FROM w${i - 1}, g$i)""".stripMargin
    }.mkString(",\n")
    val w0Cols = (0 to qcXs.size).map(j => s"0.0::DOUBLE AS w$j").mkString(", ")
    s"""q AS (SELECT doc_id, source, text,
       |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
       |       ELSE regexp_split_to_array(TRIM(text), '\\s+') END AS toks
       |FROM documents),
       |feat AS (SELECT doc_id, source,
       |  CAST(LEN(toks) AS INT) AS n_tokens,
       |  CASE WHEN LEN(toks) > 0
       |    THEN CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / LEN(toks)
       |    ELSE 0.0 END AS avg_token_len,
       |  CASE WHEN LENGTH(text) > 0
       |    THEN CAST(LEN(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) / LENGTH(text)
       |    ELSE 0.0 END AS punct_ratio,
       |  CASE WHEN LEN(toks) > 0
       |    THEN CAST(LEN(regexp_extract_all(LOWER(text), '\\b(the|a|and|of|to|in|is|it)\\b')) AS DOUBLE) / LEN(toks)
       |    ELSE 0.0 END AS stopword_ratio,
       |  CASE WHEN LEN(toks) > 0
       |    THEN 1.0 - CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks)
       |    ELSE 0.0 END AS rep
       |FROM q),
       |f AS MATERIALIZED (SELECT doc_id, source,
       |  CASE WHEN NOT (n_tokens < 25 OR n_tokens > 1000000
       |                 OR rep > 0.65 OR punct_ratio > 0.3)
       |    THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y,
       |  CAST(LEAST(n_tokens, 32) AS DOUBLE) / 32.0 AS x1,
       |  punct_ratio AS x2,
       |  stopword_ratio AS x3,
       |  LEAST(avg_token_len, 16.0) / 16.0 AS x4
       |FROM feat),
       |w0 AS MATERIALIZED (SELECT $w0Cols),
       |$iterCtes""".stripMargin
  }

  /** Engine-side twin of [[qcTrainingCtes]]'s `f`: weak labels from
    * the td22 gate + the four bounded lexical features.
    */
  /** Spec-only accessor for the td55/td56 feature frame (the
    * QualityModel RDD-vs-aggregate equivalence test trains on it).
    */
  private[graft] def qcFeaturesForSpec(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    qcFeatures(docs)

  private def qcFeatures(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = TextAnalysis.qualityFeatures(docs, col("text"))
    val toksN = col("n_tokens")
    val rep = when(toksN > 0,
      lit(1.0) - size(array_distinct(split(trim(col("text")), "\\s+"))).cast("double") / toksN)
      .otherwise(lit(0.0))
    val gate = not(toksN < 25 || toksN > 1000000 ||
      rep > 0.65 || col("punct_ratio") > 0.3)
    base
      .withColumn("y", when(gate, lit(1.0)).otherwise(lit(0.0)))
      .withColumn("x1", least(toksN, lit(32)).cast("double") / lit(32.0))
      .withColumn("x2", col("punct_ratio"))
      .withColumn("x3", col("stopword_ratio"))
      .withColumn("x4", least(col("avg_token_len"), lit(16.0)) / lit(16.0))
      .select("doc_id", "source", "y", "x1", "x2", "x3", "x4")
  }

  /** Learned quality classifier (CCNet/GPT-3 curation setup): the
    * td22 heuristic gate provides weak 0/1 labels, a linear model on
    * four cheap lexical features distills them into a SMOOTH score
    * for threshold sweeps / importance sampling. Training is 16 batch
    * gradient steps made bit-reproducible across engines AND
    * partitionings (`operators.QualityModel`): a rational sigmoid
    * (IEEE ops only — no libm `exp` drift), per-row contributions
    * rounded to integer 1e-9 grains, exact decimal gradient sums.
    * The oracle replays every iteration — the weak labels, the 16
    * weight vectors, the final scores, and the score-decile profile
    * all hash-match, which is only possible because the whole
    * training loop is deterministic arithmetic.
    */
  val td55QualityClassifier = Query(
    "td55_quality_classifier",
    Some(
      s"""WITH $qcTrainingCtes,
         |scored AS (SELECT ${qcSigSql(qcZSql(s"w$qcIters"))} AS score, CAST(y AS BIGINT) AS yi
         |           FROM f, w$qcIters)
         |SELECT CAST(FLOOR(score * 10) AS INT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(yi) AS BIGINT) AS n_pass,
         |  CAST(SUM(CAST(ROUND(score * 1e9) AS BIGINT)) AS BIGINT) AS sum_score_e9
         |FROM scored GROUP BY 1 ORDER BY bucket""".stripMargin),
    (spark, dir) => {
      import graft.operators.QualityModel
      val t = Tables(spark, dir)
      val trained = QualityModel.trainScore(
        qcFeatures(t.documents), qcXs, "y", iters = qcIters, lr = 16.0)
      trained.scored
        .withColumn("bucket", floor(col("score") * lit(10)).cast("int"))
        .withColumn("yi", col("y").cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("yi")).as("n_pass"),
          sum(round(col("score") * lit(1e9))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("long").as("sum_score_e9"))
        .orderBy("bucket")
    }
  )

  /** Classifier-guided Pareto sampling — the documented GPT-3 data
    * step: a document is kept when a Pareto draw beats its score
    * deficit, so high-scoring docs are kept with certainty-like odds
    * while low scorers survive at a diversity-preserving tail rate
    * (never pruned to zero). Bit-replayable end-to-end: the shape
    * α = 1 makes the Pareto transform RATIONAL (1/u − 1 — α ≠ 1 needs
    * `pow`, whose libm drift would break cross-engine replay), and
    * the per-doc uniform u comes from the fmix hash of doc_id
    * (24-bit mantissa, +0.5 offset ⇒ u ∈ (0,1), exact powers of two
    * throughout). Keep rate = 1/(2 − score) ∈ [0.5, 1), monotone in
    * the learned score. One scan after training; the sample decision
    * is a per-row predicate — no extra shuffle beyond the per-source
    * rollup.
    */
  val td56ClassifierSample = Query(
    "td56_classifier_sample", {
      val hv = toSignedSql(s"(${fmixSql(s"(${foldSql("CAST(doc_id AS VARCHAR)")})")})")
      Some(
        s"""WITH $qcTrainingCtes,
           |scored AS (SELECT doc_id, source,
           |  ${qcSigSql(qcZSql(s"w$qcIters"))} AS score FROM f, w$qcIters),
           |u AS (SELECT doc_id, source, score,
           |  (CAST(((hv % 16777216) + 16777216) % 16777216 AS DOUBLE) + 0.5) / 16777216.0 AS u
           |  FROM (SELECT doc_id, source, score, $hv AS hv FROM scored)),
           |k AS (SELECT source, score,
           |  ((1.0 / u) - 1.0) > (1.0 - score) AS kept FROM u)
           |SELECT source,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(SUM(CASE WHEN kept THEN CAST(ROUND(score * 1e9) AS BIGINT) ELSE 0 END)
           |       AS BIGINT) AS sum_score_e9_kept
           |FROM k GROUP BY source ORDER BY source""".stripMargin)
    },
    (spark, dir) => {
      import graft.operators.QualityModel
      val t = Tables(spark, dir)
      graft.functions.MixedHash64.register(spark)
      val trained = QualityModel.trainScore(
        qcFeatures(t.documents), qcXs, "y", iters = qcIters, lr = 16.0)
      trained.scored
        .withColumn("u",
          (pmod(graft.functions.MixedHash64(col("doc_id").cast("string")),
            lit(16777216L)).cast("double") + lit(0.5)) / lit(16777216.0))
        .withColumn("kept",
          (lit(1.0) / col("u") - lit(1.0)) > (lit(1.0) - col("score")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
          sum(when(col("kept"), round(col("score") * lit(1e9))).otherwise(lit(0.0))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("long").as("sum_score_e9_kept"))
        .orderBy("source")
    }
  )

  /** Tokenizer fertility per language — subwords emitted per word
    * under the learned BPE merge table (td40/td41's tokenizer), the
    * standard "how well does this tokenizer fit this language" metric
    * a multilingual pipeline reads before fixing a vocab. Integer
    * subword/word sums per language make the ratio engine-exact. The
    * corpus streams through the same map-only segmentation pass as
    * td41; the only shuffle is the per-language sum.
    */
  val td47Fertility = Query(
    "td47_fertility", {
      val k = 8
      val sb = new StringBuilder
      sb ++= """WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
               |  FROM (SELECT UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS word
               |        FROM documents)
               |  WHERE word <> '' GROUP BY word),
               |s0 AS MATERIALIZED (SELECT freq,
               |  list_aggregate(regexp_split_to_array(word, ''), 'string_agg', ' ') AS sym
               |  FROM w)""".stripMargin
      for (i <- 1 to k) {
        val prev = s"s${i - 1}"
        sb ++= s""",
                  |p$i AS MATERIALIZED (SELECT s[i] || ' ' || s[i+1] AS pair, SUM(freq) AS cnt
                  |  FROM (SELECT freq, regexp_split_to_array(sym, ' ') AS s FROM $prev),
                  |       UNNEST(range(1, LEN(s))) t(i)
                  |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
        if (i < k)
          sb ++= s""",
                    |s$i AS MATERIALIZED (SELECT freq, REPLACE(sym, (SELECT pair FROM p$i),
                    |  REPLACE((SELECT pair FROM p$i), ' ', '')) AS sym FROM $prev)""".stripMargin
      }
      sb ++= s""",
                |mg AS MATERIALIZED (SELECT ${(1 to k).map(i =>
                  s"(SELECT pair FROM p$i) AS p${i}p, " +
                  s"(SELECT REPLACE(pair, ' ', '') FROM p$i) AS p${i}m").mkString(", ")}),
                |d2 AS (SELECT doc_id, lang,
                |  list_filter(regexp_split_to_array(TRIM(text), '\\s+'), wd -> wd <> '') AS ws
                |  FROM documents)""".stripMargin
      val applied = (1 to k).foldLeft(
        "list_aggregate(regexp_split_to_array(wd, ''), 'string_agg', ' ')") {
        (acc, i) => s"REPLACE($acc, p${i}p, p${i}m)"
      }
      sb ++= s"""
                |SELECT lang, n_words, n_subwords,
                |  CAST(n_subwords AS DOUBLE) / n_words AS fertility
                |FROM (
                |  SELECT lang, CAST(SUM(LEN(ws)) AS BIGINT) AS n_words,
                |    CAST(SUM(COALESCE(list_aggregate(
                |      list_transform(ws, wd -> LEN(regexp_split_to_array($applied, ' '))),
                |      'sum'), 0)) AS BIGINT) AS n_subwords
                |  FROM d2 CROSS JOIN mg GROUP BY lang)
                |ORDER BY lang""".stripMargin
      Some(sb.toString)
    },
    (spark, dir) => {
      val t = Tables(spark, dir)
      val m = TextAnalysis.bpeMerges(t.documents, "text", k = 8).orderBy("step")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeSegmentCounts(t.documents, "doc_id", "text", m)
        .join(t.documents.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(sum("n_words").as("n_words"), sum("n_subwords").as("n_subwords"))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          (col("n_subwords").cast("double") / col("n_words")).as("fertility"))
        .orderBy("lang")
    }
  )

  /** Boilerplate sentence-opener report — the C4/CCNet line-level
    * dedup shape applied to this corpus's granularity: sentences
    * (here whole documents — the corpus carries no terminal
    * punctuation, [[TextAnalysis.sentences]] still segments when it
    * exists) keyed by their lowercased first-5-words opener;
    * openers shared by ≥ 2 documents rank as boilerplate
    * candidates. One explode + one grouped aggregation; the shuffle
    * carries (opener, partial counts), nothing pairwise. At sf0.01
    * this finds 23 genuinely shared openers — the same clusters
    * dd14 canonicalizes, surfaced as a readable report.
    */
  val dd17BoilerplateOpeners = Query(
    "dd17_boilerplate_openers",
    Some("""WITH s AS (SELECT doc_id,
            |    UNNEST(list_filter(
            |      list_transform(regexp_split_to_array(TRIM(text), '[.!?]+\s+'),
            |                     x -> TRIM(regexp_replace(x, '[.!?]+$', ''))),
            |      x -> x <> '')) AS sent
            |  FROM documents),
            |p AS (SELECT doc_id,
            |    LOWER(list_aggregate(regexp_split_to_array(sent, '\s+')[1:5],
            |                         'string_agg', ' ')) AS opener
            |  FROM s),
            |g AS (SELECT opener, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_total
            |      FROM p GROUP BY opener)
            |SELECT opener, CAST(n_docs AS BIGINT) AS n_docs,
            |  CAST(n_total AS BIGINT) AS n_total
            |FROM g WHERE n_docs >= 2
            |ORDER BY n_docs DESC, opener LIMIT 20""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.documents
        .select(col("doc_id"),
          explode(TextAnalysis.sentences(col("text"))).as("sent"))
        .select(col("doc_id"),
          lower(array_join(slice(split(col("sent"), "\\s+"), 1, 5), " ")).as("opener"))
        .groupBy("opener")
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_total"))
        .filter(col("n_docs") >= 2)
        .orderBy(desc("n_docs"), asc("opener"))
        .limit(20)
    }
  )

  /** The corpus-curation flow END TO END as ONE declarative plan —
    * quality gate (td22's thresholds) → exact dedup keep-min-id
    * (td01) → per-source cap by deterministic hash rank (td33's
    * policy, cap 10) → train/val/test split assignment (td28's
    * buckets) — proving the stages compose inside a single Catalyst
    * plan (one pass over the corpus, gate and dedup pipelined before
    * the two per-source/per-split hash stages) instead of running as
    * four materialized jobs. The oracle chains the same four stages
    * as CTEs over the identical fmix64 hash.
    */
  /** Cross-source boilerplate-flow matrix: for every source pair, how
    * many sentence OPENERS (dd17's lowercased first-5-words
    * granularity) both emit — the exact "which sources share template
    * text" diagnostic that tells a curation pipeline where a
    * cross-source dedup/boilerplate pass will pay off. Complements
    * [[dd15ClusterProfile]] (within-source surplus) and td23 (KMV
    * approximate overlap): this one is EXACT and pairwise. Full-text
    * fingerprints were measured NEVER to cross sources in this corpus
    * — the opener granularity is where cross-source sharing lives.
    * Shape: explode + one distinct shuffle on (source, opener), a
    * self-equi-join on the opener (fan-out bounded by per-opener
    * source counts, never corpus²), per-source distinct-opener totals
    * broadcast back for the share ratios.
    */
  val td48CrossSourceDups = Query(
    "td48_cross_source_dups",
    Some("""WITH s AS (SELECT source,
            |    UNNEST(list_filter(
            |      list_transform(regexp_split_to_array(TRIM(text), '[.!?]+\s+'),
            |                     x -> TRIM(regexp_replace(x, '[.!?]+$', ''))),
            |      x -> x <> '')) AS sent
            |  FROM documents),
            |f AS (SELECT DISTINCT source,
            |    LOWER(list_aggregate(regexp_split_to_array(sent, '\s+')[1:5],
            |                         'string_agg', ' ')) AS opener
            |  FROM s),
            |tot AS (SELECT source, COUNT(*) AS n FROM f GROUP BY source),
            |p AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_openers
            |      FROM f a JOIN f b ON a.opener = b.opener AND a.source < b.source
            |      GROUP BY 1, 2)
            |SELECT p.src_a, p.src_b, p.shared_openers,
            |  CAST(p.shared_openers AS DOUBLE) / ta.n AS share_a,
            |  CAST(p.shared_openers AS DOUBLE) / tb.n AS share_b
            |FROM p JOIN tot ta ON p.src_a = ta.source
            |JOIN tot tb ON p.src_b = tb.source
            |ORDER BY src_a, src_b""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val f = t.documents
        .select(col("source"),
          explode(TextAnalysis.sentences(col("text"))).as("sent"))
        .select(col("source"),
          lower(array_join(slice(split(col("sent"), "\\s+"), 1, 5), " ")).as("opener"))
        .distinct()
        .localCheckpoint() // consumed by totals and both join sides
      val tot = f.groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = f.alias("a")
        .join(f.alias("b"),
          col("a.opener") === col("b.opener") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("shared_openers"))
      pairs
        .join(broadcast(tot.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
        .join(broadcast(tot.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("shared_openers"),
          (col("shared_openers").cast("double") / col("n_a")).as("share_a"),
          (col("shared_openers").cast("double") / col("n_b")).as("share_b"))
        .orderBy("src_a", "src_b")
    }
  )

  /** Batch curation pipeline: quality gate → fuzzy eval-set
    * decontamination (dd20's filter; eval = the `doc_id % 10 = 7`
    * split, which the corpus CONTAINS — both the delivered eval
    * members and their near-dups must go) → exact dedup →
    * deterministic split assignment. The GPT-3 recipe end to end.
    */
  val td49CurationPipeline = Query(
    "td49_curation_pipeline", {
      val fold = foldSql("CAST(doc_id AS VARCHAR)")
      val signed = toSignedSql(s"(${fmixSql(s"($fold)")})")
      Some(
        s"""WITH $minhashCandCtes,
           |w AS (SELECT doc_id, text, source,
           |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN []::VARCHAR[]
           |       ELSE regexp_split_to_array(TRIM(text), '\\s+') END AS toks
           |FROM documents),
           |f AS (SELECT doc_id, text, source,
           |  LEN(toks) AS n_tokens,
           |  CASE WHEN LEN(toks) > 0
           |    THEN 1.0 - CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks)
           |    ELSE 0.0 END AS rep,
           |  CASE WHEN LENGTH(text) > 0
           |    THEN CAST(LEN(regexp_extract_all(text, '[\\.,;:!\\?]')) AS DOUBLE) / LENGTH(text)
           |    ELSE 0.0 END AS punct
           |FROM w),
           |kept AS (SELECT doc_id, text, source FROM f
           |  WHERE NOT (n_tokens < 25 OR n_tokens > 1000000
           |             OR rep > 0.65 OR punct > 0.3)),
           |cont AS MATERIALIZED (
           |  SELECT CASE WHEN id_a % 10 = 7 THEN id_b ELSE id_a END AS doc_id
           |  FROM cand WHERE (id_a % 10 = 7) <> (id_b % 10 = 7)
           |  UNION
           |  SELECT doc_id FROM sigs WHERE doc_id % 10 = 7),
           |decon AS (SELECT doc_id, text, source FROM kept
           |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
           |ded AS (SELECT doc_id, source FROM (
           |    SELECT doc_id, source,
           |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           |    FROM decon) WHERE rn = 1),
           |h AS MATERIALIZED (SELECT doc_id, source, $signed AS hv FROM ded),
           |r AS (SELECT doc_id, source,
           |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS INT)
           |          AS rk,
           |        ((hv % 100) + 100) % 100 AS b
           |      FROM h)
           |SELECT doc_id, source, rk,
           |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |FROM r WHERE rk <= 10 ORDER BY doc_id""".stripMargin)
    },
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.MixedHash64.register(spark)
      val t = Tables(spark, dir)
      val (kept0, _) = TextAnalysis.qualityFilter(t.documents, col("text"),
        TextAnalysis.QualityThresholds(
          minTokens = 25, maxTokens = 1000000,
          maxRepetitionRatio = 0.65, maxPunctRatio = 0.3))
      val flagged = Dedup.lshDecontam(
        kept0, t.documents.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", threshold = 0.35).select("doc_id")
      val kept = kept0.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      val deduped = Dedup.exactDedup(kept, "doc_id", Seq("text"))
      val hv = graft.functions.MixedHash64(col("doc_id").cast("string"))
      val w = Window.partitionBy("source").orderBy(hv, col("doc_id"))
      deduped
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("source"), col("rk"),
          when(pmod(hv, lit(100L)) < 80, "train")
            .when(pmod(hv, lit(100L)) < 90, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }
  )

  /** Batch face of the stream-stream attribution join: the catalog
    * entry calls the SAME [[graft.streaming.StreamingIngest
    * .attributionJoinStream]] the streaming pipeline uses — in batch
    * mode the watermarks are no-ops and the bounded-range equi-join
    * (user key + `p_ts ∈ (c_ts, c_ts+1h]`) is exactly the expirable-
    * state condition StreamingSpec proves equal across tranche
    * boundaries. One shuffle on user_id; the range predicate rides
    * the join, never a cartesian.
    */
  val st04Attribution = Query(
    "st04_attribution",
    Some("""SELECT c.event_id, c.user_id, c.ts AS c_ts, p.ts AS p_ts
            |FROM events c JOIN events p
            |  ON c.user_id = p.user_id
            | AND c.event_type = 'click' AND p.event_type = 'purchase'
            | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            |ORDER BY c.event_id, p.ts""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val ev = t.events
      graft.streaming.StreamingIngest.attributionJoinStream(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts"),
        horizon = "1 hour", watermark = "2 hours")
        .orderBy("event_id", "p_ts")
    }
  )

  /** Link prediction over the kNN graph (same `vec_id % 4` slice and
    * k=5 undirected edges as ss13): for every NON-adjacent pair with
    * ≥2 common neighbours, the common-neighbour count and
    * neighbourhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    * "these two documents should be linked" candidate generator for
    * graph-based curation. The pair frame is a wedge self-join on the
    * CENTER node (Σ_x deg(x)² pairs, never |V|²), adjacency is
    * removed by an anti-join on the edge list, and every metric is
    * integer counts with one IEEE division at the end — engine-exact.
    */
  val ss14LinkPrediction = Query(
    "ss14_link_prediction",
    Some(s"WITH ${exactKnnCtes(k = 5)},\n$linkPredSqlAfterKnn"),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val vecs = t.embeddings.filter(col("vec_id") % 4 === 0)
      linkPredStats(undFromKnn(
        Similarity.cosineKnnKernel(vecs, vecs, "vec_id", "embedding", k = 5)))
    }
  )

  /** Community detection over the kNN graph by synchronous label
    * propagation (2 unrolled rounds, the x27 convention): every node
    * starts as its own label; each round it adopts the most frequent
    * label among its neighbours, ties to the SMALLEST label — the
    * deterministic form of LPA (Raghavan et al. 2007). One equi-join
    * + grouped count + per-node argmax per round: no corpus
    * broadcast, no |V|² pairs, and the per-round state is one label
    * per node. Complements connected components (dd05: reachability)
    * with density-sensitive clusters on the SAME edge frame.
    */
  val ss15LabelProp = Query(
    "ss15_label_prop",
    Some(s"WITH ${exactKnnCtes(k = 5)},\n$labelPropSqlAfterKnn"),
    (spark, dir) => {
      val t = Tables(spark, dir)
      val vecs = t.embeddings.filter(col("vec_id") % 4 === 0)
      labelPropStats(undFromKnn(
        Similarity.cosineKnnKernel(vecs, vecs, "vec_id", "embedding", k = 5)))
    }
  )

  /** k-anonymity / l-diversity audit — the privacy screen a curation
    * pipeline runs before releasing a slice keyed on quasi-identifiers
    * (here: nation × market segment × 1000-unit balance band). Groups
    * with k < 5 members are re-identification risks; l counts the
    * distinct sensitive values (exact balance cents) inside each
    * group. The band is an EXACT integer floor-division on decimal
    * cents (never floor(double/1000) — negative balances and
    * band-edge values must land identically in both engines), so the
    * whole audit is one hash aggregate over integers.
    */
  val td50KAnonymity = Query(
    "td50_k_anonymity",
    Some("""WITH q AS (
            |  SELECT c_nationkey, c_mktsegment,
            |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
            |  FROM customer),
            |b AS (SELECT c_nationkey, c_mktsegment, cents,
            |        CAST((cents - ((cents % 100000 + 100000) % 100000)) // 100000
            |             AS BIGINT) AS bal_band
            |      FROM q)
            |SELECT c_nationkey, c_mktsegment, bal_band,
            |  COUNT(*) AS k_size,
            |  CAST(COUNT(DISTINCT cents) AS BIGINT) AS l_div,
            |  COUNT(*) < 5 AS risky
            |FROM b GROUP BY 1, 2, 3
            |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin),
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.customer
        .select(col("c_nationkey"), col("c_mktsegment"),
          (col("c_acctbal").cast("decimal(12,2)") * 100).cast("long").as("cents"))
        .withColumn("bal_band",
          expr("(cents - pmod(cents, 100000L)) div 100000L"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("k_size"),
          countDistinct(col("cents")).as("l_div"))
        .withColumn("risky", col("k_size") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    }
  )

  val all: Seq[Query] = Seq(
    td01ExactDedup, td02Fingerprint, td03Tokens, td04Quality, td05LangId,
    td06Jaccard, td07ApproxDistinct, dd01MinHash, dd02SimHash, dd03Rolling,
    dd04CosineDup, dd06Winnow, dd07DedupPipeline, ss01CosineKnn, ss02LshAnn, ss03IvfAnn,
    ss04PqAdc, ss05PqRerank, ss07IvfPq, ss08IvfPqResidual,
    mm01BinaryMeta, mm02MediaFeatures, mm03PhashPairs,
    in01NormalizeStamp, in02MetaExtract, in03LengthPolicy, in04Truncate,
    st01Sessionize, st02SlidingWindow, td08NormalizedFp, td09Repetition,
    td10Pii, td11Tfidf, td12HllSketch, td13Contamination, td14StratifiedSample,
    td15HeavyHitters, td16BloomContamination, td17OovRatio,
    dd08SimHashPairs, td18SampledQuantiles, td19SequencePack, td20Int8Quantize,
    td21CharClass, td22QualityGate, td23KmvOverlap,
    td24MixWeights, td25Boilerplate, dd09Containment,
    ss06SemanticDedup, td26LexicalDiversity, td27LengthBand,
    td28SplitAssign, td29Chunking, td30VocabBuild, td31RollingDistinct, td32Bm25,
    dd10PrefixJaccard, td33SourceCap, td34RollingExact, td35CharDiversity,
    td36BudgetSelect, td37NegativeSamples, td38EpochShuffle, dd11IncrementalDedup,
    dd12SpanDedup, dd22GatedJaccard, dd23GatedContainment,
    td39PrioritySample, dd13SpanRemoval, td40BpeMerges, td41BpeSegment,
    td42DupNgrams, td43BigramLm, ss09TruncatedRecall, dd14QualityCanonical,
    ss10CentroidOutliers, td44NovelNgrams,
    ss11RrfFusion, td45PerplexityBuckets, mm04FrameSample, dd15ClusterProfile,
    td46ImportanceResample, st03SessionWindow, dd16SemanticDecontam,
    td47Fertility, in05JsonlRoundtrip, dd17BoilerplateOpeners,
    td49CurationPipeline, in06OrcRoundtrip, ss12MutualKnn, td48CrossSourceDups,
    ss13KnnTriangles, st04Attribution, ss14LinkPrediction, td50KAnonymity,
    in07BinaryScan, dd18CdcChunks, ss15LabelProp, ss16MultiprobeLsh,
    mm05MediaCanonical, td51SpanCorruption, td52PreferencePairs,
    td53ThresholdSweep, ss17FilteredAnn, in08ManifestScan, in09CurationE2e,
    td54NgramDecontam, dd19SimhashClasses, ss18CappedLshAnn,
    ss19CappedMultiprobe, td55QualityClassifier, td56ClassifierSample,
    ss20CappedRecall, ss21CappedTriangles, ss22CappedLinkpred,
    ss23CappedLabelprop, ss24NnDescent, ss25Sq8Rerank, ss26IvfSq8,
    ss27BinaryQuant, dd20LshDecontam, dd21SortedNeighborhood,
    mm06RealImageDecode, mm07RealAudioDecode, mm08AudioHeaders
  )
}
