package graft.operators

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.DatasetStatus
import graft.registry.DatasetRegistry

/** The composed end-to-end curation pipeline — the full nightly loop
  * the reference runs as `run_download_and_import.sh` →
  * `generic_import.py:520-796` (watch a landing zone, import each
  * delivery, register it, dedup against history, maintain indexes),
  * extended with the curation/packing tail a training-data pipeline
  * adds. One delivery = one call to [[processDelivery]]:
  *
  *  1. quality gate ([[TextAnalysis.qualityFilter]]) — junk never pays
  *     sketch cost;
  *  2. incremental dedup ingest ([[Dedup.ingestBatch]]): batch-internal
  *     exact dedup, known-exact drop against the fingerprint index
  *     (re-deliveries vanish here), near-dup candidates vs the LSH
  *     index, append both indexes, auto-compaction once append debt
  *     passes the threshold (the Q33 maintenance trigger);
  *  3. registry version commit ([[DatasetRegistry.insert]], the Q27
  *     protocol): a re-delivered (label, type, date) displaces its
  *     sibling, and an all-duplicate delivery is marked Empty exactly
  *     like the reference's `update_dataset_empty_status`;
  *  4. survivors append to the curated store, stamped with their
  *     registry datasetid.
  *
  * [[packAndAudit]] closes the loop: hash-sharded packing (scale-safe —
  * no global row_number; the shard id is a deterministic mod of the
  * dd03 document hash, replayable in SQL), a manifest of declared
  * per-shard counts, and an audit that re-reads BOTH the shard store
  * and the manifest and compares — the in08 shard-list contract, now at
  * the end of a real pipeline instead of a fixture.
  *
  * Everything is order-robust where it must be: survivors and shard
  * assignment depend only on (text, doc_id, delivery membership), so
  * any interleaving of re-deliveries — including across stream restarts
  * — produces the identical manifest (PipelineSpec proves stream-fed ==
  * batch-fed bit-exactly).
  */
object CurationPipeline {

  final case class Config(
      workDir: String,
      datasetdate: Date,
      thresholds: TextAnalysis.QualityThresholds = TextAnalysis.QualityThresholds(
        minTokens = 25, maxTokens = 1000000,
        maxRepetitionRatio = 0.65, maxPunctRatio = 0.3),
      shardSize: Long = 64L,
      maxIndexFiles: Long = 48L,
      nearDupThreshold: Double = 0.5,
      // eval suite for fuzzy decontamination (the GPT-3 recipe's
      // eval-set near-dup filter, [[Dedup.lshDecontam]]): when set,
      // quality survivors whose MinHash-estimated Jaccard against any
      // eval doc reaches `decontamThreshold` are dropped BEFORE the
      // dedup indexes learn them. The eval side is broadcast by
      // contract (benchmarks are tiny next to a 100 TB corpus).
      decontamEval: Option[DataFrame] = None,
      decontamThreshold: Double = 0.35
  ) {
    def lshPath: String = s"$workDir/lsh"
    def fingerprintPath: String = s"$workDir/fp"
    def curatedPath: String = s"$workDir/curated"
    def shardsPath: String = s"$workDir/shards"
    def manifestPath: String = s"$workDir/manifest"
    def registryPath: String = s"$workDir/registry"

    /** Eval-side decontam index, built lazily ONCE per pipeline
      * instance and shared by every delivery (VERDICT r12 item 4): the
      * eval suite is static for the life of a pipeline, so
      * re-shingling it per delivery was pure repeated work — an
      * interleaved in09 A/B at sf1 (decontam on vs off, NOTES
      * "DecontamAb") isolated it at ≈ +12 s per 4 deliveries, most of
      * it eval-signature rebuild. Each delivery now broadcasts the
      * tiny materialized signatures instead. Blocks live for the
      * Config's lifetime; a long-lived service would call
      * `decontamIndex.foreach(_.release())` when retiring the suite.
      */
    lazy val decontamIndex: Option[Dedup.EvalIndex] =
      decontamEval.map(ev => Dedup.prepareEvalIndex(ev, "doc_id", "text"))
  }

  final case class DeliveryResult(
      label: String,
      datasetId: Long,
      nFresh: Long,
      nNearDupCandidates: Long,
      compacted: Boolean,
      nContaminated: Long = 0L)

  /** Ingest one delivery batch (columns ⊇ doc_id, text, source).
    *
    * Write ordering is the crash-recovery contract (the reference gets
    * this from Postgres transactions; parquet appends give none): the
    * registry version is committed first (a crashed delivery's retry
    * displaces it — the Q27 protocol), the curated store receives the
    * survivors BEFORE either dedup index learns them
    * ([[Dedup.ingestBatch]]'s `freshSink`), and the fingerprint append
    * comes last. A crash at ANY point therefore leaves a state a plain
    * re-delivery converges from: rows the fingerprint index knows are
    * always already durable in the curated store, and the one
    * non-idempotent artifact — an at-least-once curated append — is
    * collapsed by [[packAndAudit]]'s content-distinct read
    * (PipelineSpec proves crash-point re-deliveries reproduce the
    * crash-free manifest bit-exactly).
    */
  def processDelivery(
      batch: DataFrame,
      label: String,
      registry: DatasetRegistry,
      cfg: Config
  ): DeliveryResult = {
    // stage labels (guide §1.5): purely observational — JobProfile /
    // the Spark UI attribute this composed operator's many small jobs
    // to their pipeline stage
    val sc = batch.sparkSession.sparkContext
    def stage(s: String): Unit = sc.setJobDescription(s"in-pipeline[$label] $s")
    stage("quality+decontam probe")
    val (kept0, _) = TextAnalysis.qualityFilter(batch, col("text"), cfg.thresholds)
    // fuzzy eval-set decontamination between the quality gate and the
    // dedup ingest: contamination is a function of the TEXT (identical
    // text → identical signature → identical flag), so dropping here
    // commutes with the incremental first-delivery-wins dedup and the
    // composed outcome replays deterministically whatever the delivery
    // interleaving.
    //
    // r14 delivery shape (VERDICT r13 item 1 — in09 was ~150 driver-
    // bound jobs): ONE materialization per delivery. The quality
    // survivors and their MinHash signature are computed in the same
    // pass as the batch read (`enriched`); the decontam probe reads
    // those blocks, and the flagged ids — contaminated docs only,
    // control-plane sized by the same contract that broadcast them
    // before — are COLLECTED in one job (replacing the r13 checkpoint
    // + count + broadcast-build trio). The signatures then ride the
    // ingest's own `fresh` checkpoint via `sigCol`, which removes the
    // r13 per-delivery signature semi-join checkpoint entirely.
    var nContaminated = 0L
    var enrichedBlocks: Option[DataFrame] = None
    var sigCol: Option[String] = None
    val kept = cfg.decontamIndex match {
      case Some(idx) =>
        val enriched = kept0
          .withColumn("__sig", Dedup.minHashSignature(col("text"), idx.k, idx.numHashes))
          .localCheckpoint()
        enrichedBlocks = Some(enriched)
        sigCol = Some("__sig")
        val flaggedIds = Dedup
          .lshDecontamFromSigs(Dedup.sketch(enriched, col("doc_id"), col("__sig")), idx,
            threshold = cfg.decontamThreshold)
          .select("doc_id")
          .collect()
          .map(_.get(0))
          .toSeq
        nContaminated = flaggedIds.length.toLong
        if (flaggedIds.isEmpty) enriched
        // InSet over the collected ids — same rows as the r13
        // broadcast left_anti, with the predicate pushed into the
        // checkpoint-block scan instead of a separate broadcast build
        else enriched.filter(!col("doc_id").isInCollection(flaggedIds))
      case None => kept0
    }
    stage("registry insert")
    val id = registry.insert(cfg.datasetdate, label, datasettypeid = 1, datasourceid = 1)
    var nFresh = 0L
    stage("dedup ingest")
    val ing = Dedup.ingestBatch(
      kept, "doc_id", "text",
      cfg.lshPath, cfg.fingerprintPath,
      threshold = cfg.nearDupThreshold, maxFiles = cfg.maxIndexFiles,
      freshSink = { (fresh, n) =>
        nFresh = n // counted once inside ingestBatch, over the blocks
        if (n > 0)
          fresh.select(col("doc_id"), col("text"), col("source"))
            .withColumn("datasetid", lit(id))
            .write.mode("append").parquet(cfg.curatedPath)
      },
      // same sketch constants as the probe by construction (both sides
      // use the Dedup defaults): the signatures computed for the probe
      // ride the batch into the ingest — no re-sketch, no semi-join
      sigCol = sigCol)
    // candidates are forced here so the index probe genuinely runs in
    // the composition (they inform review queues downstream; exact
    // re-deliveries are already gone via the fingerprint anti-join)
    stage("near-dup candidates")
    val nNear = ing.nearDups.count()
    enrichedBlocks.foreach(Checkpoints.dropBlocks)
    if (nFresh == 0) registry.setStatus(id, DatasetStatus.Empty)
    sc.setJobDescription(null)
    DeliveryResult(label, id, nFresh, nNear, ing.compacted, nContaminated)
  }

  /** Pack the curated store into hash-assigned shards, write the
    * manifest, and audit declared vs actual counts with one scan of
    * the shard store joined (full-outer — a shard missing from either
    * side must surface, not vanish) against the re-read manifest.
    *
    * @return (shard_id, n_docs, manifest_n, matches), ordered.
    */
  def packAndAudit(spark: SparkSession, cfg: Config): DataFrame = {
    val sc = spark.sparkContext
    def stage(s: String): Unit = sc.setJobDescription(s"in-pipeline[pack] $s")
    stage("curated distinct")
    graft.functions.MixedHash64.register(spark)
    // content-distinct read: a crashed-and-retried delivery appends its
    // survivors at-least-once (under a fresh datasetid, dropped by this
    // projection — see processDelivery's write-ordering contract), so
    // identical rows collapse here and the shards/manifest are
    // exactly-once whatever the retry history. Crash-free this is a
    // distinct over already-unique rows (the fingerprint anti-join
    // guarantees content uniqueness across deliveries).
    // distinct computed ONCE: the checkpoint materializes it, the count
    // reads the blocks, and the (cheap, hash-projection-only) shard_id
    // extension recomputes over the same blocks for both consumers —
    // the previous shape ran the full distinct twice (count, then a
    // second materialization for the checkpoint)
    val curated = spark.read.parquet(cfg.curatedPath)
      .select("doc_id", "text", "source")
      .distinct()
      .localCheckpoint()
    val n = curated.count()
    val nShards = math.max(1L, (n + cfg.shardSize - 1) / cfg.shardSize)
    val sharded = curated.withColumn(
      "shard_id",
      pmod(graft.functions.MixedHash64(col("doc_id").cast("string")), lit(nShards)))
    // one file per shard: repartition BY the partition column so the
    // writer never fans each task out over every shard directory.
    // The shard write and the manifest write are independent outputs
    // of the same checkpointed distinct (disjoint directories), so
    // they overlap (guide §2.6) under the caller's job group.
    stage("shards + manifest write")
    import scala.concurrent.ExecutionContext.Implicits.global
    graft.ops.Jobs.awaitAll(Seq(
      graft.ops.Jobs.inCallerJobGroup(sc) {
        sharded.repartition(col("shard_id"))
          .write.mode("overwrite").partitionBy("shard_id").parquet(cfg.shardsPath)
      },
      graft.ops.Jobs.inCallerJobGroup(sc) {
        sharded.groupBy("shard_id").agg(count(lit(1)).as("manifest_n"))
          .coalesce(1).write.mode("overwrite").json(cfg.manifestPath)
      }))
    // both consumers of the checkpoint have run (the audit below
    // re-reads from disk); release its blocks now rather than holding
    // a corpus-sized block set per pack until ContextCleaner GC —
    // this composition is the nightly-loop target
    Checkpoints.dropBlocks(curated)
    // audit jobs run lazily in the caller's thread under its own label
    sc.setJobDescription(null)
    val actual = spark.read.parquet(cfg.shardsPath)
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"))
    val declared = spark.read
      .schema("shard_id LONG, manifest_n LONG").json(cfg.manifestPath)
    actual
      .join(declared, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("manifest_n"), lit(0L)).as("manifest_n"))
      .withColumn("matches", col("n_docs") === col("manifest_n"))
      .orderBy("shard_id")
  }
}
