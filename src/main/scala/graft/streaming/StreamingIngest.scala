package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface. The reference is cron-driven
  * micro-batch (SURVEY.md §2.7) — `file_watcher/` polled on a
  * schedule — which maps exactly onto a file-source stream with
  * `Trigger.AvailableNow`: process everything that has landed, then
  * stop; re-run on the next schedule. `cleanSource=archive` reproduces
  * the post-commit archive move (K5).
  *
  * Watermarked tumbling-window aggregation is the extension surface
  * for the `events` stream table (not required for reference parity —
  * the reference has no event-time logic).
  */
object StreamingIngest {

  /** File-source stream over a landing directory; `pathGlobFilter`
    * narrows to the config's file shape (S3's glob analog — full regex
    * selection stays a batch-side concern).
    */
  def fileStream(
      spark: SparkSession,
      directory: String,
      schema: StructType,
      globFilter: String,
      archiveDir: Option[String] = None
  ): DataFrame = {
    val r = spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("pathGlobFilter", globFilter)
      .option("maxFilesPerTrigger", "1000")
    archiveDir
      .map(a => r.option("cleanSource", "archive").option("sourceArchiveDir", a))
      .getOrElse(r)
      .csv(directory)
  }

  /** Run an ingestion stream to completion of the currently-available
    * backlog (`Trigger.AvailableNow`), landing each micro-batch through
    * `onBatch` — where the registry upsert + datasetid stamping live
    * (the transactional seam `foreachBatch` provides).
    */
  def runAvailableNow(
      source: DataFrame,
      checkpoint: String,
      onBatch: (DataFrame, Long) => Unit
  ): StreamingQuery = {
    val q = source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        onBatch(df.toDF(), id))
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming deduplication: drop re-deliveries of the same key
    * within the watermark horizon — the streaming form of the
    * reference's "same (label,type,date) re-delivered" story, with
    * state bounded by the watermark instead of growing forever.
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermark: String
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming fuzzy decontamination — the ingest-time form of
    * [[graft.operators.Dedup.lshDecontam]]: drop arriving documents
    * whose MinHash-estimated Jaccard against some document of a STATIC
    * eval set reaches `threshold`. The eval index (signature + band
    * array per eval doc) is computed once on the static side and
    * broadcast, so each micro-batch is a STATELESS map + broadcast
    * anti-join: no state store, no shuffle, unbounded-corpus safe. A
    * candidate must share a band (`arrays_overlap` over the same band
    * structs the batch operator joins on) AND clear the
    * signature-agreement estimate — identical constants, so the
    * surviving stream equals the batch filter row-for-row
    * (StreamingSpec pins it).
    */
  def decontamStream(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.35
  ): DataFrame = {
    import graft.operators.Dedup
    Dedup.requireLsh(k, numHashes, bands, threshold)
    def bandsOf(sig: Column) = Dedup.lshBands(sig, bands, numHashes / bands)
    val evalIdx = Dedup
      .sketch(evalDocs, col(idCol), Dedup.minHashSignature(col(textCol), k, numHashes))
      .select(col("sig").as("__sig_b"), bandsOf(col("sig")).as("__bands_b"))
    docs
      .withColumn("__sig", Dedup.minHashSignature(col(textCol), k, numHashes))
      // an empty signature (short doc) yields empty band_key slices,
      // which can never equal an eval band's r values — no guard needed
      .withColumn("__bands", bandsOf(col("__sig")))
      .join(broadcast(evalIdx),
        arrays_overlap(col("__bands"), col("__bands_b")) &&
          Dedup.estimate(col("__sig"), col("__sig_b"), numHashes) >= threshold,
        "left_anti")
      .drop("__sig", "__bands")
  }

  /** Watermarked tumbling-window aggregation over an event stream —
    * count + sum(value) per (window, event_type). Late rows beyond the
    * watermark are dropped; state is bounded by watermark horizon ×
    * group cardinality, which is what keeps it runnable over an
    * unbounded 100 TB/day firehose.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowLen: String,
      watermark: String
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("bucket"),
        col("event_type"),
        col("n"),
        col("sum_value")
      )

  /** Streaming approximate-distinct: per-window HLL register sketch
    * (`operators.ApproxDistinct` derivation, windowed grouping). The
    * register max-merge is associative and commutative, so Spark's
    * incremental state store IS the sketch — per-window state is the
    * CONSTANT m registers per group no matter how many events land,
    * which is what makes distinct-users-per-hour runnable over an
    * unbounded stream (exact distinct would hold every user id in
    * state). Estimates come from `ApproxDistinct.hllEstimate` over
    * the emitted registers; StreamingSpec proves register equality
    * with the batch sketch per window.
    */
  def approxDistinctStream(
      events: DataFrame,
      tsCol: String,
      windowLen: String,
      watermark: String,
      groupCols: Seq[String],
      valueCol: String
  ): DataFrame =
    graft.operators.ApproxDistinct
      .registerInputs(events.withWatermark(tsCol, watermark), valueCol)
      .groupBy((window(col(tsCol), windowLen) +: groupCols.map(col)) :+ col("bucket"): _*)
      .agg(max("rho").as("max_rho"))
      .select((col("window.start").as("win_start") +: groupCols.map(col)) :+
        col("bucket") :+ col("max_rho"): _*)

  /** Streaming top-k per (window, group) via the `functions.TopK`
    * typed aggregator: like the batch form, state per group is the k
    * best pairs — not the event backlog — so "top sessions by value
    * per hour" holds constant memory per window×group on an unbounded
    * stream. Emits (win_start, group, rank, id, value) rows.
    */
  def topKStream(
      events: DataFrame,
      tsCol: String,
      windowLen: String,
      watermark: String,
      groupCol: String,
      valueCol: String,
      idCol: String,
      k: Int
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(groupCol))
      .agg(graft.functions.TopK.topK(col(valueCol), col(idCol), k).as("tk"))
      .select(col("window.start").as("win_start"), col(groupCol), posexplode(col("tk")))
      .select(col("win_start"), col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as(idCol), col("col._1").as(valueCol))

  /** Streaming PQ encoding: compress an unbounded embedding stream to
    * m byte-codes per vector against a PRE-TRAINED (batch) codebook.
    * [[graft.operators.Pq.encode]] is a stateless mapPartitions with
    * the model broadcast, so it applies to a streaming Dataset
    * unchanged — no state store, no shuffle; each micro-batch encodes
    * map-only. This is the online half of the ANN pipeline: train
    * offline (ss04), encode arrivals in-flight, ADC-search the
    * accumulated code table.
    */
  def pqEncodeStream(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      model: graft.operators.Pq.Model
  ): DataFrame =
    graft.operators.Pq.encode(vectors, idCol, vecCol, model)

  /** Stream-stream interval join — the streaming form of
    * [[graft.queries.Extras.x28ConversionWindow]]'s attribution probe:
    * pair each click with the purchases the same user makes within
    * `horizon` afterwards, as both sides arrive. Both inputs carry
    * watermarks and the join condition is an EQUI-join on user plus a
    * bounded time range, so Spark can expire join state: a buffered
    * click is dropped once the purchase watermark passes
    * `click.ts + horizon`, and a buffered purchase once the click
    * watermark passes its timestamp — state is (watermark + horizon) ×
    * arrival rate, not the stream's history. An UNBOUNDED time
    * condition here would grow state forever; the range predicate is
    * what makes the join runnable over an unbounded firehose.
    */
  def attributionJoinStream(
      clicks: DataFrame,     // (event_id, user_id, ts)
      purchases: DataFrame,  // (user_id, ts)
      horizon: String,       // e.g. "1 hour"
      watermark: String
  ): DataFrame = {
    val c = clicks
      .select(col("event_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    c.join(p,
      col("c_user") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"interval $horizon"))
      .select(col("event_id"), col("c_user").as("user_id"), col("c_ts"), col("p_ts"))
  }

  /** Native streaming sessionization via Spark's `session_window`
    * aggregation: state per (user, open session) is the running
    * aggregate only, windows merge as gaps fill in, and the watermark
    * both emits closed sessions and bounds state — the built-in
    * counterpart to [[Sessionize.sessionsWithTimeout]] when
    * per-session numbering isn't needed (gap-merge semantics differ
    * only at diff == gap exactly; see SessionizeSpec).
    */
  def sessionWindowStream(
      events: DataFrame,
      tsCol: String,
      userCol: String,
      gap: String,
      watermark: String
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol), col("sw.start").as("start_ts"),
        col("sw.end").as("end_ts"), col("n_events"))
}
