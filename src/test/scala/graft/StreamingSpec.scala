package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.Tables
import graft.streaming.StreamingIngest

class StreamingSpec extends SparkSpec {

  test("windowed streaming agg over events equals the batch computation (AvailableNow)") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").events
    // land the events as a parquet "stream backlog"
    batch.write.parquet(s"$dir/in")

    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val agg = StreamingIngest.windowedCounts(stream, "ts", "1 hour", "10 minutes")

    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("win_counts")
      .start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("win_counts")
      .orderBy("bucket", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val want = batch
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("sliding-window streaming agg (1h/30m + watermark) equals the batch st02 shape") {
    val dir = Files.createTempDirectory("graft-slide").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").events
    batch.write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("slide_counts")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slide_counts")
      .orderBy("win_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val want = batch
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      .orderBy("win_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("stateful windowed agg RESUMES from the state store across restarts (exactly-once)") {
    // the cron-driven contract under failure: a windowed aggregation
    // checkpointed to disk, stopped, and restarted over newly-landed
    // data must end bit-equal to one batch pass over everything —
    // counts continue from recovered state, no double-counting of the
    // first half, no loss of open windows.
    val root = Files.createTempDirectory("graft-restart")
    val events = Tables(spark, "/root/testdata/sf0.001").events
      .select("ts", "event_type").localCheckpoint()
    val half = events.count() / 2
    import org.apache.spark.sql.expressions.Window
    val numbered = events.withColumn("rn",
      row_number().over(Window.orderBy("ts", "event_type")))
    numbered.filter(col("rn") <= half).drop("rn")
      .write.parquet(s"$root/in") // first tranche
    val schema = spark.read.parquet(s"$root/in").schema

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$root/in")
      val agg = stream
        .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName("restart_counts")
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      q.processAllAvailable()
      q.stop()
    }

    runOnce() // first run: half the data, state lands in the checkpoint
    numbered.filter(col("rn") > half).drop("rn")
      .write.mode("append").parquet(s"$root/in") // second tranche arrives
    runOnce() // restart from the same checkpoint

    val got = spark.table("restart_counts")
      .orderBy("bucket", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val want = events
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq,
      "restarted stream must equal one batch pass over all data")
  }

  test("streaming HLL registers per window equal the batch sketch (constant state per group)") {
    import graft.operators.ApproxDistinct
    val dir = Files.createTempDirectory("graft-hllstream").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").events
    batch.write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val regs = StreamingIngest.approxDistinctStream(
      stream, "ts", "1 hour", "1 hour", Seq("event_type"), "user_id")
    val q = regs.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hll_regs")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hll_regs")
    val want = ApproxDistinct
      .hllRegisters(
        batch.withColumn("win_start", window(col("ts"), "1 hour")("start")),
        Seq("win_start", "event_type"), "user_id")
    assert(got.count() > 0)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // and the estimates computed from the streamed registers agree
    val em = ApproxDistinct.hllEstimate(got, Seq("win_start", "event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getDouble(3)).toMap
    val ed = ApproxDistinct.hllEstimate(want, Seq("win_start", "event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(em == ed)
  }

  test("stream-stream interval join equals the batch attribution join across tranches") {
    // clicks and purchases arrive as SEPARATE streams in two
    // time-ordered tranches; a click landing in tranche 1 must still
    // pair with its purchase landing in tranche 2, i.e. the join
    // buffers state across micro-batches — and the final pair set must
    // equal the batch interval join over everything.
    val root = Files.createTempDirectory("graft-ssjoin")
    val ev = Tables(spark, "/root/testdata/sf0.001").events
      .select("event_id", "user_id", "ts", "event_type").localCheckpoint()
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts")
    val splitTs = ev.selectExpr("percentile(unix_micros(ts), 0.5)").first().getDouble(0)
    def tranches(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
      df.filter(expr(s"unix_micros(ts) <= ${splitTs.toLong}"))
        .write.parquet(path)
      df.filter(expr(s"unix_micros(ts) > ${splitTs.toLong}"))
        .write.mode("append").parquet(path)
    }
    tranches(clicks, s"$root/clicks")
    tranches(purchases, s"$root/purch")
    def src(path: String, sample: org.apache.spark.sql.DataFrame) =
      spark.readStream.schema(sample.schema)
        .option("maxFilesPerTrigger", "1").parquet(path)
    val joined = StreamingIngest.attributionJoinStream(
      src(s"$root/clicks", clicks), src(s"$root/purch", purchases),
      horizon = "1 hour", watermark = "2 hours")
    val q = joined.writeStream
      .outputMode("append").format("memory").queryName("ss_join")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join")
      .orderBy("event_id", "p_ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))
    val want = clicks.alias("c")
      .join(purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts")),
        col("user_id") === col("p_user") &&
          col("p_ts") > col("ts") && col("p_ts") <= col("ts") + expr("interval 1 hour"))
      .select(col("event_id"), col("user_id"), col("ts").as("c_ts"), col("p_ts"))
      .orderBy("event_id", "p_ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))
    assert(got.nonEmpty, "fixture must produce at least one attributed pair")
    assert(got.toSeq == want.toSeq,
      "stream-stream interval join must equal the batch interval join")
  }

  test("streaming top-k per window equals the batch window ranking") {
    val dir = Files.createTempDirectory("graft-topk-stream").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").events
    batch.write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingIngest
      .topKStream(stream, "ts", "1 hour", "1 hour", "event_type", "value", "event_id", k = 3)
      .writeStream.outputMode("complete").format("memory").queryName("topk_stream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("topk_stream")
      .orderBy("win_start", "event_type", "rank")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start", "event_type").orderBy(desc("value"), asc("event_id"))
    val want = batch
      .withColumn("win_start", window(col("ts"), "1 hour")("start"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .orderBy("win_start", "event_type", "rank")
      .collect().map(r => (r.getTimestamp(r.fieldIndex("win_start")),
        r.getString(r.fieldIndex("event_type")), r.getInt(r.fieldIndex("rank")),
        r.getLong(r.fieldIndex("event_id"))))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("streaming priority sample equals the batch sample (map-only priorities + TopK state)") {
    import graft.functions.MixedHash64
    val dir = Files.createTempDirectory("graft-psample-stream").toString
    val batchDocs = Tables(spark, "/root/testdata/sf0.001").documents
    batchDocs.write.parquet(s"$dir/in")
    MixedHash64.register(spark)
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    // the same map-only priority the batch operator computes, fed to
    // the TopK aggregator as bounded stream state (k rows, no window)
    val trimmed = trim(col("text"))
    val weight = when(length(trimmed) === 0, lit(0))
      .otherwise(size(split(trimmed, "\\s+"))).cast("double")
    val u = (pmod(MixedHash64(concat(lit("ps"), col("doc_id").cast("string"))),
      lit(1L << 53)) + 1).cast("double") / lit((1L << 53).toDouble)
    val q = stream
      .select(col("doc_id"), (weight / u).as("priority"))
      .agg(graft.functions.TopK.topK(col("priority"), col("doc_id"), 20).as("tk"))
      .select(posexplode(col("tk")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("doc_id"), col("col._1").as("priority"))
      .writeStream.outputMode("complete").format("memory").queryName("psample_stream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("psample_stream").orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val scored = batchDocs.select(col("doc_id"),
      when(length(trimmed) === 0, lit(0))
        .otherwise(size(split(trimmed, "\\s+"))).as("n_tokens"))
    val want = graft.operators.Packing
      .prioritySample(scored, "doc_id", "n_tokens", k = 20, seed = "ps")
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1, r.getLong(0), r.getDouble(2)) }
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("streaming PQ encode yields the exact batch codes, map-only (no state store)") {
    import graft.operators.Pq
    val dir = Files.createTempDirectory("graft-pq-stream").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").embeddings
    batch.write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val model = Pq.train(batch, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingIngest.pqEncodeStream(stream, "vec_id", "embedding", model)
      .writeStream.outputMode("append").format("memory").queryName("pq_stream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pq_stream").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val want = Pq.encode(batch, "vec_id", "embedding", model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(got.nonEmpty && got == want)
    // append mode with no aggregation ⇒ stateless plan (no state store dirs)
    assert(spark.table("pq_stream").count() == batch.count())
  }

  test("decontamStream drops exactly the docs the batch lshDecontam flags") {
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft-decontam-stream").toString
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val train = docs.filter(col("doc_id") % 10 =!= 7)
    val eval = docs.filter(col("doc_id") % 10 === 7)
    train.write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingIngest
      .decontamStream(stream, eval, "doc_id", "text", threshold = 0.35)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("decontam_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("decontam_out").collect().map(_.getLong(0)).toSet
    val flagged = Dedup.lshDecontam(train, eval, "doc_id", "text", threshold = 0.35)
      .collect().map(_.getLong(0)).toSet
    val want = train.select("doc_id").collect().map(_.getLong(0)).toSet -- flagged
    assert(flagged.nonEmpty, "fixture must actually flag something")
    assert(got == want,
      s"stream-vs-batch drift: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
  }

  test("native session_window stream closes the same sessions as the batch aggregation") {
    val dir = Files.createTempDirectory("graft-sesswin-stream").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").events
    batch.write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = StreamingIngest
      .sessionWindowStream(stream, "ts", "user_id", "30 minutes", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("sesswin").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sesswin").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val all = batch
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start"), col("sw.end"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    // append mode emits only watermark-closed sessions: a subset that
    // misses at most each user's last session
    assert(got.nonEmpty && got.subsetOf(all))
    val missed = all -- got
    val lastStart = all.groupBy(_._1).map { case (u, s) => u -> s.map(_._2.getTime).max }
    assert(missed.forall { case (u, st, _, _) => st.getTime == lastStart(u) },
      s"only per-user tail sessions may stay open, missed: ${missed.take(3)}")
  }

  test("stream-static enrichment join equals the batch join (dim broadcast per micro-batch)") {
    val dir = Files.createTempDirectory("graft-ss-join").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").events
    batch.write.parquet(s"$dir/in")
    // static dim: event_type -> weight (tiny, joins broadcast)
    import spark.implicits._
    val dim = Seq(("view", 1), ("click", 2), ("purchase", 10), ("signup", 5), ("error", 0))
      .toDF("event_type", "weight")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val enriched = stream.join(dim, "event_type")
      .groupBy("event_type", "weight").agg(count(lit(1)).as("n"))
    val q = enriched.writeStream
      .outputMode("complete").format("memory").queryName("ss_join").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join").orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val want = batch.join(dim, "event_type")
      .groupBy("event_type", "weight").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("streaming bigram-LM scoring (stream-static model joins) equals batch scores") {
    import graft.operators.TextAnalysis
    val dir = Files.createTempDirectory("graft-bigram-stream").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").documents
    batch.write.parquet(s"$dir/in")
    // the model is trained in batch and served to the stream — the
    // production shape: model tables static, scoring joins per batch
    val model = TextAnalysis.bigramLmTrain(batch, "doc_id", "text")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val q = TextAnalysis.bigramLmScore(stream, "doc_id", "text", model)
      .writeStream.outputMode("complete").format("memory").queryName("bigram_stream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("bigram_stream").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    // streaming emits covered docs only (no left-join shell on a stream)
    val want = TextAnalysis.bigramLmScore(batch, "doc_id", "text", model)
      .filter(col("n_bigrams") > 0).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("streaming dedup drops re-delivered keys within the watermark") {
    val dir = Files.createTempDirectory("graft-dedup").toString
    val batch = Tables(spark, "/root/testdata/sf0.001").events.limit(200)
    // duplicate every event (re-delivery) — stream must emit each once
    batch.union(batch).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    val deduped = StreamingIngest.dedupStream(stream, Seq("event_id"), "ts", "1 hour")
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out")
    assert(got.count() == 200)
    assert(got.select("event_id").distinct().count() == 200)
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    val dir = Files.createTempDirectory("graft-late").toString
    import java.sql.Timestamp
    import spark.implicits._
    def write(name: String, rows: Seq[(Timestamp, String)]): Unit =
      rows.toDF("ts", "k").repartition(1).write.parquet(s"$dir/in/$name")
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: events up to 12:00 → watermark moves to 12:00 - 10m = 11:50
    write("b1", Seq(
      (t("2024-01-01 10:05:00"), "a"),
      (t("2024-01-01 10:20:00"), "a"),
      (t("2024-01-01 12:00:00"), "b")))

    val schema = spark.read.parquet(s"$dir/in/b1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in/*")
    val agg = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win"), col("n"))
    val q = agg.writeStream
      .outputMode("append") // append emits a window only once it's final
      .format("memory")
      .queryName("late_drop")
      .start()
    q.processAllAvailable() // batch 1 commits; watermark = 11:50
    // batch 2: a LATE event at 10:07 — its 10:00 window closed at 11:50
    write("b2", Seq((t("2024-01-01 10:07:00"), "late")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_drop").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // the finalized 10:00 window counts ONLY the two on-time events;
    // the late arrival was discarded, not double-emitted
    assert(out.get(t("2024-01-01 10:00:00")).contains(2L),
      s"late row must be dropped from the closed window: $out")
  }

  test("stream-stream interval join (clicks before purchase, both watermarked) equals batch") {
    val dir = Files.createTempDirectory("graft-ssj").toString
    val ev = Tables(spark, "/root/testdata/sf0.001").events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
    purchases.write.parquet(s"$dir/p")
    clicks.write.parquet(s"$dir/c")

    def src(path: String) = {
      val schema = spark.read.parquet(path).schema
      spark.readStream.schema(schema).parquet(path)
    }
    val joinCond = expr(
      "user_id = c_user AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts")
    val joined = src(s"$dir/p").withWatermark("p_ts", "1 hour")
      .join(src(s"$dir/c").withWatermark("c_ts", "1 hour"), joinCond, "inner")
      .select("p_id", "c_id")
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ssj_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = purchases.join(clicks, joinCond, "inner")
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("file-source ingestion with Trigger.AvailableNow lands batches through foreachBatch") {
    val root = Files.createTempDirectory("graft-stream2")
    val in = Files.createDirectories(root.resolve("landing"))
    Files.write(in.resolve("20250401T120000_data.csv"), "id,v\n1,a\n2,b\n".getBytes)
    Files.write(in.resolve("20250402T120000_data.csv"), "id,v\n3,c\n".getBytes)

    val schema = org.apache.spark.sql.types.StructType.fromDDL("id STRING, v STRING")
    val src = StreamingIngest.fileStream(spark, in.toString, schema, "*_data.csv")
    var total = 0L
    StreamingIngest.runAvailableNow(src, s"$root/ckpt", (df, _) => total += df.count())
    assert(total == 3L)

    // a second AvailableNow run sees no new files (checkpointed offsets)
    var second = 0L
    val src2 = StreamingIngest.fileStream(spark, in.toString, schema, "*_data.csv")
    StreamingIngest.runAvailableNow(src2, s"$root/ckpt", (df, _) => second += df.count())
    assert(second == 0L)

    // new arrival is picked up incrementally
    Files.write(in.resolve("20250403T120000_data.csv"), "id,v\n4,d\n5,e\n".getBytes)
    var third = 0L
    val src3 = StreamingIngest.fileStream(spark, in.toString, schema, "*_data.csv")
    StreamingIngest.runAvailableNow(src3, s"$root/ckpt", (df, _) => third += df.count())
    assert(third == 2L)
  }

  test("streamed landing files flow through incremental dedup (ingestBatch in foreachBatch)") {
    // the operational composition a daily feed runs: file stream →
    // foreachBatch → Dedup.ingestBatch (exact drop + near-dup report +
    // index append + compaction trigger). Re-delivered content must be
    // dropped across MICRO-BATCHES via the on-disk fingerprint index,
    // not stream state — the index survives stream restarts.
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-stream-dedup")
    val in = Files.createDirectories(root.resolve("landing"))
    def doc(id: Int, words: String) = s"$id,$words"
    // batch file 1: two docs; batch file 2: one fresh doc + EXACT copy
    // of doc 1 under a new id + a near-dup of doc 2 (one word changed)
    Files.write(in.resolve("b1_docs.csv"), (Seq("doc_id,text") ++ Seq(
      doc(1, "the quick brown fox jumps over the lazy dog tonight"),
      doc(2, "pack my box with five dozen liquor jugs right now"))).mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING")
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Long]
    val nearDups = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain(): Unit = {
      val src = StreamingIngest.fileStream(spark, in.toString, schema, "*_docs.csv")
      StreamingIngest.runAvailableNow(src, s"$root/ckpt", (df, _) => {
        val r = Dedup.ingestBatch(df, "doc_id", "text",
          s"$root/idx/lsh", s"$root/idx/fp", threshold = 0.3)
        fresh ++= r.fresh.select("doc_id").collect().map(_.getLong(0))
        nearDups ++= r.nearDups.select("id_new", "id_old").collect()
          .map(r0 => (r0.getLong(0), r0.getLong(1)))
      })
    }
    drain()
    assert(fresh.sorted == Seq(1L, 2L))
    // second landing, separate stream run (fresh checkpoint history is
    // irrelevant: the dedup memory lives in the index, not the stream)
    Files.write(in.resolve("b2_docs.csv"), (Seq("doc_id,text") ++ Seq(
      doc(3, "sphinx of black quartz judge my vow again today friend"),
      doc(4, "the quick brown fox jumps over the lazy dog tonight"),
      doc(5, "pack my box with five dozen liquor jugs right here"))).mkString("\n").getBytes)
    drain()
    assert(fresh.sorted == Seq(1L, 2L, 3L, 5L),
      s"exact re-delivery (doc 4) must be dropped by the fingerprint index, got $fresh")
    assert(nearDups.contains((5L, 2L)),
      s"the near-dup of doc 2 must surface against the historical index, got $nearDups")
    // and the on-disk index now covers both batches' survivors
    val idxIds = spark.read.parquet(s"$root/idx/lsh/sigs").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(idxIds == Seq(1L, 2L, 3L, 5L))
  }

  test("stream metrics recorder snapshots per-batch progress and state size to a stats table") {
    import graft.streaming.StreamMetricsRecorder
    val root = Files.createTempDirectory("graft-smetrics")
    val batch = Tables(spark, "/root/testdata/sf0.001").events
    batch.write.parquet(s"$root/in")
    val schema = spark.read.parquet(s"$root/in").schema
    val rec = new StreamMetricsRecorder(spark, s"$root/stats")
    rec.start()
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8").parquet(s"$root/in")
      val agg = StreamingIngest.windowedCounts(stream, "ts", "1 hour", "10 minutes")
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("smetrics_counts")
        .option("checkpointLocation", s"$root/ckpt").start()
      q.processAllAvailable()
      // listener events are delivered asynchronously on the bus
      var waited = 0
      while (rec.snapshots.isEmpty && waited < 100) { Thread.sleep(100); waited += 1 }
      q.stop()
    } finally rec.stop()
    val snaps = rec.snapshots
    assert(snaps.nonEmpty, "at least one micro-batch progress snapshot")
    assert(snaps.map(_.numInputRows).sum == batch.count(),
      s"snapshots must account for every input row: $snaps")
    assert(snaps.exists(_.stateRows > 0),
      s"the windowed aggregation must report state-store rows: $snaps")
    rec.flush()
    val persisted = spark.read.parquet(s"$root/stats")
    assert(persisted.count() == snaps.size,
      "flush must persist exactly the captured snapshots")
    assert(rec.snapshots.isEmpty, "flush drains the buffer")
  }

  test("streamed summary maintenance (foreachBatch + Incremental.merge) equals recompute") {
    // x41's pattern run the way production runs it: each micro-batch's
    // partial summary merges into an on-disk summary table; after all
    // tranches land, the maintained table must be BIT-equal to a full
    // recompute over everything — per micro-batch cost is one
    // delta-aggregate + a summary-sized merge, never a fact rescan.
    import graft.operators.Incremental
    val root = Files.createTempDirectory("graft-inc-sum")
    val events = Tables(spark, "/root/testdata/sf0.001").events
      .select("event_type", "ts", "value").localCheckpoint()
    val cut = lit("2024-01-16").cast("date")
    events.filter(col("ts").cast("date") < cut).coalesce(1)
      .write.parquet(s"$root/in")
    val schema = spark.read.parquet(s"$root/in").schema
    def drain(): Unit = {
      val src = spark.readStream.schema(schema).parquet(s"$root/in")
      StreamingIngest.runAvailableNow(src, s"$root/ckpt", (df, _) => {
        val delta = Incremental.partialSummary(df)
        val merged =
          if (new java.io.File(s"$root/summary").exists())
            Incremental.mergeSummaries(
              spark.read.parquet(s"$root/summary"), delta)
          else delta
        val out = merged.localCheckpoint() // sever lineage from the pre-overwrite files
        out.write.mode("overwrite").parquet(s"$root/summary")
      })
    }
    drain()
    events.filter(col("ts").cast("date") >= cut).coalesce(1)
      .write.mode("append").parquet(s"$root/in")
    drain()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "n_events", "sum_value_exact", "first_day", "last_day")
      .orderBy("event_type").collect().map(_.toString).toSeq
    assert(rows(spark.read.parquet(s"$root/summary")) ==
      rows(Incremental.partialSummary(events)),
      "maintained summary must equal the full recompute bit-exactly")
  }
}
