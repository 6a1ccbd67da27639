package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings this engine assumes everywhere:
  * UTC timestamps (oracle parity), shuffle partitions sized for the
  * local[32] harness (not the 200 default meant for real clusters),
  * AQE on so skewed joins/aggregations re-plan at runtime.
  *
  * On a real cluster the same builder is used minus `master`; shuffle
  * partitions then come from AQE coalescing
  * (`spark.sql.adaptive.coalescePartitions.enabled`).
  */
object Sessions {

  /** Size of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), set by both
    * [[local]] and [[clusterBuilder]]. Repeated queries in one session
    * then compile each generated class once instead of once per run.
    * Sized from measured traffic: one pass of perfbench's `search_mix`
    * generates 291 distinct classes, one `nightly_import` season 76,
    * and one pass over all 194 catalog rows at sf0.001 about 2,860, so
    * every workload the benchmarks and the spec suite run in one
    * session fits. At the default the cache thrashed: every
    * `search_mix` pass recompiled all of its classes with Janino and
    * the JIT warmed each new class from scratch. The cost is the
    * cached bytecode, about 30 KB per class: +11 MB retained heap on
    * `search_mix`, +88 MB after a whole-catalog pass. A static SQL
    * conf, so it is fixed when the session is built and stays out of
    * [[clusterConfigs]], which are applied to a live session.
    *
    * The cache is keyed on the source text, so both builders also set
    * `spark.sql.codegen.useIdInClassName` to false: the class is then
    * `GeneratedIterator`, not `GeneratedIteratorForCodegenStage<id>`.
    * AQE numbers codegen stages in the order it creates query stages,
    * and in a plan with independent branches that order follows which
    * branch finishes first, so a repeated query can number the same
    * stage differently and miss the cache. ss20 (one plan over a
    * cogroup branch and a bucket-join branch) recompiled 4 classes on
    * a repeated pass in 2 of 3 runs of PlanSpec's codegen test, each a
    * stage whose id had swapped with another's.
    */
  val CodegenCacheEntries: Int = 4096

  /** The `file:` FileSystem both builders register (and GenData's own
    * builder): [[graft.ops.NioLocalFileSystem]], which sets local file
    * and directory permissions through java.nio with the same bits and
    * keeps the rename rule of the class it replaces.
    * Without `libhadoop` the stock `RawLocalFileSystem` forks a `chmod`
    * process, about 5.5 ms, for every file it creates, every `.crc`
    * sidecar and every directory `mkdirs` makes: 3 or 4 per registry
    * snapshot commit and about 8 per partitioned Spark write. One
    * perfbench `nightly_import` run (seed 1, 15 seasons, 4 vCPU)
    * forked 2,115 of them, 141 per season; with this setting it forks
    * none (`plans/r22/nightly_forks_{before,after}.txt`). A fixed
    * engine setting like the codegen pair, not an option.
    *
    * Hadoop caches FileSystem instances per scheme and user, not per
    * configuration: a `file:` FileSystem created in the JVM before the
    * session's SparkContext keeps the stock class for the rest of the
    * JVM. Structured Streaming checkpoints go through `FileContext`,
    * whose `RawLocalFs` builds its own `RawLocalFileSystem`, so this
    * setting does not reach them.
    */
  val LocalFsImpl: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[graft.ops.NioLocalFileSystem].getName

  /** Builder pre-configured for a real cluster run against ~100 TB.
    * No `master` — spark-submit supplies it. Differences from the
    * local harness are the knobs that only matter at scale:
    * AQE coalescing + skew-join splitting sized by
    * `advisoryPartitionSizeInBytes`, CBO fed by `ANALYZE TABLE`
    * (ops.Maintenance.analyze), dynamic partition pruning for the
    * registry→fact semi-joins, and 128 MB scan partitions.
    */
  /** The scale knobs [[clusterBuilder]] applies, as data — exposed so
    * ClusterConfigSpec can apply the SQL-conf subset to an isolated
    * session (a `SparkSession.Builder` cannot be introspected) and
    * prove the mechanisms each knob enables actually fire.
    */
  val clusterConfigs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (128 * 1024 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> (128 * 1024 * 1024).toString,
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> "2000" // AQE coalesces down
  )

  def clusterBuilder(app: String = "graft"): SparkSession.Builder =
    clusterConfigs
      .foldLeft(SparkSession.builder().appName(app)) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config(LocalFsImpl._1, LocalFsImpl._2)

  /** Shuffle width for local surfaces: the core count (right for the
    * sf0.1 harness) unless SPARK_GRAFT_SHUFFLE_PARTITIONS overrides
    * it for larger local notches. Shared by [[local]] and Bench so
    * the knob cannot drift between the two session builders.
    */
  def shuffleWidth(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", default)

  def local(cores: Int = 32, app: String = "graft"): SparkSession = {
    val shuffle = shuffleWidth(cores.toString)
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config(LocalFsImpl._1, LocalFsImpl._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
