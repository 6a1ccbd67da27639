package graft

import org.apache.spark.sql.functions._

/** Exercises the 100-TB knobs `Sessions.clusterBuilder` encodes —
  * previously nothing proved they do anything. Each test applies the
  * builder's SQL-conf map ([[Sessions.clusterConfigs]]) to an isolated
  * session (same SparkContext, fresh SQLConf) and asserts the
  * mechanism the knob enables actually engages in an executed plan:
  *
  *  - `spark.sql.optimizer.dynamicPartitionPruning.enabled` → a
  *    datasetid-partitioned fact joined against a filtered dim (the
  *    registry→fact version-resolution shape: facts land partitioned
  *    by datasetid, the registry names the single active version)
  *    gets a `dynamicpruning` subquery in its PartitionFilters — at
  *    100 TB that is the difference between scanning one version's
  *    partitions and scanning the table.
  *  - `spark.sql.adaptive.skewJoin.enabled` +
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes` → a sort-merge
  *    join with one celebrity key re-plans at runtime with skew
  *    splitting (runtime size thresholds scaled down to test data;
  *    the MECHANISM is what the builder turns on).
  */
class ClusterConfigSpec extends SparkSpec {
  import spark.implicits._

  private def clusterSession() = {
    val s = spark.newSession()
    Sessions.clusterConfigs.foreach { case (k, v) =>
      if (k != "spark.sql.shuffle.partitions") s.conf.set(k, v)
    }
    s.conf.set("spark.sql.shuffle.partitions", "8") // test-sized; AQE coalesces on a cluster
    s
  }

  test("clusterBuilder: dynamic partition pruning fires on the registry→fact version join") {
    val s = clusterSession()
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    // fact landed datasetid-partitioned (K1's layout), 20 versions
    (0 until 20).flatMap(d => (0 until 50).map(i => (d.toLong, i.toLong, s"row$i")))
      .toDF("datasetid", "seq", "payload")
      .write.partitionBy("datasetid").mode("overwrite").parquet(dir)
    val fact = s.read.parquet(dir)
    // registry dim: one active version among many. Parquet-backed and
    // typed like the partition column: DPP requires a SELECTIVE FILTER
    // above a real scan (a literal dim constant-folds the filter away)
    // and an un-cast join key
    val regDir = java.nio.file.Files.createTempDirectory("dpp-reg").toString
    (0 until 20).map(d => (d, if (d == 7) "active" else "inactive"))
      .toDF("datasetid", "status")
      .write.mode("overwrite").parquet(regDir)
    val registry = s.read.parquet(regDir)
    val resolved = fact.join(
      registry.filter(col("status") === "active").select("datasetid"), "datasetid")
    // collect() finalizes THIS Dataset's QueryExecution (count() would
    // execute a different one and leave this plan un-finalized)
    val n = resolved.collect().length
    assert(n == 50, s"one active version of 50 rows, got $n")
    val plan = resolved.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"spark.sql.optimizer.dynamicPartitionPruning.enabled must inject a pruning " +
        s"subquery into the fact scan's PartitionFilters:\n$plan")
  }

  test("clusterBuilder: AQE skew-join splitting engages on a celebrity key") {
    val s = clusterSession()
    // runtime thresholds scaled to test data (the builder's 128 MB
    // advisory size is the production value; the knob under test is
    // that skewJoin.enabled re-plans at all)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force sort-merge
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    import s.implicits._
    // one key carries 200k rows; the rest are singletons
    val left = s.range(200000).select(lit(0L).as("k"), col("id").as("lv"))
      .union(s.range(1, 1000).select(col("id").as("k"), col("id").as("lv")))
    val right = s.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("rv"))
    val joined = left.join(right, "k")
    assert(joined.collect().length == 200999) // finalizes joined's own QE
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") || plan.toLowerCase.contains("skewed"),
      s"spark.sql.adaptive.skewJoin.enabled must split the celebrity partition " +
        s"at runtime (expected a skew-marked join or AQEShuffleRead):\n$plan")
  }

  test("clusterBuilder itself builds and carries every knob (local master override)") {
    // the builder is spark-submit's entry point on a real cluster; a
    // master override must yield a session whose conf carries each
    // knob. getOrCreate() on a JVM with a live context returns the
    // ACTIVE session with the builder's SQL confs applied onto it —
    // snapshot and restore them, or the suite session inherits
    // shuffle.partitions=2000 and later stream tests blow past
    // spark.driver.maxResultSize. The suite session already carries the
    // `file:` setting from Sessions.local; it is unset first, so only
    // the builder can put it back
    val knobs = Sessions.clusterConfigs + Sessions.LocalFsImpl
    val prior = knobs.keys
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption).toMap
    spark.conf.unset(Sessions.LocalFsImpl._1)
    val s = Sessions.clusterBuilder("graft-test").master("local[2]").getOrCreate()
    try {
      knobs.foreach { case (k, v) =>
        assert(s.conf.get(k) == v, s"knob $k must survive into the session")
      }
    } finally {
      prior.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }
}
