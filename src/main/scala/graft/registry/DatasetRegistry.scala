package graft.registry

import java.sql.{Date, Timestamp}

import scala.util.Using

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Type.Repetition.{OPTIONAL, REQUIRED}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import graft.model.{DatasetMeta, DatasetStatus}

/** The dataset registry — the keystone of the versioned data model
  * (SURVEY.md §1.1), a Spark-native `dba.tdataset`
  * (reference: onboarding/sql/dataset_setup.sql:122-139).
  *
  * Invariant (enforced app-side at generic_import.py:280-297 AND by
  * trigger at dataset_setup.sql:193-236 in the reference): at most one
  * ACTIVE dataset per (label, datasettypeid, datasetdate).
  *
  * Concurrency: the reference's DB trigger serializes writers from any
  * number of client processes; a filesystem table needs its own commit
  * protocol. Every mutation here is optimistic-CAS over versioned
  * snapshots at `<path>.versions/`:
  *   1. read the latest COMMITTED snapshot (version v = marker + data);
  *   2. apply the mutation and write the result to a unique tmp dir —
  *      one parquet file written on the driver by parquet-hadoop (no
  *      Spark job; readers still load it with `spark.read.parquet`);
  *   3. claim version v+1 by ATOMIC EXCLUSIVE CREATE of
  *      `commit-{v+1}` (O_EXCL on local filesystems,
  *      create-no-overwrite on HDFS — both are real cross-process CAS);
  *   4. the claim winner renames its tmp dir to `data-{v+1}` (a
  *      destination only the winner may use); losers delete their tmp
  *      and retry from 1 against the new base.
  * Readers resolve the highest version whose marker AND data are both
  * present, so a half-finished commit is invisible. A writer that dies
  * between claim and rename leaves a data-less marker; later writers
  * wait a short grace period for its data, then permanently skip the
  * dead slot (nothing was committed in it, so nothing is lost).
  * In-JVM threads additionally share `lock` so a single driver never
  * races itself through the claim loop.
  *
  * Scale: the registry is control-plane metadata — thousands of rows
  * even when the fact tables are 100 TB. It is deliberately a
  * collect-and-rewrite table; fact tables are append-only and are
  * *pruned* through it (broadcast semi-join on `datasetid`, or
  * dynamic partition pruning when facts are partitioned by datasetid).
  */
final class DatasetRegistry(spark: SparkSession, path: String) {
  import spark.implicits._
  import org.apache.hadoop.fs.{Path => HPath}

  private val lock = new Object
  private val versionsDir = path + ".versions"
  /** Committed snapshots kept for lagging readers before pruning. */
  private val keepVersions = 16

  /** (version → rows) of the last snapshot this instance read or
    * wrote. Committed snapshots are IMMUTABLE under the CAS protocol
    * (a version's data dir is written once by its claim winner and
    * never rewritten), so a cache hit on the committed-head version is
    * exactly what a re-read would return — and it saves one Spark
    * read job + file listing per mutation. A cross-process writer
    * bumps the head version, which simply misses the cache. Registry
    * rows are control-plane sized by contract, so holding one
    * snapshot's rows on the driver is free.
    */
  @volatile private var rowCache: Option[(Long, Seq[DatasetMeta])] = None

  private def snapshotRows(v: Long): Seq[DatasetMeta] = rowCache match {
    case Some((cv, rows)) if cv == v => rows
    case _ =>
      val rows = spark.read.parquet(dataDir(v).toString).as[DatasetMeta].collect().toSeq
      rowCache = Some((v, rows))
      rows
  }

  /** Rows of the committed head; before the first commit, those of the
    * legacy bare table, if any.
    */
  private def currentRows(): Seq[DatasetMeta] = {
    val v = committedMax()
    if (v > 0) snapshotRows(v)
    else if (legacyExists()) spark.read.parquet(path).as[DatasetMeta].collect().toSeq
    else Nil
  }

  private def fs =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitMarker(v: Long) = new HPath(s"$versionsDir/commit-$v")
  private def dataDir(v: Long) = new HPath(s"$versionsDir/data-$v")

  /** Claimed version numbers (markers, committed or not), ascending. */
  private def claimedVersions(): Seq[Long] = {
    val dir = new HPath(versionsDir)
    if (!fs.exists(dir)) Nil
    else
      fs.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .collect { case s if s.startsWith("commit-") => s.stripPrefix("commit-").toLong }
        .sorted
  }

  /** True iff version v's data slot holds real committed data (a
    * directory of parquet). A tombstone FILE at the same path marks a
    * permanently-skipped dead slot and does not count.
    */
  private def dataCommitted(v: Long): Boolean = {
    val p = dataDir(v)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Highest version with BOTH marker and data — the committed head.
    * 0 = nothing committed yet (a pre-protocol table at the bare
    * `path`, if present, then serves as the seed snapshot).
    */
  private def committedMax(): Long =
    claimedVersions().reverse.find(dataCommitted).getOrElse(0L)

  private def legacyExists(): Boolean = fs.exists(new HPath(path))

  /** Atomic exclusive create — true iff THIS caller created the file.
    * Local filesystems go through O_EXCL (`Files.createFile`); others
    * use the filesystem's own create-no-overwrite.
    */
  private def tryClaim(p: HPath): Boolean =
    if (fs.getUri.getScheme == "file") {
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Serialized read-modify-write of the whole registry table via the
    * claim protocol above. `f` maps the current rows to (new rows,
    * result); it may run several times under contention, so it must be
    * pure over its input.
    *
    * The grace-period wait for a claimed-but-dataless predecessor runs
    * OUTSIDE the in-JVM lock — sleeping up to 2 s while holding it
    * would stall every other thread's control-plane mutation. The lock
    * only serializes each individual CAS attempt; correctness across
    * threads (like across processes) comes from the marker CAS itself.
    *
    * Zombie writers: a writer that claimed slot v, stalled past the
    * grace period, and wakes AFTER later writers skipped v must not
    * silently commit into the dead slot — its rename would succeed but
    * the head (already > v) was computed without its mutation, a lost
    * update reported as success. Skippers therefore TOMBSTONE the dead
    * slot: an atomic exclusive create of the `data-v` path as an empty
    * FILE. The waking zombie's rename onto an existing file fails, and
    * it rebases and retries like any claim loser; `committedMax`
    * ignores tombstones via the isDirectory check.
    */
  private def mutate[A](f: Seq[DatasetMeta] => (Seq[DatasetMeta], A)): A = {
    fs.mkdirs(new HPath(versionsDir))
    var attempt = 0
    while (attempt < 100) {
      // Grace period for a dataless predecessor (lock NOT held): either
      // its writer finishes the rename, or the slot is tombstoned dead.
      val last = claimedVersions().lastOption.getOrElse(0L)
      if (last > 0 && !fs.exists(dataDir(last))) {
        var waited = 0
        while (waited < 20 && !fs.exists(dataDir(last))) {
          Thread.sleep(100); waited += 1
        }
        if (!fs.exists(dataDir(last)))
          tryClaim(dataDir(last)) // tombstone; a racing tombstone/rename both fine
      }
      val committed = lock.synchronized {
        val target = claimedVersions().lastOption.getOrElse(0L) + 1
        // predecessor still dataless and un-tombstoned (rare race):
        // loop back out to the grace wait rather than sleep in-lock
        if (target > 1 && !fs.exists(dataDir(target - 1))) None
        else {
          val (newRows, result) = f(currentRows())
          val tmp = new HPath(s"$versionsDir/.tmp-${java.util.UUID.randomUUID()}")
          writeSnapshot(newRows, tmp)
          if (tryClaim(commitMarker(target)) && fs.rename(tmp, dataDir(target))) {
            // rename fails only when the slot was tombstoned while we
            // stalled between claim and rename (the zombie case) — then
            // fall through to rebase like a claim loser
            rowCache = Some((target, newRows)) // data-{target} == newRows, by the rename
            prune()
            Some(result)
          } else {
            fs.delete(tmp, true) // lost the claim/slot — rebase and retry
            None
          }
        }
      }
      committed match {
        case Some(result) => return result
        case None         => attempt += 1
      }
    }
    throw new IllegalStateException("registry: 100 failed commit attempts under contention")
  }

  /** Write `rows` as one parquet file under the fresh dir `tmp`, on the
    * driver: a commit runs no Spark job. The file carries the schema
    * Spark's `DatasetMeta` encoder reads back (dates as DATE,
    * timestamps as UTC-adjusted micros), and values go through the
    * same Catalyst conversions the encoder uses, so `spark.read.parquet`
    * returns the rows unchanged.
    */
  private def writeSnapshot(rows: Seq[DatasetMeta], tmp: HPath): Unit = {
    val factory = new SimpleGroupFactory(DatasetRegistry.SnapshotSchema)
    val writer = ExampleParquetWriter
      .builder(new HPath(tmp, "part-00000.snappy.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(DatasetRegistry.SnapshotSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    Using.resource(writer) { w =>
      rows.foreach { m =>
        val g = factory.newGroup()
          .append("datasetid", m.datasetid)
          .append("datasetdate", DateTimeUtils.fromJavaDate(m.datasetdate))
          .append("label", m.label)
          .append("datasettypeid", m.datasettypeid)
          .append("datasourceid", m.datasourceid)
          .append("datastatusid", m.datastatusid)
          .append("efffromdate", DateTimeUtils.fromJavaTimestamp(m.efffromdate))
        m.effthrudate.foreach(t => g.append("effthrudate", DateTimeUtils.fromJavaTimestamp(t)))
        g.append("isactive", m.isactive)
          .append("createddate", DateTimeUtils.fromJavaTimestamp(m.createddate))
          .append("createdby", m.createdby)
        w.write(g)
      }
    }
  }

  /** Drop committed snapshots older than the last `keepVersions`. Only
    * a contiguous prefix is ever deleted, so the head stays resolvable.
    * Tombstoned dead slots below the keep watermark are swept too (they
    * are empty marker files, but should not accumulate forever).
    */
  private def prune(): Unit = {
    val committed = claimedVersions().filter(dataCommitted)
    val dropped = committed.dropRight(keepVersions)
    dropped.foreach { v =>
      fs.delete(dataDir(v), true)
      fs.delete(commitMarker(v), false)
    }
    dropped.lastOption.foreach { watermark =>
      claimedVersions().filter(v => v < watermark && !dataCommitted(v)).foreach { v =>
        fs.delete(dataDir(v), false) // tombstone file, if any
        fs.delete(commitMarker(v), false)
      }
    }
  }

  /** Q33 maintenance hook: sweep superseded snapshot dirs, their
    * markers, and dead-slot tombstones without requiring a new commit
    * to trigger the per-commit prune — the registry-side counterpart
    * of `ops.Maintenance`'s fact-table retention. Idempotent; safe
    * concurrent with writers (only the contiguous prefix below the
    * keep window is ever deleted, so the committed head and the last
    * `keepVersions` snapshots lagging readers may hold stay intact).
    */
  def vacuum(): Unit = lock.synchronized(prune())

  /** The committed rows as a Dataset, for callers that join facts.
    * Rows come from the immutable-version cache when this instance
    * already read or wrote the head (control-plane sized by contract;
    * see rowCache).
    */
  def load(): Dataset[DatasetMeta] = spark.createDataset(currentRows())

  def exists(): Boolean = committedMax() > 0 || legacyExists()

  /** Register a new dataset version. Mirrors `dba.f_dataset_iu`
    * (dataset_setup.sql:252-348) + the app-side deactivation
    * (generic_import.py:280-297): the new row becomes the single
    * active version for its (label, type, date); displaced actives get
    * `isactive=false`, `effthrudate=now`, status Inactive.
    * Returns the allocated datasetid.
    */
  def insert(
      datasetdate: Date,
      label: String,
      datasettypeid: Int,
      datasourceid: Int,
      status: DatasetStatus = DatasetStatus.Active,
      createdby: String = "graft"
  ): Long = mutate { current =>
    val now = new Timestamp(System.currentTimeMillis())
    val newId = if (current.isEmpty) 1L else current.map(_.datasetid).max + 1
    val makeActive = status == DatasetStatus.Active
    val displaced = current.map { m =>
      if (
        makeActive && m.isactive && m.label == label &&
        m.datasettypeid == datasettypeid && m.datasetdate == datasetdate
      )
        m.copy(
          isactive = false,
          effthrudate = Some(now),
          datastatusid = DatasetStatus.Inactive.id
        )
      else m
    }
    val row = DatasetMeta(
      datasetid = newId,
      datasetdate = datasetdate,
      label = label,
      datasettypeid = datasettypeid,
      datasourceid = datasourceid,
      datastatusid = status.id,
      efffromdate = now,
      effthrudate = None,
      isactive = makeActive,
      createddate = now,
      createdby = createdby
    )
    (displaced :+ row, newId)
  }

  /** Update one dataset's status ONLY — `isactive` is untouched,
    * mirroring the reference's `update_dataset_empty_status`
    * (generic_import.py:307-311), which is a status-column UPDATE.
    * An Empty/Failed dataset that displaced a sibling at insert time
    * therefore REMAINS the active version of its (label, type, date)
    * — exactly the reference's registry state after a bad
    * re-delivery. Explicit deactivation is [[deactivate]].
    */
  def setStatus(datasetid: Long, status: DatasetStatus): Unit = mutate { rows =>
    (rows.map { m =>
      if (m.datasetid == datasetid) m.copy(datastatusid = status.id) else m
    }, ())
  }

  /** Explicitly deactivate a dataset, closing its SCD-2 window. */
  def deactivate(datasetid: Long): Unit = mutate { rows =>
    val now = new Timestamp(System.currentTimeMillis())
    (rows.map { m =>
      if (m.datasetid == datasetid)
        m.copy(
          isactive = false,
          datastatusid = DatasetStatus.Inactive.id,
          effthrudate = Some(now))
      else m
    }, ())
  }

  /** All currently-active dataset rows (Q-pattern: `isactive AND ...`
    * pre-filter every analytics query applies before touching facts).
    */
  def active(): Dataset[DatasetMeta] = load().filter(_.isactive)

  /** Full SCD-2 version history for one (label, type) — every version
    * ever registered, in effective order, with its window and status.
    */
  def history(label: String, datasettypeid: Int): Seq[DatasetMeta] =
    currentRows()
      .filter(m => m.label == label && m.datasettypeid == datasettypeid)
      .sortBy(m => (m.datasetdate.getTime, m.efffromdate.getTime))

  /** Latest active dataset date for a type — the reference's
    * `MAX(datasetdate)` scalar CTE (meetmax_url_download.py:52-58).
    * This and the other lookups filter the snapshot rows on the driver
    * (control-plane sized by contract), so they plan no Spark query.
    */
  def latestActiveDate(datasettypeid: Int): Option[Date] =
    currentRows()
      .filter(m => m.isactive && m.datasettypeid == datasettypeid)
      .map(_.datasetdate)
      .maxByOption(_.getTime)

  /** Resolve the active datasetids for (type, date) — broadcast these
    * into fact scans for version pruning.
    */
  def activeIds(datasettypeid: Int, date: Date): Seq[Long] =
    currentRows()
      .filter(m => m.isactive && m.datasettypeid == datasettypeid && m.datasetdate == date)
      .map(_.datasetid)

  /** Prune a fact frame to the latest active version of a type. The
    * id set is tiny → `isin` literal pushdown, which reaches parquet
    * row-group stats (and partition pruning when the fact table is
    * partitioned by datasetid).
    */
  def latestActiveFacts(facts: DataFrame, datasettypeid: Int): DataFrame =
    latestActiveDate(datasettypeid) match {
      case None => facts.limit(0)
      case Some(d) =>
        val ids = activeIds(datasettypeid, d)
        facts.filter(col("datasetid").isin(ids: _*))
    }
}

object DatasetRegistry {

  /** Parquet schema of a snapshot file: [[DatasetMeta]]'s fields in
    * order, every field required but the `Option` one.
    */
  private val SnapshotSchema: MessageType = {
    val ts = LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)
    val str = LogicalTypeAnnotation.stringType()
    Types.buildMessage()
      .addField(Types.primitive(INT64, REQUIRED).named("datasetid"))
      .addField(Types.primitive(INT32, REQUIRED).as(LogicalTypeAnnotation.dateType()).named("datasetdate"))
      .addField(Types.primitive(BINARY, REQUIRED).as(str).named("label"))
      .addField(Types.primitive(INT32, REQUIRED).named("datasettypeid"))
      .addField(Types.primitive(INT32, REQUIRED).named("datasourceid"))
      .addField(Types.primitive(INT32, REQUIRED).named("datastatusid"))
      .addField(Types.primitive(INT64, REQUIRED).as(ts).named("efffromdate"))
      .addField(Types.primitive(INT64, OPTIONAL).as(ts).named("effthrudate"))
      .addField(Types.primitive(BOOLEAN, REQUIRED).named("isactive"))
      .addField(Types.primitive(INT64, REQUIRED).as(ts).named("createddate"))
      .addField(Types.primitive(BINARY, REQUIRED).as(str).named("createdby"))
      .named("spark_schema")
  }
}
