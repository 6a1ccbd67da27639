package graft.ingest

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.matching.Regex

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Functions
import graft.model._
import graft.ops.FileStats
import graft.registry.DatasetRegistry

/** S3: directory scan with regex file-pattern match — the reference's
  * `os.listdir` + `re.match(file_pattern)` loop
  * (generic_import.py:520-545). Listing is driver-side (it's a
  * control-plane operation over one landing directory); the matched
  * paths are then read as one distributed scan.
  */
object FilePatternScanner {
  def scan(directory: String, pattern: String): Seq[Path] = {
    val dir = Paths.get(directory)
    if (!Files.isDirectory(dir)) return Seq.empty
    val re: Regex = pattern.r
    Using.resource(Files.list(dir)) { entries =>
      entries
        .iterator()
        .asScala
        .filter(p => Files.isRegularFile(p))
        .filter(p => re.findPrefixOf(p.getFileName.toString).isDefined) // re.match semantics
        .toSeq
        .sortBy(_.getFileName.toString)
    }
  }
}

/** Per-file import outcome. */
final case class FileResult(
    file: String,
    datasetid: Long,
    status: DatasetStatus,
    rowsLoaded: Long,
    newColumns: Seq[String],
    truncated: Map[String, Long]
)

final case class ImportResult(files: Seq[FileResult]) {
  def loadedRows: Long = files.map(_.rowsLoaded).sum
}

/** The generic file importer — the engine's core ingestion path,
  * re-expressing `systemscripts/generic_import.py` (see SURVEY.md §3.1)
  * Spark-first:
  *
  *  1. discover files (regex pattern, S3);
  *  2. per file: extract label + dataset date from the filename (T4/T5),
  *     register a dataset version (Q22/Q29) — displacing prior actives
  *     (the single-active invariant, Q23/Q27) — in a registry commit
  *     that runs no Spark job;
  *  3. on the driver, take the header from the file's first non-blank
  *     line and name its columns with Spark's own CSV tokenizer; no such
  *     line (T12) → mark the dataset Empty and archive; an XLS/XLSX file
  *     whose first column carries the invalid marker (T9) → Empty too,
  *     found by streaming the converted CSV through the same tokenizer;
  *  4. otherwise: read CSV all-string under that header (S1,
  *     schema-on-write parity), normalize headers (T1), stamp
  *     `datasetid` (T3), reconcile against the target columns per the
  *     configured strategy (T2/Q25/Q26) — the columns are cached per
  *     target and re-read with mergeSchema only when another writer
  *     changed the target — optionally enforce VARCHAR-length
  *     truncation (T6), and append to the target (K1): the file's one
  *     SQL execution and one Spark job;
  *  5. count the appended rows from the new partition's parquet
  *     footers, on the driver: 0 rows (T12) → Empty, else Active; archive
  *     the file (K5).
  *
  * Scale design: the target table is parquet partitioned by
  * `datasetid`, so registry-driven version pruning is file pruning;
  * appends never rewrite existing data; schema evolution is
  * mergeSchema-on-read over the union of partition schemas.
  */
final class GenericImporter(
    spark: SparkSession,
    registry: DatasetRegistry,
    warehouse: String,
    enforceLengths: Boolean = false,
    today: () => LocalDate = () => LocalDate.now(),
    xlsConverter: XlsConverter = new XlsxConverter
) {

  val InvalidMarker = "Invalid Event ID"

  private def targetPath(table: String): String =
    s"$warehouse/${table.replace('.', '_')}"

  def run(config: ImportConfig, typeId: Int, sourceId: Int): ImportResult = {
    require(config.isActive, s"config ${config.configId} is inactive")
    val files = FilePatternScanner.scan(config.sourceDirectory, config.filePattern)
    ImportResult(files.map(f => importFile(config, f, typeId, sourceId)))
  }

  def importFile(config: ImportConfig, file: Path, typeId: Int, sourceId: Int): FileResult = {
    // S2: XLS/XLSX go through the converter seam first (the reference
    // shells into xls_to_csv, generic_import.py:648-649); the stub
    // passthrough handles CSV-shaped test payloads
    // An over-cap spreadsheet must not be buffered OR passed through to
    // the CSV reader — it registers as Failed and archives below.
    val (readable, oversized) =
      if (config.fileType == "XLS" || config.fileType == "XLSX")
        try (xlsConverter.toCsv(file), false)
        catch {
          case _: OversizedSpreadsheetException => (file, true)
          case _: Exception => (file, false)
        }
      else (file, false)
    try doImportFile(config, file, readable, typeId, sourceId, oversized)
    finally
      // the temp CSV is removed once the load completes
      // (generic_import.py:697-704)
      if (readable != file) Files.deleteIfExists(readable)
  }

  private def doImportFile(
      config: ImportConfig,
      file: Path,
      readable: Path,
      typeId: Int,
      sourceId: Int,
      oversized: Boolean = false
  ): FileResult = {
    val fname = file.getFileName.toString
    val label = Functions
      .parseMetadata(fname, config.labelSource, config.labelLocation, config.delimiter)
      .getOrElse(fname)
    val dateTok =
      Functions.parseMetadata(fname, config.dateSource, config.dateLocation, config.delimiter)
    val dsDate = java.sql.Date.valueOf(
      Functions.parseDatasetDate(dateTok, config.dateFormat.getOrElse("yyyyMMdd'T'HHmmss"), today())
    )
    // Register first (reference inserts the dataset row before reading
    // the file: generic_import.py:585-604), then branch on content.
    // Registry commits run no Spark job.
    val id = registry.insert(dsDate, label, typeId, sourceId)

    def finish(status: DatasetStatus): FileResult = {
      registry.setStatus(id, status)
      archive(file, config)
      FileResult(fname, id, status, 0, Nil, Map.empty)
    }

    if (oversized) return finish(DatasetStatus.Failed)

    // T12 headerless file → Empty
    val schema =
      try headerSchema(readable)
      catch { case _: Exception => None }
    val df = schema match {
      case Some(s) if s.nonEmpty => readAllString(readable, s)
      case _                     => return finish(DatasetStatus.Empty)
    }

    // T9 invalid-content branch → Empty (XLS/XLSX only; no Spark job)
    if ((config.fileType == "XLS" || config.fileType == "XLSX") && containsMarker(readable))
      return finish(DatasetStatus.Empty)

    val normalized = Functions.normalizeColumns(df)
    val stamped = normalized.withColumn("datasetid", lit(id))

    val tgt = targetPath(config.targetTable)
    val dirs = partitionDirs(tgt)
    val existing = existingColumns(tgt, dirs)
    val (toWrite, newCols) = reconcile(stamped, existing, config.strategy) match {
      case Right(v) => v
      // a 0-row file is Empty whatever its header (the branch order
      // before the write-first path); this rare path pays the probe job
      case Left(_) => return finish(if (df.isEmpty) DatasetStatus.Empty else DatasetStatus.Failed)
    }

    val (finalDf, truncated) =
      if (enforceLengths) {
        val dataCols = toWrite.columns.filterNot(_ == "datasetid")
        val lengths = Functions.inferLengths(toWrite.select(dataCols.map(c => col(s"`$c`")): _*))
        (Functions.truncateTo(toWrite, lengths), Functions.truncationCounts(toWrite, lengths))
      } else (toWrite, Map.empty[String, Long])

    // Write first, then count what landed: a 0-row partitioned write
    // creates no `datasetid=<id>` dir, so nothing reaches the target.
    finalDf.write
      .mode(SaveMode.Append)
      .partitionBy("datasetid")
      .parquet(tgt)
    val rows = writtenRows(tgt, id)
    if (rows == 0) return finish(DatasetStatus.Empty)
    columnCache(tgt) = (dirs + partitionDir(id), mergedColumns(existing, finalDf.columns.toSeq))
    archive(file, config)
    FileResult(fname, id, DatasetStatus.Active, rows, newCols, truncated)
  }

  /** Read the target table with schema merged across all dataset
    * partitions (Q26 evolution: later datasets may add columns).
    */
  def readTarget(table: String): DataFrame =
    // partition-dir inference types datasetid as int; pin it to long so
    // reads join/prune against the registry without implicit casts
    spark.read
      .option("mergeSchema", "true")
      .parquet(targetPath(table))
      .withColumn("datasetid", col("datasetid").cast("long"))

  def targetExists(table: String): Boolean = {
    val p = new HPath(targetPath(table))
    fsOf(p).exists(p)
  }

  private val csvReadOptions = Map("header" -> "true", "inferSchema" -> "false")

  private def csvReader = spark.read.options(csvReadOptions)

  /** The options Spark builds for [[csvReader]]'s reads; the driver-side
    * header and marker steps tokenize with these.
    */
  private def csvOptions: CSVOptions = {
    val conf = spark.sessionState.conf
    new CSVOptions(csvReadOptions, conf.csvColumnPruning, conf.sessionLocalTimeZone)
  }

  private lazy val codecs = new CompressionCodecFactory(spark.sparkContext.hadoopConfiguration)

  /** `f` over the file's lines as Spark's line reader sees them: codec by
    * extension, leading UTF-8 BOM dropped, malformed bytes replaced,
    * lines split at LF, CR and CRLF.
    */
  private def withLines[A](file: Path)(f: Iterator[String] => A): A = {
    val p = new HPath(file.toUri)
    Using.Manager { use =>
      val raw = use(fsOf(p).open(p))
      val in = Option(codecs.getCodec(p)).fold[InputStream](raw)(codec => use(codec.createInputStream(raw)))
      // a Charset-built reader replaces malformed bytes, as Spark does
      // (Files.newBufferedReader would throw instead)
      val reader = use(new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8)))
      val first = Option(reader.readLine()).map(_.stripPrefix("\uFEFF"))
      f(first.iterator ++ Iterator.continually(reader.readLine()).takeWhile(_ != null))
    }.get
  }

  /** The file's column names as Spark's own CSV header inference names
    * them (quoting, dedup suffixes, `_c<i>` for empty cells), without a
    * Spark query: the header is the first non-blank line, tokenized and
    * named by the steps `csv(Dataset[String])` runs on it, every field a
    * string. None = no header line at all.
    */
  private def headerSchema(file: Path): Option[StructType] = {
    val opts = csvOptions
    withLines(file)(CSVExprUtils.extractHeader(_, opts)).map { line =>
      val tokens = new CsvParser(opts.asParserSettings).parseLine(line)
      if (tokens == null) new StructType()
      else StructType(CSVUtils.makeSafeHeader(tokens, spark.sessionState.conf.caseSensitiveAnalysis, opts)
        .map(StructField(_, StringType)))
    }
  }

  /** T9 on the driver (reference: generic_import.py:353-377 flags files
    * whose first column contains 'Invalid Event ID'): true when the
    * first field of any record contains the marker, both case-folded as
    * Spark's `upper` folds them. Records are the lines [[readAllString]]
    * parses: the header and blank lines are skipped, and each line is
    * tokenized on its own. Stops at the first hit.
    */
  private def containsMarker(file: Path): Boolean = {
    val opts = csvOptions
    val useIcu = spark.sessionState.conf.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    def upper(s: String) =
      CollationSupport.Upper.exec(UTF8String.fromString(s), CollationFactory.UTF8_BINARY_COLLATION_ID, useIcu)
    val marker = upper(InvalidMarker)
    val tokenizer = new CsvParser(opts.asParserSettings)
    withLines(file) { lines =>
      CSVExprUtils.extractHeader(lines, opts)
      CSVExprUtils.filterCommentAndEmpty(lines, opts).exists { line =>
        Option(tokenizer.parseLine(line)).flatMap(_.headOption).exists(t => t != null && upper(t).contains(marker))
      }
    }
  }

  /** S1 parity: header row is the schema, every payload column lands as
    * a string (inferSchema stays off by design — schema-on-write with
    * all-VARCHAR columns is the reference's model, SURVEY §1.2). The
    * reader skips the header line itself.
    */
  private def readAllString(file: Path, schema: StructType): DataFrame =
    csvReader.schema(schema).csv(file.toString)

  private def fsOf(p: HPath) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partitionDir(id: Long): String = s"datasetid=$id"

  /** Names of the target's dataset partition dirs (empty when none). */
  private def partitionDirs(tgt: String): Set[String] = {
    val p = new HPath(tgt)
    val fs = fsOf(p)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .collect { case st if st.isDirectory => st.getPath.getName }
      .filter(_.startsWith("datasetid="))
      .toSet
  }

  /** Target columns per target, keyed by the partition dirs they were
    * computed from. This importer's own appends update the entry; any
    * other change to the listing (another writer) misses it and pays
    * the mergeSchema read again.
    */
  private val columnCache = TrieMap.empty[String, (Set[String], Seq[String])]

  /** None until some dataset has landed in the target. */
  private def existingColumns(tgt: String, dirs: Set[String]): Option[Seq[String]] =
    if (dirs.isEmpty) None
    else columnCache.get(tgt) match {
      case Some((seen, cols)) if seen == dirs => Some(cols)
      case _ =>
        val cols = spark.read.option("mergeSchema", "true").parquet(tgt).columns.toSeq
        columnCache(tgt) = (dirs, cols)
        Some(cols)
    }

  /** The merged target columns after appending `written`: existing data
    * columns, then new ones, then the `datasetid` partition column.
    */
  private def mergedColumns(existing: Option[Seq[String]], written: Seq[String]): Seq[String] = {
    val data = existing.getOrElse(Nil).filterNot(_ == "datasetid")
    data ++ written.filterNot(c => c == "datasetid" || data.exists(_.equalsIgnoreCase(c))) :+ "datasetid"
  }

  /** Rows in the `datasetid=<id>` partition, summed from the parquet
    * footers on the driver. The partition belongs to this one dataset
    * id, so the sum is exactly what this import wrote.
    */
  private def writtenRows(tgt: String, id: Long): Long = {
    val p = new HPath(tgt, partitionDir(id))
    val fs = fsOf(p)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map(st => Using.resource(FileStats.footerReader(st, fs.getConf))(_.getRecordCount))
      .sum
  }

  /** Strategy semantics (create_importconfig_table.sql:13-17):
    *  - Evolve: first import defines the table; later imports may add
    *    columns (union schema via partitioned parquet + mergeSchema);
    *  - IgnoreNew: project to the existing target columns only
    *    (case-insensitive, T2); absent target columns become null;
    *  - FailOnMissing: error when the source lacks a target column.
    * Returns (frame-to-write, newly-added column names).
    */
  private def reconcile(
      df: DataFrame,
      existing: Option[Seq[String]],
      strategy: ImportStrategy
  ): Either[String, (DataFrame, Seq[String])] = existing match {
    case None => Right((df, df.columns.filterNot(_ == "datasetid").toSeq))
    case Some(tgtCols) =>
      val dataTgt = tgtCols.filterNot(_ == "datasetid")
      val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
      val missing = dataTgt.filterNot(t => byLower.contains(t.toLowerCase))
      val extra = df.columns
        .filterNot(_ == "datasetid")
        .filterNot(c => dataTgt.exists(_.equalsIgnoreCase(c)))
      strategy match {
        case ImportStrategy.FailOnMissing if missing.nonEmpty =>
          Left(s"source missing target columns: ${missing.mkString(", ")}")
        case ImportStrategy.IgnoreNew | ImportStrategy.FailOnMissing =>
          val cols = dataTgt.map { t =>
            byLower.get(t.toLowerCase) match {
              case Some(s) => col(s"`$s`").as(t)
              case None    => lit(null).cast("string").as(t)
            }
          } :+ col("datasetid")
          Right((df.select(cols: _*), Nil))
        case ImportStrategy.Evolve =>
          // keep matched columns under target casing + append new ones
          val cols = dataTgt.flatMap(t => byLower.get(t.toLowerCase).map(s => col(s"`$s`").as(t))) ++
            extra.map(c => col(s"`$c`")) :+ col("datasetid")
          val sel = df.select(cols: _*)
          Right((sel, extra.toSeq))
      }
  }

  /** K5: post-commit archive move (generic_import.py:780-796); chmod/
    * chown of the reference are environment-specific and intentionally
    * dropped.
    */
  private def archive(file: Path, config: ImportConfig): Unit = {
    val dst = Paths.get(config.archiveDirectory)
    Files.createDirectories(dst)
    Files.move(file, dst.resolve(file.getFileName), StandardCopyOption.REPLACE_EXISTING)
  }
}
