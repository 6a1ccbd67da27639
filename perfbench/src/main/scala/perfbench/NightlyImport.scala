package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.util.Random

import org.apache.spark.sql.functions.col

import graft.ingest._
import graft.model._
import graft.registry.DatasetRegistry
import graft.report.{InMemoryMailer, RenderedReport, ReportRunner}

/** `nightly_import`: the reference's own nightly job. A cycle is one
  * two-night season against a fresh registry and warehouse:
  *
  *  - night 1 lands a baseline delivery per label: CSV files straight
  *    into the landing directory, XLSX and BIFF `.xls` workbooks as mail
  *    attachments that [[InboxProcessor]] saves there;
  *  - night 2 lands the next deliveries with planted schema drift (an
  *    added column for the `Evolve` targets, header-case variants and an
  *    extra column for the `IgnoreNew` target), a corrected re-delivery
  *    of one night-1 (label, date), a header-only file and a workbook
  *    carrying the invalid marker;
  *  - each night scans the landing directory per [[ImportConfig]] and
  *    imports every matched file through [[GenericImporter.importFile]];
  *  - after night 2, [[ReportRunner]] renders the added/removed-entities
  *    report between the two latest active snapshots of the events
  *    type, resolved through [[DatasetRegistry]].
  *
  * Files are small, so per-file fixed cost dominates, as in a real
  * nightly import.
  */
object NightlyImport extends Workload {
  val name = "nightly_import"

  private val EventsType = 1
  private val MeetmaxType = 2
  private val RosterType = 3
  private val CsvLabels = Seq("acme", "globex", "hooli")
  private val XlsxLabels = Seq("contoso")
  private val InvalidXlsxLabel = "initrode"
  private val XlsLabels = Seq("wayne")
  private val RedeliveredLabel = "globex"
  private val HeaderOnlyLabel = "hooli"
  private val Night1 = LocalDate.of(2025, 4, 1)
  private val Night2 = Night1.plusDays(1)
  private val Ymd = DateTimeFormatter.BASIC_ISO_DATE
  // file shapes are fixed; the seed picks contents and which events
  // change, so every seed loads the same number of rows
  private val EventsPerList = 160
  private val Dropped = 6
  private val Added = 5
  private val ExportRows = 80
  private val RosterRows = 50

  /** One generated file and what the importer must make of it. */
  final case class Delivery(
      fileName: String, typeId: Int, label: String, date: LocalDate,
      bytes: Array[Byte], dataRows: Int, expectEmpty: Boolean, viaMail: Boolean)

  /** A generated season: the deliveries of each night and the events
    * each (label, date) version lists.
    */
  final case class Season(
      nights: Seq[Seq[Delivery]],
      events: Map[(String, LocalDate), Set[String]]) {

    /** Planted report rows: (change, company, event_id) between the
      * active versions of night 1 and night 2. The corrected
      * re-delivery replaces its label's night-1 set; a header-only
      * delivery is the active night-2 version and lists no events.
      */
    def expectedChanges: Set[(String, String, String)] = {
      def snapshot(d: LocalDate) = CsvLabels.flatMap { l =>
        events.getOrElse((l, d), Set.empty).map(e => (l, e))
      }.toSet
      val (old, now) = (snapshot(Night1), snapshot(Night2))
      (now -- old).map { case (l, e) => ("added", l, e) } ++
        (old -- now).map { case (l, e) => ("removed", l, e) }
    }
  }

  private var season: Season = _

  def generate(seed: Long): Season = {
    val rnd = new Random(seed)
    val events = scala.collection.mutable.Map.empty[(String, LocalDate), Set[String]]
    def ids(label: String, n: Int, from: Int): Seq[String] =
      (from until from + n).map(i => f"${CsvLabels.indexOf(label) + 1}%d$i%05d")
    def csv(header: Seq[String], rows: Seq[Seq[String]]): Array[Byte] =
      (header +: rows).map(_.mkString(",")).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val cities = Seq("Boston", "Denver", "Austin", "Chicago", "Seattle", "Atlanta")
    def eventRows(label: String, es: Seq[String], extra: Boolean): Seq[Seq[String]] = es.map { e =>
      Seq(e, label, s"Conference ${rnd.nextInt(900) + 100}", cities(rnd.nextInt(cities.size)),
        f"2025-${rnd.nextInt(12) + 1}%02d-${rnd.nextInt(28) + 1}%02d") ++
        (if (extra) Seq(s"${label.take(3).toUpperCase}${rnd.nextInt(90) + 10}") else Nil)
    }
    val baseHeader = Seq("event_id", "company", "event_name", "city", "start_date")
    def csvDelivery(label: String, date: LocalDate, es: Seq[String], header: Seq[String],
        extra: Boolean): Delivery = {
      events((label, date)) = es.toSet
      Delivery(s"${date.format(Ymd)}_${label}_events.csv", EventsType, label, date,
        csv(header, eventRows(label, es, extra)), es.size, expectEmpty = false, viaMail = false)
    }
    // night 1: a baseline event list per label
    val night1Events = CsvLabels.map { l => l -> ids(l, EventsPerList, 0) }.toMap
    val night1Csv = CsvLabels.map(l => csvDelivery(l, Night1, night1Events(l), baseHeader, extra = false))
    // night 2: each list drops a few events and gains a few
    val night2Csv = CsvLabels.filterNot(_ == HeaderOnlyLabel).zipWithIndex.map { case (l, i) =>
      val prev = night1Events(l)
      val dropped = rnd.shuffle(prev).take(Dropped).toSet
      val es = prev.filterNot(dropped) ++ ids(l, Added, prev.size)
      // one list gains a column (Evolve), the other arrives with header-case variants
      if (i == 0) csvDelivery(l, Night2, es, baseHeader :+ "Ticker", extra = true)
      else csvDelivery(l, Night2, es, Seq("Event ID", "COMPANY", "Event-Name", "City", "Start Date"),
        extra = false)
    }
    val headerOnly = {
      events((HeaderOnlyLabel, Night2)) = Set.empty
      Delivery(s"${Night2.format(Ymd)}_${HeaderOnlyLabel}_events.csv", EventsType, HeaderOnlyLabel,
        Night2, csv(baseHeader, Nil), 0, expectEmpty = true, viaMail = false)
    }
    // the corrected night-1 list of one label arrives on night 2
    val corrected = {
      val prev = night1Events(RedeliveredLabel)
      val es = prev.drop(2) ++ ids(RedeliveredLabel, 2, 50000)
      csvDelivery(RedeliveredLabel, Night1, es, baseHeader, extra = false)
    }

    def workbook(label: String, date: LocalDate, suffix: String, typeId: Int,
        rows: Seq[Seq[String]], empty: Boolean): Delivery = {
      val bytes = if (suffix == "xlsx") Spreadsheets.xlsx(rows) else Spreadsheets.xls(rows)
      Delivery(s"${date.format(Ymd)}_${label}_export.$suffix", typeId, label, date, bytes,
        if (empty) 0 else rows.size - 1, expectEmpty = empty, viaMail = true)
    }
    def meetmax(label: String, date: LocalDate, header: Seq[String], extra: Boolean) = {
      val rows = (0 until ExportRows).map { i =>
        Seq(s"${119000 + i}", s"${label.capitalize} Holdings", if (rnd.nextBoolean()) "Y" else "N",
          s"${rnd.nextInt(90000) + 1000}.${rnd.nextInt(10)}") ++
          (if (extra) Seq(s"note ${rnd.nextInt(100)}") else Nil)
      }
      workbook(label, date, "xlsx", MeetmaxType, header +: rows, empty = false)
    }
    val mmHeader = Seq("EventID", "Company Name", "Flag", "Amount")
    def roster(label: String, date: LocalDate, team: Boolean) = {
      val rows = (0 until RosterRows).map { i =>
        Seq(s"Person ${rnd.nextInt(10000)}", Seq("Analyst", "Lead", "Host")(rnd.nextInt(3)),
          s"${rnd.nextInt(100)}") ++ (if (team) Seq(s"Team ${i % 5}") else Nil)
      }
      workbook(label, date, "xls", RosterType,
        (Seq("Name", "Role", "Score") ++ (if (team) Seq("Team") else Nil)) +: rows, empty = false)
    }
    val invalid = workbook(InvalidXlsxLabel, Night2, "xlsx", MeetmaxType,
      Seq(Seq("EventID", "Company Name"), Seq("Invalid Event ID", "n/a")), empty = true)

    val night1 = night1Csv ++ XlsxLabels.map(l => meetmax(l, Night1, mmHeader, extra = false)) ++
      XlsLabels.map(l => roster(l, Night1, team = false))
    val night2 = night2Csv ++ Seq(headerOnly, corrected) ++
      XlsxLabels.map(l => meetmax(l, Night2, Seq("EVENTID", "company name", "FLAG", "Amount", "Notes"),
        extra = true)) ++ Seq(invalid) ++
      XlsLabels.map(l => roster(l, Night2, team = true))
    Season(Seq(night1, night2), events.toMap)
  }

  private def configs(landing: String, archive: String): Seq[(ImportConfig, Int)] = {
    def cfg(id: Int, pattern: String, fileType: String, table: String, strategy: ImportStrategy) =
      ImportConfig(id, s"cfg$id", "perfbench", table, landing, archive, pattern, fileType,
        MetaSource.Filename, Some("1"), MetaSource.Filename, Some("0"), Some("yyyyMMdd"), Some("_"),
        table, strategy, isActive = true)
    Seq(
      cfg(1, """\d{8}_[a-z]+_events\.csv$""", "CSV", "public.tevent", ImportStrategy.Evolve) -> EventsType,
      cfg(2, """\d{8}_[a-z]+_export\.xlsx$""", "XLSX", "public.tmeetmax", ImportStrategy.IgnoreNew) -> MeetmaxType,
      cfg(3, """\d{8}_[a-z]+_export\.xls$""", "XLS", "public.troster", ImportStrategy.Evolve) -> RosterType)
  }

  /** The mailbox the inbox processor drains: one message per workbook. */
  final class Mailbox(deliveries: Seq[Delivery]) extends InboxService {
    private val SentFmt = DateTimeFormatter.ofPattern("EEE, d MMM yyyy HH:mm:ss Z", Locale.US)
    private val msgs = deliveries.zipWithIndex.map { case (d, i) =>
      val attachment = d.fileName.dropWhile(_ != '_').drop(1) // the inbox adds the date prefix
      val date = d.date.atTime(6, 30).atOffset(ZoneOffset.UTC).format(SentFmt)
      s"m$i" -> MailMessage(s"m$i", s"Export ${d.label}", Some(date),
        Seq(MailAttachment(attachment, d.bytes)), s"Subject: Export ${d.label}\r\n\r\n".getBytes)
    }.toMap
    val labels = scala.collection.mutable.Map.empty[String, String]
    def listInbox(): Seq[String] = msgs.keys.toSeq.sorted
    def fetch(id: String): MailMessage = msgs(id)
    def relabel(id: String, removeLabel: String, addLabel: String): Unit = labels(id) = addLabel
  }

  /** Records each conversion as a span, around the program's default
    * converter chain (XLSX, then BIFF, then passthrough).
    */
  final class RecordingConverter(tracer: Tracer) extends XlsConverter {
    private val inner = new XlsxConverter()
    def toCsv(xls: Path): Path = tracer.span("convert")(inner.toCsv(xls))
  }

  def prepare(ctx: Ctx): Unit = season = generate(ctx.seed)

  def cycle(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val dir = Files.createTempDirectory(ctx.work, "season")
    val landing = dir.resolve("landing").toString
    val archive = dir.resolve("archive").toString
    Files.createDirectories(dir.resolve("landing"))
    val registry = new DatasetRegistry(spark, dir.resolve("registry").toString)
    val importer = new GenericImporter(spark, registry, dir.resolve("warehouse").toString,
      today = () => Night2, xlsConverter = new RecordingConverter(ctx.tracer))
    val cfgs = configs(landing, archive)
    val results = scala.collection.mutable.ArrayBuffer.empty[(Delivery, FileResult)]
    var landedBytes = 0L
    val t0 = System.nanoTime()
    var loadWall = 0.0
    var loaded = 0L
    season.nights.zipWithIndex.foreach { case (deliveries, night) =>
      deliveries.filterNot(_.viaMail).foreach { d =>
        Files.write(dir.resolve("landing").resolve(d.fileName), d.bytes)
      }
      landedBytes += deliveries.map(_.bytes.length.toLong).sum
      val mail = deliveries.filter(_.viaMail)
      val box = new Mailbox(mail)
      val processor = new InboxProcessor(box, today = () => Night2)
      val inboxCfg = InboxConfig(1, "exports", "ops@example.com", Some("^Export "),
        hasAttachment = true, Some("""\.xlsx?$"""), landing)
      val (_, inboxSec) = ctx.guard.op("inbox") {
        ctx.tracer.span("inbox")(processor.run(Seq(inboxCfg)))
      } { rs =>
        val saved = rs.flatMap(_.savedFiles).map(_.getFileName.toString).filterNot(_.endsWith(".eml")).toSet
        val want = mail.map(_.fileName).toSet
        if (rs.forall(_.outcome == InboxOutcome.Processed) && saved == want) None
        else Some(s"inbox saved $saved, expected $want")
      }
      rec.add("inbox_msgs", mail.size)
      loadWall += inboxSec
      val byName = deliveries.map(d => d.fileName -> d).toMap
      cfgs.foreach { case (cfg, typeId) =>
        val (files, scanSec) = ctx.guard.op("scan") {
          ctx.tracer.span("scan")(FilePatternScanner.scan(cfg.sourceDirectory, cfg.filePattern))
        }(fs => fs.map(_.getFileName.toString).filterNot(byName.contains).headOption
          .map(f => s"scan matched unexpected file $f"))
        loadWall += scanSec
        files.getOrElse(Nil).foreach { f =>
          val d = byName(f.getFileName.toString)
          val (res, sec) = ctx.guard.op("import_file") {
            ctx.tracer.span("import_file")(importer.importFile(cfg, f, typeId, 1))
          }(r => checkFile(d, r))
          rec.op += sec
          loadWall += sec
          res.foreach { r => results += d -> r; loaded += r.rowsLoaded }
        }
      }
      if (night == season.nights.size - 1) {
        val (_, sec) = ctx.guard.op("report")(report(ctx, registry, importer))(r =>
          checkReport(r, season.expectedChanges))
        rec.add("report_s", sec)
      }
    }
    rec.cycle += (System.nanoTime() - t0) / 1e9
    rec.items += loaded
    rec.itemsWall += loadWall
    ctx.guard.op("registry_audit")(registry.load().collect().toSeq)(rows =>
      checkRegistry(rows, results.toSeq))
    if (ctx.tracer.enabled) {
      rec.add("write_amplification", Workload.treeBytes(dir.resolve("warehouse")).toDouble / landedBytes)
    }
    Workload.deleteTree(dir)
  }

  /** Resolve the two latest active snapshots of the events type through
    * the registry, read the target, and render the change report.
    */
  private def report(ctx: Ctx, registry: DatasetRegistry, importer: GenericImporter): RenderedReport = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val (newIds, oldIds) = tr.span("resolve") {
      val latest = registry.latestActiveDate(EventsType)
        .getOrElse(throw new IllegalStateException("no active events snapshot"))
      val previous = java.sql.Date.valueOf(latest.toLocalDate.minusDays(1))
      (registry.activeIds(EventsType, latest), registry.activeIds(EventsType, previous))
    }
    val target = tr.span("read_target")(importer.readTarget("public.tevent"))
    target.filter(col("datasetid").isin(newIds: _*)).select("company", "event_id")
      .createOrReplaceTempView("snap_new")
    target.filter(col("datasetid").isin(oldIds: _*)).select("company", "event_id")
      .createOrReplaceTempView("snap_old")
    val changes =
      """SELECT 'added' AS change, company, event_id FROM
        |  (SELECT company, event_id FROM snap_new EXCEPT SELECT company, event_id FROM snap_old)
        |UNION ALL
        |SELECT 'removed' AS change, company, event_id FROM
        |  (SELECT company, event_id FROM snap_old EXCEPT SELECT company, event_id FROM snap_new)
        |ORDER BY change, company, event_id""".stripMargin
    val summary = "SELECT change, count(*) AS n FROM (" + changes + ") GROUP BY change ORDER BY change"
    val cfg = ReportConfig(1, "event changes", Seq("analysts@example.com"), "Event changes",
      "<h1>Event changes</h1>{{summary}}", Map("summary" -> summary),
      Seq(AttachmentQuery("changes.csv", changes)), isActive = true)
    val mailer = new InMemoryMailer
    tr.span("render")(new ReportRunner(spark, mailer).run(cfg))
  }

  def checkFile(d: Delivery, r: FileResult): Option[String] = {
    val want = if (d.expectEmpty) DatasetStatus.Empty else DatasetStatus.Active
    if (r.status != want) Some(s"${d.fileName}: status ${r.status}, expected $want")
    else if (r.rowsLoaded != d.dataRows) Some(s"${d.fileName}: ${r.rowsLoaded} rows loaded, expected ${d.dataRows}")
    else None
  }

  /** The attachment must list exactly the planted changes, and the HTML
    * summary must count them.
    */
  def checkReport(r: RenderedReport, expected: Set[(String, String, String)]): Option[String] = {
    val lines = r.attachments.find(_.name == "changes.csv").map(_.content.split("\n").toSeq.drop(1))
      .getOrElse(Nil)
    val got = lines.map(_.split(",", -1).map(_.stripPrefix("\"").stripSuffix("\"")).toSeq).collect {
      case Seq(c, l, e) => (c, l, e)
    }
    val counts = expected.groupBy(_._1).map { case (c, xs) => s"<td>$c</td><td>${xs.size}</td>" }
    if (got.size != lines.size || got.toSet != expected || got.size != expected.size)
      Some(s"report lists ${got.size} changes, expected ${expected.size} planted ones " +
        s"(missing ${(expected -- got).take(3)}, extra ${(got.toSet -- expected).take(3)})")
    else if (!counts.forall(r.htmlBody.contains)) Some("report summary does not count the planted changes")
    else None
  }

  /** Registry end state: one active version per (label, type, date);
    * header-only and invalid-marker files end Empty; every displaced
    * version ends inactive.
    */
  def checkRegistry(rows: Seq[DatasetMeta], results: Seq[(Delivery, FileResult)]): Option[String] = {
    val byId = rows.map(m => m.datasetid -> m).toMap
    val keys = results.map { case (d, _) => (d.label, d.typeId, d.date) }.toSet
    val activeCounts = rows.groupBy(m => (m.label, m.datasettypeid, m.datasetdate.toLocalDate))
      .map { case (k, ms) => k -> ms.count(_.isactive) }
    val badKey = keys.find(k => activeCounts.getOrElse(k, 0) != 1)
    val latest = results.groupBy { case (d, _) => (d.label, d.typeId, d.date) }
      .map { case (_, rs) => rs.map(_._2.datasetid).max }.toSet
    val problems = results.flatMap { case (d, r) =>
      byId.get(r.datasetid) match {
        case None => Some(s"${d.fileName}: dataset ${r.datasetid} missing from the registry")
        case Some(m) if d.expectEmpty && m.datastatusid != DatasetStatus.Empty.id =>
          Some(s"${d.fileName}: status ${m.datastatusid}, expected Empty")
        case Some(m) if !latest(r.datasetid) && (m.isactive || m.datastatusid != DatasetStatus.Inactive.id) =>
          Some(s"${d.fileName}: displaced version still active")
        case Some(m) if latest(r.datasetid) && !m.isactive => Some(s"${d.fileName}: latest version inactive")
        case _ => None
      }
    }
    badKey.map(k => s"$k has ${activeCounts.getOrElse(k, 0)} active versions")
      .orElse(problems.headOption)
      .orElse(if (results.count(!_._1.expectEmpty) == 0) Some("no file loaded") else None)
  }

  def named(rec: Recorder): Map[String, Double] = {
    // the tail is the highest percentile up to p90 with at least 10
    // samples beyond it; absent when the run has too few files
    val tail = Stats.tail(rec.op.toSeq).toSeq.flatMap { case (q, v) =>
      Seq("import_file_s_p90" -> v, "import_file_s_p90_percentile" -> q * 100)
    }
    Map(
      "import_rows_per_s" -> rec.items / rec.itemsWall,
      "import_file_s_p50" -> Stats.median(rec.op.toSeq),
      "import_file_samples" -> rec.op.size.toDouble,
      "report_s_p50" -> Stats.median(rec.get("report_s"))) ++ tail
  }

  def perLayer(t: TraceData, rec: Recorder): Map[String, Double] = {
    val imports = t.named("import_file")
    val registryJobs = imports.flatMap(t.jobsWithin).filter(_.label == "DatasetRegistry.scala")
    def ms(ss: Seq[Span]) = ss.map(_.seconds * 1000)
    val selfS = imports.map { s =>
      val children = t.descendants(s).filter(_.name == "convert").map(_.interval) ++
        t.jobsWithin(s).filter(_.label == "DatasetRegistry.scala").map(_.interval)
      Stats.selfTime(s.interval, children) / 1e9
    }
    val files = math.max(1, imports.size)
    Map(
      "ingest.inbox_ms_per_msg" -> ms(t.named("inbox")).sum / math.max(1.0, rec.get("inbox_msgs").sum),
      "ingest.scan_ms" -> Stats.median(ms(t.named("scan"))),
      "ingest.convert_ms_p50" -> Stats.median(ms(t.named("convert"))),
      "ingest.import_file_self_s_p50" -> Stats.median(selfS),
      "ingest.jobs_per_file" -> imports.map(s => t.jobsWithin(s).size).sum.toDouble / files,
      "ingest.driver_gap_share" -> t.driverGapShare(imports),
      "ingest.write_amplification" -> Stats.median(rec.get("write_amplification")),
      "ingest.read_target_ms" -> Stats.median(ms(t.named("read_target"))),
      "registry.commit_jobs_ms_p50" -> Stats.median(registryJobs.map(j => (j.end - j.start) / 1e6)),
      "registry.commits_per_file" ->
        registryJobs.count(_.callSite.startsWith("parquet at")).toDouble / files,
      "registry.resolve_ms" -> Stats.median(ms(t.named("resolve"))),
      "report.render_ms" -> Stats.median(ms(t.named("render"))),
      "report.jobs" -> Stats.median(t.named("render").map(s => t.jobsWithin(s).size.toDouble)))
  }
}
