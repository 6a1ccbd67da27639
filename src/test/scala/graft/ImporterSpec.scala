package graft

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.functions.Functions
import graft.ingest.{FilePatternScanner, GenericImporter}
import graft.model._
import graft.registry.DatasetRegistry

/** Golden end-to-end import tests over FIXTURES.md F1/F2 shapes:
  * discover → register → branch (empty/invalid) → normalize → evolve →
  * stamp → append → archive, plus the single-active re-import story.
  */
class ImporterSpec extends SparkSpec {

  private val today = LocalDate.of(2026, 8, 12)

  private def env(): (GenericImporter, DatasetRegistry, Path, Path, Path) = {
    val root = Files.createTempDirectory("graft-import")
    val src = Files.createDirectories(root.resolve("file_watcher"))
    val arch = Files.createDirectories(root.resolve("archive"))
    val reg = new DatasetRegistry(spark, s"$root/registry")
    val imp = new GenericImporter(spark, reg, s"$root/warehouse", today = () => today)
    (imp, reg, src, arch, root)
  }

  private def urlCheckConfig(src: Path, arch: Path, strategy: ImportStrategy = ImportStrategy.Evolve) =
    ImportConfig(
      configId = 1, configName = "MeetMaxURLCheckImport",
      datasource = "MeetMax", datasettype = "MeetMaxURL",
      sourceDirectory = src.toString, archiveDirectory = arch.toString,
      filePattern = """\d{8}T\d{6}_MeetMaxURLCheck\.csv""",
      fileType = "CSV",
      labelSource = MetaSource.Static, labelLocation = Some("MeetMaxURLCheck"),
      dateSource = MetaSource.Filename, dateLocation = Some("0"),
      dateFormat = Some("yyyyMMdd'T'HHmmss"), delimiter = Some("_"),
      targetTable = "public.tmeetmaxurlcheck",
      strategy = strategy, isActive = true
    )

  // FIXTURES.md F1 rows: downloadable / not downloadable / invalid / failed
  private val f1Csv =
    """EventID,URL,IfExists,InvalidEventID,IsDownloadable,DownloadLink,StatusCode,Title
      |119179,https://x/event_119179/__co-list_cp.html,1,False,1,https://x/119179.xls,200,Conf A
      |119180,https://x/event_119180/__co-list_cp.html,1,False,0,,200,Conf B
      |119181,https://x/event_119181/__co-list_cp.html,0,True,0,,200,
      |119182,https://x/event_119182/__co-list_cp.html,0,False,0,,Failed,
      |""".stripMargin

  private def write(dir: Path, name: String, content: String): Path =
    Files.write(dir.resolve(name), content.getBytes("UTF-8"))

  test("FilePatternScanner uses re.match semantics (prefix anchor)") {
    val (_, _, src, _, _) = env()
    write(src, "20250401T120000_MeetMaxURLCheck.csv", "a\n1\n")
    write(src, "notes_20250401T120000_MeetMaxURLCheck.csv", "a\n1\n") // no prefix match
    write(src, "20250401T120000_Other.csv", "a\n1\n")
    val found = FilePatternScanner.scan(src.toString, """\d{8}T\d{6}_MeetMaxURLCheck\.csv""")
    assert(found.map(_.getFileName.toString) == Seq("20250401T120000_MeetMaxURLCheck.csv"))
  }

  test("FilePatternScanner closes its directory handle on every scan") {
    val (_, _, src, _, _) = env()
    write(src, "20250401T120000_MeetMaxURLCheck.csv", "a\n1\n")
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "open-fd count needs procfs")
    def openFds(): Int = fdDir.list().length
    val before = openFds()
    (1 to 2000).foreach(_ => FilePatternScanner.scan(src.toString, """\d{8}T\d{6}_MeetMaxURLCheck\.csv"""))
    val grown = openFds() - before
    // other threads of the shared session may open a few files meanwhile
    assert(grown < 100, s"2000 scans left $grown more open fds")
  }

  test("import budget: one SQL execution and one Spark job per non-empty import, none per invalid spreadsheet or registry commit") {
    val (imp, reg, src, arch, _) = env()
    val cfg = urlCheckConfig(src, arch)
    // first import creates the target; the second appends to it
    for (name <- Seq("20250401T120000_MeetMaxURLCheck.csv", "20250402T120000_MeetMaxURLCheck.csv")) {
      val (r, n) = sqlExecutionsIn(imp.importFile(cfg, write(src, name, f1Csv), 2, 1))
      assert(r.status == DatasetStatus.Active && r.rowsLoaded == 4)
      assert(n == SparkSpec.Started(sqlExecutions = 1, jobs = 1), s"$name: a non-empty CSV import started $n")
    }
    val (h, hN) = sqlExecutionsIn(imp.importFile(cfg,
      write(src, "20250403T120000_MeetMaxURLCheck.csv", "EventID,Title\n"), 2, 1))
    assert(h.status == DatasetStatus.Empty)
    assert(hN.sqlExecutions <= 1 && hN.jobs <= 1, s"a header-only CSV import started $hN")
    val xlsxCfg = cfg.copy(filePattern = """\d{8}T\d{6}_MeetMax_\d+\.xlsx""", fileType = "XLSX",
      labelSource = MetaSource.Filename, labelLocation = Some("2"), targetTable = "public.tmeetmaxevent")
    val xlsx = Files.write(src.resolve("20250401T120000_MeetMax_5.xlsx"),
      xlsxBytes(f2SheetXml, Seq("EventID", "Company Name", "Flag")))
    val (x, xN) = sqlExecutionsIn(imp.importFile(xlsxCfg, xlsx, 3, 1))
    assert(x.status == DatasetStatus.Active && x.rowsLoaded == 2)
    assert(xN == SparkSpec.Started(sqlExecutions = 1, jobs = 1), s"an XLSX import started $xN")
    val invalid = Files.write(src.resolve("20250402T120000_MeetMax_5.xlsx"),
      xlsxBytes(invalidSheetXml, Seq("Company Name")))
    val (i, iN) = sqlExecutionsIn(imp.importFile(xlsxCfg, invalid, 3, 1))
    assert(i.status == DatasetStatus.Empty)
    assert(iN == SparkSpec.Started(sqlExecutions = 0, jobs = 0), s"an invalid-marker XLSX import started $iN")
    val (id, insertN) = sqlExecutionsIn(reg.insert(java.sql.Date.valueOf("2025-05-01"), "X", 9, 1))
    val (_, statusN) = sqlExecutionsIn(reg.setStatus(id, DatasetStatus.Empty))
    assert(insertN == SparkSpec.Started(0, 0) && statusN == SparkSpec.Started(0, 0),
      s"registry commits started Spark work: insert $insertN, setStatus $statusN")
  }

  test("process budget: an import with its registry commits starts no OS process") {
    val (imp, _, src, arch, _) = env()
    val cfg = urlCheckConfig(src, arch)
    // the first import creates the target; the second appends to it
    for (name <- Seq("20250401T120000_MeetMaxURLCheck.csv", "20250402T120000_MeetMaxURLCheck.csv")) {
      val (r, started) = processesIn(imp.importFile(cfg, write(src, name, f1Csv), 2, 1))
      assert(r.status == DatasetStatus.Active && r.rowsLoaded == 4)
      assert(started.isEmpty, s"$name: the import started ${started.size} processes: " +
        started.groupBy(identity).map { case (c, n) => s"${n.size} x $c" }.mkString("; "))
    }
  }

  test("header and row count match Spark's CSV reader on tricky files") {
    val utf8 = (s: String) => s.getBytes("UTF-8")
    val cases: Seq[(String, Array[Byte])] = Seq(
      "quoted header with a comma" -> utf8("\"Last, First\",Id\nDoe,1\nRoe,2\n"),
      "duplicate and case-duplicate names" -> utf8("a,A,b,b,c\n1,2,3,4,5\n"),
      "empty header cells" -> utf8("a,,c,\n1,2,3,4\n"),
      "leading blank lines" -> utf8("\n  \n\na,b\n1,2\n"),
      "CRLF line endings" -> utf8("a,b\r\n1,2\r\n3,4\r\n"),
      "UTF-8 BOM" -> (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ utf8("a,b\n1,2\n")),
      "invalid UTF-8 byte" -> (utf8("a") ++ Array(0xFF.toByte) ++ utf8("z,b\n1,2\n")),
      "whitespace-only data line" -> utf8("a,b\n1,2\n   \n3,4\n"),
      "header-only file" -> utf8("a,b\n"),
      "zero-byte file" -> Array.emptyByteArray,
      "escaped quote in a header cell" -> utf8("a,\"q\"\"z\"\n1,2\n"),
      "all-empty header" -> utf8(",,,\n1,2,3,4\n"),
      "whitespace-padded names" -> utf8("  a , b  ,c\n1,2,3\n"),
      "duplicates, empties and a quoted comma together" -> utf8("a,a,A,,b,\"x,y\"\n1,2,3,4,5,6\n"))
    for ((name, bytes) <- cases) {
      val (imp, _, src, arch, root) = env()
      val ref = Files.write(Files.createDirectories(root.resolve("ref")).resolve("ref.csv"), bytes)
      val sparkDf = spark.read.option("header", "true").csv(ref.toString)
      val wantCols = sparkDf.columns.map(Functions.normalizeName).toSeq
      val wantRows = if (wantCols.isEmpty) 0L else sparkDf.count()
      val wantStatus = if (wantRows == 0) DatasetStatus.Empty else DatasetStatus.Active
      val f = Files.write(src.resolve("20250401T120000_MeetMaxURLCheck.csv"), bytes)
      val r = imp.importFile(urlCheckConfig(src, arch), f, 2, 1)
      assert(r.status == wantStatus, s"$name: status")
      assert(r.rowsLoaded == wantRows, s"$name: rowsLoaded")
      if (wantStatus == DatasetStatus.Active) {
        val got = imp.readTarget("public.tmeetmaxurlcheck").drop("datasetid")
        assert(got.columns.toSeq == wantCols, s"$name: columns")
        assert(got.collect().map(_.toSeq).toSet == sparkDf.collect().map(_.toSeq).toSet, s"$name: rows")
      } else assert(!imp.targetExists("public.tmeetmaxurlcheck") ||
        !Files.exists(Paths.get(s"$root/warehouse/public_tmeetmaxurlcheck/datasetid=${r.datasetid}")),
        s"$name: an Empty import wrote data")
    }
  }

  test("header-only files: Empty under FailOnMissing, and no new column under Evolve") {
    val (imp, _, src, arch, root) = env()
    write(src, "20250401T120000_MeetMaxURLCheck.csv", "EventID,Title\n1,A\n")
    imp.run(urlCheckConfig(src, arch), 2, 1)
    // header-only and missing a target column: Empty, not Failed
    write(src, "20250402T120000_MeetMaxURLCheck.csv", "EventID\n")
    val strict = imp.run(urlCheckConfig(src, arch, ImportStrategy.FailOnMissing), 2, 1).files.head
    assert(strict.status == DatasetStatus.Empty)
    // header-only with a new column under Evolve: no partition, no column
    write(src, "20250403T120000_MeetMaxURLCheck.csv", "EventID,Title,Late Col\n")
    val evolved = imp.run(urlCheckConfig(src, arch), 2, 1).files.head
    assert(evolved.status == DatasetStatus.Empty && evolved.rowsLoaded == 0)
    assert(!Files.exists(Paths.get(s"$root/warehouse/public_tmeetmaxurlcheck/datasetid=${evolved.datasetid}")))
    assert(imp.readTarget("public.tmeetmaxurlcheck").columns.toSet == Set("eventid", "title", "datasetid"))
    // the next real file still evolves from the unchanged target
    write(src, "20250404T120000_MeetMaxURLCheck.csv", "EventID,Title,Late Col\n2,B,x\n")
    val next = imp.run(urlCheckConfig(src, arch), 2, 1).files.head
    assert(next.status == DatasetStatus.Active && next.newColumns == Seq("late_col"))
  }

  test("golden F1 import: registry row, normalized columns, datasetid stamp, archive move") {
    val (imp, reg, src, arch, _) = env()
    write(src, "20250401T120000_MeetMaxURLCheck.csv", f1Csv)
    val res = imp.run(urlCheckConfig(src, arch), typeId = 2, sourceId = 1)

    assert(res.files.map(_.status) == Seq(DatasetStatus.Active))
    assert(res.loadedRows == 4)
    // archive move happened
    assert(!Files.exists(src.resolve("20250401T120000_MeetMaxURLCheck.csv")))
    assert(Files.exists(arch.resolve("20250401T120000_MeetMaxURLCheck.csv")))
    // registry row: label static, date from filename token 0
    val meta = reg.load().collect().head
    assert(meta.label == "MeetMaxURLCheck")
    assert(meta.datasetdate == java.sql.Date.valueOf("2025-04-01"))
    assert(meta.isactive)
    // data: normalized headers + datasetid stamp, all strings
    val data = imp.readTarget("public.tmeetmaxurlcheck")
    assert(data.columns.contains("eventid") && data.columns.contains("datasetid"))
    assert(data.count() == 4)
    assert(data.schema.filter(_.name != "datasetid").forall(_.dataType.typeName == "string"))
    // the downstream filter of meetmax_url_download.py:181 (T8)
    val downloadable =
      data.filter(col("isdownloadable") === "1" && col("downloadlink").isNotNull && col("downloadlink") =!= "")
    assert(downloadable.count() == 1)
  }

  test("re-import of same (label, type, date) keeps exactly one active version; latest wins") {
    val (imp, reg, src, arch, _) = env()
    write(src, "20250401T120000_MeetMaxURLCheck.csv", f1Csv)
    imp.run(urlCheckConfig(src, arch), 2, 1)
    // same date, later time-of-day token → same datasetdate
    write(src, "20250401T170000_MeetMaxURLCheck.csv", f1Csv)
    imp.run(urlCheckConfig(src, arch), 2, 1)

    val rows = reg.load().collect()
    assert(rows.length == 2 && rows.count(_.isactive) == 1)
    // pruned read returns only the new version's rows
    val data = imp.readTarget("public.tmeetmaxurlcheck")
    assert(data.count() == 8) // append-only facts
    val pruned = reg.latestActiveFacts(data, 2)
    assert(pruned.count() == 4)
    assert(pruned.select("datasetid").distinct().head().getLong(0) == rows.filter(_.isactive).head.datasetid)
  }

  test("schema evolution (strategy 1): new column appears, old rows read as null") {
    val (imp, _, src, arch, _) = env()
    write(src, "20250401T120000_MeetMaxURLCheck.csv", "EventID,Title\n1,A\n")
    imp.run(urlCheckConfig(src, arch), 2, 1)
    write(src, "20250402T120000_MeetMaxURLCheck.csv", "EventID,Title,New Col\n2,B,x\n")
    val res = imp.run(urlCheckConfig(src, arch), 2, 1)
    assert(res.files.head.newColumns == Seq("new_col"))
    val data = imp.readTarget("public.tmeetmaxurlcheck")
    assert(data.columns.toSet == Set("eventid", "title", "new_col", "datasetid"))
    assert(data.filter(col("new_col").isNull).count() == 1)
  }

  test("strategy 2 ignores new columns; strategy 3 fails on missing") {
    val (imp, reg, src, arch, _) = env()
    write(src, "20250401T120000_MeetMaxURLCheck.csv", "EventID,Title\n1,A\n")
    imp.run(urlCheckConfig(src, arch), 2, 1)
    // strategy 2: extra column dropped
    write(src, "20250402T120000_MeetMaxURLCheck.csv", "EventID,Title,Extra\n2,B,x\n")
    imp.run(urlCheckConfig(src, arch, ImportStrategy.IgnoreNew), 2, 1)
    val data = imp.readTarget("public.tmeetmaxurlcheck")
    assert(data.columns.toSet == Set("eventid", "title", "datasetid"))
    // strategy 3: missing column -> Failed dataset, file archived
    write(src, "20250403T120000_MeetMaxURLCheck.csv", "EventID\n3\n")
    val res = imp.run(urlCheckConfig(src, arch, ImportStrategy.FailOnMissing), 2, 1)
    assert(res.files.head.status == DatasetStatus.Failed)
    assert(reg.load().collect().filter(_.datastatusid == DatasetStatus.Failed.id).length == 1)
    assert(Files.exists(arch.resolve("20250403T120000_MeetMaxURLCheck.csv")))
  }

  test("empty branches: 0-row file and invalid-marker XLS both mark dataset Empty and archive") {
    val (imp, reg, src, arch, _) = env()
    // headers but zero rows (T12)
    write(src, "20250401T120000_MeetMaxURLCheck.csv", "EventID,Title\n")
    val r1 = imp.run(urlCheckConfig(src, arch), 2, 1)
    assert(r1.files.head.status == DatasetStatus.Empty)
    assert(Files.exists(arch.resolve("20250401T120000_MeetMaxURLCheck.csv")))
    // invalid-marker file imported under an XLS-typed config (T9);
    // payload is CSV-shaped (the XLS decode itself is out of engine
    // scope — SURVEY §2.1 S2)
    val xlsCfg = urlCheckConfig(src, arch).copy(
      filePattern = """\d{8}T\d{6}_MeetMax_\d+\.xls""",
      fileType = "XLS",
      labelSource = MetaSource.Filename, labelLocation = Some("2"),
      targetTable = "public.tmeetmaxevent"
    )
    write(src, "20250401T120000_MeetMax_7.xls", "Company Name\nInvalid Event ID\n")
    val r2 = imp.run(xlsCfg, 3, 1)
    assert(r2.files.head.status == DatasetStatus.Empty)
    val empties = reg.load().collect().filter(_.datastatusid == DatasetStatus.Empty.id)
    assert(empties.length == 2)
    // reference parity: the Empty dataset remains the active version of
    // its (label, type, date) — the bad re-delivery displaced any prior
    // sibling at insert time, and update_dataset_empty_status does not
    // flip isactive (generic_import.py:307-311)
    assert(empties.forall(_.isactive))
  }

  test("oversized spreadsheet: lands status=Failed + archive, bytes never buffered or parsed") {
    import graft.ingest.XlsxConverter
    val root = Files.createTempDirectory("graft-import-big")
    val src = Files.createDirectories(root.resolve("file_watcher"))
    val arch = Files.createDirectories(root.resolve("archive"))
    val reg = new DatasetRegistry(spark, s"$root/registry")
    // 1 KiB cap stands in for the real 256 MiB default
    val imp = new GenericImporter(spark, reg, s"$root/warehouse", today = () => today,
      xlsConverter = new XlsxConverter(maxBytes = 1024))
    val xlsCfg = urlCheckConfig(src, arch).copy(
      filePattern = """\d{8}T\d{6}_MeetMax_\d+\.xls""",
      fileType = "XLS",
      labelSource = MetaSource.Filename, labelLocation = Some("2"),
      targetTable = "public.tmeetmaxevent"
    )
    // over-cap CSV-shaped payload: without the cap this would import fine
    // through the passthrough — the cap must win BEFORE any read
    val big = "EventID,Title\n" + (1 to 500).map(i => s"$i,conf $i\n").mkString
    assert(big.length > 1024)
    write(src, "20250401T120000_MeetMax_9.xls", big)
    val res = imp.run(xlsCfg, 3, 1)
    assert(res.files.head.status == DatasetStatus.Failed)
    assert(!Files.exists(src.resolve("20250401T120000_MeetMax_9.xls")))
    assert(Files.exists(arch.resolve("20250401T120000_MeetMax_9.xls")))
    val meta = reg.load().collect().head
    assert(meta.datastatusid == DatasetStatus.Failed.id)
    assert(!imp.targetExists("public.tmeetmaxevent"), "no rows may reach the target")
    // the same payload under the cap imports normally (cap is the only gate)
    val imp2 = new GenericImporter(spark, reg, s"$root/warehouse", today = () => today,
      xlsConverter = new XlsxConverter(maxBytes = 1024 * 1024))
    write(src, "20250402T120000_MeetMax_9.xls", big)
    assert(imp2.run(xlsCfg, 3, 1).files.head.status == DatasetStatus.Active)
  }

  /** A real .xlsx: zip of workbook + rels + sharedStrings + 2 sheets.
    * The rels list rId2 FIRST so sheet resolution must go through the
    * relationship id, not positional luck; sheet2 holds a sentinel
    * that must never surface.
    */
  private def xlsxBytes(sheet1: String, shared: Seq[String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Data" sheetId="1" r:id="rId1"/><sheet name="Second" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    if (shared.nonEmpty)
      put("xl/sharedStrings.xml",
        s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">${shared
            .map(s => s"<si><t>$s</t></si>").mkString}</sst>""")
    put("xl/worksheets/sheet1.xml", sheet1)
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="inlineStr"><is><t>WRONG SHEET</t></is></c></row></sheetData></worksheet>""")
    z.close()
    bos.toByteArray
  }

  private val f2SheetXml =
    """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
      |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
      |<row r="2"><c r="A2"><v>119179</v></c><c r="B2" t="inlineStr"><is><r><t>Acme</t></r><r><t> Corp</t></r></is></c><c r="C2" t="b"><v>1</v></c></row>
      |<row r="3"><c r="A3"><v>119180</v></c><c r="C3" t="b"><v>0</v></c></row>
      |</sheetData></worksheet>""".stripMargin

  private val invalidSheetXml =
    """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
      |<row r="1"><c r="A1" t="s"><v>0</v></c></row>
      |<row r="2"><c r="A2" t="inlineStr"><is><t>Invalid Event ID</t></is></c></row>
      |</sheetData></worksheet>""".stripMargin

  /** Imports a CSV-shaped payload under an XLS config (the converter
    * passes it through) and reports whether the T9 probe flagged it:
    * every payload here has data rows, so a file without the marker
    * lands Active.
    */
  private def importerFlags(bytes: Array[Byte]): Boolean = {
    val (imp, _, src, arch, _) = env()
    val xlsCfg = urlCheckConfig(src, arch).copy(fileType = "XLS", targetTable = "public.tmeetmaxevent")
    val r = imp.importFile(xlsCfg, Files.write(src.resolve("20250401T120000_MeetMax_7.xls"), bytes), 3, 1)
    assert(r.status == DatasetStatus.Empty || r.status == DatasetStatus.Active, s"status ${r.status}")
    r.status == DatasetStatus.Empty
  }

  // T9 invalid-content detection (generic_import.py:353-377)
  test("the invalid-marker probe detects the marker case-insensitively in the first column") {
    assert(importerFlags("c1\ninvalid event id found\nok\n".getBytes("UTF-8")))
    assert(!importerFlags("c1\nall fine\n".getBytes("UTF-8")))
  }

  test("the driver-side invalid-marker probe matches the Spark probe it replaced") {
    // the probe as a Spark query over the importer's all-string read
    def sparkFlags(f: Path): Boolean = {
      val s = spark.read.option("header", "true").csv(f.toString).schema
      val df = spark.read.option("header", "true").schema(s).csv(f.toString)
      assert(df.count() > 0, "every case needs data rows")
      !df.filter(upper(col(s"`${s.head.name}`")).contains("Invalid Event ID".toUpperCase)).isEmpty
    }
    val utf8 = (s: String) => s.getBytes("UTF-8")
    val cases: Seq[(String, Array[Byte], Boolean)] = Seq(
      ("quoted in the first field", utf8("Company,Id\n\"Invalid Event ID\",1\n"), true),
      ("quoted first field with a comma before it", utf8("Company,Id\n\"Acme, Invalid Event ID\",1\n"), true),
      ("lower case", utf8("Company,Id\nAcme,1\ninvalid event id 7,2\n"), true),
      ("mixed case inside a longer value", utf8("Company,Id\nsee: InVaLiD eVeNt Id!,1\n"), true),
      ("second column only", utf8("Company,Note\nAcme,Invalid Event ID\n"), false),
      ("header only", utf8("Invalid Event ID,Id\nAcme,1\n"), false),
      ("leading blank and whitespace-only lines",
        utf8("\n  \n\nCompany,Id\n \t \nAcme,1\n\nInvalid Event ID,2\n"), true),
      ("CRLF line endings and a UTF-8 BOM",
        Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ utf8("Company,Id\r\nAcme,1\r\nInvalid Event ID,2\r\n"), true),
      ("embedded newline whose continuation starts with the marker",
        utf8("Company,Note\nAcme,\"first line\nInvalid Event ID continues\"\n"), true),
      ("dotless i folds to I", utf8("Company,Id\n\u0131nvalid event \u0131d,1\n"), true),
      ("dotted capital I does not fold to I", utf8("Company,Id\n\u0130nvalid Event \u0130D,1\n"), false))
    for ((name, bytes, want) <- cases) {
      val ref = Files.write(Files.createTempDirectory("graft-marker").resolve("ref.csv"), bytes)
      assert(sparkFlags(ref) == want, s"$name: Spark probe")
      assert(importerFlags(bytes) == want, s"$name: driver probe")
    }
  }

  test("XlsxConverter decodes a real xlsx: first sheet by rel id, shared/inline/bool cells, gaps, quoting") {
    val dir = Files.createTempDirectory("graft-xlsx")
    val xls = dir.resolve("f.xlsx")
    Files.write(xls, xlsxBytes(f2SheetXml, Seq("EventID", "Company Name", "Flag")))
    val csv = new graft.ingest.XlsxConverter().toCsv(xls)
    val text = new String(Files.readAllBytes(csv), "UTF-8")
    // QUOTE_NONNUMERIC parity: strings quoted, numerics bare, gap empty
    assert(text ==
      "\"EventID\",\"Company Name\",\"Flag\"\n" +
      "119179,\"Acme Corp\",\"True\"\n" +
      "119180,,\"False\"\n")
    assert(!text.contains("WRONG SHEET"), "must resolve sheet1 via its relationship id")
  }

  test("real-xlsx end-to-end import and the invalid-marker branch without any passthrough") {
    val (imp, reg, src, arch, _) = env()
    val cfg = urlCheckConfig(src, arch).copy(
      filePattern = """\d{8}T\d{6}_MeetMax_\d+\.xlsx""",
      fileType = "XLSX",
      labelSource = MetaSource.Filename, labelLocation = Some("2"),
      targetTable = "public.tmeetmaxevent"
    )
    Files.write(src.resolve("20250401T120000_MeetMax_5.xlsx"),
      xlsxBytes(f2SheetXml, Seq("EventID", "Company Name", "Flag")))
    val r1 = imp.run(cfg, 3, 1)
    assert(r1.files.map(_.status) == Seq(DatasetStatus.Active))
    assert(r1.loadedRows == 2)
    val data = imp.readTarget("public.tmeetmaxevent")
    assert(data.columns.toSet == Set("eventid", "company_name", "flag", "datasetid"))
    assert(data.filter(col("eventid") === "119179" && col("company_name") === "Acme Corp").count() == 1)
    assert(data.filter(col("eventid") === "119180" && col("company_name").isNull).count() == 1)
    // temp CSV cleaned up after the load (generic_import.py:697-704)
    assert(!Files.exists(src.resolve("20250401T120000_MeetMax_5.csv")))
    // invalid-marker variant as a REAL xlsx (T9 through the decoder)
    val invalidSheet =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>Invalid Event ID</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin
    Files.write(src.resolve("20250402T120000_MeetMax_5.xlsx"),
      xlsxBytes(invalidSheet, Seq("Company Name")))
    val r2 = imp.run(cfg, 3, 1)
    assert(r2.files.map(_.status) == Seq(DatasetStatus.Empty))
    assert(Files.exists(arch.resolve("20250402T120000_MeetMax_5.xlsx")))
  }

  test("real legacy BIFF8 .xls end-to-end import and invalid-marker branch without passthrough") {
    val (imp, reg, src, arch, _) = env()
    val cfg = urlCheckConfig(src, arch).copy(
      filePattern = """\d{8}T\d{6}_MeetMax_\d+\.xls""",
      fileType = "XLS",
      labelSource = MetaSource.Filename, labelLocation = Some("2"),
      targetTable = "public.tmeetmaxevent_biff"
    )
    Files.write(src.resolve("20250401T120000_MeetMax_5.xls"), BiffFixtures.importXls)
    val r1 = imp.run(cfg, 3, 1)
    assert(r1.files.map(_.status) == Seq(DatasetStatus.Active))
    assert(r1.loadedRows == 2)
    val data = imp.readTarget("public.tmeetmaxevent_biff")
    assert(data.columns.toSet == Set("eventid", "company_name", "flag", "datasetid"))
    assert(data.filter(col("eventid") === "119179" && col("company_name") === "Acme Corp").count() == 1)
    assert(data.filter(col("eventid") === "119180" && col("company_name").isNull).count() == 1)
    assert(!Files.exists(src.resolve("20250401T120000_MeetMax_5.csv")))
    // invalid-marker variant as a REAL BIFF8 file (T9 through the decoder)
    Files.write(src.resolve("20250402T120000_MeetMax_5.xls"), BiffFixtures.invalidXls)
    val r2 = imp.run(cfg, 3, 1)
    assert(r2.files.map(_.status) == Seq(DatasetStatus.Empty))
    assert(Files.exists(arch.resolve("20250402T120000_MeetMax_5.xls")))
  }

  test("F2 variant evolution + COALESCE-over-variants analytics read") {
    val (imp, reg, src, arch, _) = env()
    val cfg = urlCheckConfig(src, arch).copy(
      configName = "MeetMax_Events_XLS_Import",
      filePattern = """\d{8}T\d{6}_MeetMax_\d+\.csv""",
      labelSource = MetaSource.Filename, labelLocation = Some("2"),
      targetTable = "public.tmeetmaxevent"
    )
    // variant A then variant D (FIXTURES.md F2)
    write(src, "20250401T120000_MeetMax_9.csv",
      "Company Name,Ticker\nAcme,ACM\nBolt,BLT\n")
    imp.run(cfg, 3, 1)
    write(src, "20250402T120000_MeetMax_9.csv",
      "Company Description (Bio),Company Ticker\nAcme bio,ACM\nCarbon bio,CRB\n")
    imp.run(cfg, 3, 1)

    val data = imp.readTarget("public.tmeetmaxevent")
    // Q8: COALESCE across evolved name variants
    val named = data.withColumn(
      "company",
      coalesce(col("company_name"), col("`company_description_(bio)`")))
      .withColumn("tick", coalesce(col("ticker"), col("company_ticker")))
    assert(named.filter(col("company").isNull || col("tick").isNull).count() == 0)
    // Q11 story: ticker sets across the two snapshots
    val d1 = java.sql.Date.valueOf("2025-04-01")
    val d2 = java.sql.Date.valueOf("2025-04-02")
    val reg1 = reg.activeIds(3, d1); val reg2 = reg.activeIds(3, d2)
    val t1 = named.filter(col("datasetid").isin(reg1: _*)).select("tick")
    val t2 = named.filter(col("datasetid").isin(reg2: _*)).select("tick")
    assert(t2.except(t1).collect().map(_.getString(0)).toSet == Set("CRB")) // added
    assert(t1.except(t2).collect().map(_.getString(0)).toSet == Set("BLT")) // removed
  }

  test("ImportConfig validation mirrors the CHECK constraints") {
    val (_, _, src, arch, _) = env()
    val ok = urlCheckConfig(src, arch)
    assert(ImportConfig.validated(ok).isRight)
    assert(ImportConfig.validated(ok.copy(fileType = "PDF")).isLeft)
    assert(ImportConfig.validated(ok.copy(archiveDirectory = ok.sourceDirectory)).isLeft)
    assert(ImportConfig.validated(ok.copy(sourceDirectory = "relative/path")).isLeft)
    assert(ImportConfig.validated(ok.copy(dateLocation = Some("notdigits"))).isLeft)
    assert(ImportConfig.validated(ok.copy(dateFormat = None)).isLeft)
  }
}
