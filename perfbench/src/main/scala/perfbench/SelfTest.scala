package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.ingest.{BiffConverter, FileResult, XlsxConverter}
import graft.model.{DatasetMeta, DatasetStatus}
import graft.report.{Attachment, RenderedReport}

/** Self-tests of the harness's own code: the percentile rule, span
  * self-time, job-to-span attribution (synthetic and against a live
  * session), the spreadsheet writers, input determinism, and that each
  * workload's output check catches a planted wrong result.
  *
  * Run with `python3 perfbench/run.py --self-test`; exits non-zero when
  * any group fails.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("percentile rule: highest percentile up to p90 with 10 samples beyond it") {
      check(Stats.supportedTail(100).contains(0.9), "100 samples support p90")
      check(Stats.supportedTail(40).contains(0.75), "40 samples support p75")
      check(Stats.supportedTail(1000).contains(0.9), "the cap holds")
      check(Stats.supportedTail(20).isEmpty, "20 samples support no tail above the median")
      check(Stats.supportedTail(21).exists(_ > 0.5), "21 samples do")
      val xs = (1 to 40).map(_.toDouble)
      val Some((q, v)) = Stats.tail(xs)
      check(q == 0.75 && xs.count(_ > v) >= 10, s"p${q * 100} = $v leaves ${xs.count(_ > v)} beyond")
      check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median interpolates")
      check(Stats.median(Nil) == 0.0, "empty sample reads 0")
    }

    test("span self time is the span minus the union of its children") {
      check(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25, "union")
      check(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60, "overlap + clip")
      check(Stats.selfTime((0L, 100L), Nil) == 100, "no children")
      check(Stats.selfTime((0L, 100L), Seq((-5L, 200L))) == 0, "fully covered")
    }

    test("jobs attribute to the span that was open when they started") {
      val spans = Seq(Span(1, 0, "op", 0, 100), Span(2, 1, "child", 10, 50), Span(3, 2, "grandchild", 20, 30))
      def job(id: Int, start: Long, group: String, prop: Option[Long]) =
        JobRec(id, start, start + 5, group, prop, "x", "count at X.scala:1", Seq(id))
      val jobs = Seq(job(1, 12, "g", Some(2)), job(2, 25, "g", None), job(3, 60, "g", None),
        job(4, 25, "other", None))
      val t = new TraceData(spans, jobs, Map(1 -> StageRec(1, 2, 3)), Map("g" -> 1L))
      check(t.spanOf(jobs(0)).map(_.id).contains(2), "span property wins")
      check(t.spanOf(jobs(1)).map(_.id).contains(3), "innermost span containing the start")
      check(t.spanOf(jobs(2)).map(_.id).contains(1), "else the operation's root")
      check(t.spanOf(jobs(3)).isEmpty, "unknown group stays unattributed")
      check(t.jobsWithin(spans(1)).map(_.id).toSet == Set(1, 2), "jobsWithin covers descendants")
      check(t.stageTotals(t.jobsWithin(spans(0))) == StageRec(1, 2, 3), "stage totals")
      check(math.abs(t.driverGapShare(Seq(spans(0))) - 0.85) < 1e-9, "driver gap: 15 of 100 busy")
      check(Tracer.pipelineStage("in-pipeline[delivery0] dedup ingest").contains("dedup ingest"), "stage label")
      check(Tracer.sourceFile("parquet at DatasetRegistry.scala:183") == "DatasetRegistry.scala", "call site")
    }

    test("live attribution: same-thread jobs by span id, other threads by job group") {
      val spark = graft.Sessions.local(2, "perfbench-selftest")
      try {
        val tracer = new Tracer(spark.sparkContext)
        val guard = new Guard(spark, tracer, 60)
        // a worker thread that exists before the span opens, so it cannot
        // inherit the span id: its jobs carry only the copied job group
        val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
        pool.submit(new Runnable { def run(): Unit = () }).get()
        implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(pool)
        tracer.setEnabled(true)
        guard.op("probe") {
          tracer.span("inner")(spark.range(10).count())
          val f = graft.ops.Jobs.inCallerJobGroup(spark.sparkContext)(spark.range(5).count())
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        }()
        tracer.drain()
        pool.shutdown()
        val t = tracer.snapshot()
        val inner = t.named("inner").head
        val op = t.named("probe").head
        val fromWorker = t.jobs.filter(_.spanProp.isEmpty)
        check(t.jobsWithin(inner).nonEmpty && t.jobsWithin(inner).forall(_.spanProp.contains(inner.id)),
          "the span's own jobs carry its id")
        check(fromWorker.nonEmpty && fromWorker.forall(j => t.spanOf(j).contains(op)),
          "the worker's jobs fall back to their operation")
        check(t.jobsWithin(op).size == t.jobs.size, s"all ${t.jobs.size} jobs fall inside the operation")
        check(guard.failed == 0, "no failure")
        val (_, _) = guard.op("broken")(throw new IllegalStateException("planted"))()
        val (_, _) = guard.op("wrong")(1)(v => if (v != 2) Some("planted wrong output") else None)
        check(guard.attempted == 3 && guard.failed == 2, "exceptions and wrong outputs count as failed")
        guard.shutdown()
      } finally spark.stop()
    }

    test("spreadsheet writers decode through the program's converters") {
      val dir = Files.createTempDirectory("perfbench-selftest")
      val rows = Seq(Seq("EventID", "Company Name"), Seq("119179", "Acme Corp"), Seq("119180", "Globex"))
      val xlsx = dir.resolve("a.xlsx")
      Files.write(xlsx, Spreadsheets.xlsx(rows))
      val xls = dir.resolve("b.xls")
      Files.write(xls, Spreadsheets.xls(rows))
      val want = "\"EventID\",\"Company Name\"\n119179,\"Acme Corp\"\n119180,\"Globex\"\n"
      val fromXlsx = new String(Files.readAllBytes(new XlsxConverter().toCsv(xlsx)), "UTF-8")
      val fromXls = new String(Files.readAllBytes(new BiffConverter().toCsv(xls)), "UTF-8")
      check(fromXlsx == want, s"xlsx decoded as $fromXlsx")
      check(fromXls.replace("119179.0", "119179").replace("119180.0", "119180") == want, s"xls decoded as $fromXls")
      Workload.deleteTree(dir)
    }

    test("inputs are a function of the seed") {
      def bytes(s: NightlyImport.Season) = s.nights.flatten.map(d => d.fileName -> d.bytes.toSeq)
      check(bytes(NightlyImport.generate(7)) == bytes(NightlyImport.generate(7)), "same seed, same files")
      check(bytes(NightlyImport.generate(7)) != bytes(NightlyImport.generate(8)), "another seed, other files")
      check(Corpus.documents.size == Corpus.NumDocs && Corpus.embeddings.size == Corpus.NumVectors, "corpus size")
    }

    test("nightly_import checks catch planted wrong output") {
      val season = NightlyImport.generate(3)
      val expected = season.expectedChanges
      check(expected.exists(_._1 == "added") && expected.exists(_._1 == "removed"), "both kinds planted")
      def render(rows: Seq[(String, String, String)]) = {
        val csv = ("\"change\",\"company\",\"event_id\"" +: rows.map { case (c, l, e) =>
          s"\"$c\",\"$l\",\"$e\"" }).mkString("", "\n", "\n")
        val body = rows.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (c, xs) => s"<tr><td>$c</td><td>${xs.size}</td></tr>" }.mkString
        RenderedReport("s", Nil, body, Seq(Attachment("changes.csv", csv)))
      }
      val good = expected.toSeq.sorted
      check(NightlyImport.checkReport(render(good), expected).isEmpty, "the planted report passes")
      check(NightlyImport.checkReport(render(good.tail), expected).nonEmpty, "a missing change is caught")
      check(NightlyImport.checkReport(render(good :+ (("added", "acme", "999"))), expected).nonEmpty,
        "an extra change is caught")
      check(NightlyImport.checkReport(render(good :+ good.head), expected).nonEmpty, "a duplicate is caught")
      val d = season.nights.head.head
      val ok = FileResult(d.fileName, 1, DatasetStatus.Active, d.dataRows, Nil, Map.empty)
      check(NightlyImport.checkFile(d, ok).isEmpty, "a right file result passes")
      check(NightlyImport.checkFile(d, ok.copy(rowsLoaded = d.dataRows - 1)).nonEmpty, "lost rows are caught")
      check(NightlyImport.checkFile(d, ok.copy(status = DatasetStatus.Empty)).nonEmpty, "wrong status is caught")
      val ts = new java.sql.Timestamp(0)
      def meta(id: Long, active: Boolean, status: DatasetStatus) = DatasetMeta(id,
        java.sql.Date.valueOf(d.date), d.label, d.typeId, 1, status.id, ts, None, active, ts, "t")
      val results = Seq(d -> ok)
      check(NightlyImport.checkRegistry(Seq(meta(1, active = true, DatasetStatus.Active)), results).isEmpty,
        "one active version passes")
      check(NightlyImport.checkRegistry(Seq(meta(1, active = true, DatasetStatus.Active),
        meta(2, active = true, DatasetStatus.Active)), results).nonEmpty, "two active versions are caught")
      check(NightlyImport.checkRegistry(Seq(meta(1, active = false, DatasetStatus.Inactive)), results).nonEmpty,
        "a latest version left inactive is caught")
    }

    test("search_mix checks catch planted wrong output") {
      check((SearchMix.Ann ++ SearchMix.SetSim).forall(SearchMix.Pinned.contains), "every query is pinned")
      val rows = Seq(Row(1L, 2L, 0.5, 1), Row(1L, 3L, 0.25, 2))
      val planted = Seq(Row(1L, 2L, 0.5, 1), Row(1L, 3L, Math.nextUp(0.25), 2))
      check(SearchMix.digest(rows) == SearchMix.digest(rows.reverse), "row order does not matter")
      check(SearchMix.digest(rows) != SearchMix.digest(planted), "a one-ulp change is caught")
      check(SearchMix.digest(rows) != SearchMix.digest(rows.tail), "a missing row is caught")
      val q = SearchMix.Ann.head
      check(SearchMix.checkDigest(q, SearchMix.Pinned(q)).isEmpty, "the pinned digest passes")
      check(SearchMix.checkDigest(q, SearchMix.digest(planted)).nonEmpty, "a wrong digest is caught")
      check(SearchMix.canonical(-0.0) != SearchMix.canonical(0.0), "signed zero is distinguished")
    }

    if (failures.nonEmpty) {
      println(s"${failures.size} self-test group(s) failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
