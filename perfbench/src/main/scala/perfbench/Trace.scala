package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A closed interval of benchmark time, in epoch nanoseconds. `parent`
  * is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long) {
  def interval: (Long, Long) = (start, end)
  def seconds: Double = (end - start) / 1e9
  def contains(t: Long): Boolean = t >= start && t <= end
}

/** One Spark job as the listener saw it. `label` is the pipeline's own
  * stage label when the job ran under an `in-pipeline[...]`
  * description, else the source file of the job's call site.
  */
final case class JobRec(
    id: Int, start: Long, end: Long, group: String, spanProp: Option[Long],
    label: String, callSite: String, stageIds: Seq[Int]) {
  def interval: (Long, Long) = (start, end)
}

final case class StageRec(inputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Spans recorded from the benchmark's own code around calls into each
  * layer, plus a SparkListener that attributes every job to the span
  * open when it started.
  *
  * Attribution: a span publishes its id as a Spark local property, so a
  * job submitted from the span's thread carries it. Jobs submitted from
  * other threads (the importer and the dedup index writes overlap work
  * in futures that copy only the job group) fall back to the innermost
  * span of their operation — found through the job group the operation
  * runs under — whose interval contains the job's start.
  *
  * A disabled tracer records nothing and attaches no listener, so
  * untraced runs measure the program alone.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile var enabled = false

  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val groupRoot = new ConcurrentHashMap[String, Long]()
  private val jobStarts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val clockBase = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = clockBase + System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stages.merge(e.stageInfo.stageId,
        StageRec(m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled),
        (a, b) => StageRec(a.inputBytes + b.inputBytes,
          a.shuffleWriteBytes + b.shuffleWriteBytes, a.spillBytes + b.spillBytes))
    }
  }
  private var attached = false

  /** Turn recording on or off between operations (never inside one). */
  def setEnabled(on: Boolean): Unit = synchronized {
    enabled = on
    if (on && !attached) { sc.addSparkListener(listener); attached = true }
    if (!on && attached) { sc.removeSparkListener(listener); attached = false }
  }

  /** The span id open in this thread (0 when none). */
  def currentSpan: Long = current.get()

  /** Run `body` inside a span named `name`, child of the span open in
    * this thread, or of `parent` when given.
    */
  def span[A](name: String, parent: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val p = if (parent >= 0) parent else current.get()
      val id = ids.incrementAndGet()
      val prevProp = sc.getLocalProperty(SpanProperty)
      val prevSpan = current.get()
      current.set(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = now()
      try body
      finally {
        spans.put(id, Span(id, p, name, t0, now()))
        current.set(prevSpan)
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  /** Span for one guarded operation; jobs of its job group that carry
    * no span id fall back to it (see the class comment).
    */
  def opSpan[A](group: String, name: String, parent: Long)(body: => A): A =
    if (!enabled) body
    else span(name, parent) {
      groupRoot.put(group, current.get())
      body
    }

  /** Wait until every job the listener saw start has also ended, so the
    * snapshot below is complete (listener delivery is asynchronous).
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    def pending = jobStarts.keySet.asScala.exists(id => !jobEnds.containsKey(id)) ||
      sc.statusTracker.getActiveJobIds().nonEmpty
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // stage-completed events trail the last job end
  }

  def snapshot(): TraceData = {
    val sp = spans.values.asScala.toSeq.sortBy(_.start)
    val jobs = jobStarts.asScala.toSeq.flatMap { case (id, e) =>
      Option(jobEnds.get(id)).map { endMs =>
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
        val label = prop("spark.job.description").flatMap(pipelineStage)
          .getOrElse(sourceFile(callSite))
        JobRec(id, e.time * 1000000L, endMs * 1000000L, prop("spark.jobGroup.id").getOrElse(""),
          prop(SpanProperty).flatMap(_.toLongOption), label, callSite, e.stageIds)
      }
    }.sortBy(_.start)
    new TraceData(sp, jobs, stages.asScala.toMap, groupRoot.asScala.toMap)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val DrainTimeoutMs = 10000L

  private val PipelineStage = """in-pipeline\[[^\]]*\] (.+)""".r
  private val SourceFile = """at ([A-Za-z0-9_$]+\.(?:scala|java)):""".r

  /** Stage name of an `in-pipeline[label] stage` job description. */
  def pipelineStage(description: String): Option[String] = description match {
    case PipelineStage(stage) => Some(stage)
    case _ => None
  }

  /** "count at DatasetRegistry.scala:169" → "DatasetRegistry.scala". */
  def sourceFile(callSite: String): String =
    SourceFile.findFirstMatchIn(callSite).map(_.group(1)).getOrElse(callSite)
}

object TraceData {
  val empty = new TraceData(Nil, Nil, Map.empty, Map.empty)
}

/** An immutable view of one trace, with the attribution rules applied. */
final class TraceData(
    val spans: Seq[Span],
    val jobs: Seq[JobRec],
    val stages: Map[Int, StageRec],
    groupRoot: Map[String, Long]) {

  private val byId = spans.map(s => s.id -> s).toMap
  private val childrenOf = spans.groupBy(_.parent)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def children(s: Span): Seq[Span] = childrenOf.getOrElse(s.id, Nil)
  def descendants(s: Span): Seq[Span] = children(s).flatMap(c => c +: descendants(c))

  /** The span a job belongs to (see [[Tracer]]), if any. */
  def spanOf(j: JobRec): Option[Span] =
    j.spanProp.flatMap(byId.get).orElse {
      groupRoot.get(j.group).flatMap(byId.get).map { root =>
        (root +: descendants(root)).filter(_.contains(j.start))
          .sortBy(s => s.end - s.start).headOption.getOrElse(root)
      }
    }

  private lazy val jobSpan: Map[Int, Option[Span]] = jobs.map(j => j.id -> spanOf(j)).toMap

  /** Jobs attributed to `s` or to any span under it. */
  def jobsWithin(s: Span): Seq[JobRec] = {
    val ids = (s +: descendants(s)).map(_.id).toSet
    jobs.filter(j => jobSpan(j.id).exists(sp => ids.contains(sp.id)))
  }

  def stageTotals(js: Seq[JobRec]): StageRec =
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
      .foldLeft(StageRec(0, 0, 0))((a, b) =>
        StageRec(a.inputBytes + b.inputBytes, a.shuffleWriteBytes + b.shuffleWriteBytes,
          a.spillBytes + b.spillBytes))

  /** 1 − (time covered by the span's jobs ÷ the span's wall). */
  def driverGapShare(ss: Seq[Span]): Double = {
    val wall = ss.map(s => s.end - s.start).sum
    if (wall <= 0) 0.0
    else {
      val busy = ss.map { s =>
        Stats.unionLength(jobsWithin(s).map(j => (math.max(j.start, s.start), math.min(j.end, s.end))))
      }.sum
      1.0 - busy.toDouble / wall
    }
  }
}
