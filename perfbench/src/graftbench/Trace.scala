package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), so
  * driver spans and Spark job/stage spans share one timeline. */
final case class Span(id: Int, name: String, request: String, parent: Int,
    start: Double, end: Double, attrs: Map[String, String] = Map.empty)

/** Per-stage totals from `StageInfo.taskMetrics` at stage completion. */
final case class StageRec(stageId: Int, jobId: Int, submitMs: Double, endMs: Double,
    tasks: Int, cpuS: Double, runS: Double, gcS: Double, shuffleReadB: Long,
    shuffleWriteB: Long, spillB: Long, inputB: Long, outputB: Long)

/** One query execution: its start (the earliest `QueryExecution.tracker`
  * phase start), the analysis, optimization and physical-planning
  * milliseconds, and the plan census of its executed plan. */
final case class QueryRec(startMs: Double, analysisMs: Double, optimizeMs: Double,
    planningMs: Double, census: Map[String, Long])

final case class JobRec(jobId: Int, parentSpan: Int, startMs: Double, var endMs: Double,
    stageIds: Seq[Int], var ok: Boolean = false)

/** Driver-side span recorder plus the traced run's SparkListener and
  * QueryExecutionListener. Spans stay in memory until [[writeSpans]].
  *
  * Attribution: before each driver phase the benchmark thread sets the
  * local property `graftbench.span`, which Spark copies into every job it
  * submits, so a job's parent span is exact. Jobs submitted by streaming
  * threads carry the property of the moment the stream started; those
  * are parented by time to the innermost open driver span instead.
  *
  * Queries: every query execution the QueryExecutionListener sees (a
  * barrier's `localCheckpoint` while a DataFrame is built, a stream's
  * micro-batch, a write) is recorded with its planning phases and plan
  * census, and so is each op's final plan ([[recordQuery]]). Queries are
  * matched to ops by start time.
  *
  * Draining: listener events arrive asynchronously. [[drain]] submits a
  * one-task marker job and waits, with a bound, until the listener has
  * seen that marker end (the shared listener queue is FIFO, so every
  * earlier event has been handled) and no other job is still running. */
final class Tracer(sc: SparkContext, dataDir: String) extends SparkListener with QueryExecutionListener {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer[Span]()
  private val open = ArrayBuffer[(Int, String, String, Int, Double)]()
  private var nextId = 1

  /** Open a child of the innermost open span; returns its id. */
  def begin(name: String, request: String): Int = synchronized {
    val id = nextId; nextId += 1
    val parent = open.lastOption.map(_._1).getOrElse(0)
    open += ((id, name, request, parent, nowMs()))
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    id
  }

  def end(id: Int, attrs: Map[String, String] = Map.empty): Unit = synchronized {
    val i = open.lastIndexWhere(_._1 == id)
    val (_, name, req, parent, start) = open(i)
    open.remove(i)
    spans += Span(id, name, req, parent, start, nowMs(), attrs)
    sc.setLocalProperty(Tracer.SpanProp, open.lastOption.map(_._1.toString).orNull)
  }

  def span[T](name: String, request: String)(body: => T): T = {
    val id = begin(name, request)
    try body finally end(id)
  }

  // ---- listener state (written on the listener thread) -----------------
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var lastMarkerSeen = 0
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()

  /** Innermost driver span open at `ms` — the parent for stream-thread jobs. */
  private def spanAt(ms: Double): Int = synchronized {
    val closed = spans.filter(s => s.start <= ms && s.end >= ms).map(s => (s.start, s.id))
    val running = open.filter(_._5 <= ms).map(o => (o._5, o._1))
    (closed ++ running).maxByOption(_._1).map(_._2).getOrElse(0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.MarkerProp))) match {
      case Some(_) =>
        markerJobs.add(e.jobId)
        e.stageIds.foreach(s => stageToJob.put(s, -1))
      case None =>
        val prop = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt)
        val streamThread = props.exists(p => p.getProperty("sql.streaming.queryId") != null)
        val parent = if (streamThread || prop.isEmpty) spanAt(e.time.toDouble) else prop.get
        jobs.put(e.jobId, JobRec(e.jobId, parent, e.time.toDouble, -1, e.stageIds))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (markerJobs.contains(e.jobId)) lastMarkerSeen = e.jobId
    else Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = stageToJob.getOrDefault(si.stageId, -2)
    if (job != -1) {
      val m = si.taskMetrics
      val sub = si.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
      val fin = si.completionTime.map(_.toDouble).getOrElse(sub)
      val rec =
        if (m == null) StageRec(si.stageId, job, sub, fin, si.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
        else StageRec(si.stageId, job, sub, fin, si.numTasks,
          m.executorCpuTime / 1e9, m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten)
      // a retried stage attempt adds to the first attempt's totals
      stages.merge(si.stageId, rec, (a, b) => b.copy(submitMs = a.submitMs,
        tasks = a.tasks + b.tasks, cpuS = a.cpuS + b.cpuS, runS = a.runS + b.runS,
        gcS = a.gcS + b.gcS, shuffleReadB = a.shuffleReadB + b.shuffleReadB,
        shuffleWriteB = a.shuffleWriteB + b.shuffleWriteB, spillB = a.spillB + b.spillB,
        inputB = a.inputB + b.inputB, outputB = a.outputB + b.outputB))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordQuery(qe)

  def recordQuery(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    queries.add(QueryRec(start, ms("analysis"), ms("optimization"), ms("planning"),
      Census.of(qe.executedPlan, dataDir)))
  }

  /** Wait (bounded) until every event submitted so far has been handled.
    * Returns false on timeout, which the caller reports as a failed trace. */
  def drain(timeoutMs: Long = 30000): Boolean = {
    val saved = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.MarkerProp, "1")
    val before = markerJobs.size
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.MarkerProp, null)
    sc.setLocalProperty(Tracer.SpanProp, saved)
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = markerJobs.size > before && lastMarkerSeen > 0 &&
      markerJobs.asScala.forall(_ <= lastMarkerSeen) &&
      jobs.values.asScala.forall(_.endMs >= 0)
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(2)
    settled
  }

  /** Spark job and stage spans, parented to the driver spans. */
  def sparkSpans(startId: Int): Seq[Span] = {
    var id = startId
    val jobSpanId = scala.collection.mutable.Map[Int, Int]()
    val js = jobs.values.asScala.toSeq.sortBy(_.jobId).map { j =>
      id += 1; jobSpanId(j.jobId) = id
      val req = spans.find(_.id == j.parentSpan).map(_.request).getOrElse("")
      Span(id, s"job:${j.jobId}", req, j.parentSpan, j.startMs, j.endMs,
        Map("ok" -> j.ok.toString))
    }
    val ss = stages.values.asScala.toSeq.sortBy(_.stageId).flatMap { s =>
      jobSpanId.get(s.jobId).map { pj =>
        id += 1
        Span(id, s"stage:${s.stageId}", js.find(_.id == pj).map(_.request).getOrElse(""),
          pj, s.submitMs, s.endMs, Map("tasks" -> s.tasks.toString))
      }
    }
    js ++ ss
  }

  def writeSpans(path: String): Unit = {
    val all = spans.toSeq ++ sparkSpans(nextId)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"request":${Json.str(s.request)},""" +
        s""""parent":${s.parent},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},""" +
        s""""attrs":{$attrs}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  val MarkerProp = "graftbench.marker"
}

/** Minimal JSON writing helpers (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
