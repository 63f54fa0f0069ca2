package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One executed operation: a query, a search probe, a micro-batch step
  * or a maintenance call. `latencyS` covers the library call and the
  * materialisation of its result; the storage sweep after it is timed
  * separately (`sweepS`). */
final case class OpRec(kind: String, name: String, family: String, timed: Boolean,
    request: String, spanId: Int, startMs: Double, endMs: Double, latencyS: Double,
    phases: Map[String, Double], ok: Boolean, error: String, retainedB: Long, persisted: Int, sweepS: Double, items: Long)

/** Phase timer handed to an op body. */
final class OpScope(run: Run, request: String) {
  val phases = mutable.LinkedHashMap[String, Double]()
  /** Units of work the op carried (ingested rows for an append). */
  var items = 0L

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try run.tracer.fold(body)(_.span(name, request)(body))
    finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** State of one benchmark process: the session, the tracer (traced runs
  * only), every op executed so far, and the committed fingerprints. */
final class Run(val workload: String, val spark: SparkSession, val tracer: Option[Tracer],
    val dataDir: String, expected: Map[String, String], record: Boolean) {
  val ops = ArrayBuffer[OpRec]()
  val observed = mutable.LinkedHashMap[String, String]()
  var timed = false
  var traceOk = true
  private val iters = mutable.Map[String, Int]().withDefaultValue(0)

  /** Run `body` as one op. A thrown exception or a fingerprint that
    * differs from the committed one marks the op failed. */
  def op(kind: String, name: String, family: String = "", expectKey: Option[String] = None)(
      body: OpScope => Option[Fingerprint]): OpRec = {
    val iter = iters(name); iters(name) = iter + 1
    val request = s"$workload/$name/$iter"
    val spanId = tracer.map(_.begin(s"op:$kind", request)).getOrElse(0)
    val scope = new OpScope(this, request)
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val (ok, err) =
      try (body(scope), expectKey) match {
        case (Some(fp), Some(k)) if record => observed(k) = fp.show; (true, "")
        case (Some(fp), Some(k)) => expected.get(k) match {
          case Some(e) if e == fp.show => (true, "")
          case Some(e) => (false, s"fingerprint ${fp.show} differs from committed $e")
          case None => (false, s"no committed fingerprint for $k")
        }
        case _ => (true, "")
      } catch { case e: Throwable => (false, e.toString.linesIterator.take(1).mkString.take(300)) }
    val latency = (System.nanoTime() - t0) / 1e9
    val endMs = startMs + latency * 1e3
    val sc = spark.sparkContext
    val retained = sc.getRDDStorageInfo.map(_.memSize).sum
    val persisted = sc.getPersistentRDDs.size
    scope.phase("sweep")(sweep())
    tracer.foreach { t =>
      t.end(spanId)
      if (!t.drain()) traceOk = false
    }
    if (!ok) System.err.println(s"[graftbench] FAILED $request: $err")
    val rec = OpRec(kind, name, family, timed, request, spanId, startMs, endMs, latency,
      scope.phases.toMap - "sweep", ok, err, retained, persisted,
      scope.phases("sweep"), scope.items)
    ops += rec
    rec
  }

  /** An op that builds a DataFrame: construct it, plan it, execute and
    * fingerprint the result (checked when `expectKey` is given). */
  def frame(kind: String, name: String, family: String = "", expectKey: Option[String] = None)(
      build: => DataFrame): OpRec =
    op(kind, name, family, expectKey) { s =>
      val df = s.phase("construct")(build)
      val qe = s.phase("plan") { val q = df.queryExecution; q.executedPlan; q }
      val fp = s.phase("exec")(Fingerprint.of(qe))
      tracer.foreach(_.recordQuery(qe))
      Some(fp)
    }

  /** A registry query, checked against its committed fingerprint. */
  def query(name: String, family: String): OpRec =
    frame("query", name, family, Some(name))(graft.SparkEntry.queries(name)(spark, dataDir))

  /** Release every cached plan and persisted or checkpointed block, so
    * each op starts from the same empty storage state. */
  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
