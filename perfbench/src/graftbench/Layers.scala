package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, aggregated over the timed ops and
  * divided by the number of timed passes (ingest cycles), so a value is
  * "per pass" whatever `--seconds` is. Plan-census counts are summed over
  * every query execution (construct-phase barriers, stream micro-batches
  * and the final plan) of one execution of each distinct op. */
object Layers {
  private val MiB = 1048576.0

  /** Jobs of the timed ops, each with its op span id and the op phase
    * (the op span's child: construct, plan, exec, ...) it ran under. */
  private def jobsByOp(t: Tracer, ops: Seq[OpRec]): Seq[(JobRec, OpRec, String)] = {
    val byId = t.spans.map(s => s.id -> s).toMap
    val opBySpan = ops.map(o => o.spanId -> o).toMap
    t.jobs.values.asScala.toSeq.flatMap { j =>
      val chain = Iterator.iterate(byId.get(j.parentSpan))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).map(_.get).toSeq
      val i = chain.indexWhere(s => opBySpan.contains(s.id))
      if (i < 0) None
      else Some((j, opBySpan(chain(i).id), if (i == 0) "op" else chain(i - 1).name))
    }
  }

  private def stagesOf(t: Tracer, jobs: Seq[JobRec]): Seq[StageRec] = {
    val ids = jobs.map(_.jobId).toSet
    t.stages.values.asScala.toSeq.filter(s => ids(s.jobId))
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curB.isNaN || a > curB) { if (!curB.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  def compute(t: Tracer, ops: Seq[OpRec], passes: Int): Seq[(String, Double)] = {
    val per = passes.toDouble
    val jobs = jobsByOp(t, ops)
    val execJobs = jobs.filter(_._3 == "exec").map(_._1)
    val execStages = stagesOf(t, execJobs)
    val allStages = stagesOf(t, jobs.map(_._1))
    def within(q: QueryRec, o: OpRec) = q.startMs >= o.startMs - 1 && q.startMs <= o.endMs + 1
    val queries = t.queries.asScala.toSeq
    val phases = queries.filter(q => ops.exists(within(q, _)))
    // exec wall time not covered by any running stage of that op's exec jobs
    val gap = ops.map { o =>
      val execSpans = t.spans.filter(s => s.parent == o.spanId && s.name == "exec")
      val ivs = stagesOf(t, jobs.filter(j => j._2 == o && j._3 == "exec").map(_._1))
        .map(s => (s.submitMs, s.endMs))
      execSpans.map(s => (s.end - s.start) - covered(ivs, s.start, s.end)).sum / 1e3
    }.sum
    val census = ops.groupBy(_.name).values.map(_.head).toSeq
      .flatMap(o => queries.filter(within(_, o)).flatMap(_.census))
      .groupMapReduce(_._1)(_._2)(_ + _)
    def phaseSum(p: String) = ops.map(_.phases.getOrElse(p, 0.0)).sum / per
    Seq(
      "entry.construct_s" -> phaseSum("construct"),
      "entry.construct_jobs" -> jobs.count(_._3 == "construct") / per,
      "plans.analysis_s" -> phases.map(_.analysisMs).sum / 1e3 / per,
      "plans.optimize_s" -> phases.map(_.optimizeMs).sum / 1e3 / per,
      "plans.physical_s" -> phases.map(_.planningMs).sum / 1e3 / per,
      "exec.s" -> phaseSum("exec"),
      "exec.jobs" -> execJobs.size / per,
      "exec.stages" -> execStages.size / per,
      "exec.tasks" -> execStages.map(_.tasks).sum / per,
      "exec.task_cpu_s" -> execStages.map(_.cpuS).sum / per,
      "exec.task_run_s" -> execStages.map(_.runS).sum / per,
      "exec.gc_s" -> execStages.map(_.gcS).sum / per,
      "exec.sched_gap_s" -> gap / per,
      "exec.shuffle_read_mb" -> execStages.map(_.shuffleReadB).sum / MiB / per,
      "exec.shuffle_write_mb" -> execStages.map(_.shuffleWriteB).sum / MiB / per,
      "exec.spill_mb" -> execStages.map(_.spillB).sum / MiB / per,
      "exec.exchanges" -> census.getOrElse("exchanges", 0L).toDouble,
      "exec.reused_exchanges" -> census.getOrElse("reused_exchanges", 0L).toDouble,
      "exec.inmem_scans" -> census.getOrElse("inmem_scans", 0L).toDouble,
      "exec.rdd_scans" -> census.getOrElse("rdd_scans", 0L).toDouble) ++
      (DataGen.Tables :+ "other").map(tb =>
        s"exec.parquet_scans.$tb" -> census.getOrElse(s"parquet_scans.$tb", 0L).toDouble) ++ Seq(
      "engine.persisted_rdds" -> ops.map(_.persisted).maxOption.getOrElse(0).toDouble,
      "engine.retained_mb" -> ops.map(_.retainedB).maxOption.getOrElse(0L) / MiB,
      "engine.sweep_s" -> ops.map(_.sweepS).sum / per,
      "catalog.scan_mb" -> allStages.map(_.inputB).sum / MiB / per,
      "catalog.bytes_written_mb" -> allStages.map(_.outputB).sum / MiB / per)
  }

  /** `ops.<family>_s` per pipeline family and the graph family's job count. */
  def families(t: Tracer, ops: Seq[OpRec], passes: Int): Seq[(String, Double)] = {
    val jobs = jobsByOp(t, ops)
    Main.PipelineFamilies.map { case (f, _) =>
      s"ops.${f}_s" -> ops.filter(_.family == f).map(_.latencyS).sum / passes
    } :+ ("ops.graph_jobs" -> jobs.count(_._2.family == "graph") / passes.toDouble)
  }

  /** Ingest-only layers: ops by kind, catalog write path, streaming, MVCC. */
  def ingest(c: Ingest#Churn, ops: Seq[OpRec], dir: String, sinceMs: Long): Seq[(String, Double)] = {
    def kindSum(k: String) = ops.filter(_.kind == k).map(_.latencyS).sum
    val progress = c.ingest.flatMap(_.recentProgress.toSeq).filter(p =>
      p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli >= sinceMs)
    def median(xs: Seq[Double]) = Main.summary(xs)._1
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0) / 1e3)
    val bucketed = Seq("spost", "vidx", "nd_bands", "nd_sets").flatMap { n =>
      val d = new File(s"$dir/idx/$n.parquet")
      val spec = new File(d, "_graft_buckets.json")
      if (!spec.exists) None
      else {
        val buckets = "\"buckets\"\\s*:\\s*(\\d+)".r
          .findFirstMatchIn(java.nio.file.Files.readString(spec.toPath)).map(_.group(1).toInt)
          .getOrElse(1)
        val data = Option(d.listFiles).map(_.count(f => !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).getOrElse(0)
        Some(data.toDouble / buckets)
      }
    }
    Seq(
      "ops.append_s" -> kindSum("append"), "ops.gate_s" -> kindSum("gate"),
      "ops.delete_s" -> kindSum("delete"), "ops.compact_s" -> kindSum("compact"),
      "ops.search_s" -> kindSum("search"), "ops.log_append_s" -> kindSum("log_append"),
      "catalog.files_per_bucket_max" -> bucketed.maxOption.getOrElse(0.0),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.batch_s" -> median(dur("triggerExecution")),
      "streaming.add_batch_s" -> median(dur("addBatch")),
      "streaming.rows_per_batch" -> progress.map(_.numInputRows.toDouble).sum / math.max(1, progress.size),
      "mvcc.snapshot_s" -> ops.filter(_.kind == "snapshot").map(_.latencyS).sum,
      "mvcc.compact_s" -> ops.filter(_.name == "mvcc_compact").map(_.latencyS).sum)
  }
}
