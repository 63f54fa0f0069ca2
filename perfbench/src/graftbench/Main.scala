package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Benchmark process for one run of one workload.
  *
  * {{{
  * Main --workload pipeline|ingest --seed N --seconds S --trace 0|1
  *      --root TMPDIR --out RESULTSDIR --fingerprints FILE [--record]
  * Main --dump-data DIR --sf SF
  * }}}
  *
  * Phases: session start, input generation, an untimed warm-up that runs
  * every op once cold (layout and index builds included) and checks its
  * output fingerprint, then the timed phase: on `pipeline`, whole passes
  * over the query set in a seeded order, at least two and until
  * `--seconds` have elapsed; on `ingest`, one fixed churn cycle. Times
  * of the timed phase are reported per pass, so they do not depend on
  * how many passes fit in `--seconds`. The last stdout line is
  * `GRAFTBENCH_RESULT <json>`; the full report (every metric, per-op
  * records, load sentinel) goes to `--out`. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, root: String = "", out: String = "", fingerprints: String = "",
      record: Boolean = false, dumpData: String = "", sf: Double = 0.01)

  /** The pipeline set: one entry per `graft.ops` family. */
  val PipelineFamilies: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("x46_dup_clusters_star"),
    "pca" -> Seq("x95_pca_power"),
    "lm" -> Seq("x61_lm_scores"),
    "bpe" -> Seq("x62_bpe_pack"),
    "dedup" -> Seq("x07_minhash_lsh_pairs"),
    "pq" -> Seq("x116_pq_ann"),
    "curate" -> Seq("x130_curate_v6"))

  /** Shares of the rows per ingest micro-batch. The first (the
    * bootstrap that builds the indexes) runs in the warm-up; the rest are
    * timed. */
  val IngestShares = Seq(0.1, 0.45, 0.45)
  val IngestWarmBatches = 1

  /** Timed passes over the query set, at least: the median op latency of
    * one pass is the latency of a single query, which moves by a quarter
    * or more from run to run; two passes halve that noise. */
  val QueryPasses = 2

  val ScaleFactor: Map[String, Double] = Map("pipeline" -> 0.01, "ingest" -> 0.1)

  /** Per-layer metrics every registered workload reports (BENCHMARK.json
    * `per_layer`); the report carries the workload-specific ones too. */
  val CommonLayerMetrics: Seq[(String, String)] = Seq(
    "entry.construct_s" -> "s", "entry.construct_jobs" -> "count",
    "plans.analysis_s" -> "s", "plans.optimize_s" -> "s", "plans.physical_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.gc_s" -> "s",
    "exec.sched_gap_s" -> "s", "exec.shuffle_read_mb" -> "MiB", "exec.shuffle_write_mb" -> "MiB",
    "exec.exchanges" -> "count", "exec.reused_exchanges" -> "count",
    "exec.inmem_scans" -> "count", "exec.rdd_scans" -> "count") ++
    (DataGen.Tables :+ "other").map(t => s"exec.parquet_scans.$t" -> "count") ++ Seq(
    "engine.session_start_s" -> "s", "engine.persisted_rdds" -> "count",
    "engine.retained_mb" -> "MiB", "engine.sweep_s" -> "s",
    "catalog.layout_builds" -> "count", "catalog.scan_mb" -> "MiB",
    "catalog.bytes_written_mb" -> "MiB", "catalog.files_written" -> "count") ++
    Seq("minhash_sigs", "simhash", "hash60_all", "cosine").flatMap(k =>
      Seq(s"functions.${k}_s" -> "s", s"functions.${k}_builtin_s" -> "s"))

  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s", "op_p50_s" -> "s")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--root" :: v :: t => parse(t, o.copy(root = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--fingerprints" :: v :: t => parse(t, o.copy(fingerprints = v))
    case "--record" :: t => parse(t, o.copy(record = true))
    case "--dump-data" :: v :: t => parse(t, o.copy(dumpData = v))
    case "--sf" :: v :: t => parse(t, o.copy(sf = v.toDouble))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    // Two task slots leave cores for JIT, GC and the streams' threads;
    // on a 4-core host this ran both workloads faster and steadier than 4.
    val localN = math.min(2, cores)
    val spark = graft.engine.GraftSession
      .builder(master = s"local[$localN]", shufflePartitions = localN, appName = "graftbench")
      .config("spark.local.dir", s"${o.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .getOrCreate()
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${o.root}/checkpoints")
    try {
      if (o.dumpData.nonEmpty) DataGen.write(spark, o.dumpData, o.sf, DataGen.Tables)
      else bench(spark, o, sessionStartS, cores, localN)
    } finally spark.stop()
  }

  /** Load sentinel: a fixed single-threaded xorshift spin. Its time moves
    * only with machine load, so a slow pair marks a contaminated run. */
  def sentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var acc = 0L; var i = 0
    while (i < (1 << 27)) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL; i += 1
    }
    if (acc == 42L) System.err.println("sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def files(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles).map(_.toSeq).getOrElse(Nil).flatMap(files)

  private def layoutGenerations(root: String): Int =
    Option(new File(s"$root/layouts").listFiles).map(_.count(f =>
      f.isDirectory && !f.getName.contains(".stage."))).getOrElse(0)

  /** (median, tail, tail percentile, samples). The tail is the
    * highest-percentile sample with ten samples beyond it; with fewer than
    * 21 samples that rank is not above the median, so the tail is the
    * maximum (percentile 100). */
  def summary(xs: Seq[Double]): (Double, Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0, 0, 0, 0)
    else {
      val p50 = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
      if (n >= 21) (p50, s(n - 11), 100.0 * (n - 10) / n, n) else (p50, s.last, 100.0, n)
    }
  }

  private def readFingerprints(path: String): Map[String, Map[String, String]] = {
    val f = new File(path)
    if (!f.exists) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      root.fieldNames.asScala.map { w =>
        w -> root.get(w).fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.toMap
    }
  }

  private def writeFingerprints(path: String, all: Map[String, Map[String, String]]): Unit = {
    val body = all.toSeq.sortBy(_._1).map { case (w, m) =>
      s"  ${Json.str(w)}: {\n" + m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"    ${Json.str(k)}: ${Json.str(v)}" }.mkString(",\n") + "\n  }"
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(new File(path).toPath, body)
  }

  def bench(spark: SparkSession, o: Opts, sessionStartS: Double, cores: Int, localN: Int): Unit = {
    val w = o.workload
    require(ScaleFactor.contains(w), s"unknown workload '$w'")
    val sc = spark.sparkContext
    val dataDir = s"${o.root}/data"
    val tracer = if (o.trace) Some(new Tracer(sc, dataDir)) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val runSpan = tracer.map(_.begin("run", s"$w/run/0"))
    val fps = readFingerprints(o.fingerprints)
    val run = new Run(w, spark, tracer, dataDir, fps.getOrElse(w, Map.empty), o.record)
    val rng = new Random(o.seed)
    val sf = ScaleFactor(w)

    // ---- setup: inputs, then every op once, cold, checked -------------
    val setupSpan = tracer.map(_.begin("setup", s"$w/setup/0"))
    // ingest feeds its rows straight into the streams; pipeline reads
    // its tables from parquet
    if (w == "pipeline") DataGen.write(spark, dataDir, sf, DataGen.Tables)
    var layoutBuildS = 0.0
    val families = PipelineFamilies.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
    val names = families.keys.toSeq.sorted
    val churn: Option[Ingest#Churn] =
      if (w == "ingest") {
        def local(t: String) = DataGen.rows(t, sf)._2
        val in = new Ingest(run, local("documents").map(r => (r.getLong(0), r.getString(1))),
          local("embeddings").map(r => (r.getLong(0), r.getSeq[Float](1))))
        val c = new in.Churn(s"${o.root}/ingest", IngestShares, rng)
        // warm-up: the bootstrap batch (cold index builds)
        (0 until IngestWarmBatches).foreach(c.step)
        Some(c)
      } else {
        for (n <- rng.shuffle(names)) {
          val before = layoutGenerations(o.root)
          val rec = run.query(n, families(n))
          if (layoutGenerations(o.root) > before) layoutBuildS += rec.phases.getOrElse("construct", 0.0)
        }
        None
      }
    tracer.foreach(t => setupSpan.foreach(t.end(_)))
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // ---- timed phase --------------------------------------------------
    val sentinelBefore = sentinel()
    val writeDirs = Seq(new File(s"${o.root}/layouts"), new File(s"${o.root}/ingest"))
    val bytesBefore = churn.map(_.ingestedBytes).getOrElse(0L)
    val timedStartMs = System.currentTimeMillis()
    val filesBefore = writeDirs.flatMap(files).size
    run.timed = true
    val timedSpan = tracer.map(_.begin("timed", s"$w/timed/0"))
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var passes = 0
    churn match {
      case Some(c) => // a fixed unit: the remaining micro-batches and the MVCC cycle
        (IngestWarmBatches until IngestShares.size).foreach(c.step)
        c.finish()
        passes = 1
      case None => while (passes < QueryPasses || elapsed < o.seconds) {
        for (n <- rng.shuffle(names)) run.query(n, families(n))
        passes += 1
      }
    }
    val wallS = elapsed / passes
    val cpuS = (cpuNs() - cpu0) / 1e9 / passes
    tracer.foreach(t => timedSpan.foreach(t.end(_)))
    run.timed = false
    val sentinelAfter = sentinel()
    val filesWritten = writeDirs.flatMap(files).size - filesBefore
    churn.foreach { c => c.verify(s"${o.root}/verify", new Random(o.seed + 1)); c.close() }
    // report-only, on traced runs: rows a compaction drops when it follows
    // a stream append without a listing refresh (not counted as a failure)
    val staleProbe = churn.filter(_ => o.trace)
      .map(c => scala.util.Try(c.staleListingProbe(s"${o.root}/stale_probe")))

    // ---- end-to-end metrics -------------------------------------------
    val timedOps = run.ops.filter(_.timed).toSeq
    val (p50, tail, tailPct, nOps) = summary(timedOps.map(_.latencyS))
    val e2e = Seq("setup_s" -> setupS, "wall_s" -> wallS, "cpu_s" -> cpuS, "op_p50_s" -> p50)
    val extra = scala.collection.mutable.LinkedHashMap[String, Double](
      "op_tail_s" -> tail, "op_tail_pct" -> tailPct, "op_samples" -> nOps.toDouble, "passes" -> passes.toDouble,
      "retained_mb" -> timedOps.map(_.retainedB).maxOption.getOrElse(0L) / 1048576.0,
      "sentinel_before_s" -> sentinelBefore, "sentinel_after_s" -> sentinelAfter,
      "cores" -> cores.toDouble, "local_n" -> localN.toDouble, "sf" -> sf)
    churn.foreach { c =>
      val appends = timedOps.filter(o => o.kind == "append" || o.kind == "gate")
      val docsIn = timedOps.filter(_.name == "append_postings").map(_.items).sum
      val idxBytes = files(new File(s"${o.root}/ingest/idx")).map(_.length).sum
      val (sp50, stail, _, _) = summary(timedOps.filter(_.kind == "search").map(_.latencyS))
      extra ++= Seq("ingest_docs_per_s" -> docsIn / appends.map(_.latencyS).sum,
        "search_p50_s" -> sp50, "search_tail_s" -> stail,
        "index_bytes_per_doc" -> idxBytes.toDouble / math.max(1, c.liveDocs.size))
    }
    val absent = scala.collection.mutable.LinkedHashMap[String, String]()
    staleProbe.foreach {
      case scala.util.Success((appended, lost)) =>
        extra ++= Seq("stale_compact_rows_appended" -> appended.toDouble,
          "stale_compact_rows_lost" -> lost.toDouble)
      case scala.util.Failure(e) =>
        absent("stale_compact_rows_lost") = s"probe failed: ${e.toString.linesIterator.next().take(300)}"
    }

    // ---- traced run: per-layer metrics --------------------------------
    val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
    tracer.foreach { t =>
      val kernels = Kernels.bench(run)
      runSpan.foreach(t.end(_))
      if (!t.drain()) run.traceOk = false
      layers ++= Layers.compute(t, timedOps, passes)
      layers ++= Seq("engine.session_start_s" -> sessionStartS,
        "catalog.layout_builds" -> layoutGenerations(o.root).toDouble,
        "catalog.files_written" -> filesWritten.toDouble / passes)
      layers ++= kernels
      churn match {
        case Some(c) =>
          layers ++= Layers.ingest(c, timedOps, s"${o.root}/ingest", timedStartMs)
          layers("catalog.write_amp") = layers("catalog.bytes_written_mb") * 1048576.0 /
            math.max(1L, c.ingestedBytes - bytesBefore)
          absent ++= Seq("catalog.layout_build_s" -> "ingest builds no query layouts",
            "ops.<family>_s" -> "pipeline families run only on pipeline")
        case None =>
          layers("catalog.layout_build_s") = layoutBuildS
          layers ++= Layers.families(t, timedOps, passes)
          absent ++= Seq("streaming.*" -> "streams run only on ingest",
            "mvcc.*" -> "the MVCC log runs only on ingest",
            "catalog.write_amp" -> "no ingested input on this workload",
            "catalog.files_per_bucket_max" -> "no bucketed index on this workload")
      }
      t.writeSpans(s"${o.out}/$w-seed${o.seed}-trace1-spans.jsonl")
    }

    // ---- result -------------------------------------------------------
    val attempted = run.ops.size
    val failed = run.ops.count(!_.ok)
    val correct = failed == 0 && run.traceOk
    if (o.record) {
      val all = readFingerprints(o.fingerprints) + (w -> run.observed.toMap)
      writeFingerprints(o.fingerprints, all)
    }
    def metricJson(kv: Seq[(String, Double)], units: Map[String, String]) = Json.obj(kv.map {
      case (k, v) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k))))
    })
    val printed =
      if (o.trace) metricJson(CommonLayerMetrics.map { case (k, _) => k -> layers.getOrElse(k, 0.0) },
        CommonLayerMetrics.toMap)
      else metricJson(e2e, EndToEnd.toMap)
    val report = Json.obj(Seq(
      "workload" -> Json.str(w), "seed" -> o.seed.toString, "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"), "correct" -> correct.toString,
      "trace_ok" -> run.traceOk.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "fail_frac" -> Json.num(failed.toDouble / attempted),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "extra" -> Json.obj(extra.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "absent" -> Json.obj(absent.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "ops" -> run.ops.map { r =>
        Json.obj(Seq("request" -> Json.str(r.request), "kind" -> Json.str(r.kind),
          "timed" -> r.timed.toString, "latency_s" -> Json.num(r.latencyS),
          "phases" -> Json.obj(r.phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
          "ok" -> r.ok.toString, "error" -> Json.str(r.error)))
      }.mkString("[", ",", "]")))
    java.nio.file.Files.writeString(
      new File(s"${o.out}/$w-seed${o.seed}-trace${if (o.trace) 1 else 0}.json").toPath, report + "\n")
    println("GRAFTBENCH_RESULT " + Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString, "metrics" -> printed)))
  }
}
