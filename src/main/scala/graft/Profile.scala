package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Diagnostic main — the guide-§1 empirical loop with
  * `spark.ui.enabled=false`: run the named queries (all of them with no
  * args) and print, per run,
  *  - for every completed stage: wall time, task count, input bytes,
  *    shuffle read/write bytes and records, and spill — "where does the
  *    time go" without the UI;
  *  - the plan census of the EXECUTED (post-AQE) plan: exchanges
  *    (reused ones counted apart), in-memory scans, and parquet scans
  *    per table. A same-table count > 1 for the same projection means a
  *    shared subtree was recomputed per consumer branch (lazy cache
  *    raced cold, or column pruning specialized the branches), the
  *    duplicate-lineage pathology.
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Profile x61_lm_scores"
  *
  * Each query runs `reps` times (default 2, the second run measured on
  * a warm JIT/page cache like a bench rep) through the same
  * `toRdd.count()` action Bench times, with the same storage sweep
  * between runs.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
    val spark = graft.engine.GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class St(name: String, ms: Long, tasks: Int, input: Long,
        sr: Long, srRec: Long, sw: Long, swRec: Long, spill: Long)
    val stages = mutable.ArrayBuffer[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val ms = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        stages += St(si.name.takeWhile(_ != '\n').take(60), ms,
          si.numTasks, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    })

    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    def mb(b: Long): String = f"${b / 1048576.0}%8.1f"
    def census(plan: String): String = {
      // AQE prints "== Initial Plan ==" below the final plan — drop it
      // so every operator is counted once
      val p = plan.split("== Initial Plan ==")(0)
      def n(re: String) = re.r.findAllIn(p).size
      val scans = "Scan parquet ?[^\\n ]*".r.findAllIn(p).toSeq
        .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(-_._2)
      s"exchanges=${n("(?<!Reused)Exchange ")} reused=${n("ReusedExchange")}" +
        s" imrScans=${n("InMemoryTableScan")}" +
        scans.map { case (s, k) => f"\n  $k%2d x $s" }.mkString
    }

    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      (1 to reps).foreach { rep =>
        stages.clear()
        val t0 = System.nanoTime()
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        qe.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // The listener bus delivers stage-completed events asynchronously;
        // without a drain pause, late events can be missed or bleed into
        // the next rep after stages.clear() (r17 ADVICE). listenerBus is
        // private[spark], so a short sleep is the drain — diagnostic tool,
        // the 300 ms is untimed.
        Thread.sleep(300)
        sweep()
        println(f"\n=== $name rep $rep: $wall%.2f s, ${stages.size} stages")
        println("   ms task    inputMB    shrdMB  shrdRec    shwrMB" +
          "  shwrRec   spillMB  stage")
        stages.sortBy(-_.ms).foreach { s =>
          println(f"${s.ms}%5d ${s.tasks}%4d ${mb(s.input)}  ${mb(s.sr)} " +
            f"${s.srRec}%8d  ${mb(s.sw)} ${s.swRec}%8d  ${mb(s.spill)}  ${s.name}")
        }
        val tot = stages.map(_.ms).filter(_ > 0).sum
        println(f"stage-ms total: $tot (wall ${wall * 1000}%.0f ms; gap = " +
          "driver/planning/scheduling)")
        println(s"census: ${census(qe.executedPlan.toString)}")
      }
    }
    spark.stop()
  }
}
