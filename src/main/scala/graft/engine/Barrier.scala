package graft.engine

import org.apache.spark.sql.DataFrame

/** Centralized plan barriers — the ONE place the engine truncates
  * lineage or blocks predicate pushdown, so the mechanism can be
  * switched per deployment instead of hard-coding
  * `localCheckpoint` at ~15 call sites.
  *
  * Two distinct contracts, two entry points:
  *
  *  - [[pushdownBarrier]] (lazy): stops Catalyst from substituting a
  *    heavy defining expression (chargram/shingle sets, simhash,
  *    md5-of-normalized-text) into a filter pushed below the frame —
  *    the r17 pathology where `isnotnull(simhash60(split(...)))` or
  *    `size(el_set) > 0` landed on the single-task scan side of a
  *    rebalance exchange and serialized the whole map phase. Lazy:
  *    construction stays job-free; the first action materializes.
  *  - [[lineageBarrier]] (eager): truncates the logical plan of
  *    iterative algorithms (k-means rounds, connected-components
  *    rounds, BPE merges) whose plan would otherwise double per round.
  *    Eager: runs a job now, returns a frame whose plan is a block scan.
  *
  * Mechanism switch (`SPARK_GRAFT_BARRIER`):
  *
  *  - `local` (default): `localCheckpoint` — blocks stored
  *    UNREPLICATED on executors, lineage gone. Right for local mode and
  *    for clusters with stable executors; an executor loss makes the
  *    job unrecoverable, and blocks stay pinned until unpersisted or
  *    swept (callers on preemptible executors: see `reliable`).
  *  - `reliable`: `Dataset.checkpoint` — blocks written to the
  *    configured checkpoint directory (HDFS/object store), recoverable
  *    across executor loss, compatible with dynamic allocation. Needs
  *    `spark.sparkContext.setCheckpointDir(...)` (or
  *    `spark.checkpoint.dir`) set by the deployment; we fail loudly at
  *    first use otherwise rather than silently degrading.
  *
  * The switch is read once per JVM (deployment-level property, not a
  * per-query knob).
  */
object Barrier {

  private lazy val mode: String =
    sys.env.getOrElse("SPARK_GRAFT_BARRIER", "local") match {
      case m @ ("local" | "reliable") => m
      case other =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_BARRIER must be 'local' or 'reliable', got '$other'")
    }

  /** Lazy pushdown barrier: Catalyst cannot push or substitute
    * predicates below the returned frame. No job runs at call time.
    * Storage note: once materialized, blocks are pinned for the session
    * with no automatic unpersist — long-lived sessions should sweep
    * (`getPersistentRDDs` / `unpersist`) between unrelated jobs, as
    * `graft.Bench` does, or [[release]] the frame. */
  def pushdownBarrier(df: DataFrame): DataFrame = pushdownBarrier(df, mode)

  /** [[pushdownBarrier]] under an explicit mechanism. A lazy reliable
    * checkpoint is written by a second job after the first action over
    * the frame, which would recompute the whole lineage; the upstream is
    * persisted so that job reads the cached blocks instead. [[release]]
    * unpersists it. */
  private[graft] def pushdownBarrier(df: DataFrame, mode: String): DataFrame =
    mode match {
      case "reliable" =>
        val out = df.persist().checkpoint(eager = false)
        reliableUpstreams.put(leafRdd(out).get, df)
        out
      case _ => df.localCheckpoint(eager = false)
    }

  /** Eager lineage truncation for iterative plans: runs a job NOW and
    * returns a frame whose plan is a scan of the materialized blocks.
    * Use for round-structured algorithms where the plan (and its
    * re-analysis cost) would otherwise grow per round. [[release]]
    * frees what it holds. */
  def lineageBarrier(df: DataFrame): DataFrame = lineageBarrier(df, mode)

  /** [[lineageBarrier]] under an explicit mechanism. The eager reliable
    * checkpoint writes its files in the one job that computes the
    * lineage, so it needs no persist (BarrierSpec pins one evaluation). */
  private[graft] def lineageBarrier(df: DataFrame, mode: String): DataFrame =
    mode match {
      case "reliable" => df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }

  /** Lazy reliable barriers' persisted upstreams, by the barrier's RDD;
    * weak, so a dropped barrier frame does not pin its upstream's plan. */
  private val reliableUpstreams = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], DataFrame]())

  private def leafRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Partition count of a barrier frame's materialized blocks, read
    * without running a job; None for a frame that is not a barrier. */
  private[graft] def partitions(df: DataFrame): Option[Int] =
    leafRdd(df).map(_.getNumPartitions)

  /** Free what a barrier materialized for `df`: its blocks, a lazy
    * reliable barrier's persisted upstream, and a reliable checkpoint's
    * directory. `Dataset.unpersist` is a no-op on a checkpointed frame
    * (the CacheManager never saw it); the data belongs to the
    * `LogicalRDD` leaf's RDD. Safe only once nothing will read the frame
    * again — the lineage is gone, so lost data is unrecoverable. A plan
    * that is not that leaf is left alone. */
  private[graft] def release(df: DataFrame): Unit = leafRdd(df).foreach { rdd =>
    rdd.unpersist(blocking = false)
    Option(reliableUpstreams.remove(rdd)).foreach(_.unpersist(blocking = false))
    rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }
}
