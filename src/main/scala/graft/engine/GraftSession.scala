package graft.engine

import org.apache.spark.sql.SparkSession

/** SparkSession lifecycle + engine configuration.
  *
  * Plays the role of the reference engine's `Storage` handle
  * (reference: src/storage/mod.rs:17-84 — open the database, hand out
  * collections), re-expressed as a configured SparkSession factory.
  *
  * Scale posture: these defaults are written for a real cluster and only
  * *parameterized* for local[32] testing —
  *   - AQE on: runtime re-planning (join-strategy switch, skew-join split,
  *     partition coalescing) is the scale-path answer to the reference's
  *     unfinished `cost_hint` adaptive-join plan (src/operators/mod.rs:33-40).
  *   - shuffle.partitions: 32 locally; on a 1000-executor cluster this is
  *     overridden upward (AQE coalescing makes the exact number forgiving).
  *   - autoBroadcastJoinThreshold left at default (10 MB): dimension tables
  *     (region/nation/supplier/part at any SF we test) broadcast; fact-fact
  *     joins shuffle on their keys.
  */
object GraftSession {

  def builder(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing merges post-shuffle partitions by BYTES
      // (parallelismFirst merges anything under minPartitionSize,
      // default 1 MB). The LLM-pipeline operators have many CPU-dense,
      // byte-light stages — exact-decimal entropy/log rollups, cosine
      // verify joins, jaccard merges — where 1 MB of shuffled input is
      // hundreds of ms of compute, so byte-driven coalescing serializes
      // them (r17 profile: x123's entropy rollup and x22's cell join
      // collapsed to 1–5 tasks with 31 cores idle). 64 KB keeps such
      // stages parallel while still folding genuinely empty partitions.
      // At healthy scale shuffles are orders of magnitude above either
      // bound, so production plans are unchanged. A session can still
      // set the SQL conf at runtime for an A/B or cluster tuning.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet has shipped ts as TIMESTAMP(NANOS) (no native
      // Spark type — surfaced as raw long ns by this flag) and as
      // TIMESTAMP(MICROS)/NTZ in newer generations; harmless for the
      // latter. Queries normalize through graft.functions.EventTime
      // (always epoch-ns long downstream) whatever the encoding.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Get-or-create with graft defaults (idempotent for tests). */
  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
