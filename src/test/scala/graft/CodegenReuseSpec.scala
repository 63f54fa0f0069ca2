package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.engine.Barrier

/** A repeated query compiles each generated class once per JVM: shared
  * grains are planned in one cache session per parent session (no
  * per-call clone, so no new executor class loader), and the codegen
  * cache holds the working set with stable class names. A runtime conf
  * change still reaches the grains planned after it. */
class CodegenReuseSpec extends SparkTestBase {

  private def sweep(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** The second run may still meet a plan variant the first did not:
    * AQE re-plans as stages finish, and a broadcast that lands before or
    * after a sibling stage fuses a join into a different stage (a few
    * classes, each compiled on the driver and in the executor; 0–7 of
    * ~120 measured). Without the cache session and the cache size the
    * second run recompiled ~100 of ~130. */
  test("a second lmScores + curateV6 run compiles (almost) no class again") {
    val docs = graft.catalog.Catalog(spark, sf).table("documents")
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(): Long = {
      val before = compiles()
      graft.ops.CorpusOps.lmScores(docs).collect()
      graft.ops.CorpusOps.curateV6(docs).collect()
      sweep()
      compiles() - before
    }
    val first = run()
    val second = run()
    assert(first > 0, "the first run compiled nothing: is codegen on?")
    assert(second * 10 <= first,
      s"the repeated run compiled $second of the first run's $first classes again")
  }

  test("a shared grain planned after a runtime conf change uses the new value") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def grain(m: Int): DataFrame = Barrier.sharedGrain(
      spark.range(0, 100, 1, 2).groupBy((col("id") % m).as("k")).count())
    def cachedPlan(df: DataFrame): SparkPlan = spark.sharedState.cacheManager
      .lookupCachedData(ClassicConversions.castToImpl(df)).get
      .cachedRepresentation.cacheBuilder.cachedPlan
    def shufflePartitions(p: SparkPlan): Seq[Int] = (p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }).collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
    val next = (saved.toInt + 3).toString
    try {
      val a = grain(10)
      spark.conf.set(key, next)
      val b = grain(7)
      val c = grain(5)
      assert(shufflePartitions(cachedPlan(a)) == Seq(saved.toInt))
      assert(shufflePartitions(cachedPlan(b)) == Seq(next.toInt),
        "the grain planned after the conf change kept the old value")
      assert(cachedPlan(b).session ne cachedPlan(a).session,
        "a conf change must plan later grains in a fresh cache session")
      assert(cachedPlan(c).session eq cachedPlan(b).session,
        "grains under one conf snapshot must share one cache session")
      assert(cachedPlan(b).session ne spark,
        "grains are planned in the cache session, not the caller's")
      assert(c.collect().map(_.getLong(1)).sum == 100L)
    } finally {
      spark.conf.set(key, saved)
      sweep()
    }
  }
}
