package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.functions._

import graft.engine.Barrier

/** `SPARK_GRAFT_BARRIER=reliable`, through the mode-taking overloads:
  * each barrier evaluates its upstream once, and [[Barrier.release]]
  * leaves no checkpoint directory and no persisted upstream behind.
  * The round loops release every superseded round, so what they leave
  * persisted does not grow with the round count (connected components:
  * GraphOpsStarSpec). A lazy [[Barrier.sharedGrain]] read by several
  * consumers of one query evaluates its upstream once. */
class BarrierSpec extends SparkTestBase {

  private def rddDirs(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try {
      val it = s.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getFileName.toString.startsWith("rdd-")).toList
    } finally s.close()
  }

  private def checkReliable(barrier: DataFrame => DataFrame): Unit = {
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft-barrier")
    val saved = sc.getCheckpointDir
    sc.setCheckpointDir(root.toString)
    try {
      val evals = sc.longAccumulator("upstream evaluations")
      val traced = udf { (x: Long) => evals.add(1); x * 2 }
      val up = spark.range(0, 200, 1, 4).select(traced(col("id")).as("y"))
      val out = barrier(up)
      assert(out.agg(sum("y")).head.getLong(0) == 2L * (0 until 200).sum)
      assert(out.count() == 200L)
      assert(evals.value == 200L, "the upstream was evaluated more than once")
      assert(rddDirs(root).nonEmpty, "no checkpoint directory was written")
      Barrier.release(out)
      assert(rddDirs(root).isEmpty, s"left behind: ${rddDirs(root)}")
      assert(spark.sharedState.cacheManager
          .lookupCachedData(ClassicConversions.castToImpl(up)).isEmpty,
        "the upstream is still persisted")
    } finally saved.foreach(sc.setCheckpointDir)
  }

  test("reliable lineageBarrier evaluates its upstream once; release deletes its checkpoint directory") {
    checkReliable(Barrier.lineageBarrier(_, "reliable"))
  }

  test("reliable pushdownBarrier evaluates its upstream once; release deletes its checkpoint and unpersists the upstream") {
    checkReliable(Barrier.pushdownBarrier(_, "reliable"))
  }

  /** Persistent RDDs registered by `run` that are still held when it
    * returns (the returned frame is kept reachable while counting).
    * Spark's ContextCleaner also frees unreachable RDDs, but only after
    * a GC, at random; the released count is exact. */
  private def leftBehind(run: => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = run
    val n = (sc.getPersistentRDDs.keySet -- before).size
    assert(out.columns.nonEmpty) // keeps `out` reachable until counted
    n
  }

  test("kmeansTrain(tol > 0) releases superseded rounds: as much left persisted at 2 rounds as at 5") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    def train(iters: Int) =
      graft.ops.VectorOps.kmeansTrain(e, initK = 8, iters = iters, tol = 1e-12)
    val held = Seq(2, 5).map(n => leftBehind(train(n)))
    assert(held == Seq(1, 1), s"only the final centroids may stay: $held")
  }

  test("pqTrain releases superseded rounds and its subvectors: as much left persisted at 2 rounds as at 5") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val held = Seq(2, 5).map(n => leftBehind(graft.ops.VectorOps.pqTrain(e, iters = n)))
    assert(held == Seq(1, 1), s"only the final codebook may stay: $held")
  }

  test("a lazy sharedGrain read by three consumers of one query evaluates its upstream as often as an eager lineageBarrier, at 2 and 4 shuffle partitions") {
    // the lmScoreFromWords shape: a (doc, word) tf grain feeds a counts
    // branch, a total and the scoring join. Under AQE the three leaf
    // stages could once race a cold cache and each re-run the tokenize
    // lineage; the eager barrier form cannot race.
    def run(grain: DataFrame => DataFrame): (Long, Seq[org.apache.spark.sql.Row]) = {
      val evals = spark.sparkContext.longAccumulator("tokenize evaluations")
      val tokenize = udf { (id: Long) =>
        evals.add(1); Seq.tabulate(8)(i => s"w${(id * 7 + i * 13) % 97}") }
      val words = spark.range(0, 2000, 1, 4)
        .select(col("id").as("doc_id"), tokenize(col("id")).as("ws"))
      val tf = grain(words.select(col("doc_id"), explode(col("ws")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")))
      val counts = tf.groupBy(col("word")).agg(sum(col("tf")).as("cnt"))
      val total = tf.agg(sum(col("tf")).as("n"))
      val out = tf.join(counts, Seq("word")).crossJoin(total)
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("cnt")).as("s"), max(col("n")).as("n"))
      try {
        val rows = out.orderBy(col("doc_id")).collect().toSeq
        (evals.value, rows)
      } finally { tf.unpersist(blocking = true); Barrier.release(tf) }
    }
    for (parts <- Seq("2", "4")) withConf("spark.sql.shuffle.partitions", parts) {
      val (eager, eagerRows) = run(Barrier.lineageBarrier)
      val (lazyEvals, lazyRows) = run(Barrier.sharedGrain)
      assert(eager >= 2000L, s"$parts partitions: $eager evaluations")
      assert(lazyEvals == eager,
        s"$parts partitions: the lazy grain evaluated its upstream $lazyEvals " +
          s"times against $eager for the eager barrier")
      assert(lazyRows == eagerRows, s"$parts partitions: outputs differ")
    }
  }
}
