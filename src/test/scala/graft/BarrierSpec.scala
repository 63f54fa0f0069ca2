package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.functions._

import graft.engine.Barrier

/** `SPARK_GRAFT_BARRIER=reliable`, through the mode-taking overloads:
  * each barrier evaluates its upstream once, and [[Barrier.release]]
  * leaves no checkpoint directory and no persisted upstream behind. */
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
}
