package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (sbt forks a single
  * test JVM; getOrCreate makes this a process-wide singleton).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    graft.engine.GraftSession
      .builder(master = "local[4]", shufflePartitions = 4,
        appName = "graft-test")
      .getOrCreate()

  lazy val sf: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"

  /** Storage sweep between suites — the same hygiene graft.Bench applies
    * between reps: localCheckpoint blocks are PINNED (no lineage), so
    * across a full run the shared session would accumulate hundreds of
    * dead blocks and slow the late suites many-fold. Every suite builds
    * its frames from scratch, so nothing cached is live across suites.
    */
  override def afterAll(): Unit = {
    try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    } catch { case _: Throwable => () }
    super.afterAll()
  }
}
