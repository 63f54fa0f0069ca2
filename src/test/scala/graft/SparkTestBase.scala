package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `body`'s result and the Spark jobs it started, counted by job
    * group. A marker job in a second group runs after it; the listener
    * bus delivers events in order, so once the marker's start is seen
    * every job of `body` has been counted. The wait ends on that event,
    * not on a timer. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${System.nanoTime}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger()
    val markerSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == group) jobs.incrementAndGet()
            else if (g == marker) markerSeen.countDown()
          }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS),
        "the marker job never reached the listener")
      (out, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  /** Run `body` with the session conf `key` set to `value`, restoring
    * the session's setting afterwards. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

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
