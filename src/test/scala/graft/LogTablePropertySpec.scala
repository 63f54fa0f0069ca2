package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.mvcc.LogTable

/** Property-style MVCC invariant: compaction at `asOf` must be
  * invisible to every snapshot at t ≥ asOf — over randomized logs
  * (seeded, reproducible) mixing upserts, tombstones, commit markers,
  * rollback markers, and in-flight transactions.
  *
  * (Snapshots at t < asOf are NOT preserved — compaction deliberately
  * collapses pre-asOf history; that is its job.)
  */
class LogTablePropertySpec extends SparkTestBase {

  import spark.implicits._

  private val MaxTxn = 8

  /** Random log: txns 1..MaxTxn in order, each upserting/deleting a few
    * of 12 rids; each txn independently commits, rolls back, or stays
    * in-flight. */
  private def randomLog(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val data = for {
      txn <- 1 to MaxTxn
      rid <- rnd.shuffle((1 to 12).toList).take(1 + rnd.nextInt(4))
    } yield (txn.toLong, if (rnd.nextInt(5) == 0) "D" else "U", rid.toLong,
      s"v$txn-$rid")
    val entries = data.toDF("txn", "op", "rid", "v")
      .withColumn("v", when(col("op") === "D", lit(null: String)).otherwise(col("v")))
    val markers = (1 to MaxTxn).flatMap { txn =>
      rnd.nextInt(3) match {
        case 0 => Some((txn.toLong, LogTable.Commit))
        case 1 => Some((txn.toLong, LogTable.Rollback))
        case _ => None // in-flight
      }
    }.toDF("txn", "op")
    entries.unionByName(markers, allowMissingColumns = true)
  }

  private def snap(log: DataFrame, t: Long): Map[Long, String] =
    LogTable.snapshot(log, t).select("rid", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("compact(log, a) preserves every snapshot at t >= a (random logs, all ops)") {
    for (seed <- 1L to 6L) {
      val log = randomLog(seed).cache()
      try {
        for (asOf <- Seq(2L, 5L)) {
          // compact depends only on asOf — plan it once per (log, asOf),
          // not once per probed time (this loop dominates suite wall time)
          val compacted = LogTable.compact(log, asOf).cache()
          try
            for (t <- asOf to MaxTxn.toLong)
              assert(snap(compacted, t) == snap(log, t),
                s"seed=$seed asOf=$asOf t=$t")
          finally compacted.unpersist()
        }
      } finally log.unpersist()
    }
  }

  test("late commits after compaction: in-flight txns resolve identically on both logs (random)") {
    import org.apache.spark.sql.functions.col
    for (seed <- 1L to 6L) {
      val log = randomLog(seed).cache()
      try {
        val asOf = 5L
        val compacted = LogTable.compact(log, asOf)
        // commit EVERY still-unmarked txn after the fact; snapshots of
        // original+commits and compacted+commits must agree (this is the
        // shadow-tombstone scenario generalized: late commits interleave
        // with settled tombstones in arbitrary txn orders)
        val marked = log.filter(col("op").isin(LogTable.Commit, LogTable.Rollback))
          .select("txn").distinct().collect().map(_.getLong(0)).toSet
        val lateCommits = (1 to MaxTxn).map(_.toLong).filterNot(marked)
          .foldLeft(spark.emptyDataFrame) { (acc, t) =>
            val m = LogTable.commitMarker(spark, t)
            if (acc.isEmpty) m else acc.unionByName(m)
          }
        if (!lateCommits.isEmpty) {
          val orig = log.unionByName(lateCommits, allowMissingColumns = true)
          val comp = compacted.unionByName(lateCommits, allowMissingColumns = true)
          for (t <- asOf to MaxTxn.toLong) {
            assert(snap(comp, t) == snap(orig, t), s"seed=$seed t=$t (late commits)")
          }
        }
      } finally log.unpersist()
    }
  }

  test("redundancyRatio equals a driver-side count of settled and live entries (random logs)") {
    for (seed <- 1L to 6L) {
      val log = randomLog(seed)
      val rows = log.select("txn", "op", "rid").collect()
        .map(r => (r.getLong(0), r.getString(1), r.get(2)))
      val rolled = rows.collect { case (t, LogTable.Rollback, _) => t }.toSet
      val data = rows.collect {
        case (t, op, rid: Long) if op == LogTable.Upsert || op == LogTable.Delete =>
          (t, op, rid)
      }
      for (asOf <- Seq(0L, 2L, 5L, 8L)) {
        val committed =
          rows.collect { case (t, LogTable.Commit, _) if t <= asOf => t }.toSet
        val settled = data.count { case (t, _, _) => committed(t) || rolled(t) }
        // newest committed entry per rid; "D" < "U" breaks a txn tie
        val live = data.filter { case (t, _, _) => committed(t) }
          .groupBy(_._3).values
          .count(_.maxBy { case (t, op, _) => (t, op == LogTable.Delete) }._2 ==
            LogTable.Upsert)
        val expected = if (settled == 0) 0.0 else 1.0 - live.toDouble / settled
        val got = LogTable.redundancyRatio(log, asOf)
        assert(math.abs(got - expected) < 1e-9,
          s"seed=$seed asOf=$asOf ratio $got, expected $expected")
      }
    }
  }

  test("compaction leaves no trace of rolled-back transactions (random logs)") {
    for (seed <- 1L to 6L) {
      val log = randomLog(seed)
      val rolled = LogTable.rolledBackTxns(log).as[Long].collect().toSet
      val compacted = LogTable.compact(log, 5L)
      val remaining = compacted.filter(col("txn").isin(rolled.toSeq: _*))
      assert(rolled.isEmpty || remaining.count() == 0,
        s"seed=$seed aborted txns $rolled survived compaction")
    }
  }
}
