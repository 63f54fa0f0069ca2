package graft

import org.apache.spark.sql.functions._

import graft.mvcc.LogTable

/** MVCC log-table semantics (reference table_scan.rs:65-123 visibility,
  * log_compaction.rs:9-64): upsert/tombstone/commit/rollback/snapshot/
  * compaction on a hand-built log.
  */
class LogTableSpec extends SparkTestBase {

  import spark.implicits._

  // rid 1: v1 then updated in txn2; rid 2: deleted in txn3;
  // rid 3: updated in *uncommitted* txn4 (no marker = rollback);
  // rid 4: inserted in txn4 (invisible).
  private lazy val log = {
    val t1 = LogTable.upserts(
      Seq((1L, "a1"), (2L, "b1"), (3L, "c1")).toDF("rid", "v"), 1L, col("rid"))
    val t2 = LogTable.upserts(Seq((1L, "a2")).toDF("rid", "v"), 2L, col("rid"))
    val t3 = LogTable.deletes(Seq(Tuple1(2L)).toDF("rid"), 3L, col("rid"))
    val t4 = LogTable.upserts(
      Seq((3L, "c2"), (4L, "d1")).toDF("rid", "v"), 4L, col("rid"))
    t1.unionByName(t2)
      .unionByName(t3, allowMissingColumns = true)
      .unionByName(t4)
      .unionByName(LogTable.commitMarker(spark, 1L), allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(spark, 2L), allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(spark, 3L), allowMissingColumns = true)
  }

  private def snap(asOf: Long): Map[Long, String] =
    LogTable.snapshot(log, asOf).select("rid", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("snapshot at txn1: base versions only") {
    assert(snap(1L) == Map(1L -> "a1", 2L -> "b1", 3L -> "c1"))
  }

  test("snapshot at txn2: sees the update") {
    assert(snap(2L) == Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }

  test("snapshot at txn3: tombstone removes rid 2") {
    assert(snap(3L) == Map(1L -> "a2", 3L -> "c1"))
  }

  test("snapshot at txn4: uncommitted txn invisible (rollback semantics)") {
    assert(snap(4L) == Map(1L -> "a2", 3L -> "c1"))
  }

  test("compaction collapses the settled prefix, preserves in-flight entries") {
    val compacted = LogTable.compact(log, 4L)
    // settled live set is collapsed; txn4 (in-flight, no marker) rides along
    val entities = compacted.filter(col("op") === LogTable.Upsert)
      .select("txn", "rid", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(entities == Set((2L, 1L, "a2"), (1L, 3L, "c1"),
      (4L, 3L, "c2"), (4L, 4L, "d1")))
    // snapshot of the compacted log equals snapshot of the full log
    val resnap = LogTable.snapshot(compacted, 4L).select("rid", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(resnap == snap(4L))
  }

  test("an in-flight txn can still commit after compaction") {
    val committed4 = LogTable.compact(log, 4L)
      .unionByName(LogTable.commitMarker(spark, 4L), allowMissingColumns = true)
    val s = LogTable.snapshot(committed4, 5L).select("rid", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s == Map(1L -> "a2", 3L -> "c2", 4L -> "d1"))
  }

  private lazy val logRolledBack =
    log.unionByName(LogTable.rollbackMarker(spark, 4L), allowMissingColumns = true)

  test("explicit rollback marker: txn invisible pre- and post-compaction") {
    val pre = LogTable.snapshot(logRolledBack, 4L).select("rid", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pre == Map(1L -> "a2", 3L -> "c1"))
    val post = LogTable.snapshot(LogTable.compact(logRolledBack, 4L), 4L)
      .select("rid", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(post == pre)
  }

  test("compaction drops aborted versions EAGERLY (reference Rollbacked, log_entry.rs:39-45)") {
    val compacted = LogTable.compact(logRolledBack, 4L)
    // no trace of txn4 remains: not its data rows, not its marker
    assert(compacted.filter(col("txn") === 4L).count() == 0)
    assert(compacted.filter(col("v") === "c2" || col("rid") === 4L).count() == 0)
  }

  test("compaction keeps a settled tombstone that shadows a preserved in-flight upsert") {
    // rid 9: in-flight upsert at txn 4, committed tombstone at txn 5.
    // Compaction must NOT drop the tombstone — when txn 4 later commits,
    // the tombstone is what keeps rid 9 deleted (resurrection bug guard).
    val l = LogTable.upserts(Seq((9L, "x1")).toDF("rid", "v"), 1L, col("rid"))
      .unionByName(LogTable.upserts(Seq((9L, "x2")).toDF("rid", "v"), 4L, col("rid")))
      .unionByName(LogTable.deletes(Seq(Tuple1(9L)).toDF("rid"), 5L, col("rid")),
        allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(spark, 1L), allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(spark, 5L), allowMissingColumns = true)
    val compacted = LogTable.compact(l, 6L)
    val lateCommit = LogTable.commitMarker(spark, 4L)
    val viaOriginal = LogTable.snapshot(
      l.unionByName(lateCommit, allowMissingColumns = true), 7L).count()
    val viaCompacted = LogTable.snapshot(
      compacted.unionByName(lateCommit, allowMissingColumns = true), 7L).count()
    assert(viaOriginal == 0, "tombstone at txn 5 must shadow the txn-4 upsert")
    assert(viaCompacted == viaOriginal,
      "compaction dropped a tombstone still needed by an in-flight upsert")
  }

  test("same-txn upsert+tombstone for one rid resolves deterministically (tombstone wins)") {
    val l = LogTable.upserts(Seq((1L, "a")).toDF("rid", "v"), 1L, col("rid"))
      .unionByName(LogTable.deletes(Seq(Tuple1(1L)).toDF("rid"), 1L, col("rid")),
        allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(spark, 1L), allowMissingColumns = true)
    (1 to 3).foreach { _ =>
      assert(LogTable.snapshot(l, 1L).count() == 0)
    }
  }

  test("redundancyRatio drives the compact-when signal (collection_statistics.rs:11-14)") {
    // 7 settled data entries (t4 rolled back counts — it IS reclaimable),
    // 2 live at asOf=4 → ratio 5/7
    val r = LogTable.redundancyRatio(logRolledBack, 4L)
    assert(math.abs(r - 5.0 / 7.0) < 1e-9, s"ratio $r")
    // in-flight txn4 (no marker) is NOT reclaimable: excluded from the
    // denominator, else a compact loop would re-trigger forever
    val rInflight = LogTable.redundancyRatio(log, 4L)
    assert(math.abs(rInflight - 3.0 / 5.0) < 1e-9, s"in-flight ratio $rInflight")
    assert(LogTable.shouldCompact(logRolledBack, 4L, redundancyThreshold = 0.5))
    // a freshly compacted log is below any sensible threshold
    val after = LogTable.redundancyRatio(LogTable.compact(logRolledBack, 4L), 4L)
    assert(after == 0.0, s"post-compaction ratio $after")
    assert(!LogTable.shouldCompact(LogTable.compact(logRolledBack, 4L), 4L, 0.5))
  }

  test("compact reads each of the input log's leaf relations at most twice") {
    // one settlement pass: the per-txn status aggregate and the ranked
    // frame are the only two reads; the plan must not grow per filter
    val leaves = LogTable.compact(log, 4L).queryExecution.analyzed.collectLeaves()
    val reads = log.queryExecution.analyzed.collectLeaves()
      .map(leaf => leaves.count(_.sameResult(leaf)))
    assert(reads.max <= 2, s"log leaves read ${reads.mkString(",")} times")
  }

  test("durable log round-trip: append batches on disk, reopen in a second session, compact as a maintenance rewrite (log_compaction.rs:9-64)") {
    // The reference's compaction is an ON-DISK operation; this exercises
    // the full composition the recipe tests above only stage in memory:
    // Catalog.append batches → fresh session reads the parquet log →
    // snapshot → compact → rewrite the table → snapshot-equivalence
    // across the session boundary, pre and post compaction.
    val dir = java.nio.file.Files.createTempDirectory("graft_mvcc_rt").toString
    val cat = graft.catalog.Catalog(spark, dir)
    // batch 1 (txn 1, committed): base versions
    val b1 = LogTable.upserts(
      Seq((1L, "a1"), (2L, "b1"), (3L, "c1")).toDF("rid", "v"), 1L, col("rid"))
      .unionByName(LogTable.commitMarker(spark, 1L), allowMissingColumns = true)
    cat.createNew("doclog", b1.schema)
    cat.append("doclog", b1)
    // batch 2: txn 2 update + txn 3 tombstone (committed); txn 4 in-flight
    val b2 = LogTable.upserts(Seq((1L, "a2")).toDF("rid", "v"), 2L, col("rid"))
      .unionByName(LogTable.deletes(Seq(Tuple1(2L)).toDF("rid"), 3L, col("rid")),
        allowMissingColumns = true)
      .unionByName(LogTable.upserts(Seq((4L, "d1")).toDF("rid", "v"), 4L, col("rid")))
      .unionByName(LogTable.commitMarker(spark, 2L), allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(spark, 3L), allowMissingColumns = true)
    cat.append("doclog", b2)

    // second session: fresh session state, everything read back from disk
    val s2 = spark.newSession()
    val cat2 = graft.catalog.Catalog(s2, dir)
    def snapMap(asOf: Long): Map[Long, String] =
      LogTable.snapshot(cat2.table("doclog"), asOf).select("rid", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pre = snapMap(3L)
    assert(pre == Map(1L -> "a2", 3L -> "c1"), s"cross-session snapshot: $pre")

    // maintenance job: one-call on-disk compaction (stage + swap)
    val reclaimed = cat2.compactLog("doclog", asOf = 3L)
    assert(reclaimed > 0, "compaction reclaimed nothing")

    // equivalence across the rewrite; no staging/old debris left behind
    // (raw directory listing — the .old/.compact-stage names are
    // invisible to Catalog.list by design)
    assert(snapMap(3L) == pre, "snapshot changed across on-disk compaction")
    val entries = new java.io.File(dir).list().toSeq
    assert(entries == Seq("doclog.parquet"), entries.toString)

    // the in-flight txn survived the rewrite verbatim and can still
    // commit — batch 3 appends just its marker, padded to table shape
    assert(snapMap(4L) == pre, "uncommitted txn visible after compaction")
    cat2.append("doclog", cat2.table("doclog").limit(0)
      .unionByName(LogTable.commitMarker(s2, 4L), allowMissingColumns = true))
    assert(snapMap(4L) == pre + (4L -> "d1"),
      "in-flight txn failed to commit after on-disk compaction")
  }

  test("compactLog single-writer guard: concurrent append and second compactor error loudly, not silently swallowed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mvcc_sw").toString
    val cat = graft.catalog.Catalog(spark, dir)
    val b1 = LogTable.upserts(
      Seq((1L, "a1"), (2L, "b1")).toDF("rid", "v"), 1L, col("rid"))
      .unionByName(LogTable.commitMarker(spark, 1L), allowMissingColumns = true)
    cat.createNew("doclog", b1.schema)
    cat.append("doclog", b1)
    // simulate an in-flight compaction: the sentinel the stage-and-swap
    // holds (same path compactLog creates)
    val sentinel = new org.apache.hadoop.fs.Path(
      s"${cat.path("doclog")}._compacting")
    val fs = sentinel.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(sentinel, false).close()
    // an append during the swap must ERROR (pre-guard it landed in the
    // doomed `.old` directory and was deleted with it)
    val more = LogTable.upserts(Seq((3L, "c1")).toDF("rid", "v"), 2L, col("rid"))
      .unionByName(LogTable.commitMarker(spark, 2L), allowMissingColumns = true)
    val e1 = intercept[IllegalStateException] { cat.append("doclog", more) }
    assert(e1.getMessage.contains("compaction in flight"), e1.getMessage)
    // a second compactor must refuse the same way
    val e2 = intercept[IllegalStateException] { cat.compactLog("doclog", 1L) }
    assert(e2.getMessage.contains("another compaction"), e2.getMessage)
    // sentinel released -> both operations proceed, and a real
    // compaction cleans up after itself (no sentinel left behind)
    fs.delete(sentinel, false)
    cat.append("doclog", more)
    cat.compactLog("doclog", asOf = 2L)
    assert(!fs.exists(sentinel), "sentinel must be released on publish")
    val snap = LogTable.snapshot(cat.table("doclog"), 2L).select("rid", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap == Map(1L -> "a1", 2L -> "b1", 3L -> "c1"), snap.toString)
  }
}
