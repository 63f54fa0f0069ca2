package graft.mvcc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MVCC log-table: the reference's log-structured storage semantics
  * (reference: src/storage/log_file/log_entry.rs:7-28 entry kinds,
  * src/operators/sourcing/table_scan.rs:65-123 snapshot visibility,
  * src/storage/log_file/log_compaction.rs:9-64 compaction) re-expressed
  * as pure DataFrame recipes over an append-only table.
  *
  * Schema contract: a log DataFrame has
  *   - `txn`  LONG   — monotonically increasing transaction id (the
  *                     analogue of time-ordered UUIDv7; SURVEY §7.5.5)
  *   - `op`   STRING — "U" upsert row-version | "D" tombstone |
  *                     "C" commit marker | "R" explicit rollback marker
  *                     (reference log_entry.rs:39-45 Rollbacked; a txn
  *                     with neither marker is in-flight — invisible to
  *                     snapshots, preserved by compaction)
  *   - `rid`  LONG   — row identity (reference Row.id uuid)
  *   - payload columns (arbitrary; null on "C"/"R"/"D" rows)
  *
  * A transaction carries at most one of C/R (exclusive by contract, as in
  * the reference where a txn's final log record is one TransactionEntry;
  * a txn that breaks it by carrying both is treated as rolled back).
  *
  * Scale notes (100 TB): [[snapshot]], [[compact]] and [[redundancyRatio]]
  * are filters over one settlement pass ([[settle]]). Its only shuffle is
  * the per-rid window — the unavoidable "newest version per key"
  * exchange. The per-txn status aggregate is tiny (one row per
  * transaction) and joins the log once, as a broadcast. Compaction
  * rewrites the settled prefix of the log as its own snapshot —
  * keep-newest-committed/drop-tombstones — and drops aborted versions
  * eagerly (possible *because* the R marker is explicit; marker-absence
  * alone can't distinguish aborted from in-flight).
  */
object LogTable {

  val Upsert = "U"
  val Delete = "D"
  val Commit = "C"
  val Rollback = "R"

  /** Committed transaction ids visible at `asOf`. */
  def committedTxns(log: DataFrame, asOf: Long): DataFrame =
    log.filter(col("op") === Commit && col("txn") <= asOf)
      .select("txn").distinct()

  /** Explicitly rolled-back transaction ids (reference Rollbacked,
    * log_entry.rs:44-45). */
  def rolledBackTxns(log: DataFrame): DataFrame =
    log.filter(col("op") === Rollback).select("txn").distinct()

  private val isData = col("op").isin(Upsert, Delete)

  /** The settlement pass every operation below filters: each log entry
    * (in the log's own column order) tagged with
    *   - `__settled` — its txn committed at `asOf` and was not rolled back;
    *   - `__pending` — its txn is neither committed at `asOf` nor rolled
    *     back (in-flight, or committed only after `asOf`);
    *   - `__newest`  — it is its rid's newest settled data entry;
    *   - `__minPending` — the lowest pending data txn of its rid.
    * "Newest" orders by txn desc, then op asc: when one txn carries both
    * an upsert and a tombstone for the same rid, "D" < "U", so the
    * tombstone wins — never a partition-order-dependent outcome. */
  private def settle(log: DataFrame, asOf: Long): DataFrame = {
    val status = log.filter(col("op").isin(Commit, Rollback)).groupBy("txn")
      .agg(max(col("op") === Commit && col("txn") <= asOf).as("__committed"),
        max(col("op") === Rollback).as("__rolledBack"))
    val committed = coalesce(col("__committed"), lit(false))
    val rolledBack = coalesce(col("__rolledBack"), lit(false))
    val tagged = log.join(broadcast(status), Seq("txn"), "left")
      .select(log.columns.map(col) :+
        (committed && !rolledBack).as("__settled") :+
        (!committed && !rolledBack).as("__pending"): _*)
    val newestSettledFirst = Window.partitionBy("rid").orderBy(
      (isData && col("__settled")).desc, col("txn").desc, col("op").asc)
    tagged.select(col("*"),
      (row_number().over(newestSettledFirst) === 1 && isData && col("__settled"))
        .as("__newest"),
      min(when(isData && col("__pending"), col("txn"))).over(newestSettledFirst
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("__minPending"))
  }

  /** Snapshot visible at transaction `asOf`: newest committed version per
    * rid, tombstones suppress older versions (reference
    * table_scan.rs:65-123 backward-scan visibility, as a window).
    */
  def snapshot(log: DataFrame, asOf: Long): DataFrame =
    settle(log, asOf).filter(col("__newest") && col("op") === Upsert)
      .select(log.columns.filterNot(_ == "op").map(col): _*)

  /** Compaction (reference log_compaction.rs:9-64): rewrite the settled
    * prefix (committed, txn ≤ `asOf`) as its snapshot — one Upsert per
    * live rid stamped at its original txn, plus those commit markers.
    * Superseded versions and tombstoned history are dropped; entries of
    * explicitly rolled-back transactions are dropped EAGERLY (data and
    * marker — the abort is final at any snapshot point); in-flight and
    * future (txn > asOf) entries are preserved verbatim, so a
    * still-running transaction can commit after a compaction pass.
    * A settled tombstone SURVIVES when a preserved pending entry for the
    * same rid has a lower txn: dropping it would resurrect the deleted
    * row once that in-flight txn commits (the tombstone is what shadows
    * it). The output keeps the log's columns, in its order.
    *
    * Invariant (LogTableSpec): for every t,
    * snapshot(compact(log, asOf), t) == snapshot(log, t) whenever t ≥
    * the compacted prefix's settled point or t ≤ asOf.
    */
  def compact(log: DataFrame, asOf: Long): DataFrame =
    settle(log, asOf)
      .filter((col("__newest") &&
          (col("op") === Upsert || col("__minPending") < col("txn"))) ||
        (col("op") === Commit && col("__settled")) || col("__pending"))
      .select(log.columns.map(col): _*)

  /** Redundancy statistics — the compact-when signal (reference
    * CollectionStatistics::should_compact,
    * collection_statistics.rs:11-14: compact when redundant/total ≥ the
    * configured percentage). Redundant = data entries [[compact]] would
    * actually RECLAIM: superseded versions, tombstoned history, aborted
    * rows. In-flight (unmarked) transactions are excluded from the
    * denominator — compaction preserves them verbatim, so counting them
    * as redundant would make a compact-when-signaled loop re-trigger
    * forever while reclaiming nothing. One aggregate job — a
    * driver-side control decision like the reference's counters, not a
    * data-plane collect.
    */
  def redundancyRatio(log: DataFrame, asOf: Long): Double = {
    val r = settle(log, asOf).agg(
      count(when(isData && !col("__pending"), true)),
      count(when(col("__newest") && col("op") === Upsert, true))).head()
    val settled = r.getLong(0)
    if (settled == 0) 0.0 else 1.0 - r.getLong(1).toDouble / settled
  }

  def shouldCompact(log: DataFrame, asOf: Long, redundancyThreshold: Double): Boolean =
    redundancyRatio(log, asOf) >= redundancyThreshold

  /** Entry builders — the write path (reference Collection::set_objects,
    * src/collection/mod.rs:46-93: upsert-or-tombstone + commit marker).
    * `payload` columns ride along; rollback = simply never emit Commit.
    */
  def upserts(rows: DataFrame, txn: Long, ridCol: Column): DataFrame =
    rows.withColumn("txn", lit(txn)).withColumn("op", lit(Upsert))
      .withColumn("rid", ridCol)

  def deletes(rids: DataFrame, txn: Long, ridCol: Column): DataFrame =
    rids.select(ridCol.as("rid"))
      .withColumn("txn", lit(txn)).withColumn("op", lit(Delete))

  def commitMarker(spark: org.apache.spark.sql.SparkSession, txn: Long): DataFrame = {
    import spark.implicits._
    Seq((txn, Commit)).toDF("txn", "op")
  }

  /** Explicit abort (reference LogEntry::rollback, log_entry.rs:44-45).
    * Snapshot-equivalent to never committing, but lets [[compact]] drop
    * the aborted versions eagerly instead of carrying them forever. */
  def rollbackMarker(spark: org.apache.spark.sql.SparkSession, txn: Long): DataFrame = {
    import spark.implicits._
    Seq((txn, Rollback)).toDF("txn", "op")
  }
}
