package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Named-table catalog over a directory of Parquet tables.
  *
  * The analogue of the reference's `Storage`/`Collection` pair
  * (reference: src/storage/mod.rs:35-83 create/get/delete_collection;
  * src/collection/mod.rs:15-21), with the log-structured storage layer
  * replaced by Parquet — Spark's columnar scan + predicate pushdown
  * supersede the reference's newest-file-first log scan, and the
  * schema-on-first-row check (src/collection/mod.rs:52-59,
  * log_entry.rs:126-141) becomes an explicit StructType equality gate on
  * the write path.
  *
  * At 100 TB a "table" is a partitioned directory tree; everything here is
  * path-based so the same code runs against a data-lake layout. Nothing is
  * collected to the driver.
  */
final case class Catalog(spark: SparkSession, dir: String) {

  /** Scan a named table. Equivalent of `collection.table_scan(txn)`
    * (reference: src/operators/sourcing/table_scan.rs:16-141) for plain
    * (non-versioned) tables; MVCC-versioned tables live in [[graft.mvcc]].
    */
  def table(name: String): DataFrame =
    spark.read.parquet(path(name))

  /** [[table]] with an under-split guard for compute-heavy map
    * pipelines (text hashing, vector math): if the source offers fewer
    * scan splits than the cluster's parallelism — one giant gzip, a
    * single parquet row group (Parquet cannot split a row group) — every
    * map phase downstream would run near-serial no matter how many
    * executors exist. Rebalance once, BEFORE the heavy per-row work.
    * No-op whenever the source is already well-split (any healthy
    * 100 TB layout), so production plans are unchanged; don't use it for
    * plain project/filter scans, where an extra exchange buys nothing.
    */
  def tableRebalanced(name: String): DataFrame =
    Catalog.rebalanced(spark, table(name))

  def path(name: String): String = s"$dir/$name.parquet"

  def schema(name: String): StructType = table(name).schema

  // ------------------------------------------------------------------- DDL

  private def fs: FileSystem =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(name: String): Boolean = fs.exists(new HPath(path(name)))

  /** Get-or-create a named collection — the reference's
    * `Storage::create_collection` (src/storage/mod.rs:38-45), which
    * returns the existing collection rather than erroring. The schema
    * applies only when the table is created fresh.
    */
  def create(name: String, schema: StructType): DataFrame = {
    if (!exists(name)) createNew(name, schema)
    table(name)
  }

  /** Create-or-error — the reference's `create_new_collection`
    * (src/storage/mod.rs:47-64, CollectionAlreadyExistsError): writes an
    * empty Parquet table carrying the schema, so later [[append]]s are
    * shape-checked against it from row one.
    */
  def createNew(name: String, schema: StructType): Unit = {
    require(!exists(name), s"collection '$name' already exists")
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .write.parquet(path(name))
  }

  /** Drop a collection — the reference's `delete_collection`
    * (src/storage/mod.rs:66-83, CollectionDoesNotExistError on a missing
    * name; `ensure_folder_not_exists` removes the data directory).
    */
  def drop(name: String): Unit = {
    require(exists(name), s"collection '$name' does not exist")
    require(fs.delete(new HPath(path(name)), true),
      s"failed to delete collection '$name' at ${path(name)}")
  }

  /** Names of the collections present in this catalog directory — the
    * reference Storage's collection map keys (src/storage/mod.rs:17-20).
    */
  def list: Seq[String] = {
    val p = new HPath(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
  }

  /** Register every table in this catalog as a temp view (optionally
    * `prefix`ed), making the whole directory queryable from plain
    * `spark.sql` — together with the injected function surface
    * ([[graft.plans.GraftExtensions]]: `cosine_sim`, the hash/minhash
    * family, `bloom_filter_agg`/`might_contain`), SQL users get the
    * full engine without touching the DataFrame API. Views are lazy
    * plans over the parquet paths: no data moves at registration, and a
    * re-register picks up newly appended files. Returns the view names.
    */
  def registerViews(prefix: String = ""): Seq[String] =
    list.map { name =>
      table(name).createOrReplaceTempView(s"$prefix$name")
      s"$prefix$name"
    }

  /** Write-path schema gate, the analogue of the reference's
    * `is_same_shape` check (src/collection/mod.rs:52-59): appending rows
    * whose shape differs from the live table is a SchemaError there and an
    * IllegalArgumentException here. (Parquet would otherwise happily write
    * a mixed-schema directory.)
    */
  def append(name: String, rows: DataFrame): Unit = {
    val existing = schema(name)
    require(
      sameShape(existing, rows.schema),
      s"schema mismatch appending to '$name': table=$existing incoming=${rows.schema}")
    // single-writer guard: a compaction swap in flight would silently
    // swallow this append (rows land in the doomed `.old` directory) —
    // fail loudly instead; retry after the compaction publishes. The
    // pre-check rejects the common case; the POST-check NARROWS the
    // check-then-act window but is best-effort, not airtight: a
    // compaction that acquires the sentinel AND fully publishes
    // (sentinel removed) inside our write's window passes both checks
    // while the appended files were discarded with `.old`. Conversely,
    // when the post-check DOES fire, the racing compaction's read may
    // already have included our fresh files — blind re-append would
    // then duplicate rows. So the error below tells the caller to
    // VERIFY presence after the compaction publishes, not to blindly
    // re-append. A full fix needs a compare-and-swap manifest or an
    // append-side sentinel the compactor respects.
    def inFlight(): Boolean = fs.exists(compactSentinel(name))
    if (inFlight())
      throw new IllegalStateException(
        s"append to '$name' rejected: compaction in flight " +
          s"(${compactSentinel(name)} present)")
    rows.write.mode("append").parquet(path(name))
    if (inFlight())
      throw new IllegalStateException(
        s"append to '$name' raced a concurrent compaction: the appended " +
          "rows may be discarded by its swap, OR may already be part of " +
          "its compacted output — after it publishes, VERIFY whether the " +
          "rows are present before re-appending (a blind re-append can " +
          s"duplicate them) (${compactSentinel(name)} present)")
  }

  /** Marker file held for the duration of a [[compactLog]] stage-and-
    * swap; [[append]] and a second compactor refuse while it exists. */
  private def compactSentinel(name: String): HPath =
    new HPath(s"${path(name)}._compacting")

  /** On-disk MVCC log compaction — the reference's maintenance job
    * (src/storage/log_file/log_compaction.rs:9-64: rewrite the log file
    * with the settled prefix collapsed) as a one-call catalog op over a
    * [[graft.mvcc.LogTable]]-shaped parquet table: compute the
    * compacted log ([[graft.mvcc.LogTable.compact]] — keep-newest-
    * committed, drop tombstoned/aborted history, preserve in-flight and
    * future entries verbatim), stage it into a sibling directory, then
    * swap it in with [[publish]]. The staging write fully materializes
    * the compacted rows BEFORE anything touches the live directory, so
    * a crash during the write leaves the table untouched. Like the
    * reference's compaction, the job assumes EXCLUSIVE WRITE ACCESS to
    * the table (concurrent appends during the swap would land in the
    * doomed old directory); concurrent READERS of an already-opened
    * DataFrame may need to re-open after the swap (parquet scans resolve
    * files lazily).
    * Returns the number of reclaimed log entries. */
  def compactLog(name: String, asOf: Long): Long = {
    // single-writer guard: atomic create (overwrite=false) — exactly
    // one compactor can hold the sentinel; appends refuse while it
    // exists ([[append]]), so no row can land in the doomed `.old`
    // directory and be silently deleted with it. Removed on publish
    // (and on failure — the documented crash-recovery states are
    // unchanged; a crashed JVM leaves a stale sentinel to delete by
    // hand along with the `.old`/stage remnants it already documents).
    require(exists(name), s"collection '$name' does not exist")
    val sentinel = compactSentinel(name)
    val acquired =
      try { fs.create(sentinel, false).close(); true }
      catch { case _: java.io.IOException => false }
    if (!acquired) throw new IllegalStateException(
      s"compactLog('$name') rejected: another compaction holds $sentinel")
    // release the sentinel on success and on any failure that leaves
    // the LIVE directory in place; if the crash window between the two
    // renames hit (live moved aside, publish failed), KEEP it — an
    // append against the missing live dir would silently recreate an
    // empty table, which is exactly the state the guard exists to
    // block. Recovery: restore `<name>.parquet` from `.old` by hand,
    // then delete the sentinel.
    try {
      val log = table(name)
      val before = log.count()
      val staging = new HPath(s"${path(name)}.compact-stage")
      fs.delete(staging, true)
      graft.mvcc.LogTable.compact(log, asOf).write.parquet(staging.toString)
      val after = spark.read.parquet(staging.toString).count()
      publish(name, staging, "compactLog")
      before - after
    } finally if (exists(name)) fs.delete(sentinel, false)
  }

  /** Swap a fully written `staging` directory in as `name`'s live
    * directory: the live dir is moved aside to `<path>.old`, the staging
    * renamed to the table path, then the old data deleted. Readers never
    * see a partial table; a crash between the two renames leaves the
    * table absent but the old data recoverable at `<path>.old`, never a
    * half-written mix. `op` names the caller in the failure messages. */
  private def publish(name: String, staging: HPath, op: String): Unit = {
    val live = new HPath(path(name))
    val old = new HPath(s"${path(name)}.old")
    fs.delete(old, true)
    require(fs.rename(live, old), s"$op: could not move $live aside")
    require(fs.rename(staging, live),
      s"$op: could not publish $staging (old data at $old)")
    fs.delete(old, true)
  }

  /** Hive-style partitioned write — the working analogue of the
    * reference's index stubs (src/collection/indexes/, all no-ops):
    * partition directories give partition *pruning* (the scan's
    * PartitionFilters), the reference's intended index-seek capability,
    * at any scale. Choose low-cardinality columns (date, category); at
    * 100 TB this is the difference between scanning a day and a year.
    */
  def writePartitioned(name: String, rows: DataFrame, partitionCols: String*): Unit =
    rows.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path(name))

  /** Z-ordered write — multi-dimensional data skipping for range
    * predicates (see [[graft.functions.ZOrder]]): rows are
    * range-partitioned and sorted by the Morton interleave of the two
    * dimensions, so every written file's parquet footer carries tight
    * min/max on BOTH columns and a box predicate skips whole row groups
    * in each. The read path is plain [[table]] — the skipping is the
    * parquet reader's own predicate pushdown against the footer stats;
    * no special scan API, no extra metadata. One metadata-scale agg
    * computes the global ranges at write time.
    *
    * `nFiles` bounds the layout's granularity: production tables size
    * it as dataBytes / targetRowGroupBytes; the skipping ratio
    * approaches (selectivity₁ × selectivity₂) as granularity grows.
    */
  def writeZOrdered(name: String, rows: DataFrame, c1: String, c2: String,
      nFiles: Int = 16): Unit =
    writeZOrderedN(name, rows, Seq(c1, c2), nFiles)

  /** N-dimensional [[writeZOrdered]]: cluster by the Morton interleave
    * of any number of numeric columns (per-dimension precision tapers —
    * [[graft.functions.ZOrder.bitsFor]] — so the z-value stays in a
    * long). Columns named in `rankCols` are mapped through QUANTILE
    * cells instead of linear min/max scaling
    * ([[graft.functions.ZOrder.cellByBoundaries]]): for a skewed
    * dimension (heavy-tailed values, hot keys) linear cells collapse —
    * most rows land in a couple of cells and the curve stops skipping
    * on that dimension — while quantile cells hold near-equal row
    * counts by construction. Write-time cost: one metadata-scale agg
    * for the linear ranges plus one `approxQuantile` pass per rank
    * column; the driver holds only the boundary arrays (≤ 255 doubles
    * each). */
  def writeZOrderedN(name: String, rows: DataFrame, cols: Seq[String],
      nFiles: Int = 16, rankCols: Set[String] = Set.empty): Unit = {
    import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
    import graft.functions.ZOrder
    require(cols.nonEmpty, "writeZOrderedN needs at least one column")
    val bits = ZOrder.bitsFor(cols.size)
    val linear = cols.filterNot(rankCols)
    val ranges: Map[String, (Double, Double)] =
      if (linear.isEmpty) Map.empty
      else {
        val aggs = linear.flatMap(c => Seq(
          fmin(col(c).cast("double")), fmax(col(c).cast("double"))))
        val r = rows.agg(aggs.head, aggs.tail: _*).head
        linear.zipWithIndex.map { case (c, i) =>
          require(!r.isNullAt(2 * i),
            s"writeZOrderedN needs at least one non-null value in '$c'")
          c -> (r.getDouble(2 * i), r.getDouble(2 * i + 1))
        }.toMap
      }
    val cells = cols.map { c =>
      if (rankCols(c)) {
        val nb = math.min(bits, 8) // ≤ 255 boundaries; pruning granularity
        val probs = (1 until (1 << nb)).map(_.toDouble / (1 << nb)).toArray
        val bounds = rows.stat.approxQuantile(c, probs, 0.001).toSeq
        // align quantile cells to the high bits so each dimension spans
        // the same [0, 2^bits) range in the interleave
        org.apache.spark.sql.functions.shiftleft(
          ZOrder.cellByBoundaries(col(c), bounds), bits - nb)
      } else {
        val (lo, hi) = ranges(c)
        ZOrder.cellBits(col(c), lo, hi, bits)
      }
    }
    rows.withColumn("__z", ZOrder.interleaveN(cells, bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path(name))
  }

  /** Bucketed write — the co-located-join answer to the reference's hash
    * index stub (src/collection/indexes/hash.rs:10-18, a no-op): rows are
    * hash-partitioned into a fixed number of buckets *at write time*, so
    * a later equi-join or aggregation on the bucket key needs NO shuffle
    * at all (the scan's output partitioning already satisfies the join's
    * distribution requirement — see PlanAuditSpec).
    *
    * At 100 TB this is the single biggest lever for a repeatedly-joined
    * fact table: the shuffle is paid once at ingest, never per query.
    * Both join sides must share the bucket column(s) and bucket count.
    *
    * Namespacing: the session-catalog registration is PER-CATALOG — the
    * registered identifier is `name` suffixed with a hash of this
    * Catalog's `dir` ([[bucketedName]]), so two Catalogs sharing one
    * SparkSession can never collide on equal table names; all
    * bucketed-API methods resolve through the same mapping, and
    * [[bucketedTable]] additionally verifies the registration's
    * location is this catalog's path (a stale or foreign registration
    * fails loudly instead of silently serving another dir's data).
    *
    * Cross-session persistence: the layout is SELF-DESCRIBING — the
    * write drops a `_graft_buckets.json` sidecar (bucket count/columns/
    * sort order) inside the table directory, and [[bucketedTable]] /
    * [[bucketedExists]] re-register the external table from the sidecar
    * when the session catalog has no registration (a later session, a
    * restarted cluster). Re-registration is metadata-only DDL
    * (`CREATE TABLE ... CLUSTERED BY ... LOCATION`) — no data moves, and
    * "shuffle paid once at ingest" now genuinely means ONCE, across
    * sessions, with no external metastore required. (Spark derives the
    * bucket id of each file from its `_0000N` filename suffix, so
    * metadata re-attachment is all that's needed.)
    */
  def writeBucketed(name: String, rows: DataFrame, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    // crash-safety ordering: drop any previous sidecar FIRST and re-create
    // it only after the data write completes. A crash mid-write then leaves
    // a directory with no sidecar — later sessions degrade to the safe
    // plain-parquet path — instead of a stale sidecar describing new data
    // (wrong bucket count ⇒ Spark silently drops files whose filename
    // bucket id >= numBuckets and trusts a layout that isn't there).
    fs.delete(bucketSpecPath(name), false)
    val w = rows.write.mode("overwrite").format("parquet")
      .option("path", path(name))
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(bucketedName(name))
    writeBucketSpec(name,
      Catalog.BucketSpec(buckets, bucketCols, sortCols,
        nFiles = Some(dataFileCount(name))))
  }

  /** Append rows into an existing bucketed table, PRESERVING the bucket
    * layout: the append is written with the sidecar's exact bucket
    * count/columns/sort (Spark rejects a mismatched spec), producing new
    * per-bucket files next to the old ones — co-location survives, no
    * existing data is rewritten. This is what makes a bucketed table an
    * incrementally-maintainable INDEX (e.g.
    * [[graft.ops.TextDedup.appendToSignatureIndex]]) rather than a
    * build-once artifact.
    *
    * Crash safety follows [[writeBucketed]]'s ordering: the sidecar is
    * deleted before data lands and rewritten (with the new file count)
    * only after — a crash mid-append leaves a sidecar-less directory
    * that degrades to the plain-parquet path instead of a stale spec
    * whose file count no longer matches. */
  def appendBucketed(name: String, rows: DataFrame): Unit = {
    val spec = readBucketSpec(name).getOrElse(throw new IllegalStateException(
      s"no bucket sidecar for '$name' — writeBucketed must run first"))
    if (!spark.catalog.tableExists(bucketedName(name))) restoreBucketed(name)
    fs.delete(bucketSpecPath(name), false)
    val w = rows.write.mode("append").format("parquet")
      .bucketBy(spec.buckets, spec.bucketCols.head, spec.bucketCols.tail: _*)
    (if (spec.sortCols.nonEmpty)
       w.sortBy(spec.sortCols.head, spec.sortCols.tail: _*)
     else w)
      .saveAsTable(bucketedName(name))
    writeBucketSpec(name, spec.copy(nFiles = Some(dataFileCount(name))))
  }

  /** Fold a bucketed table's accumulated append files back into
    * `buckets`-sized files — the small-file maintenance job every
    * appendable layout needs ([[appendBucketed]] adds files per batch;
    * at one batch per hour a year of ingest is ~9k files per bucket,
    * and scan/open overhead eats the layout's benefit). The rewrite
    * repartitions ON the bucket columns into exactly `buckets`
    * partitions, so each write task holds one bucket and the compacted
    * table is one file per bucket.
    *
    * The compacted copy is staged as a sibling directory and swapped in
    * by [[publish]]. The sidecar travels inside the staged directory,
    * so the cross-session restore contract is never stale. Returns
    * files-before − files-after. */
  def compactBucketed(name: String): Int = {
    val spec = readBucketSpec(name).getOrElse(throw new IllegalStateException(
      s"no bucket sidecar for '$name' — nothing to compact"))
    val before = dataFileCount(name)
    refreshBucketed(name)
    val stagingCat = Catalog(spark, s"$dir/.compact_$name")
    fs.delete(new HPath(stagingCat.dir), true)
    // tombstone-aware: compaction is where recorded deletes become
    // physical — the rewrite excludes tombstoned keys and the sidecar
    // is dropped after the swap (probe-time anti-joins stop paying)
    stagingCat.writeBucketed(name,
      minusTombstones(name, bucketedTable(name))
        .repartition(spec.buckets, spec.bucketCols.map(col): _*),
      spec.buckets, spec.bucketCols, spec.sortCols)
    stagingCat.dropBucketed(name) // staging registration, never served
    dropBucketed(name) // re-registered from the swapped-in sidecar on next read
    publish(name, new HPath(stagingCat.path(name)), "compactBucketed")
    fs.delete(new HPath(stagingCat.dir), true)
    if (hasTombstones(name)) drop(tombstoneName(name))
    before - dataFileCount(name)
  }

  // ---- tombstone lifecycle (index delete path) --------------------------

  /** The tombstone sidecar table for `name` — the index tier's mirror
    * of the log tier's delete semantics (the reference's storage half
    * is tombstone+compaction-centric, src/storage/log_file/
    * log_compaction.rs:9-64; [[graft.mvcc.LogTable]] carries it for
    * row data): an appendable index (postings, PQ codes, signatures)
    * can't rewrite its frozen files per delete, so deletes are
    * RECORDED here, applied at probe time ([[minusTombstones]] — a
    * broadcast anti-join on the sidecar's key columns), and made
    * physical by compaction ([[compactBucketed]] /
    * [[rewriteExcludingTombstones]], which drop the sidecar after the
    * swap).
    *
    * Two delete modes, selected by the data:
    *  - KEY tombstones (no `gen` column): a tombstoned key stays dead
    *    even if re-appended later — the grave wins until compaction
    *    clears it; re-adding a deleted id is a compact-first contract,
    *    documented at the delete APIs.
    *  - GENERATION-stamped tombstones (both the index rows and the
    *    grave rows carry a `gen` column, minted by [[nextGen]]): a
    *    grave kills only row generations ≤ its own, so
    *    delete → re-append SERVES the new rows correctly with no
    *    compaction — the old physical rows stay suppressed (their gen
    *    is at or below the grave's) while the re-added batch's higher
    *    gen rides above it. The scored-postings tier uses this mode
    *    ([[graft.ops.CorpusOps.deleteFromScoredPostings]]); at 100 TB
    *    it turns "undo one takedown" from a full-index rewrite into
    *    one append. */
  def tombstoneName(name: String): String = s"${name}_tombstones"

  // ---- write-generation counter (generation-stamped delete mode) -------

  /** Monotonic per-table write-generation counter, persisted as a tiny
    * `.gen_<name>` file NEXT TO the table directory (outside it — a
    * `mode=overwrite` rewrite or compaction directory swap must not
    * reset the clock). Single-writer, like [[append]]. The counter
    * only ever needs monotonicity, so surviving a [[drop]] is
    * harmless. */
  def currentGen(name: String): Long = {
    val p = genPath(name)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      val txt =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      // A torn counter must FAIL LOUDLY, never default: parsing "" or a
      // partial write as 0 would reset the gen clock and silently
      // resurrect every tombstoned row (graves kill gens ≤ their own).
      // With the atomic publish in [[nextGen]] this can only be a file
      // written by a pre-r17 build that crashed mid-create.
      require(txt.nonEmpty && txt.forall(_.isDigit),
        s"corrupt generation counter $p: '$txt' — restore it to the " +
          "last minted gen (or any larger value); defaulting to 0 would " +
          "resurrect tombstoned rows")
      txt.toLong
    }
  }

  /** Mint the next write generation for `name` (1, 2, 3, …).
    *
    * Crash-safe: the counter is staged to a temp file and published with
    * an ATOMIC overwrite-rename ([[org.apache.hadoop.fs.FileContext]]
    * gives rename-with-overwrite on both HDFS and the local fs — plain
    * `FileSystem.rename` can't replace an existing destination). A kill
    * at any point leaves either the old counter or the new one, never a
    * truncated file that would reset the gen clock — the pre-r17
    * `fs.create(overwrite)` truncated FIRST and wrote SECOND, so a
    * mid-write crash (or a concurrent [[currentGen]] read — the
    * streaming ingest/takedown twin-writer case) could observe ''.
    *
    * Still a read-modify-write: two concurrent minters can both read g
    * and both publish g+1 (last rename wins, atomically). Writers that
    * share one index must serialize minting — [[graft.streaming
    * .EventStreams.vectorDeleteStream]] does this by capturing its gen
    * at enqueue time instead of minting in the sink. */
  def nextGen(name: String): Long = {
    val g = currentGen(name) + 1L
    val tmp = new HPath(dir, s".gen_$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(g.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, genPath(name),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    g
  }

  private def genPath(name: String): HPath = new HPath(dir, s".gen_$name")

  def hasTombstones(name: String): Boolean = exists(tombstoneName(name))

  /** Record deletes for `name`: `ids`' columns ARE the join key at
    * probe/compact time (single `doc_id`/`vec_id` column by
    * convention), so they must be columns of the target table. */
  def addTombstones(name: String, ids: DataFrame): Unit = {
    val tn = tombstoneName(name)
    if (!exists(tn)) createNew(tn, ids.schema)
    append(tn, ids)
  }

  /** `rows` minus `name`'s tombstoned keys — identity when no sidecar
    * exists. The sidecar is usually deletes-sized (tiny next to the
    * index), so the join broadcasts and the index side's bucket pruning
    * / pushed filters are unaffected (Catalyst pushes the probe's own
    * predicates below this join).
    *
    * Mode selection (see [[tombstoneName]]): when BOTH the grave rows
    * and `rows` carry a `gen` column, a grave kills only generations
    * ≤ its own max — the filter is a left join against the per-key
    * max-grave-gen frame; otherwise the classic key anti-join (grave
    * wins until compaction).
    *
    * Broadcast bound: "deletes-sized" holds for takedowns, but a
    * GDPR-scale purge or a dedup drop-set over a 100 TB corpus is
    * millions of keys — an unconditional `broadcast()` hint there is a
    * driver OOM. The sidecar's row count (one metadata-cheap parquet
    * footer count, cached per (catalog, sidecar-mtime)) gates the hint:
    * at or under `broadcastMaxRows` (default 1M keys ≈ tens of MB
    * broadcast) the grave frame broadcasts; above it the hint is
    * dropped and AQE/Catalyst pick the join (shuffle anti-join) —
    * correct at any size, and [[shouldCompactBucketed]]'s tombstone
    * trigger will have long since asked for compaction anyway. */
  def minusTombstones(name: String, rows: DataFrame,
      broadcastMaxRows: Long = Catalog.TombstoneBroadcastMaxRows): DataFrame =
    if (!hasTombstones(name)) rows
    else {
      val F = org.apache.spark.sql.functions
      val tn = tombstoneName(name)
      val ts = table(tn)
      val small = tombstoneCountCached(tn) <= broadcastMaxRows
      def hint(df: DataFrame): DataFrame = if (small) F.broadcast(df) else df
      val keyCols = ts.columns.filterNot(_ == "gen").toSeq
      if (ts.columns.contains("gen") && rows.columns.contains("gen")) {
        val graves = ts.groupBy(keyCols.map(F.col): _*)
          .agg(F.max(F.col("gen")).as("__grave_gen"))
        rows.join(hint(graves), keyCols, "left")
          .filter(F.col("__grave_gen").isNull ||
            F.col("gen") > F.col("__grave_gen"))
          .drop("__grave_gen")
      } else {
        val keys = ts.select(keyCols.map(F.col): _*).distinct()
        rows.join(hint(keys), keyCols, "left_anti")
      }
    }

  /** Sidecar row count for the broadcast gate, keyed by the sidecar
    * dir's modification time so appends/compactions invalidate it —
    * without the cache every probe of a tombstoned index would pay a
    * count job per [[minusTombstones]] call. */
  private def tombstoneCountCached(tn: String): Long = {
    val mtime = fs.getFileStatus(new HPath(path(tn))).getModificationTime
    val key = (path(tn), mtime)
    Catalog.tombstoneCounts
      .computeIfAbsent(key, _ => Long.box(table(tn).count())).longValue()
  }

  /** Rewrite a PLAIN (non-bucketed) table without its tombstoned rows
    * and drop the sidecar — the compact job for un-bucketed index
    * tables (PQ codes), staged and swapped in by [[publish]]. Returns
    * the number of rows removed; no-op (0) without a sidecar.
    * Single-writer: concurrent appends during the rewrite follow the
    * same caveat as [[append]]+[[compactLog]]. */
  def rewriteExcludingTombstones(name: String): Long = {
    if (!hasTombstones(name)) return 0L
    val before = table(name).count()
    val staging = s"$dir/.compact_$name"
    fs.delete(new HPath(staging), true)
    minusTombstones(name, table(name))
      .write.mode("overwrite").parquet(staging)
    publish(name, new HPath(staging), "rewriteExcludingTombstones")
    drop(tombstoneName(name))
    before - table(name).count()
  }

  /** Collapse a streaming ingest's `{index}_hwm` batch-id marker table
    * to its single max row. The marker gains one parquet append per
    * micro-batch forever and is re-scanned with max(batch_id) on every
    * batch — unbounded growth the index compactions must fold back,
    * exactly as they fold the stats sidecar (the r15 ADVICE gap).
    * No-op when the table doesn't exist (batch-built index, no
    * streaming ingest yet). */
  def collapseHwm(name: String): Unit = if (exists(name)) {
    val r = table(name)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("batch_id"))).head()
    if (!r.isNullAt(0)) {
      import spark.implicits._
      val one = Seq(r.getLong(0)).toDF("batch_id")
      // Staged swap, NOT drop-then-rewrite: a crash between a drop and
      // the re-append would erase the replay high-water mark entirely,
      // so a later at-least-once replay of an already-committed batch
      // would pass the hwm guard and re-append its rows — the exact
      // duplication the hwm exists to prevent, introduced by the
      // maintenance op itself. [[publish]]'s only crash window is
      // between the two renames, which leaves the old marker intact at
      // `<path>.old` instead of gone.
      val staging = s"$dir/.collapse_$name"
      fs.delete(new HPath(staging), true)
      one.coalesce(1).write.mode("overwrite").parquet(staging)
      publish(name, new HPath(staging), "collapseHwm")
    }
  }

  /** Maintenance trigger for appendable bucketed layouts — the
    * bucketed-index analogue of [[graft.mvcc.LogTable.shouldCompact]]'s
    * redundancy trigger: compact when EITHER append-accumulated small
    * files exceed `maxFilesPerBucket` per bucket (scan/open overhead
    * eats the layout's benefit) OR recorded deletes reach
    * `maxTombstones` (every probe pays the anti-join until compaction
    * makes them physical). Both signals are metadata-cheap: one
    * directory listing + one deletes-sized count. Policy only — the
    * caller schedules [[compactBucketed]] (or the index-specific
    * wrapper) when this fires. */
  def shouldCompactBucketed(name: String, maxFilesPerBucket: Int = 8,
      maxTombstones: Long = 10000L): Boolean =
    readBucketSpec(name).exists { spec =>
      dataFileCount(name) > spec.buckets.toLong * maxFilesPerBucket ||
        (hasTombstones(name) &&
          table(tombstoneName(name)).count() >= maxTombstones)
    }

  /** Data files (non-underscore-prefixed, what Spark's file index sees)
    * currently in `name`'s directory. */
  private def dataFileCount(name: String): Int =
    fs.listStatus(new HPath(path(name)))
      .count(st => !st.getPath.getName.startsWith("_"))

  /** The session-catalog identifier [[writeBucketed]] registers `name`
    * under: suffixed with an 8-hex-digit md5 of this catalog's `dir`.
    * Deterministic (same dir ⇒ same identifier across Catalog instances
    * and sessions) and collision-free across dirs. */
  def bucketedName(name: String): String = s"${name}_g$dirHash"

  private lazy val dirHash: String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  /** Whether `name` is available as a bucketed table: registered in this
    * session by [[writeBucketed]], OR restorable from an earlier
    * session's on-disk sidecar. */
  def bucketedExists(name: String): Boolean =
    spark.catalog.tableExists(bucketedName(name)) ||
      readBucketSpec(name).isDefined

  /** Re-attach bucket metadata written by an earlier session: read the
    * `_graft_buckets.json` sidecar and register the external table with
    * the recorded CLUSTERED BY / SORTED BY spec. Metadata-only; returns
    * false when no sidecar exists (nothing to restore). */
  def restoreBucketed(name: String): Boolean =
    readBucketSpec(name).exists { spec =>
      // sidecar/data consistency gate: every bucketed data file carries its
      // bucket id as a `_NNNNN` filename suffix, and Spark silently DROPS
      // files whose id >= the registered bucket count — a sidecar that
      // disagrees with the files (crash between data and sidecar writes,
      // manual copy) must fail loudly, not serve a fraction of the table.
      val idRe = "_(\\d{5})\\.".r
      val maxId = fs.listStatus(new HPath(path(name))).iterator
        .map(_.getPath.getName)
        .flatMap(n => idRe.findFirstMatchIn(n).map(_.group(1).toInt))
        .foldLeft(-1)(math.max)
      require(maxId < spec.buckets,
        s"bucket sidecar for '$name' declares ${spec.buckets} buckets but a " +
          s"data file has bucket id $maxId — stale sidecar; re-run writeBucketed")
      // ... and the reverse direction — a sidecar declaring MORE buckets
      // than the data was written with passes the maxId gate, so the
      // write also records the directory's data-file count and restore
      // requires it unchanged (a manually assembled or partially copied
      // directory fails loudly instead of being served under a bucket
      // layout that isn't there). Sidecars from older writes carry no
      // count and keep the maxId-only gate.
      spec.nFiles.foreach { n =>
        val actual = dataFileCount(name)
        require(actual == n,
          s"bucket sidecar for '$name' was written over $n data files but " +
            s"the directory now has $actual — stale or manually assembled " +
            "layout; re-run writeBucketed")
      }
      def q(c: String) = "`" + c.replace("`", "``") + "`"
      val sorted =
        if (spec.sortCols.isEmpty) ""
        else s" SORTED BY (${spec.sortCols.map(q).mkString(", ")})"
      // IF NOT EXISTS: two threads of one session may race to restore the
      // same published layout (parallel Verify dumps probing a shared
      // index) — the registration is idempotent metadata, so losing the
      // race must be a no-op, not a TableAlreadyExists failure.
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS ${bucketedName(name)} (${table(name).schema.toDDL})
           | USING parquet
           | CLUSTERED BY (${spec.bucketCols.map(q).mkString(", ")})$sorted
           | INTO ${spec.buckets} BUCKETS
           | LOCATION '${path(name)}'""".stripMargin)
      true
    }

  /** Scan a bucketed table (registered in the session catalog by
    * [[writeBucketed]], or auto-restored from the on-disk sidecar when
    * this session has no registration — see [[restoreBucketed]]).
    * Fails loudly if the registration under this catalog's identifier
    * points outside this catalog's directory. */
  def bucketedTable(name: String): DataFrame = {
    val qn = bucketedName(name)
    if (!spark.catalog.tableExists(qn)) restoreBucketed(name)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(qn))
    val got = new HPath(meta.location)
    val expected = got.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new HPath(path(name)))
    require(got == expected,
      s"bucketed table '$qn' is registered at $got, not this catalog's $expected " +
        "— stale or foreign registration; re-run writeBucketed")
    spark.table(qn)
  }

  /** Drop this session's cached file listing of bucketed `name`. Spark
    * caches a table's resolved relation, listing included, per session,
    * so a long-lived session (a stream's cloned session) would miss rows
    * another session appended since, and would fail to open files a
    * compaction replaced. The next read lists the directory afresh.
    * Writers that read the table call this first; probes do not. */
  private[graft] def refreshBucketed(name: String): Unit =
    spark.sessionState.catalog.invalidateCachedTable(
      org.apache.spark.sql.catalyst.TableIdentifier(bucketedName(name)))

  /** Drop a bucketed table's session-catalog registration (the data —
    * including the bucket-spec sidecar, so a later session can still
    * [[restoreBucketed]] — is external and stays; use [[drop]] for the
    * data). */
  def dropBucketed(name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${bucketedName(name)}")

  // Bucket-spec sidecar: a `_graft_buckets.json` file INSIDE the table
  // directory (underscore-prefixed ⇒ invisible to Spark's file index,
  // like _SUCCESS), so the bucketing contract travels with the data.
  private def bucketSpecPath(name: String): HPath =
    new HPath(path(name), "_graft_buckets.json")

  private def writeBucketSpec(name: String, spec: Catalog.BucketSpec): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val out = fs.create(bucketSpecPath(name), true)
    try out.write(org.json4s.jackson.Serialization.write(spec)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readBucketSpec(name: String): Option[Catalog.BucketSpec] = {
    val p = bucketSpecPath(name)
    if (!fs.exists(p)) None
    else {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val in = fs.open(p)
      val body =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      Some(org.json4s.jackson.Serialization.read[Catalog.BucketSpec](body))
    }
  }

  /** Read a named table stored in an alternate format ("csv", "json",
    * "orc", ...) — beyond-reference breadth: the reference's only format
    * is its own log encoding; a lake engine must also ingest text
    * formats. Always pass an explicit schema for text formats: inference
    * costs an extra full scan and guesses types — never at 100 TB.
    * CSV defaults to header=true so round-trips preserve column names.
    */
  def tableAs(name: String, format: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read.format(format)
      .options(defaultFormatOptions(format) ++ options)
    schema.fold(base)(base.schema).load(formatPath(name, format))
  }

  /** Write a named table in an alternate format (see [[tableAs]]). */
  def writeAs(name: String, rows: DataFrame, format: String,
      options: Map[String, String] = Map.empty): Unit =
    rows.write.mode("overwrite").format(format)
      .options(defaultFormatOptions(format) ++ options)
      .save(formatPath(name, format))

  private def formatPath(name: String, format: String): String =
    s"$dir/$name.$format"

  private def defaultFormatOptions(format: String): Map[String, String] =
    if (format == "csv") Map("header" -> "true") else Map.empty

  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).sameElements(
      b.fields.map(f => (f.name, f.dataType)))
}

object Catalog {
  /** The under-split guard behind [[Catalog.tableRebalanced]], usable on
    * any DERIVED frame feeding compute-heavy per-row work (image decode,
    * hashing, vector math): if the frame offers fewer partitions than
    * the cluster's parallelism — one giant gzip, a single parquet row
    * group — every map phase downstream runs near-serial no matter how
    * many executors exist, so rebalance once BEFORE the heavy work.
    * No-op whenever the frame is already well-split (any healthy 100 TB
    * layout), so production plans are unchanged. ONE copy of the policy
    * — call-site duplicates drift (r17 ADVICE). */
  def rebalanced(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** On-disk description of a bucketed layout (the sidecar's JSON shape).
    * `nFiles` = data-file count at write time, the restore-time
    * consistency witness (None in sidecars from older writes). */
  final case class BucketSpec(
      buckets: Int, bucketCols: Seq[String], sortCols: Seq[String],
      nFiles: Option[Int] = None)

  /** The driver-generated TPC-H-ish fixture tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Default tombstone-sidecar size above which [[Catalog.minusTombstones]]
    * stops hinting `broadcast()` — ~1M single-key rows is tens of MB
    * on the wire, the conventional ceiling for a useful broadcast. */
  val TombstoneBroadcastMaxRows: Long = 1000000L

  /** (sidecar path, dir mtime) → row count, for the broadcast gate. */
  private[catalog] val tombstoneCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()
}
