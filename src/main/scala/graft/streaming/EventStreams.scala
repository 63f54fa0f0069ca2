package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{TextFunctions => TF}
import graft.ops.{CorpusOps => CO}

/** Structured Streaming surface over the `events` table shape —
  * the streaming capability the reference only roadmaps (its `spools` /
  * streaming modules are empty stubs; reference README.md:84-88).
  *
  * Batch/stream parity: every transform here is the streaming twin of a
  * batch query in [[graft.ExtensionQueries]] (x15 tumbling windows, x16
  * sessionization), so correctness is oracle-checked on the batch side
  * and the streaming side is spec-checked for incremental semantics
  * (watermark, late-data drop, stateful sessions).
  *
  * Scale notes (100 TB/day ingest): state is keyed by (window) or
  * (user, session) — partitioned by key across executors; watermarks
  * bound state size; output mode Append emits finalized windows only,
  * so downstream sinks see immutable facts.
  */
object EventStreams {

  /** events.parquet surfaces `ts` as raw ns (nanosAsLong); convert to a
    * proper timestamp for event-time semantics. Division goes through
    * decimal so it is EXACT — `/` on a long column coerces to double,
    * and epoch-ns values (~1.7e18) exceed 2^53, where the long→double
    * conversion alone can shift by ~128 ns and floor into the wrong
    * microsecond (diverging from the batch twins' integer `ts div`). */
  def tsFromNs(nsCol: Column): Column =
    timestamp_micros((nsCol.cast("decimal(28,0)") / lit(1000)).cast("long"))

  /** Event-time column for a frame whose `ts` may be raw long ns OR a
    * native (NTZ) timestamp — newer testdata generations ship
    * TIMESTAMP(MICROS) ([[graft.functions.EventTime]] normalizes to ns,
    * then the exact decimal ns→µs division above applies). Branches on
    * the static schema, so it works identically on streaming frames. */
  private def eventTime(df: DataFrame, name: String = "ts"): Column =
    tsFromNs(graft.functions.EventTime.nanosCol(df.schema(name).dataType, col(name)))

  /** `df` with its event-time column and watermark — every windowed
    * stream's preamble. */
  private def watermarked(df: DataFrame, watermarkDelay: String): DataFrame =
    df.withColumn("event_time", eventTime(df))
      .withWatermark("event_time", watermarkDelay)

  /** Tumbling event-time window counts with watermark — the streaming
    * twin of batch x15_events_window. */
  def tumblingCounts(
      events: DataFrame,
      windowDur: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    watermarked(events, watermarkDelay)
      .groupBy(window(col("event_time"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Native session windows (30-min gap) — the declarative form of
    * batch x16_sessionize. */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    watermarked(events, watermarkDelay)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming exact-dedup at ingest — the streaming twin of batch
    * x04_dedup_exact: drop any row whose fingerprint column was already
    * seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keeps per-key state only until the
    * watermark passes it (bounded state); plain `dropDuplicates` state
    * grows forever — at 100 TB/day ingest the bounded form is the only
    * viable one, with the batch dedup (x04) as the periodic backstop for
    * duplicates farther apart than the horizon.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      fpCol: String,
      watermarkDelay: String = "2 hours"): DataFrame =
    watermarked(events, watermarkDelay)
      .dropDuplicatesWithinWatermark(fpCol)

  /** Stream-stream interval join, watermarked on BOTH sides: each left
    * row joins right rows of the same user within the preceding
    * `interval` — the realtime attribution shape (click ⋈ recent
    * purchases). The time bound + watermarks let Spark evict join state
    * on both sides; an unbounded stream-stream join would hold every row
    * forever. Right-side columns other than (user_id, ts) ride along and
    * must not collide with left-side names.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      interval: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val l = left
      .withColumn("l_time", eventTime(left))
      .withWatermark("l_time", watermarkDelay)
      .drop("ts")
    val r = right
      .withColumnRenamed("user_id", "r_user_id")
      .withColumn("r_time", eventTime(right))
      .withWatermark("r_time", watermarkDelay)
      .drop("ts")
    l.join(r, expr(
      s"user_id = r_user_id AND " +
        s"r_time >= l_time - INTERVAL $interval AND r_time <= l_time"))
      .drop("r_user_id")
  }

  /** Streaming corpus ingest into an MVCC log table — the
    * continuous-crawl composition (streaming twin of batch
    * x32_ingest_dedup): each micro-batch is (a) deduped against the
    * CURRENT committed snapshot's content fingerprints (anti-join),
    * (b) appended as upserts under a fresh per-batch txn, (c) committed
    * with a marker — so `LogTable.snapshot` readers see each batch
    * atomically and re-crawled duplicates never enter the log, while a
    * re-crawl of a known id with NEW content lands as a new version.
    *
    * foreachBatch is the right tool: the dedup needs the log's current
    * state, which a pure streaming sink can't read. Txn ids derive from
    * the batch id (monotone, replay-safe: a restarted batch re-appends
    * under the SAME txn and the snapshot window dedups by (rid, txn)).
    *
    * 100 TB/day shape: the anti-join is equi on the fingerprint —
    * broadcast when the batch is small; the snapshot read prunes to the
    * fp column only.
    */
  def ingestDedupToLog(incoming: DataFrame, logPath: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val txn = batchId + 1
        val fp = md5(TF.normText(col(textCol)))
        val fs = new org.apache.hadoop.fs.Path(logPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // intra-batch dedup FIRST (the snapshot anti-join only sees
        // prior batches): (a) one row per content fingerprint — keep
        // the min id, as batch x04; (b) one row per id — a crawler
        // emitting the same id twice in one batch has no defined order,
        // so the kept version is chosen deterministically by content
        // hash (callers with a real in-batch order should pre-dedup)
        val byFp = Window.partitionBy("fp").orderBy(col(idCol))
        val byId = Window.partitionBy(col(idCol)).orderBy(col("fp"))
        val withFp = batch.withColumn("fp", fp)
          .withColumn("__rf", row_number().over(byFp))
          .filter(col("__rf") === 1)
          .withColumn("__ri", row_number().over(byId))
          .filter(col("__ri") === 1)
          .drop("__rf", "__ri")
        val fresh =
          if (!fs.exists(new org.apache.hadoop.fs.Path(logPath))) withFp
          else {
            val existing = graft.mvcc.LogTable
              .snapshot(graft.catalog.Catalog.readParquet(spark, logPath),
                asOf = Long.MaxValue)
              .select(col("fp"))
            withFp.join(existing, Seq("fp"), "left_anti")
          }
        val entries = graft.mvcc.LogTable
          .upserts(fresh, txn, col(idCol))
          .unionByName(graft.mvcc.LogTable.commitMarker(spark, txn),
            allowMissingColumns = true)
        entries.write.mode("append").parquet(logPath)
      }
      .start()

  // ---- custom state: flatMapGroupsWithState sessionization ---------------

  case class Ev(user_id: Long, ts_ns: Long, event_type: String)
  case class SessState(startNs: Long, lastNs: Long, n: Int)
  case class Session(user_id: Long, start_ns: Long, end_ns: Long, n_events: Int)

  case class SigRow(doc_id: Long, sh: Long, event_time: java.sql.Timestamp,
      chunk: Int, cval: Long)
  // (doc_id, simhash, event-time ms) — newest first
  case class BucketState(members: List[(Long, Long, Long)])
  case class NearDup(a_id: Long, b_id: Long, hamming: Int)

  /** Milliseconds in a streaming duration string ("2 hours", "30
    * minutes") — the same interval syntax `withWatermark` accepts. */
  private def durationMs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"month-based durations are ambiguous: '$s'")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Streaming near-duplicate pair detection — the streaming twin of
    * batch [[graft.ops.TextDedup.simhashBandedPairs]] (x23), for
    * catching near-dups AT INGEST instead of in the periodic batch
    * sweep: each incoming doc's 60-bit SimHash splits into
    * `maxHamming + 1` pigeonhole chunks (any pair within `maxHamming`
    * differing bits shares ≥ 1 identical chunk — exact candidate
    * generation; `pairKeys = true` switches to the chunk-PAIR keys of
    * the batch x47 form, ~2^15-ary buckets for hot corpora; both key
    * derivations shared with the batch twin via
    * [[graft.ops.TextDedup.simhashKeyExprs]]); state is keyed by
    * (chunk, value) and holds the bucket's recent (doc_id, simhash)
    * members, so the verify is a per-candidate XOR/bit-count against
    * 8-byte signatures — no document text in state, ever.
    *
    * Horizon contract: among rows the stream ADMITS (event time >= the
    * watermark on arrival — Spark's standard late-data rule), a pair is
    * emitted iff the two docs' event times lie within `watermarkDelay`
    * of each other. The pairing test is |Δt| <= horizon in EVENT TIME on
    * the members themselves, and members are retained until they are
    * provably unpairable — past 2×horizon of their bucket's newest
    * member AND past horizon of the watermark — so batch boundaries and
    * watermark advancement timing never change the emitted set; only
    * Spark's admission rule (which is watermark-dependent by design)
    * does. Near-dups farther apart than the horizon are the batch
    * sweep's job — the same division of labor as
    * [[dedupWithinWatermark]].
    *
    * State bounds (both mandatory at 100 TB/day):
    *  - retention pruning as rows arrive (members kept at most 2×horizon
    *    behind their bucket's newest and at most horizon behind the
    *    watermark) bounds live members, and an event-time timeout (set
    *    to the newest retained member + horizon, never moved backwards
    *    by late rows) removes buckets that go idle;
    *  - `maxBucket` caps members per bucket (newest kept). A hot bucket
    *    (boilerplate simhash) degrades recall against its oldest
    *    members instead of growing state without bound.
    *
    * Output: one row per (bucket-collision, verified) pair, smaller id
    * first. A pair sharing several identical chunks is emitted once per
    * chunk — dedup downstream per sink (exactly the batch twin's
    * trailing `distinct()`; a second stateful op after
    * flatMapGroupsWithState is restricted, so it is not fused here).
    * Docs frame: (doc_id long, text string, ts long ns).
    */
  def nearDupPairsStream(docs: DataFrame, watermarkDelay: String = "2 hours",
      maxHamming: Int = 6, maxBucket: Int = 256, pairKeys: Boolean = false)(
      implicit spark: SparkSession): Dataset[NearDup] = {
    import spark.implicits._
    val horizonMs = durationMs(watermarkDelay)
    // pairKeys = the x47 chunk-pair refinement at ingest: ~2^15-ary
    // buckets instead of ~2^8.6-ary, so each bucket's member list stays
    // small on hot corpora (same exactness guarantee, same state shape;
    // key derivation shared with the batch twin so the two paths can
    // never disagree on the bucket space)
    val keyExprs = graft.ops.TextDedup.simhashKeyExprs(
      col("sh"), maxHamming, pairKeys)
    watermarked(docs, watermarkDelay)
      .select(col("doc_id"),
        TF.simhashFast(col("text")).as("sh"),
        col("event_time"))
      .select(col("doc_id"), col("sh"), col("event_time"),
        posexplode(array(keyExprs: _*)).as(Seq("chunk", "cval")))
      .as[SigRow]
      .groupByKey(r => (r.chunk, r.cval))
      .flatMapGroupsWithState[BucketState, NearDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val out = List.newBuilder[NearDup]
            // time-then-id order makes intra-batch emission deterministic
            // (the later/larger row finds the earlier one in state)
            rows.toSeq.sortBy(r => (r.event_time.getTime, r.doc_id)).foreach { r =>
              val ts = r.event_time.getTime
              members.foreach { case (id, sh0, mTs) =>
                val ham = java.lang.Long.bitCount(sh0 ^ r.sh)
                // |Δt| ≤ horizon: the event-time contract, batch-agnostic
                // (late rows compare against newer members symmetrically)
                if (ham <= maxHamming && id != r.doc_id &&
                    math.abs(ts - mTs) <= horizonMs)
                  out += NearDup(math.min(id, r.doc_id),
                    math.max(id, r.doc_id), ham)
              }
              members = ((r.doc_id, r.sh, ts) :: members).take(maxBucket)
            }
            // prune only members that can never pair again. An admissible
            // late row t satisfies t >= watermark, and (because the
            // watermark delay IS the horizon) watermark >= newest - horizon
            // — so a member m is dead iff EITHER
            //   (a) newest - m.ts > 2*horizon  (any admissible t >=
            //       newest - horizon is > horizon past m), or
            //   (b) watermark - m.ts > horizon (any admissible t >=
            //       watermark is > horizon past m).
            // Pruning at 1*horizon of newest — the previous rule — was
            // wrong: a late-but-admissible t in [newest - horizon, newest)
            // can still pair with m in (horizon, 2*horizon] of newest.
            val newest = members.iterator.map(_._3).max
            val wm = state.getCurrentWatermarkMs()
            members = members.filter(m =>
              newest - m._3 <= 2 * horizonMs && wm - m._3 <= horizonMs)
            state.update(BucketState(members))
            // newest retained member + horizon; never earlier than a
            // previous setting (a late row must not move eviction back)
            state.setTimeoutTimestamp(
              math.max(newest + horizonMs,
                math.max(state.getCurrentWatermarkMs() + 1, 0L)))
            out.result().iterator
          }
      }
  }

  case class MhSigRow(doc_id: Long, el_set: Seq[Long],
      event_time: java.sql.Timestamp, band: Int, key: String)
  // (doc_id, sorted-distinct element set, event-time ms) — newest first
  case class MhBucketState(members: List[(Long, Seq[Long], Long)])
  case class MhNearDup(a_id: Long, b_id: Long, jac: Double)

  /** Set Jaccard of two SORTED DISTINCT long arrays by merge scan,
    * rounded to 4 decimals — the driver-side twin of the codegen'd
    * `jaccard_sorted` expression + the batch verify's `round(_, 4)`
    * ([[graft.ops.TextDedup]] bandJoinVerify), so stream and batch can
    * never disagree on a threshold comparison. */
  private def jaccardSorted4(a: Seq[Long], b: Seq[Long]): Double = {
    val (nx, ny) = (a.length, b.length)
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xv = a(i); val yv = b(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val union = nx + ny - inter
    val jac = if (union == 0) 0.0 else inter.toDouble / union
    math.round(jac * 10000).toDouble / 10000 // HALF_UP, as Spark round()
  }

  /** Streaming MinHash-LSH near-dup pairs — the streaming twin of batch
    * [[graft.ops.TextDedup.minhashLshPairs]] (x07), completing the
    * streaming dedup family (exact: [[dedupWithinWatermark]]; SimHash:
    * [[nearDupPairsStream]]): each incoming doc's shingle set is
    * minhashed and banded with EXACTLY the batch band-key derivation
    * ([[graft.ops.TextDedup.minhashBandKeyExprs]] — shared, so the two
    * paths agree on the bucket space by construction); state is keyed
    * by (band, key) and holds the bucket's recent (doc_id, shingle set)
    * members; a band collision verifies TRUE set Jaccard ≥ `threshold`
    * against each member — the same verify (and the same round-to-4
    * comparison) as the batch twin, so replaying a corpus through the
    * stream emits exactly the batch pair set.
    *
    * Same horizon/retention/timeout contract as [[nearDupPairsStream]]
    * (pairs emitted iff event times lie within `watermarkDelay`;
    * members retained to 2×horizon-of-newest ∧ horizon-of-watermark;
    * event-time timeout evicts idle buckets; `maxBucket` caps hot
    * buckets by degrading recall against their oldest members).
    *
    * State cost — the honest MinHash trade: TRUE-Jaccard verification
    * requires the element sets, so state holds ~set-size longs per
    * member (vs the SimHash stream's 8 bytes). Empty-set docs are
    * dropped before banding (same degenerate-signature guard as the
    * batch). At 100 TB/day, prefer [[nearDupPairsStream]] when 8-byte
    * signatures suffice; this op is for pipelines whose dedup CONTRACT
    * is set-Jaccard (the reference x07/x33 semantics) at ingest.
    *
    * Output: one row per (band-collision, verified) pair, smaller id
    * first; a pair colliding in several bands emits once per band —
    * dedup downstream per sink (the batch twin's `distinct()`; a
    * second stateful op after flatMapGroupsWithState is restricted).
    * Docs frame: (doc_id long, text string, ts long ns). */
  def minhashLshPairsStream(docs: DataFrame,
      watermarkDelay: String = "2 hours", shingleK: Int = 3,
      numHashes: Int = 8, bands: Int = 4, threshold: Double = 0.8,
      maxBucket: Int = 256)(
      implicit spark: SparkSession): Dataset[MhNearDup] = {
    import spark.implicits._
    val horizonMs = durationMs(watermarkDelay)
    val keyExprs = graft.ops.TextDedup.minhashBandKeyExprs(
      col("mh"), numHashes, bands)
    watermarked(docs, watermarkDelay)
      .select(col("doc_id"),
        TF.shingleSetFast(TF.words(col("text")), shingleK).as("el_set"),
        TF.minhashSigsFast(TF.words(col("text")), shingleK, numHashes).as("mh"),
        col("event_time"))
      .filter(size(col("el_set")) > 0)
      .select(col("doc_id"), col("el_set"), col("event_time"),
        posexplode(array(keyExprs: _*)).as(Seq("band", "key")))
      .as[MhSigRow]
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[MhBucketState, MhNearDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[MhBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val out = List.newBuilder[MhNearDup]
            rows.toSeq.sortBy(r => (r.event_time.getTime, r.doc_id)).foreach { r =>
              val ts = r.event_time.getTime
              members.foreach { case (id, set0, mTs) =>
                if (id != r.doc_id && math.abs(ts - mTs) <= horizonMs) {
                  val jac = jaccardSorted4(set0, r.el_set)
                  if (jac >= threshold)
                    out += MhNearDup(math.min(id, r.doc_id),
                      math.max(id, r.doc_id), jac)
                }
              }
              members = ((r.doc_id, r.el_set, ts) :: members).take(maxBucket)
            }
            // identical retention/timeout derivation as the SimHash
            // stream — see nearDupPairsStream for the 2×horizon proof
            val newest = members.iterator.map(_._3).max
            val wm = state.getCurrentWatermarkMs()
            members = members.filter(m =>
              newest - m._3 <= 2 * horizonMs && wm - m._3 <= horizonMs)
            state.update(MhBucketState(members))
            state.setTimeoutTimestamp(
              math.max(newest + horizonMs, math.max(wm + 1, 0L)))
            out.result().iterator
          }
      }
  }

  /** Incremental near-dedup INGEST stream — the streaming driver of the
    * persisted signature index ([[graft.ops.TextDedup
    * .writeSignatureIndex]]): each micro-batch probes the on-disk index
    * for near-dups of everything ingested before it, appends the
    * decisions (in_id, canonical_id, n_matches, batch_id) to
    * `decisionsPath`, and folds the KEPT docs' signatures into the index
    * ([[graft.ops.TextDedup.ingestNearDup]]) so later batches dedup
    * against them too. The first batch bootstraps the index and emits no
    * decisions.
    *
    * Contrast with [[minhashLshPairsStream]]: that one finds pairs
    * WITHIN the stream's watermark horizon in operator state; this one
    * dedups the stream against the UNBOUNDED ingested-so-far corpus —
    * state lives in the bucketed index on storage, not in executors, so
    * no watermark bounds what a batch can match. foreachBatch is the
    * right harness (the reference's streaming surface is an empty stub;
    * README.md:84-88): each batch is one deterministic batch job, and
    * exactly-once comes from the sink checkpoint as with
    * [[ingestDedupToLog]]. Intra-batch duplicates follow
    * [[graft.ops.TextDedup.ingestNearDup]]'s contract (pre-dedup the
    * batch when it can self-collide). */
  def nearDupIngestStream(incoming: DataFrame, indexDir: String,
      indexName: String, decisionsPath: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.8, buckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestNearDupBatch(
          graft.catalog.Catalog(batch.sparkSession, indexDir), indexName,
          batch, batchId, decisionsPath, idCol, textCol,
          shingleK, numHashes, bands, threshold, buckets)
        ()
      }
      .start()

  /** One micro-batch of [[nearDupIngestStream]]'s sink — factored out so
    * the replay path is directly testable, carrying the SAME batch-id
    * high-water-mark contract as [[ingestScoredPostingsBatch]] (the r15
    * fix covered the scored-postings ingest but left this sink open):
    * foreachBatch is at-least-once, and a blind replay would re-append
    * the batch's signature rows to the persisted index (duplicate
    * band/set rows — every later probe double-matches them) AND
    * re-emit its decision rows to `decisionsPath`. The `{index}_hwm`
    * marker row is appended LAST, after both the index append and the
    * decisions write, and any batch whose id is ≤ the recorded maximum
    * is skipped wholesale. Returns true if ingested, false if
    * recognized as a replay. Same residual window and same
    * checkpoint-lineage caveat as [[ingestScoredPostingsBatch]]. */
  def ingestNearDupBatch(cat: graft.catalog.Catalog, indexName: String,
      batch: DataFrame, batchId: Long, decisionsPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.8, buckets: Int = 64): Boolean = {
    val hwmName = s"${indexName}_hwm"
    if (hwmReplay(cat, hwmName, batchId)) {
      System.err.println(s"[graft] nearDupIngestStream: " +
        s"batch $batchId already committed — replay skipped")
      false
    } else {
      if (!cat.bucketedExists(s"${indexName}_bands"))
        graft.ops.TextDedup.writeSignatureIndex(cat, indexName, batch,
          idCol, textCol, shingleK, numHashes, bands, buckets)
      else
        graft.ops.TextDedup.ingestNearDup(cat, indexName, batch,
          idCol, textCol, shingleK, numHashes, bands, threshold)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(decisionsPath)
      hwmRecord(cat, hwmName, batchId)
      true
    }
  }

  /** Streaming ingest into the SCORED postings index — the serving
    * index stays current as documents arrive: the first micro-batch
    * builds the index ([[graft.ops.CorpusOps.writeScoredPostings]]),
    * every later batch folds in via the purely-additive append
    * ([[graft.ops.CorpusOps.appendToScoredPostings]] — new bucket
    * files + one delta stats row, nothing rewritten). Because the
    * append is exact-associative (df from union posting lists,
    * scalars from summed deltas), a search after ANY number of
    * micro-batches ranks exactly as a one-shot build over everything
    * ingested so far — StreamingSpec pins it against the batch-built
    * index.
    *
    * Replay idempotence: foreachBatch is at-least-once — Structured
    * Streaming REPLAYS a micro-batch whose sink write succeeded but
    * whose checkpoint offset-commit didn't (restart after crash), and
    * a blind re-append would double the batch's posting rows AND its
    * stats delta, silently inflating df/n_docs/sum_dl and corrupting
    * every BM25 ranking thereafter. The sink therefore keeps a
    * batch-id high-water mark in an `{index}_hwm` marker table (the
    * ingestDedupToLog txn-marker recipe): the marker row is appended
    * LAST, after both index writes, and any batch whose id is ≤ the
    * recorded maximum is skipped wholesale. This makes the common
    * replay (fully-committed batch, lost offset commit) exactly-once.
    * The residual window — a crash strictly BETWEEN the index appends
    * and the marker append — is the irreducible cost of a
    * non-transactional two-table sink; it is detectable (hwm <
    * checkpoint's last batch id) and recoverable by rebuilding via
    * [[graft.ops.CorpusOps.writeScoredPostings]] from the retained
    * corpus, which StreamingSpec's append≡rebuild equivalence makes a
    * pure maintenance job rather than a semantic change. */
  def scoredPostingsIngestStream(incoming: DataFrame, indexDir: String,
      indexName: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestScoredPostingsBatch(
          graft.catalog.Catalog(batch.sparkSession, indexDir), indexName,
          batch, batchId, idCol, textCol)
        ()
      }
      .start()

  /** Streaming DELETE maintenance for a scored postings index — the
    * other half of the index's continuous lifecycle next to
    * [[scoredPostingsIngestStream]]: a stream of document ids (an MVCC
    * tombstone feed, a dedup decision stream, a takedown queue) is
    * applied per micro-batch via [[graft.ops.CorpusOps
    * .deleteFromScoredPostings]] — ids land in the tombstone sidecar,
    * searchers stop serving them at the NEXT probe, and the one
    * negative stats delta keeps BM25's n_docs/avgdl exact
    * (delete ≡ rebuild, OpsSpec). No batch-id high-water mark needed
    * here: the delete op is IDEMPOTENT by construction (already-
    * tombstoned ids are anti-joined out of the delta computation, so
    * an at-least-once replay re-deletes nothing and re-subtracts
    * nothing — StreamingSpec asserts it). Pair with
    * [[graft.ops.CorpusOps.compactScoredPostings]] on the
    * [[graft.catalog.Catalog.shouldCompactBucketed]] trigger to keep
    * the probe-side anti-join deletes-sized. */
  def scoredPostingsDeleteStream(deletes: DataFrame, indexDir: String,
      indexName: String, checkpointDir: String,
      idCol: String = "doc_id")
      : org.apache.spark.sql.streaming.StreamingQuery =
    deletes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.CorpusOps.deleteFromScoredPostings(
          graft.catalog.Catalog(batch.sparkSession, indexDir), indexName,
          batch, idCol)
      }
      .start()

  /** One micro-batch of [[scoredPostingsIngestStream]]'s sink —
    * factored out so the replay path is directly testable. Returns
    * true if the batch was ingested, false if it was recognized as a
    * replay (batchId ≤ recorded high-water mark) and skipped.
    *
    * Caveat the marker contract imposes: batch ids are scoped to ONE
    * checkpoint lineage. Re-pointing a FRESH checkpoint at an existing
    * index dir restarts ids at 0, so every batch would read as a
    * replay — pair a new checkpoint with a new index dir (or drop the
    * `{index}_hwm` table along with the old checkpoint). */
  def ingestScoredPostingsBatch(cat: graft.catalog.Catalog,
      indexName: String, batch: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Boolean = {
    val hwmName = s"${indexName}_hwm"
    if (hwmReplay(cat, hwmName, batchId)) {
      System.err.println(s"[graft] scoredPostingsIngestStream: " +
        s"batch $batchId already committed — replay skipped")
      false
    } else {
      if (!cat.bucketedExists(indexName))
        graft.ops.CorpusOps.writeScoredPostings(cat, indexName, batch,
          idCol = idCol, textCol = textCol)
      else
        graft.ops.CorpusOps.appendToScoredPostings(cat, indexName,
          batch, idCol, textCol)
      hwmRecord(cat, hwmName, batchId)
      true
    }
  }

  /** Streaming ingest into the POSITIONAL postings index — the
    * phrase/proximity serving tier stays current as documents arrive,
    * completing the streaming lifecycle symmetry across the index
    * family (boolean/scored postings, signatures, and now positions):
    * first micro-batch builds ([[graft.ops.CorpusOps
    * .writePositionalPostings]]), later batches fold in via the
    * additive append (positions are per-doc absolute, so appended docs
    * are self-contained — [[graft.ops.CorpusOps
    * .appendToPositionalPostings]]). Search after any number of
    * micro-batches equals a one-shot build over everything ingested
    * (StreamingSpec pins phrase AND proximity probes). Same `{index}_hwm`
    * replay contract as [[scoredPostingsIngestStream]]. */
  def positionalIngestStream(incoming: DataFrame, indexDir: String,
      indexName: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestPositionalBatch(
          graft.catalog.Catalog(batch.sparkSession, indexDir), indexName,
          batch, batchId, idCol, textCol)
        ()
      }
      .start()

  /** One micro-batch of [[positionalIngestStream]]'s sink — factored
    * out so the replay path is directly testable. Returns true if
    * ingested, false if recognized as a replay (same contract and
    * caveats as [[ingestScoredPostingsBatch]]). */
  def ingestPositionalBatch(cat: graft.catalog.Catalog,
      indexName: String, batch: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Boolean = {
    val hwmName = s"${indexName}_hwm"
    if (hwmReplay(cat, hwmName, batchId)) {
      System.err.println(s"[graft] positionalIngestStream: " +
        s"batch $batchId already committed — replay skipped")
      false
    } else {
      if (!cat.bucketedExists(indexName))
        graft.ops.CorpusOps.writePositionalPostings(cat, indexName, batch,
          idCol = idCol, textCol = textCol)
      else
        graft.ops.CorpusOps.appendToPositionalPostings(cat, indexName,
          batch, idCol, textCol)
      hwmRecord(cat, hwmName, batchId)
      true
    }
  }

  /** Streaming ingest into a persisted IVF vector index — the VECTOR
    * twin of the text tiers' index ingest streams: arriving embeddings
    * are assigned against the FROZEN coarse quantizer (`centroids` —
    * the train-once contract; you never retrain per micro-batch) and
    * folded into the bucketed cell layout (first batch
    * [[graft.ops.VectorOps.writeIndex]], later batches
    * [[graft.ops.VectorOps.appendToIndex]] — new per-bucket files,
    * zero-shuffle probe plan intact). ANN search after any number of
    * micro-batches equals a one-shot build over everything ingested
    * (assignment is per-vector under frozen centroids — StreamingSpec
    * pins it). Same `{index}_hwm` replay contract as
    * [[scoredPostingsIngestStream]]. */
  def vectorIngestStream(incoming: DataFrame, centroids: DataFrame,
      indexDir: String, indexName: String, checkpointDir: String,
      buckets: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestVectorBatch(
          graft.catalog.Catalog(batch.sparkSession, indexDir), indexName,
          centroids, batch, batchId, buckets, idCol, vecCol)
        ()
      }
      .start()

  /** One micro-batch of [[vectorIngestStream]]'s sink — factored out so
    * the replay path is directly testable (same contract and caveats
    * as [[ingestScoredPostingsBatch]]). */
  def ingestVectorBatch(cat: graft.catalog.Catalog, indexName: String,
      centroids: DataFrame, batch: DataFrame, batchId: Long,
      buckets: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean = {
    val hwmName = s"${indexName}_hwm"
    if (hwmReplay(cat, hwmName, batchId)) {
      System.err.println(s"[graft] vectorIngestStream: " +
        s"batch $batchId already committed — replay skipped")
      false
    } else {
      val cells = graft.ops.VectorOps.ivfCells(batch, centroids,
        nprobe = 1, idCol, vecCol)
      if (!cat.bucketedExists(indexName))
        graft.ops.VectorOps.writeIndex(cat, indexName, cells, buckets)
      else
        graft.ops.VectorOps.appendToIndex(cat, indexName, cells)
      hwmRecord(cat, hwmName, batchId)
      true
    }
  }

  /** Streaming DELETE maintenance for a persisted IVF vector index —
    * the takedown/dedup-decision feed for the embedding store, the
    * vector twin of [[scoredPostingsDeleteStream]]: each micro-batch
    * of vec_ids lands in the generation-stamped tombstone sidecar
    * ([[graft.ops.VectorOps.deleteFromIndex]]) and searchers stop
    * serving them at the next probe. Replay-safe by construction: a
    * re-delivered batch re-records graves at the same generation,
    * which the per-key max aggregation makes a no-op — no hwm needed.
    *
    * Interleave-safe feeds: when the delete feed's rows carry a `gen`
    * column — stamped by the PRODUCER at enqueue time from
    * [[graft.catalog.Catalog.currentGen]] — graves use that gen
    * verbatim ([[graft.ops.VectorOps.deleteFromIndex]]'s passthrough),
    * so a delete replay that lands AFTER an interleaved re-ingest of
    * the same id re-stamps the ORIGINAL generation and the re-added
    * vectors keep serving (StreamingSpec pins the ingest-v1 → delete →
    * re-ingest-v2 → replay-delete sequence). A gen-less feed falls
    * back to stamping the counter at apply time, which restores the
    * old caveat: with no cross-stream ordering between the two
    * checkpoints, such a replay stamps the newer generation's grave —
    * so EITHER stamp the feed at enqueue time, run takedowns and
    * re-admissions through one stream, or serialize them
    * operationally. Pair with
    * [[graft.ops.VectorOps.compactIndex]] on the
    * [[graft.catalog.Catalog.shouldCompactBucketed]] trigger. */
  def vectorDeleteStream(deletes: DataFrame, indexDir: String,
      indexName: String, checkpointDir: String,
      idCol: String = "vec_id")
      : org.apache.spark.sql.streaming.StreamingQuery =
    deletes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.VectorOps.deleteFromIndex(
          graft.catalog.Catalog(batch.sparkSession, indexDir), indexName,
          batch, idCol)
      }
      .start()

  /** Whether `batchId` is at or below the recorded high-water mark in
    * marker table `hwmName` — i.e. an at-least-once REPLAY of a batch
    * whose sink effects already committed. */
  private def hwmReplay(cat: graft.catalog.Catalog, hwmName: String,
      batchId: Long): Boolean =
    cat.exists(hwmName) && {
      val r = cat.table(hwmName)
        .agg(org.apache.spark.sql.functions.max(col("batch_id"))).head()
      !r.isNullAt(0) && batchId <= r.getLong(0)
    }

  /** Append `batchId` to the `hwmName` marker table — the LAST effect of
    * a micro-batch body, so a crash before it leaves the batch
    * re-runnable and a crash after it leaves it skippable. One parquet
    * append per batch; [[graft.catalog.Catalog.collapseHwm]] (run by the
    * index compaction jobs) folds the accumulated rows back to one. */
  private def hwmRecord(cat: graft.catalog.Catalog, hwmName: String,
      batchId: Long): Unit = {
    if (!cat.exists(hwmName))
      cat.createNew(hwmName, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType))))
    val s = cat.spark
    import s.implicits._
    cat.append(hwmName, Seq(batchId).toDF("batch_id"))
  }

  val GapNs: Long = 30L * 60 * 1000000000L

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * escape hatch for session semantics `session_window` can't express
    * (e.g. cap-by-count, value-dependent gaps). Event-time timeout keyed
    * on the watermark finalizes idle sessions.
    */
  def sessionizeStateful(
      events: Dataset[Ev],
      watermarkDelay: String = "2 hours")(implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    events
      .withColumn("event_time", tsFromNs(col("ts_ns")))
      .withWatermark("event_time", watermarkDelay)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, evs, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption
              .map(s => Session(uid, s.startNs, s.lastNs, s.n)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(_.ts_ns)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                // within gap of the session INTERVAL — a late
                // (within-watermark) event can precede lastNs or even
                // startNs; bounds expand (min/max), never regress
                case Some(s) if e.ts_ns - s.lastNs <= GapNs &&
                    s.startNs - e.ts_ns <= GapNs =>
                  cur = Some(SessState(math.min(s.startNs, e.ts_ns),
                    math.max(s.lastNs, e.ts_ns), s.n + 1))
                case Some(s) if e.ts_ns > s.lastNs =>
                  closed ::= Session(uid, s.startNs, s.lastNs, s.n)
                  cur = Some(SessState(e.ts_ns, e.ts_ns, 1))
                case Some(_) =>
                  // late event more than a gap BEFORE the open session:
                  // its own (already gap-closed) session, emitted now
                  closed ::= Session(uid, e.ts_ns, e.ts_ns, 1)
                case None =>
                  cur = Some(SessState(e.ts_ns, e.ts_ns, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // finalize when no event lands within gap of the watermark
              state.setTimeoutTimestamp(s.lastNs / 1000000L + GapNs / 1000000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-static LM quality scoring — the ingest form of
    * [[graft.ops.CorpusOps.lmScoreApply]]: incoming documents are
    * scored against a PRE-TRAINED unigram count table (train once per
    * corpus generation on the batch side; the stream pays only the
    * lookup) by the same kernel, [[graft.ops.CorpusOps.lmApplyKernel]],
    * keyed (window, doc_id) with weight 1 per token. The count table is
    * a STATIC frame: the stream-static equi-join is stateless, so the
    * only streaming state is the per-(window, doc) aggregation, bounded
    * by the watermark. Out-of-vocabulary words take the add-one floor.
    *
    * `counts`: (word, cnt) — [[graft.ops.CorpusOps.unigramCounts]],
    * which uses EXACTLY the batch scorer's tokenization (an empty doc
    * yields one "" token; a counts table that filters empties — e.g.
    * BpeOps.wordCounts — shifts every denominator and breaks parity).
    * Output per finalized window: (window, doc_id, n_tokens,
    * avg_logp_q — 1e-4 integer units). */
  def lmScoreStream(docs: DataFrame, counts: DataFrame,
      windowDur: String = "10 minutes",
      watermarkDelay: String = "1 hour"): DataFrame =
    CO.lmApplyKernel(wordTokens(docs, watermarkDelay), counts,
      CO.Denom.resolved(CO.unigramTotals(counts), "lmScoreStream"),
      docWindow(windowDur), lit(1L))

  /** The watermarked token array every windowed frozen-model gate
    * starts from: (doc_id, event_time, ws = words(`textCol`), extra…). */
  private def watermarkedWords(docs: DataFrame, watermarkDelay: String,
      textCol: String = "text", extra: Seq[Column] = Nil): DataFrame =
    watermarked(docs, watermarkDelay)
      .select(Seq(col("doc_id"), col("event_time"),
        TF.words(col(textCol)).as("ws")) ++
        extra: _*)

  /** [[watermarkedWords]] exploded to the token grain
    * (doc_id, event_time, word). */
  private def wordTokens(docs: DataFrame,
      watermarkDelay: String): DataFrame =
    watermarkedWords(docs, watermarkDelay)
      .select(col("doc_id"), col("event_time"), explode(col("ws")).as("word"))

  /** The gates' one stateful grouping key: (window(event_time), doc_id). */
  private def docWindow(windowDur: String): Seq[Column] =
    Seq(window(col("event_time"), windowDur), col("doc_id"))

  /** Streaming exact-quota weighted sampling — [[graft.ops.CorpusOps
    * .weightedSample]]'s stateful twin: each group holds its current
    * top-k rows by the SAME Efraimidis–Spirakis rank key (shared
    * column builder, so batch and stream cannot drift), merged
    * incrementally per micro-batch in `flatMapGroupsWithState`. The
    * top-k selection under a total order is associative, so after any
    * ingest order the state equals the batch draw over the union —
    * StreamingSpec pins it. Each batch emits the group's CURRENT
    * winners (Update mode; downstream keeps the latest per group).
    *
    * State: exactly k (skey, id, weight) triples per group — bounded
    * by construction, no watermark needed (quota sampling has no
    * event-time horizon; add a timeout upstream if groups churn).
    *
    * CONTRACT: ids must be stable-keyed — a given id always arrives
    * with the same weight (and thus the same skey; the hash-derived u
    * makes exact replays identical, which is what the dedup below
    * absorbs). If the same id is re-delivered with a DIFFERENT weight,
    * the max-skey version wins (first in rank order), not the latest —
    * weight UPDATES are not a supported input; key state by id
    * upstream if you need last-writer-wins semantics.
    * Output: (group, rnk, id, weight, skey). */
  def weightedSampleStream(docs: DataFrame, k: Int, weightCol: String,
      groupCol: String = "lang", idCol: String = "doc_id",
      salt: String = "wsample"): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col(groupCol).cast("string").as("g"),
        col(idCol).cast("long").as("id"),
        col(weightCol).cast("double").as("w"),
        CO.esKey(idCol, weightCol, salt).as("skey"))
      .as[(String, Long, Double, Double)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Double, Long, Double)],
          (String, Int, Long, Double, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g, rows, state) =>
          // distinctBy id AFTER the sort: an at-least-once upstream may
          // re-deliver a row already in state, and the batch draw is
          // over the row SET — without this, a replayed id occupies two
          // of the k slots. First occurrence in rank order wins.
          val merged = (state.getOption.getOrElse(Nil) ++
            rows.map(r => (r._4, r._2, r._3)))
            .sortBy { case (skey, id, _) => (-skey, id) } // batch order
            .distinctBy { case (_, id, _) => id }
            .take(k)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((skey, id, w), i) =>
            (g, i + 1, id, w, skey)
          }
      }
      .toDF(groupCol, "rnk", idCol, weightCol, "skey")
  }

  /** Stream-static NB classifier scoring — ingest-time quality/domain
    * gating under a model trained ONCE on the batch side
    * ([[graft.ops.ClassifierOps.nbModel]]): each micro-batch joins its
    * word grain against the static per-word score maps (equi on the
    * word key — the model is vocab-sized, never broadcast), expands by
    * the collected label constants map-side, and runs ONE streaming
    * aggregation at (window, doc) grain. The argmax is computed
    * per-OUTPUT-row from the L per-label sums (a stateless projection
    * — Structured Streaming allows only one stateful aggregation, so
    * the labels live as columns, not rows, through the agg).
    *
    * Parity ([[StreamingSpec]]): scores and predictions are
    * digit-identical to the batch [[graft.ops.ClassifierOps
    * .nbScores]]/[[graft.ops.ClassifierOps.nbPredict]] — same exact-
    * decimal quantization, same (score desc, label asc) tie-break,
    * same OOV-drop rule (a doc with no in-vocab word drops in both).
    * Output: (window, doc_id, n_tokens, pred_label, score). */
  def nbScoreStream(docs: DataFrame, train: DataFrame,
      labelCol: String = "lang", textCol: String = "text",
      windowDur: String = "10 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val (wl, lab) = graft.ops.ClassifierOps.nbModel(train, labelCol, textCol)
    // labels-sized constants to the driver at stream setup (static side)
    val labArr = lab.orderBy(col("label")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(labArr.nonEmpty, "nbScoreStream: empty training set (no labels)")
    val wordParts = watermarkedWords(docs, watermarkDelay, textCol)
      .select(col("doc_id"), col("event_time"), explode(col("ws")).as("w"))
      .filter(length(col("w")) > 0)
      .join(wl, Seq("w")) // static; inner ⇒ OOV words drop (batch rule)
      .select(Seq(col("doc_id"), col("event_time")) ++
        labArr.zipWithIndex.map { case ((lbl, _, l0), i) =>
          coalesce(element_at(col("m"), lit(lbl)), lit(l0)).as(s"p_$i")
        }: _*)
    val agged = wordParts.groupBy(docWindow(windowDur): _*)
      .agg(count(lit(1)).as("n_tokens"),
        labArr.indices.map(i => sum(col(s"p_$i")).as(s"s_$i")): _*)
    // stateless post-agg argmax: max score, tie → smallest label (labArr
    // is label-sorted, so larger -i ⇔ earlier label)
    val structs = labArr.zipWithIndex.map { case ((_, prior, _), i) =>
      struct((col(s"s_$i") + lit(prior)).as("score"), lit(-i).as("ni"))
    }
    val best = if (structs.length == 1) structs.head else greatest(structs: _*)
    val withBest = agged.withColumn("b", best)
    val pred = labArr.zipWithIndex.tail
      .foldLeft(when(col("b.ni") === 0, labArr.head._1)) {
        case (acc, ((lbl, _, _), i)) => acc.when(col("b.ni") === -i, lbl)
      }
    withBest.select(col("window"), col("doc_id"), col("n_tokens"),
      pred.as("pred_label"), col("b.score").as("score"))
  }

  /** Streaming boilerplate gate — ingest-time chrome measurement under
    * a FIXED boilerplate set trained on the batch corpus
    * ([[graft.ops.CorpusOps.boilerplateSet]]; train-once /
    * gate-forever, the x62/x74 contract). Each incoming doc's aligned
    * full blocks are fingerprinted with the BATCH op's shared block
    * builder ([[graft.ops.CorpusOps.blockFps]] — one definition, so
    * the stream gate and batch excision can never disagree on what a
    * block is) and stream-static-joined against the trained set; one
    * watermarked stateful agg rolls the blocks back up to doc grain.
    * Output: (window, doc_id, n_blocks, n_bp_blocks, n_tokens, n_cut)
    * — the measurement half of [[graft.ops.CorpusOps
    * .boilerplateExcise]] (reassembled TEXT needs ordered token
    * collection; the stream emits the signal an ingest gate acts on,
    * n_cut = tokens the batch excision would remove). Docs shorter
    * than one block emit no blocks and drop from the output (the
    * nbScoreStream OOV rule); route them past the gate upstream.
    *
    * Scale: state is (window, doc_id)-keyed and watermark-bounded;
    * the bp set joins as a static side (vocab-of-chrome-sized, not
    * broadcast-collected), blocks are map-side 8-byte fps. */
  def boilerplateGateStream(docs: DataFrame, bpSet: DataFrame,
      block: Int = 4, windowDur: String = "10 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val toks = watermarkedWords(docs, watermarkDelay)
      .withColumn("n", size(col("ws")))
    CO.blockFps(toks, block)
      .join(bpSet.select(col("fp"), lit(1L).as("__bp")), Seq("fp"), "left")
      .groupBy(docWindow(windowDur): _*)
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__bp").isNotNull, 1L).otherwise(0L)).as("n_bp_blocks"),
        max(col("n")).cast("long").as("n_tokens"))
      .select(col("window"), col("doc_id"), col("n_blocks"),
        col("n_bp_blocks"), col("n_tokens"),
        (col("n_bp_blocks") * block).as("n_cut"))
  }

  /** Streaming heavy-hitter recount — the ingest twin of
    * [[graft.ops.SketchOps.heavyHitters]]'s second pass: the candidate
    * set is FROZEN batch-side (per-partition Misra–Gries over the
    * historical corpus — the train-once/apply-forever split every
    * frozen-model stream here uses), and the stream maintains EXACT
    * running counts for exactly those values. State is one long per
    * candidate — bounded by the candidate set (≤ k·partitions values),
    * no watermark needed (counts have no event-time horizon). Run in
    * Complete (or Update) mode: each micro-batch emits the candidates'
    * current running counts (StreamingSpec drives Complete); after any
    * ingest split the state equals the batch recount over the union
    * (counting is associative — StreamingSpec pins it against
    * [[graft.ops.SketchOps.heavyHitters]]'s cnt column).
    *
    * The candidate membership test is a broadcast LEFT SEMI join
    * against a local relation, not `isin`: at production partition
    * counts the candidate set is tens of thousands of values, and an
    * In-expression that large embeds every literal in the plan —
    * slow analysis and codegen-size failures — while the semi join
    * stays one broadcast hash probe regardless of set size.
    * Output: (word, cnt). */
  def heavyCountStream(docs: DataFrame,
      candidates: Seq[String]): DataFrame = {
    require(candidates.nonEmpty, "heavyCountStream: empty candidate set")
    val sp = docs.sparkSession
    import sp.implicits._
    val candDf = broadcast(candidates.toDF("word"))
    docs
      .select(explode(TF.words(col("text"))).as("word"))
      .join(candDf, Seq("word"), "left_semi")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming CDC chunk-dedup gate — [[graft.ops.TextDedup
    * .cdcChunkDedup]]'s ingest twin at [[graft.ops.TextDedup
    * .cdcChunkFps]]' shared grain (one chunk definition, so batch
    * dedup and ingest gate can never disagree): incoming docs are
    * chunked by the same content-defined boundary rule, chunk fps
    * stream-static-join a FROZEN historical chunk-fp set, and a
    * watermarked stateful agg rolls back up to doc grain. Output:
    * (window, doc_id, n_chunks, n_known_chunks) — the "how much of
    * this incoming doc already exists in the corpus" signal an ingest
    * gate thresholds on (the CDC grain survives edits that shift every
    * fixed window).
    *
    * Scale: chunking is map-side; the known set joins as a static side
    * (never collected); state is (window, doc)-keyed and
    * watermark-bounded. */
  def cdcGateStream(docs: DataFrame, knownFps: DataFrame,
      modulus: Int = 8, windowDur: String = "10 minutes",
      watermarkDelay: String = "1 hour"): DataFrame =
    knownChunkCounts(watermarkedWords(docs, watermarkDelay), knownFps,
      modulus, docWindow(windowDur))

  /** Known-chunk hit count: the content-defined chunks of a `ws` frame
    * ([[graft.ops.TextDedup.cdcChunkFps]]) left-joined against a frozen
    * chunk-fp set, rolled up per `keys` into (n_chunks,
    * n_known_chunks) — shared by [[cdcGateStream]] and
    * [[curateGateStream]]. */
  private def knownChunkCounts(ws: DataFrame, knownFps: DataFrame,
      modulus: Int, keys: Seq[Column]): DataFrame =
    graft.ops.TextDedup.cdcChunkFps(ws, modulus)
      .join(knownFps.select(col("chunk_fp"), lit(1L).as("__known"))
        .distinct(), Seq("chunk_fp"), "left")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__known").isNotNull, 1L).otherwise(0L))
          .as("n_known_chunks"))

  /** Streaming temperature-mixture gate — [[graft.ops.CorpusOps
    * .temperatureSample]]'s ingest twin under FROZEN rates
    * ([[graft.ops.CorpusOps.temperatureRates]] trains the (group,
    * rate, thr) law batch-side on the historical corpus): the same
    * kernel, [[graft.ops.CorpusOps.mixKernel]], with the rates as a
    * stream-static side (never collected). COMPLETELY STATELESS, so the
    * stream admits exactly the rows the batch sampler would, in any
    * ingest order. Output: (id, group, rate). */
  def mixGateStream(docs: DataFrame, rates: DataFrame,
      groupCol: String = "lang", idCol: String = "doc_id",
      salt: String = "mix", resolution: Long = 1000000L): DataFrame =
    CO.mixKernel(docs, rates, groupCol, idCol, salt, resolution)

  /** Streaming PQ encode — ingest-time vector compression under a
    * FROZEN codebook ([[graft.ops.VectorOps.pqTrain]] runs once per
    * index generation batch-side; the stream pays encode only).
    * COMPLETELY STATELESS: each subspace's codebook rides in as a
    * typed literal (m·ksub entries), the per-row argmin is an
    * `array_min` over (qd2, code) structs — the distance kernel
    * [[graft.ops.VectorOps.pqQd2]] and the (qd2 asc, code asc)
    * tie-break [[graft.ops.VectorOps.pqAssign]] uses, so stream codes
    * are digit-identical to the batch encode. No watermark, no state
    * store. Output: (vec_id, sub, code, qd2). */
  def pqEncodeStream(vecs: DataFrame, cents: Seq[(Int, Long, Seq[Float])],
      m: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(cents.nonEmpty, "pqEncodeStream: empty codebook")
    val bySub: Map[Int, Seq[(Long, Seq[Float])]] =
      cents.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    require((0 until m).forall(bySub.contains),
      s"pqEncodeStream: codebook missing subspaces (have ${bySub.keys})")
    // divisibility-guarded subspace width (raises on dim % m != 0
    // instead of silently truncating tail dims — the batch contract)
    val dsub = graft.ops.VectorOps.pqDsub(col(vecCol), m)
    val subCols = (0 until m).map { mi =>
      val sv = slice(col(vecCol), dsub * mi + 1, dsub)
      val entries = typedLit(bySub(mi))
      val best = array_min(transform(entries, c => struct(
        graft.ops.VectorOps.pqQd2(sv, c.getField("_2")).as("qd2"),
        c.getField("_1").as("code"))))
      struct(lit(mi).as("sub"), best.getField("code").as("code"),
        best.getField("qd2").as("qd2"))
    }
    vecs.select(col(idCol).as("vec_id"),
        explode(array(subCols: _*)).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"),
        col("s.code").as("code"), col("s.qd2").as("qd2"))
  }

  /** Streaming linear-gate scoring — ingest-time quality gating under
    * a FROZEN weight vector trained once on the batch side
    * ([[graft.ops.ClassifierOps.logregTrain]]; the train-once /
    * gate-forever contract). COMPLETELY stateless: the integer gate
    * features are computed MAP-SIDE from the words array with
    * higher-order functions ([[graft.ops.ClassifierOps
    * .logregFeatureCols]] — digit-identical to the batch aggregation
    * form, so no stateful agg is spent on feature extraction), and
    * z/p̂/pred are pure integer arithmetic under the literal weights.
    * No watermark, no state store. Output: (doc_id, z_q, p_q, pred) —
    * StreamingSpec pins digit-equality with the batch
    * [[graft.ops.ClassifierOps.logregScore]] after any ingest split. */
  def logregScoreStream(docs: DataFrame, w: Seq[Long],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w.length == 4, s"logregScoreStream: want 4 weights, got $w")
    val C = graft.ops.ClassifierOps
    docs
      .select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(Seq(col("doc_id")) ++ C.logregFeatureCols(col("ws")): _*)
      .withColumn("z_q", C.zCol(w))
      .withColumn("p_q", C.pCol(col("z_q")))
      .select(col("doc_id"), col("z_q"), col("p_q"),
        when(col("p_q") >= 500000L, 1L).otherwise(0L).as("pred"))
  }

  /** Streaming BPE encode — ingest-time tokenization under a FIXED,
    * pre-trained merge table and id vocabulary (the train-once /
    * tokenize-forever contract: [[graft.ops.BpeOps.train]] +
    * [[graft.ops.BpeOps.vocabIds]] run once per corpus generation on
    * the batch side; the stream pays replay only). COMPLETELY
    * stateless: a document's token-id sequence depends on nothing but
    * its own row and the broadcast (rules, ids), so there is no
    * watermark, no state store, and every micro-batch is a pure map —
    * the executor-local word→ids memo amortizes repeated words within
    * a partition's lifetime but is scratch, not streaming state.
    *
    * Parity: normalization/word-split happens in Catalyst (the same
    * [[graft.functions.TextFunctions.words]] the batch encode uses),
    * so the id sequences are identical to [[graft.ops.BpeOps
    * .encodeDocs]] for in-vocabulary text (StreamingSpec pins it).
    * Words containing code points OUTSIDE the training alphabet can't
    * be fully encoded under the fixed vocabulary — their unknown
    * symbols emit `unkId` (a production ingest gate routes docs with
    * unk spikes to re-training, it does not crash the stream).
    * Output: (doc_id, n_bpe, token_ids). */
  def bpeEncodeStream(docs: DataFrame, merges: Seq[graft.ops.BpeOps.Merge],
      ids: Map[String, Int], unkId: Int = -1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rules = merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray
    val bc = spark.sparkContext.broadcast((rules, ids))
    docs
      .select(col("doc_id").cast("long"), TF.words(col("text")).as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val (rs, idm) = bc.value
        val memo = scala.collection.mutable.HashMap.empty[String, Array[Int]]
        it.map { case (id, ws) =>
          val toks = ws.iterator.filter(_.nonEmpty).flatMap { w =>
            memo.getOrElseUpdate(w,
              graft.ops.BpeOps.replayWord(w, rs)
                .map(idm.getOrElse(_, unkId)))
          }.toArray
          (id, toks.length.toLong, toks.toSeq)
        }
      }
      .toDF("doc_id", "n_bpe", "token_ids")
  }

  /** Streaming DSIR gate — [[graft.ops.CorpusOps.dsirWeights]] at
    * ingest time: each incoming document's mean per-token log
    * importance ratio under two FROZEN unigram models (target trained
    * on the curated set, source on the historical pool), by the same
    * kernel, [[graft.ops.CorpusOps.dsirKernel]], keyed (window, doc_id)
    * with weight 1 per token. Both smoothing denominators resolve once
    * at stream setup; the two word-key joins run stream-static against
    * the vocab-sized count tables. Route on log_ratio downstream: the
    * ingest-time half of DSIR selection (the batch top-k/Gumbel
    * selectors x84/x89 need the full pool; an ingest gate thresholds
    * instead). Output: (window, doc_id, n_tokens, log_ratio_q).
    *
    * Scale: state is (window, doc_id)-keyed and watermark-bounded; the
    * model tables join as static sides; AQE skew handling does not
    * apply in streams, but the stopword skew lands on the vocab-sized
    * build side, not on state. */
  def dsirScoreStream(docs: DataFrame, targetCounts: DataFrame,
      sourceCounts: DataFrame, windowDur: String = "10 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    def denom(c: DataFrame, what: String) =
      CO.Denom.resolved(CO.unigramTotals(c), s"dsirScoreStream $what")
    CO.dsirKernel(wordTokens(docs, watermarkDelay),
      targetCounts, denom(targetCounts, "target"),
      sourceCounts, denom(sourceCounts, "source"),
      docWindow(windowDur), lit(1L))
  }

  /** Streaming Kneser–Ney scoring — [[graft.ops.CorpusOps
    * .knBigramApply]] at ingest time under the same frozen model (the
    * bigram count table), by the same kernel,
    * [[graft.ops.CorpusOps.knApplyKernel]], keyed (window, doc_id) with
    * weight 1 per bigram occurrence: the three model joins run
    * stream-static against bigram-vocab-sized tables and the two type
    * totals resolve once at stream setup. Docs with <2 words emit no
    * bigrams and drop from the output (the established OOV rule).
    * Output: (window, doc_id, n_bigrams, avg_logp_kn_q). */
  def knScoreStream(docs: DataFrame, counts: DataFrame,
      discount: Double = 0.75, windowDur: String = "10 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val cbx = CO.bigramSides(counts)
    CO.knApplyKernel(watermarkedWords(docs, watermarkDelay)
        .select(col("doc_id"), col("event_time"),
          explode(CO.bigrams(col("ws"))).as("bg")),
      cbx, CO.Denom.resolved(CO.knTotals(cbx), "knScoreStream"), discount,
      docWindow(windowDur), lit(1L))
  }

  /** Streaming one-call curation gate — [[graft.ops.CorpusOps
    * .curateV6]]'s ingest twin under FROZEN batch-trained parameters
    * (the train-once/gate-forever contract every frozen-model stream
    * here follows): each incoming doc is tagged with the first gate
    * that rejects it, or 'kept'.
    *
    *  - `entropyCutQ`: the frozen low-entropy bar (1e-4 integer units
    *    — batch curateV6's percentile cut, computed once corpus-side).
    *    The doc's entropy is computed STATELESSLY from its own token
    *    array via higher-order functions (per-doc word counts from
    *    array_distinct+filter — O(types·tokens) map work, no
    *    word-grain stateful aggregation) by the batch formula,
    *    [[graft.ops.CorpusOps.entropyQ]].
    *  - 'uniform': every type equally frequent — exact, stateless.
    *  - 'dup_known_chunks': the doc's content-defined chunks
    *    ([[graft.ops.TextDedup.cdcChunkFps]], the one chunk
    *    definition) against a FROZEN historical chunk-fp set — at
    *    ingest a doc "owns" the chunks the corpus has NOT seen, so the
    *    batch own-at-least-half rule becomes known·2 > chunks. The
    *    static join is stateless; the rollup to doc grain is the ONE
    *    watermarked stateful agg.
    *  - 'mix_out': the frozen per-group hash thresholds
    *    ([[graft.ops.CorpusOps.mixKeep]] — mixGateStream's contract); a
    *    group absent from the frozen rate table gates out
    *    conservatively.
    * Output: (window, doc_id, <groupCol>, n_chunks, n_known_chunks,
    * reason).
    *
    * Scale: everything except the final (window, doc)-keyed agg is
    * map-side; the known-chunk set joins as a static side; state is
    * watermark-bounded. */
  def curateGateStream(docs: DataFrame, entropyCutQ: Long,
      knownFps: DataFrame, rates: DataFrame, cdcModulus: Int = 8,
      groupCol: String = "lang", salt: String = "mix",
      resolution: Long = 1000000L, windowDur: String = "10 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val counts = transform(array_distinct(col("ws")),
      w => size(filter(col("ws"), x => x === w)).cast("long"))
    val entQ = CO.entropyQ(size(col("ws")).cast("long"),
      aggregate(counts, lit(0L), (acc, c) => acc + CO.clnTermQ(c)))
    val flagged = watermarkedWords(docs, watermarkDelay,
        extra = Seq(col(groupCol).as("__grp")))
      .withColumn("__low", entQ < lit(entropyCutQ))
      .withColumn("__uni", !col("__low") &&
        array_min(counts) === array_max(counts))
      .join(rates.select(col(groupCol).as("__grp"), col("thr")),
        Seq("__grp"), "left")
      .withColumn("__inmix",
        coalesce(CO.mixKeep(col("doc_id"), salt, resolution), lit(false)))
      .drop("thr")
    // the flag columns are constant per doc — carrying them as GROUP
    // KEYS keeps the agg a plain hash agg with no first()/max() games
    knownChunkCounts(flagged, knownFps, cdcModulus, docWindow(windowDur) ++
        Seq(col("__grp"), col("__low"), col("__uni"), col("__inmix")))
      .select(col("window"), col("doc_id"), col("__grp").as(groupCol),
        col("n_chunks"), col("n_known_chunks"),
        when(col("__low"), lit("low_entropy"))
          .when(col("__uni"), lit("uniform"))
          .when(col("n_known_chunks") * 2 > col("n_chunks"),
            lit("dup_known_chunks"))
          .when(!col("__inmix"), lit("mix_out"))
          .otherwise(lit("kept")).as("reason"))
  }

  /** Streaming semantic decontamination — [[graft.ops.VectorOps
    * .semDecontaminate]]'s gate at ingest time: every incoming
    * embedding row is scored against a FIXED benchmark suite (frozen on
    * the batch side — the train-once / gate-forever contract of
    * [[bpeEncodeStream]]). COMPLETELY STATELESS: the suite rides the
    * plan as a literal array (suite-sized, like the broadcast merge
    * rules), each row's hit count and max cosine come from Catalyst
    * higher-order functions over it — no watermark, no state store,
    * every micro-batch a pure map. The cosines are the same BIGINT
    * micro-unit quantization as the batch op
    * ([[graft.functions.ExactMath.microQ]], the x99 grid), so a row's
    * (n_hits, max_cos_q) is DIGIT-identical to the batch gate's
    * (StreamingSpec pins the parity). Rows with no hit pass silently
    * (emit nothing), flagged rows surface for quarantine.
    *
    * Scale: the literal suite is fine to a few thousand vectors (the
    * size of real benchmark suites); for corpus-sized "benchmarks" use
    * the batch op's broadcast-join form on a stream-static join
    * instead. Output: (vec_id, n_hits, max_cos_q). */
  def semDecontaminateStream(vecs: DataFrame, bench: Seq[Seq[Float]],
      threshold: Double): DataFrame = {
    val VF = graft.functions.VectorFunctions
    val thrQ = Math.round(threshold * 1e6)
    val coss = transform(typedLit(bench), b =>
      graft.functions.ExactMath.microQ(
        VF.cosineFast(col("embedding"), b)))
    vecs
      .select(col("vec_id").cast("long"),
        filter(coss, c => c >= thrQ).as("__h"))
      .filter(size(col("__h")) > 0)
      .select(col("vec_id"), size(col("__h")).cast("long").as("n_hits"),
        array_max(col("__h")).as("max_cos_q"))
  }
}
