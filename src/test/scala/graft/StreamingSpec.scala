package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** Incremental-semantics tests for the streaming surface: event-time
  * windows finalize on watermark advance; late data beyond the watermark
  * is dropped; stateful sessions close on gap.
  */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private val H = 3600L * 1000000000L // 1h in ns
  private def ev(uid: Long, ns: Long, t: String = "click") = Ev(uid, ns, t)

  test("tumbling window with watermark finalizes windows and drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = EventStreams.tumblingCounts(
      input.toDF().withColumnRenamed("ts_ns", "ts").withColumn("value",
        org.apache.spark.sql.functions.lit(1.0)),
      windowDur = "1 hour", watermarkDelay = "1 hour")
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Append).start()
    try {
      // hour-0 events, then advance watermark far past hour 0
      input.addData(ev(1, 10), ev(1, 20), ev(2, 30, "buy"))
      q.processAllAvailable()
      input.addData(ev(1, 5 * H)) // watermark -> 4h: hour-0 windows finalize
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .selectExpr("event_type", "n").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("click" -> 2L, "buy" -> 1L))
      // late arrival into hour 0 — behind watermark, must be dropped
      input.addData(ev(9, 40))
      q.processAllAvailable()
      val total = spark.table("tumbling_test").count()
      input.addData(ev(1, 10 * H)) // push watermark again
      q.processAllAvailable()
      val after = spark.table("tumbling_test")
        .selectExpr("sum(n)").as[Long].collect().head
      assert(after == 4L, "late row dropped; only the 10h window's row added")
      assert(spark.table("tumbling_test").count() == total + 1)
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on 30-min gap") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val input = MemoryStream[Ev]
    val sessions = EventStreams.sessionizeStateful(
      input.toDS(), watermarkDelay = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append).start()
    try {
      val M = 60L * 1000000000L
      // base offset: rows exactly at the initial watermark (epoch 0) are
      // dropped by stateful operators — keep event times strictly above it
      val B = H
      // user 1: two bursts 40 min apart -> first closes when second arrives
      input.addData(ev(1, B), ev(1, B + 5 * M), ev(1, B + 10 * M))
      q.processAllAvailable()
      input.addData(ev(1, B + 50 * M), ev(1, B + 55 * M))
      q.processAllAvailable()
      val closed = spark.table("sess_test").as[EventStreams.Session].collect()
      assert(closed.length == 1)
      assert(closed.head.user_id == 1L && closed.head.n_events == 3 &&
        closed.head.start_ns == B && closed.head.end_ns == B + 10 * M)
    } finally q.stop()
  }

  test("file-source stream over events.parquet matches the batch window aggregation") {
    import org.apache.spark.sql.functions._
    val batchEvents = graft.catalog.Catalog(spark, sf).table("events")
    // file streams consume directories: stage the fixture into one
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val streamEvents = spark.readStream
      .schema(batchEvents.schema)
      .parquet(dir.toString)
    val agg = EventStreams.tumblingCounts(streamEvents,
      windowDur = "1 hour", watermarkDelay = "2 hours")
    val q = agg.writeStream.format("memory").queryName("file_stream_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_stream_test")
        .select(col("window.start").cast("long").as("w"), col("event_type"),
          col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = EventStreams.tumblingCounts(batchEvents)
        .select(col("window.start").cast("long").as("w"), col("event_type"),
          col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch && batch.nonEmpty,
        s"stream=${streamed.size} batch=${batch.size}")
    } finally q.stop()
  }

  test("stateful sessionization absorbs a late in-watermark event without regressing bounds") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val input = MemoryStream[Ev]
    val sessions = EventStreams.sessionizeStateful(
      input.toDS(), watermarkDelay = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("late_sess_test")
      .outputMode(OutputMode.Append).start()
    try {
      val M = 60L * 1000000000L
      val B = H
      input.addData(ev(1, B + 10 * M))
      q.processAllAvailable()
      // late event (before the session's current bounds, within watermark)
      input.addData(ev(1, B + 5 * M))
      q.processAllAvailable()
      // push the watermark far forward so the session finalizes
      input.addData(ev(9, B + 10 * H))
      q.processAllAvailable()
      val s = spark.table("late_sess_test").as[EventStreams.Session]
        .collect().filter(_.user_id == 1L)
      assert(s.length == 1)
      assert(s.head.start_ns == B + 5 * M && s.head.end_ns == B + 10 * M &&
        s.head.n_events == 2, s.head.toString)
    } finally q.stop()
  }

  test("streaming dedup: duplicate fingerprints dropped within the watermark horizon, state evicted after") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // event_type stands in for the content fingerprint
    val dedup = EventStreams.dedupWithinWatermark(
      input.toDF().withColumnRenamed("ts_ns", "ts"),
      fpCol = "event_type", watermarkDelay = "1 hour")
    val q = dedup.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).start()
    try {
      val B = H
      input.addData(ev(1, B, "fpA"), ev(2, B + 1, "fpA"), ev(3, B + 2, "fpB"))
      q.processAllAvailable()
      val first = spark.table("dedup_test").selectExpr("event_type").as[String]
        .collect().sorted.toSeq
      assert(first == Seq("fpA", "fpB"), s"duplicate fpA within horizon must drop: $first")
      // push the watermark far past B; fpA state evicts, a re-sent fpA emits
      input.addData(ev(4, B + 5 * H, "advance"))
      q.processAllAvailable()
      input.addData(ev(5, B + 5 * H + 1, "fpA"))
      q.processAllAvailable()
      val types = spark.table("dedup_test").selectExpr("event_type").as[String]
        .collect().sorted.toSeq
      assert(types == Seq("advance", "fpA", "fpA", "fpB"),
        s"fpA beyond the horizon re-emits (bounded state): $types")
    } finally q.stop()
  }

  test("streaming near-dup pairs: matches the batch simhash-banded twin; idle buckets evict") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val base =
      "the quick brown fox jumps over the lazy dog and runs far away " +
        "into the deep green forest while birds sing morning songs"
    val corpus = Seq(
      1L -> base,
      2L -> base.replace("lazy", "sleepy"),
      3L -> base, // exact dup of 1
      4L -> ("completely different content about spark query engines and " +
        "distributed columnar execution with shuffles joins and aggregates"))
    val input = MemoryStream[(Long, String, Long)]
    val pairs = EventStreams.nearDupPairsStream(
      input.toDF().toDF("doc_id", "text", "ts"), watermarkDelay = "1 hour")
    val q = pairs.writeStream.format("memory").queryName("neardup_test")
      .outputMode(OutputMode.Append).start()
    try {
      val B = H
      input.addData(corpus.map { case (id, t) => (id, t, B + id) }: _*)
      q.processAllAvailable()
      // a pair sharing several chunks emits once per chunk — set-compare
      // against the batch twin's (distinct) pair set, hamming included
      val streamed = spark.table("neardup_test")
        .select("a_id", "b_id", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batch = graft.ops.TextDedup.simhashBandedPairs(
        corpus.toDF("doc_id", "text"), maxHamming = 6).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed.contains((1L, 3L, 0)), "exact dup must surface at hamming 0")
      // advance the watermark far past the horizon: buckets evict, so a
      // re-sent near-dup of doc 1 pairs with NOTHING (the batch sweep's
      // job beyond the horizon) — bounded state, same division of labor
      // as dedupWithinWatermark
      val n0 = spark.table("neardup_test").count()
      input.addData((50L, "watermark advancer totally unrelated words", B + 10 * H))
      q.processAllAvailable()
      input.addData((51L, base, B + 10 * H + 1))
      q.processAllAvailable()
      assert(spark.table("neardup_test").count() == n0,
        "evicted buckets must not produce pairs across the horizon")
    } finally q.stop()
  }

  test("streaming near-dup: an admissible LATE row still pairs with members up to 2x horizon behind the bucket's newest") {
    // regression for the horizon-contract prune bug: doc2 at T+1.5h used
    // to prune doc1 at T (1.5h > horizon), so a late-but-admissible doc3
    // at T+0.9h (>= watermark T+0.5h, within horizon of doc1) silently
    // missed the (1,3) pair.
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val txt = "the quick brown fox jumps over the lazy dog tonight"
    val input = MemoryStream[(Long, String, Long)]
    val pairs = EventStreams.nearDupPairsStream(
      input.toDF().toDF("doc_id", "text", "ts"), watermarkDelay = "1 hour")
    val q = pairs.writeStream.format("memory").queryName("neardup_late")
      .outputMode(OutputMode.Append).start()
    try {
      val T = 10 * H
      input.addData((1L, txt, T), (2L, txt, T + 3 * H / 2))
      q.processAllAvailable()
      input.addData((3L, txt, T + 9 * H / 10)) // late, admissible
      q.processAllAvailable()
      val got = spark.table("neardup_late").select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // (1,2) is beyond the horizon; both pairs of doc3 are within it
      assert(got == Set((1L, 3L), (2L, 3L)), got.toString)
    } finally q.stop()
  }

  test("streaming near-dup replay of the documents fixture equals the batch x23 pair set") {
    // the batch-replay harness the oracle protocol can't express: the
    // REAL fixture corpus streamed in micro-batches (event times packed
    // well inside one horizon, so the horizon excludes nothing) must
    // emit exactly the pairs of its batch twin
    // (TextDedup.simhashBandedPairs = x23, oracle-checked elsewhere).
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val B = 100 * H
    val batch = graft.ops.TextDedup.simhashBandedPairs(
      spark.read.parquet(s"$sf/documents.parquet"), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // both key schemes must replay to the identical pair set (pair keys
    // are the x47 extreme-scale buckets; exactness is key-scheme-blind)
    for (pairKeys <- Seq(false, true)) {
      val name = s"neardup_replay_$pairKeys"
      val input = MemoryStream[(Long, String, Long)]
      val pairs = EventStreams.nearDupPairsStream(
        input.toDF().toDF("doc_id", "text", "ts"), watermarkDelay = "1 hour",
        pairKeys = pairKeys)
      val q = pairs.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        // micro-batches of 100 docs, 1ms apart in event time
        docs.grouped(100).foreach { g =>
          input.addData(g.map { case (id, t) => (id, t, B + id * 1000000L) }: _*)
          q.processAllAvailable()
        }
        val streamed = spark.table(name)
          .select("a_id", "b_id", "hamming").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
        assert(streamed == batch,
          s"stream-replay (pairKeys=$pairKeys) diverged from batch twin: " +
            s"only-stream=${(streamed -- batch).take(5)} " +
            s"only-batch=${(batch -- streamed).take(5)}")
      } finally q.stop()
    }
  }

  test("streaming MinHash-LSH replay of the documents fixture equals the batch x07 pair set") {
    // completes the streaming dedup family (round-5 verdict stretch):
    // the REAL fixture corpus streamed in micro-batches must emit
    // exactly the pairs of TextDedup.minhashLshPairs (= x07,
    // oracle-checked elsewhere) — same band keys (shared derivation),
    // same true-Jaccard verify, same rounding, jac values included
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val B = 100 * H
    val batch = graft.ops.TextDedup.minhashLshPairs(
      spark.read.parquet(s"$sf/documents.parquet"),
      shingleK = 3, numHashes = 8, bands = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must contain minhash near-dups")
    val input = MemoryStream[(Long, String, Long)]
    val pairs = EventStreams.minhashLshPairsStream(
      input.toDF().toDF("doc_id", "text", "ts"), watermarkDelay = "1 hour",
      shingleK = 3, numHashes = 8, bands = 4, threshold = 0.8)
    val q = pairs.writeStream.format("memory").queryName("mh_replay")
      .outputMode(OutputMode.Append).start()
    try {
      docs.grouped(100).foreach { g =>
        input.addData(g.map { case (id, t) => (id, t, B + id * 1000000L) }: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("mh_replay")
        .select("a_id", "b_id", "jac").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"minhash stream-replay diverged from batch twin: " +
          s"only-stream=${(streamed -- batch).take(5)} " +
          s"only-batch=${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("streaming MinHash-LSH horizon: pairs beyond the watermark horizon are the batch sweep's job") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val txt = "the quick brown fox jumps over the lazy dog tonight again"
    val input = MemoryStream[(Long, String, Long)]
    val pairs = EventStreams.minhashLshPairsStream(
      input.toDF().toDF("doc_id", "text", "ts"), watermarkDelay = "1 hour")
    val q = pairs.writeStream.format("memory").queryName("mh_horizon")
      .outputMode(OutputMode.Append).start()
    try {
      val T = 10 * H
      // twins within the horizon pair; a third copy 1.5h later does NOT
      // pair with doc 1 (beyond horizon) but does with doc 2 (within)
      input.addData((1L, txt, T), (2L, txt, T + H / 2))
      q.processAllAvailable()
      input.addData((3L, txt, T + 3 * H / 2))
      q.processAllAvailable()
      val got = spark.table("mh_horizon").select("a_id", "b_id")
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (2L, 3L)), got.toString)
    } finally q.stop()
  }

  test("stream-stream interval join: purchases within the hour before each click, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = EventStreams.intervalJoin(
      clicks.toDF().withColumnRenamed("ts_ns", "ts")
        .withColumnRenamed("event_type", "click_kind"),
      purchases.toDF().withColumnRenamed("ts_ns", "ts")
        .withColumnRenamed("event_type", "purchase_kind")
        .withColumnRenamed("user_id", "user_id"),
      interval = "1 hour", watermarkDelay = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ssjoin_test")
      .outputMode(OutputMode.Append).start()
    try {
      val M = 60L * 1000000000L
      val B = H
      // u1: purchase 10 min before the click (matches) + one 2h after (no)
      purchases.addData(ev(1, B + 10 * M, "p_early"), ev(1, B + 150 * M, "p_late"))
      clicks.addData(ev(1, B + 20 * M, "c1"))
      // u2: click with no prior purchase -> no row (inner join)
      clicks.addData(ev(2, B + 30 * M, "c2"))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_test")
        .selectExpr("user_id", "click_kind", "purchase_kind").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(rows == Seq((1L, "c1", "p_early")), rows.toString)
    } finally q.stop()
  }

  test("native session_window groups events by gap (batch parity check)") {
    val M = 60L * 1000000000L
    val batch = Seq(ev(1, 0), ev(1, 5 * M), ev(1, 50 * M), ev(2, 0))
      .toDF("user_id", "ts", "event_type")
    val out = EventStreams.sessionCounts(batch) // batch DF: no watermark needed
      .selectExpr("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("streaming ingest into the MVCC log: per-batch dedup vs live snapshot, atomic commits") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val logPath = s"$dir/corpus_log"
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.ingestDedupToLog(
      input.toDF().toDF("doc_id", "text"), logPath, s"$dir/ckpt")
    try {
      input.addData((1L, "alpha content"), (2L, "beta content"))
      q.processAllAvailable()
      // batch 2: doc 3 re-crawls doc 1's content (must be dropped),
      // doc 4 is new, doc 1 arrives with NEW content (a new version)
      input.addData((3L, "alpha content"), (4L, "gamma content"),
        (1L, "alpha content v2"))
      q.processAllAvailable()
      val snap = graft.mvcc.LogTable
        .snapshot(spark.read.parquet(logPath), asOf = Long.MaxValue)
        .select("rid", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(snap == Map(1L -> "alpha content v2", 2L -> "beta content",
        4L -> "gamma content"), snap.toString)
      // both batches carry commit markers (atomic per micro-batch)
      val committed = graft.mvcc.LogTable
        .committedTxns(spark.read.parquet(logPath), asOf = Long.MaxValue)
        .collect().map(_.getLong(0)).toSet
      assert(committed == Set(1L, 2L), committed.toString)
      // batch 3: INTRA-batch duplicates — two new ids with identical
      // content (min id kept) and one id crawled twice (deterministic
      // content-hash pick) — exactly one version of each enters the log
      input.addData((7L, "delta content"), (8L, "delta content"),
        (9L, "epsilon content"), (9L, "zeta content"))
      q.processAllAvailable()
      val snap3 = graft.mvcc.LogTable
        .snapshot(spark.read.parquet(logPath), asOf = Long.MaxValue)
        .select("rid", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(snap3(7L) == "delta content" && !snap3.contains(8L), snap3.toString)
      assert(Set("epsilon content", "zeta content").contains(snap3(9L)))
      assert(spark.read.parquet(logPath)
        .filter(org.apache.spark.sql.functions.col("rid") === 9L)
        .count() == 1, "one version of rid 9")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("near-dup ingest stream: batch 1 bootstraps the index; later batches flagged against the on-disk corpus") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest while birds sing morning songs"
    val otherDoc = "an entirely new document about incremental index " +
      "maintenance where each arriving batch probes the persisted corpus " +
      "signatures before joining it"
    val dir = java.nio.file.Files.createTempDirectory("graft-ndingest").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.nearDupIngestStream(
      input.toDF().toDF("doc_id", "text"), s"$dir/idx", "hist",
      s"$dir/decisions", s"$dir/ckpt", buckets = 4)
    try {
      input.addData((1L, base), (2L, "something else entirely here today"))
      q.processAllAvailable() // bootstrap: index = {1, 2}, no decisions
      input.addData((3L, base), (4L, otherDoc))
      q.processAllAvailable() // 3 flagged vs 1; 4 kept and appended
      input.addData((5L, otherDoc), (6L, base))
      q.processAllAvailable() // 5 flagged vs the STREAMED doc 4; 6 vs 1
      val dec = spark.read.parquet(s"$dir/decisions")
        .select("in_id", "canonical_id", "n_matches").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(dec == Set((3L, 1L, 1L), (5L, 4L, 1L), (6L, 1L, 1L)),
        dec.toString)
      // at-least-once replay (the r15 verdict gap — the scored-postings
      // ingest got the hwm in r15, this sink didn't): re-delivering an
      // already-committed batch must neither re-append signature rows to
      // the index nor re-emit its decision rows
      val cat0 = graft.catalog.Catalog(spark, s"$dir/idx")
      assert(cat0.table("hist_hwm").count() == 3, "one marker per batch")
      val bandsBefore = cat0.bucketedTable("hist_bands").count()
      val setsBefore = cat0.bucketedTable("hist_sets").count()
      val replayed = EventStreams.ingestNearDupBatch(cat0, "hist",
        Seq((5L, otherDoc), (6L, base)).toDF("doc_id", "text"),
        batchId = 2L, s"$dir/decisions")
      assert(!replayed, "replay of a committed batch was NOT skipped")
      assert(cat0.bucketedTable("hist_bands").count() == bandsBefore,
        "replay re-appended band rows to the signature index")
      assert(cat0.bucketedTable("hist_sets").count() == setsBefore,
        "replay re-appended set rows to the signature index")
      val decAfter = spark.read.parquet(s"$dir/decisions")
        .select("in_id", "canonical_id", "n_matches").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(decAfter == dec, "replay re-emitted decision rows")
      // compaction folds the per-batch hwm markers to the single max row
      graft.ops.TextDedup.compactSignatureIndex(cat0, "hist")
      assert(cat0.table("hist_hwm").count() == 1, "hwm not collapsed")
      assert(cat0.table("hist_hwm").head().getLong(0) == 2L)
      assert(!EventStreams.ingestNearDupBatch(cat0, "hist",
        Seq((6L, base)).toDF("doc_id", "text"),
        batchId = 2L, s"$dir/decisions"),
        "replay detection broke after hwm collapse")
    } finally {
      q.stop()
      val cat = graft.catalog.Catalog(spark, s"$dir/idx")
      cat.dropBucketed("hist_bands")
      cat.dropBucketed("hist_sets")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("scored-postings ingest stream: search after N micro-batches equals the one-shot batch build") {
    implicit val sqlCtx = spark.sqlContext
    val dd = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val rows = dd.collect().map(r => (r.getLong(0), r.getString(1)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spingest").toString
    val terms = Seq("spark", "join", "window")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.scoredPostingsIngestStream(
      input.toDF().toDF("doc_id", "text"), s"$dir/idx", "spost",
      s"$dir/ckpt")
    try {
      val thirds = rows.grouped((rows.length + 2) / 3).toSeq
      thirds.foreach { b =>
        input.addData(b.toSeq: _*); q.processAllAvailable()
      }
      def res(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val streamed = res(graft.ops.CorpusOps.searchScoredPostings(
        graft.catalog.Catalog(spark, s"$dir/idx"), "spost", terms, k = 25))
      val oneDir = java.nio.file.Files
        .createTempDirectory("graft-sponce").toString
      graft.ops.CorpusOps.writeScoredPostings(
        graft.catalog.Catalog(spark, oneDir), "spost", dd)
      val oneShot = res(graft.ops.CorpusOps.searchScoredPostings(
        graft.catalog.Catalog(spark, oneDir), "spost", terms, k = 25))
      assert(streamed == oneShot,
        "ingested-index ranking diverged from the one-shot build")
      // stats sidecar carries one delta row per ingest batch
      assert(graft.catalog.Catalog(spark, s"$dir/idx")
        .table("spost_stats").count() == thirds.length)
      // at-least-once replay: re-delivering an already-committed batch
      // (foreachBatch's contract after a crash between sink success and
      // offset commit) must be a no-op — same ranking, same stats rows,
      // hwm recognizes the stale batch id
      val cat = graft.catalog.Catalog(spark, s"$dir/idx")
      assert(cat.table("spost_hwm").count() == thirds.length)
      val replayed = EventStreams.ingestScoredPostingsBatch(
        cat, "spost", thirds.last.toSeq.toDF("doc_id", "text"),
        batchId = thirds.length - 1L)
      assert(!replayed, "replay of a committed batch was NOT skipped")
      assert(cat.table("spost_stats").count() == thirds.length,
        "replay double-appended a stats delta")
      val afterReplay = res(graft.ops.CorpusOps.searchScoredPostings(
        cat, "spost", terms, k = 25))
      assert(afterReplay == oneShot,
        "replay corrupted the served BM25 ranking")
      // streaming DELETE maintenance: a tombstone feed applied per
      // micro-batch; ranking after the stream equals a rebuild over
      // the kept docs, and re-delivering the same ids (at-least-once)
      // changes nothing — the delete op is idempotent by construction
      val delIds = rows.map(_._1).filter(_ % 5 == 0)
      val delInput = MemoryStream[Long]
      val dq = EventStreams.scoredPostingsDeleteStream(
        delInput.toDF().toDF("doc_id"), s"$dir/idx", "spost",
        s"$dir/delckpt")
      try {
        delInput.addData(delIds.toSeq: _*); dq.processAllAvailable()
        delInput.addData(delIds.toSeq: _*); dq.processAllAvailable() // replay
      } finally dq.stop()
      val keptDir = java.nio.file.Files
        .createTempDirectory("graft-spkept").toString
      graft.ops.CorpusOps.writeScoredPostings(
        graft.catalog.Catalog(spark, keptDir), "spost",
        dd.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0))
      val keptOracle = res(graft.ops.CorpusOps.searchScoredPostings(
        graft.catalog.Catalog(spark, keptDir), "spost", terms, k = 25))
      val afterDelete = res(graft.ops.CorpusOps.searchScoredPostings(
        cat, "spost", terms, k = 25))
      assert(afterDelete == keptOracle,
        "streamed deletes diverged from the kept-corpus rebuild")
      // compaction folds BOTH unbounded sidecars: the stats deltas
      // collapse to one row AND the per-batch hwm markers collapse to
      // the single max row (the r15 ADVICE gap — the marker table grew
      // one parquet append per micro-batch forever); the served ranking
      // and replay detection both survive the fold
      graft.ops.CorpusOps.compactScoredPostings(cat, "spost")
      assert(cat.table("spost_stats").count() == 1, "stats not collapsed")
      assert(cat.table("spost_hwm").count() == 1, "hwm not collapsed")
      assert(cat.table("spost_hwm").head().getLong(0) == thirds.length - 1L)
      assert(!EventStreams.ingestScoredPostingsBatch(cat, "spost",
        thirds.last.toSeq.toDF("doc_id", "text"),
        batchId = thirds.length - 1L),
        "replay detection broke after hwm collapse")
      val afterCompact = res(graft.ops.CorpusOps.searchScoredPostings(
        cat, "spost", terms, k = 25))
      assert(afterCompact == keptOracle,
        "compaction changed the served ranking")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(keptDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(oneDir))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("scored-postings delete stream: one long-running stream applies deletes across an append and a compaction") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dd = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val ids = dd.select("doc_id").as[Long].collect().toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spdelete").toString
    val cat = graft.catalog.Catalog(spark, s"$dir/idx")
    val terms = Seq("spark", "join", "window")
    def res(c: graft.catalog.Catalog) =
      graft.ops.CorpusOps.searchScoredPostings(c, "spost", terms, k = 25)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def rebuilt(tag: String, keep: org.apache.spark.sql.Column) = {
      val c = graft.catalog.Catalog(spark, s"$dir/rebuilt_$tag")
      graft.ops.CorpusOps.writeScoredPostings(c, "spost", dd.filter(keep))
      res(c)
    }
    graft.ops.CorpusOps.writeScoredPostings(cat, "spost",
      dd.filter(col("doc_id") % 2 === 0))
    val delInput = MemoryStream[Long]
    val dq = EventStreams.scoredPostingsDeleteStream(
      delInput.toDF().toDF("doc_id"), s"$dir/idx", "spost", s"$dir/delckpt")
    try {
      // the stream's session lists the index files on its first batch
      delInput.addData(ids.filter(_ % 10 == 0): _*); dq.processAllAvailable()
      // odd docs appended from this session; deletes fed next hit only them
      graft.ops.CorpusOps.appendToScoredPostings(cat, "spost",
        dd.filter(col("doc_id") % 2 =!= 0))
      delInput.addData(ids.filter(_ % 10 == 5): _*); dq.processAllAvailable()
      assert(dq.isActive, "delete stream died after an append")
      assert(res(cat) == rebuilt("append", col("doc_id") % 5 =!= 0),
        "deletes of appended rows diverged from the kept-corpus rebuild")
      // compaction replaces every index file the stream listed
      graft.ops.CorpusOps.compactScoredPostings(cat, "spost")
      delInput.addData(ids.filter(_ % 10 == 3): _*); dq.processAllAvailable()
      assert(dq.isActive, "delete stream died after a compaction")
      assert(res(cat) ==
        rebuilt("compact", col("doc_id") % 5 =!= 0 && col("doc_id") % 10 =!= 3),
        "deletes after compaction diverged from the kept-corpus rebuild")
    } finally {
      dq.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("positional-index ingest stream: phrase and proximity search after N micro-batches equal the one-shot batch build; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dd = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val rows = dd.collect().map(r => (r.getLong(0), r.getString(1)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-posingest").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.positionalIngestStream(
      input.toDF().toDF("doc_id", "text"), s"$dir/idx", "ppost",
      s"$dir/ckpt")
    try {
      val thirds = rows.grouped((rows.length + 2) / 3).toSeq
      thirds.foreach { b =>
        input.addData(b.toSeq: _*); q.processAllAvailable()
      }
      def res2(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val cat = graft.catalog.Catalog(spark, s"$dir/idx")
      val oneDir = java.nio.file.Files
        .createTempDirectory("graft-posonce").toString
      graft.ops.CorpusOps.writePositionalPostings(
        graft.catalog.Catalog(spark, oneDir), "ppost", dd)
      val oneCat = graft.catalog.Catalog(spark, oneDir)
      assert(res2(graft.ops.CorpusOps.searchPhrase(cat, "ppost",
          Seq("table", "hash"))) ==
        res2(graft.ops.CorpusOps.searchPhrase(oneCat, "ppost",
          Seq("table", "hash"))),
        "ingested-index phrase search diverged from the one-shot build")
      def prox(c: graft.catalog.Catalog) = graft.ops.CorpusOps
        .searchProximity(c, "ppost", Seq("dup", "vector", "merge"),
          window = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(prox(cat) == prox(oneCat),
        "ingested-index proximity search diverged from the one-shot build")
      // at-least-once replay: re-delivering a committed batch must
      // neither re-append posting rows nor change any probe
      assert(cat.table("ppost_hwm").count() == thirds.length)
      val before = cat.bucketedTable("ppost").count()
      assert(!EventStreams.ingestPositionalBatch(cat, "ppost",
        thirds.last.toSeq.toDF("doc_id", "text"),
        batchId = thirds.length - 1L),
        "replay of a committed batch was NOT skipped")
      assert(cat.bucketedTable("ppost").count() == before,
        "replay re-appended posting rows")
      // compaction folds the append files AND the per-batch hwm markers;
      // probes and replay detection survive the fold
      graft.ops.CorpusOps.compactPositionalPostings(cat, "ppost")
      assert(cat.table("ppost_hwm").count() == 1, "hwm not collapsed")
      assert(!EventStreams.ingestPositionalBatch(cat, "ppost",
        thirds.last.toSeq.toDF("doc_id", "text"),
        batchId = thirds.length - 1L),
        "replay detection broke after hwm collapse")
      assert(res2(graft.ops.CorpusOps.searchPhrase(cat, "ppost",
          Seq("table", "hash"))) ==
        res2(graft.ops.CorpusOps.searchPhrase(oneCat, "ppost",
          Seq("table", "hash"))),
        "compaction changed the served phrase answer")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(oneDir))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("vector-index ingest + delete streams: ANN after N micro-batches equals the one-shot build; takedown feed hides vectors; replays are no-ops") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_e"))
      .localCheckpoint(true) // the FROZEN train-once quantizer
    val rows = e.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecingest").toString
    val input = MemoryStream[(Long, Array[Float])]
    val q = EventStreams.vectorIngestStream(
      input.toDF().toDF("vec_id", "embedding"), cent,
      s"$dir/idx", "vidx", s"$dir/ckpt", buckets = 4)
    try {
      val thirds = rows.grouped((rows.length + 2) / 3).toSeq
      thirds.foreach { b =>
        input.addData(b.toSeq: _*); q.processAllAvailable()
      }
      def res(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
      val cat = graft.catalog.Catalog(spark, s"$dir/idx")
      // one-shot expectation: assignment is per-vector under the frozen
      // centroids, so the streamed index must serve identically
      val expected = res(graft.ops.VectorOps.inCellTopK(
        graft.ops.VectorOps.ivfCells(e, cent, nprobe = 1), k = 3,
        queryPred = col("q_id") < 10))
      assert(res(graft.ops.VectorOps.searchIndex(cat, "vidx", k = 3,
        queryPred = col("q_id") < 10)) == expected,
        "streamed vector index diverged from the one-shot build")
      // replay: re-delivering a committed batch appends nothing
      assert(cat.table("vidx_hwm").count() == thirds.length)
      val before = cat.bucketedTable("vidx").count()
      assert(!EventStreams.ingestVectorBatch(cat, "vidx", cent,
        thirds.last.toSeq.toDF("vec_id", "embedding"),
        batchId = thirds.length - 1L, buckets = 4),
        "replay of a committed batch was NOT skipped")
      assert(cat.bucketedTable("vidx").count() == before,
        "replay re-appended cell rows")
      // takedown feed: vec_id % 7 == 0 leaves the serving path; the
      // probe equals a rebuild over the survivors; re-delivery no-op
      val delIds = rows.map(_._1).filter(_ % 7 == 0)
      val delInput = MemoryStream[Long]
      val dq = EventStreams.vectorDeleteStream(
        delInput.toDF().toDF("vec_id"), s"$dir/idx", "vidx",
        s"$dir/delckpt")
      try {
        delInput.addData(delIds.toSeq: _*); dq.processAllAvailable()
        delInput.addData(delIds.toSeq: _*); dq.processAllAvailable()
      } finally dq.stop()
      val kept = res(graft.ops.VectorOps.inCellTopK(
        graft.ops.VectorOps.ivfCells(e.filter(col("vec_id") % 7 =!= 0),
          cent, nprobe = 1), k = 3, queryPred = col("q_id") < 10))
      assert(res(graft.ops.VectorOps.searchIndex(cat, "vidx", k = 3,
        queryPred = col("q_id") < 10)) == kept,
        "streamed deletes diverged from the survivors rebuild")
      // compaction: delete physical, markers folded, answer unchanged
      graft.ops.VectorOps.compactIndex(cat, "vidx")
      assert(!cat.hasTombstones("vidx") &&
        cat.table("vidx_hwm").count() == 1)
      assert(res(graft.ops.VectorOps.searchIndex(cat, "vidx", k = 3,
        queryPred = col("q_id") < 10)) == kept,
        "compaction changed the served ANN answer")
    } finally {
      q.stop()
      graft.catalog.Catalog(spark, s"$dir/idx").dropBucketed("vidx")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("gen-stamped takedown feed: a delete replay landing AFTER a re-ingest of the same id leaves the re-added vector serving") {
    // The cross-stream interleave the r16 caveat documented: the delete
    // and ingest streams share no ordering, so an at-least-once replay
    // of a delete can land after a legitimate re-admission of the same
    // id. With the feed's gen captured at ENQUEUE time the replay
    // re-stamps the ORIGINAL generation and the re-added (higher-gen)
    // rows stay above the grave — v2 keeps serving.
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 48).select("vec_id", "embedding")
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_e"))
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-veninterleave").toString
    val cat = graft.catalog.Catalog(spark, s"$dir/idx")
    try {
      // ingest v1 (the whole corpus, one batch)
      assert(EventStreams.ingestVectorBatch(cat, "vidx2", cent, e,
        batchId = 0L, buckets = 4))
      val victim = 21L
      // ENQUEUE-time capture: the takedown producer stamps the gen that
      // is current when the delete is REQUESTED
      val enqueueGen = cat.currentGen("vidx2")
      val graveFeed = Seq((victim, enqueueGen)).toDF("vec_id", "gen")
      def applyDelete(ckpt: String): Unit = {
        val delInput = MemoryStream[(Long, Long)]
        val dq = EventStreams.vectorDeleteStream(
          delInput.toDF().toDF("vec_id", "gen"), s"$dir/idx", "vidx2",
          s"$dir/$ckpt")
        try {
          delInput.addData((victim, enqueueGen))
          dq.processAllAvailable()
        } finally dq.stop()
      }
      applyDelete("delckpt1") // original delivery
      // re-admission: v2 of the victim = a DIFFERENT live vector's
      // embedding, so serving v2 is distinguishable from serving v1
      val v2 = e.filter(col("vec_id") === 33L)
        .select(org.apache.spark.sql.functions.lit(victim).as("vec_id"),
          col("embedding"))
      assert(EventStreams.ingestVectorBatch(cat, "vidx2", cent, v2,
        batchId = 1L, buckets = 4))
      applyDelete("delckpt2") // the REPLAY, landing after the re-ingest
      def res(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
      // expectation: a rebuild over the corpus with the victim's v2
      // embedding — the delete replay must NOT have killed it
      val state = e.filter(col("vec_id") =!= victim).unionByName(v2)
      val expected = res(graft.ops.VectorOps.inCellTopK(
        graft.ops.VectorOps.ivfCells(state, cent, nprobe = 1), k = 3,
        queryPred = col("q_id") < 10))
      val served = res(graft.ops.VectorOps.searchIndex(cat, "vidx2",
        k = 3, queryPred = col("q_id") < 10))
      assert(served == expected,
        "replayed gen-stamped delete killed the re-ingested vector")
      // and the victim's v2 really is in the serving set somewhere
      assert(graft.ops.VectorOps.searchIndex(cat, "vidx2", k = 3,
          queryPred = col("q_id") === victim).count() > 0,
        "re-added vector not serving as a query")
    } finally {
      cat.dropBucketed("vidx2")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("stream-static LM scoring matches batch lmScore digit-for-digit on a shared corpus") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      1L -> "the cat sat on the mat and the cat slept",
      2L -> "the dog barked at the cat",
      3L -> "qq zz xx vv qq pp zz kk jj ww",
      4L -> "")  // empty doc: tokenizes to one "" token in BOTH paths
    val batchDocs = corpus.toDF("doc_id", "text")
    // trained count table (static side) from the SAME corpus under the
    // batch scorer's exact tokenization, so the smoothing constants
    // match the batch trainer's own derivation (including the "" token
    // an empty doc contributes)
    val counts = graft.ops.CorpusOps.unigramCounts(batchDocs)
    val expected = graft.ops.CorpusOps.lmScore(batchDocs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val input = MemoryStream[(Long, String, Long)]
    val scored = EventStreams.lmScoreStream(
      input.toDF().toDF("doc_id", "text", "ts"), counts,
      windowDur = "1 hour", watermarkDelay = "1 hour")
    val q = scored.writeStream.format("memory").queryName("lm_stream_test")
      .outputMode(OutputMode.Append).start()
    try {
      val B = H
      input.addData(corpus.map { case (id, t) => (id, t, B + id) }: _*)
      q.processAllAvailable()
      input.addData((99L, "watermark advancer", B + 10 * H))
      q.processAllAvailable()
      val got = spark.table("lm_stream_test")
        .select("doc_id", "n_tokens", "avg_logp_q").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == expected,
        s"stream scores must equal batch scores: got=$got exp=$expected")
      // junk doc must rank strictly below fluent ones (the gate signal)
      assert(got(3L)._2 < got(1L)._2 && got(3L)._2 < got(2L)._2)
    } finally q.stop()
  }

  test("shardManifest is streaming-maintainable as-is: incremental manifest equals the batch manifest") {
    // the manifest aggregate is ALGEBRAIC (count/sum/xor are abelian),
    // so the SAME op runs unchanged over a stream in Complete mode —
    // nShards rows of state, no watermark needed. An ingest pipeline
    // keeps the release manifest current for free.
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val expected = graft.ops.CorpusOps.shardManifest(docs, nShards = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.CorpusOps
      .shardManifest(input.toDF().toDF("doc_id", "text"), nShards = 4)
      .writeStream.format("memory").queryName("manifest_stream_test")
      .outputMode(OutputMode.Complete).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1: _*); q.processAllAvailable()
      input.addData(h2: _*); q.processAllAvailable()
      val got = spark.table("manifest_stream_test")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
      assert(got == expected,
        s"incremental manifest diverged: got=$got expected=$expected")
    } finally q.stop()
  }

  test("cmSketch is streaming-maintainable as-is: incremental sketch equals the batch sketch") {
    // the bucket aggregate is ALGEBRAIC (bucketwise counts), so the
    // SAME op runs unchanged over a stream in Complete mode — d·w rows
    // of state; an ingest pipeline keeps point-frequency estimates
    // current for free (the x77 manifest property, at the sketch tier).
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.functions.TextFunctions.words(col("text")))
        .as("word"))
    val expected = graft.ops.SketchOps.cmSketch(words, "word")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val rows = words.collect().map(r => Tuple1(r.getString(0)))
    val input = MemoryStream[Tuple1[String]]
    val q = graft.ops.SketchOps
      .cmSketch(input.toDF().toDF("word"), "word")
      .writeStream.format("memory").queryName("cm_stream_test")
      .outputMode(OutputMode.Complete).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("cm_stream_test")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got == expected,
        s"incremental CM sketch diverged on ${
          got.count { case (k, v) => expected.get(k) != Some(v) } +
            (expected.keySet -- got.keySet).size} buckets")
    } finally q.stop()
  }

  test("gopherRules is streaming-applicable as-is: ingest-time rule gating equals the batch table") {
    // the rule tier is STATELESS (per-row array arithmetic, no agg, no
    // window), so the same op runs unchanged over a stream in Append
    // mode — rule-gate documents at ingest, before they ever land in
    // the corpus, with zero state and batch-identical signals.
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val expected = graft.ops.CorpusOps.gopherRules(docs)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.CorpusOps
      .gopherRules(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_stream_test")
      .outputMode(OutputMode.Append).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1: _*); q.processAllAvailable()
      input.addData(h2: _*); q.processAllAvailable()
      val got = spark.table("gopher_stream_test")
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(got == expected,
        s"stream gate diverged from batch on ${
          got.count { case (k, v) => expected.get(k) != Some(v) }} docs")
    } finally q.stop()
  }

  test("streaming boilerplate gate: trained-set stream signals equal the batch excision") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val bp = graft.ops.CorpusOps.boilerplateSet(docs)
    // doc -> (n_tokens, n_cut) from the ACTING batch op — the stream
    // gate must report exactly what excision would remove
    val batch = graft.ops.CorpusOps.boilerplateExcise(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4))))
      .toMap
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), 1000000000L))
    val input = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.EventStreams.boilerplateGateStream(
        input.toDF().toDF("doc_id", "text", "ts"), bp)
      .writeStream.format("memory").queryName("bp_stream_test")
      .outputMode(OutputMode.Complete).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1: _*); q.processAllAvailable()
      input.addData(h2: _*); q.processAllAvailable()
      val got = spark.table("bp_stream_test").collect()
        .map(r => r.getLong(1) -> ((r.getLong(4), r.getLong(5)))).toMap
      assert(got.exists(_._2._2 > 0), "gate must flag some chrome")
      got.foreach { case (id, (nt, nc)) =>
        assert(batch(id) == ((nt, nc)),
          s"doc $id: stream ($nt,$nc) vs batch ${batch(id)}")
      }
      // every doc with at least one full block is covered (shorter
      // docs emit no blocks — the documented drop rule)
      val expected = batch.filter(_._2._1 >= 4).keySet
      assert(got.keySet == expected,
        s"coverage gap: ${(expected -- got.keySet).take(3)}")
    } finally q.stop()
  }

  test("streaming weighted sample: incremental per-group top-k equals the batch draw") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val real = for (g <- Seq("a", "b"); i <- 1 to 30)
      yield (g, (if (g == "a") 0L else 100L) + i, 50.0 + i)
    // trigger rows: valid but vanishingly small weight ⇒ key ≈ -∞ —
    // they can never crack a full top-k, but they make every group
    // re-emit its CURRENT winners in the final micro-batch
    val trigger = Seq(("a", 900L, 1e-9), ("b", 901L, 1e-9))
    val expected = graft.ops.CorpusOps
      .weightedSample((real ++ trigger).toDF("lang", "doc_id", "wt"),
        k = 5, weightCol = "wt")
      .collect().map(r => (r.getString(0), r.getInt(4), r.getLong(1))).toSet
    val input = MemoryStream[(String, Long, Double)]
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    val q = EventStreams.weightedSampleStream(
        input.toDF().toDF("lang", "doc_id", "wt"), k = 5, weightCol = "wt")
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val c = df.collect(); if (c.nonEmpty) last = c
      }.start()
    try {
      val (b1, b2) = real.splitAt(40)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(trigger: _*); q.processAllAvailable()
      val got = last.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == expected,
        s"stream state diverged from batch draw:\ngot=$got\nexp=$expected")
    } finally q.stop()
  }

  test("stream-static NB classifier scoring matches batch nbScores/nbPredict digit-for-digit") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (1L, "s", "win money money now"),
      (2L, "s", "win prize money"),
      (3L, "h", "meeting notes today"),
      (4L, "h", "notes review meeting agenda")).toDF("doc_id", "lang", "text")
    val testCorpus = Seq(
      10L -> "money win win",
      11L -> "meeting review notes",
      12L -> "zzz qqq") // all-OOV: must drop in BOTH paths
    val testDf = testCorpus.toDF("doc_id", "text")
    val batchScores = graft.ops.ClassifierOps.nbScores(train, testDf)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap
      }
    val batchPred = graft.ops.ClassifierOps.nbPredict(train, testDf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val input = MemoryStream[(Long, String, Long)]
    val out = EventStreams.nbScoreStream(
      input.toDF().toDF("doc_id", "text", "ts"), train,
      windowDur = "1 hour", watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("nb_stream_test")
      .outputMode(OutputMode.Append).start()
    try {
      val B = H
      input.addData(testCorpus.map { case (id, t) => (id, t, B + id) }: _*)
      q.processAllAvailable()
      input.addData((99L, "win", B + 10 * H)) // watermark advancer (in-vocab)
      q.processAllAvailable()
      val got = spark.table("nb_stream_test")
        .filter(col("doc_id") < 90)
        .select("doc_id", "pred_label", "score").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
      assert(got.keySet == Set(10L, 11L), s"OOV-only doc must drop: $got")
      for ((id, (pred, score)) <- got) {
        assert(pred == batchPred(id), s"doc $id: stream $pred vs batch ${batchPred(id)}")
        assert(score == batchScores(id)(pred),
          s"doc $id: stream score $score vs batch ${batchScores(id)(pred)}")
      }
    } finally q.stop()
  }

  test("streaming BPE encode replay equals the batch x68 encode; out-of-alphabet text emits unkId") {
    import graft.ops.BpeOps
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val merges = BpeOps.train(corpus, numMerges = 16)
    val ids = BpeOps.vocabIds(
      BpeOps.wordCounts(corpus).select(col("w")), merges)
    val batch = BpeOps.encodeDocs(corpus, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Int](2).toList)))
      .toMap
    val input = MemoryStream[(Long, String)]
    val enc = EventStreams.bpeEncodeStream(
      input.toDF().toDF("doc_id", "text"), merges, ids)
    val q = enc.writeStream.format("memory").queryName("bpe_enc_stream")
      .outputMode(OutputMode.Append).start()
    try {
      val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      docs.grouped(100).foreach { g =>
        input.addData(g.toSeq: _*); q.processAllAvailable()
      }
      // a doc whose code points are outside the trained alphabet: the
      // fixed vocabulary can't encode it — every symbol maps to unkId
      assume(!ids.contains("世"), "fixture alphabet collision")
      input.addData((999999L, "世世")); q.processAllAvailable()
      val got = spark.table("bpe_enc_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Int](2).toList)))
        .toMap
      assert(got(999999L) == ((2L, List(-1, -1))),
        s"OOV doc must emit unkId per symbol: ${got(999999L)}")
      assert((got - 999999L) == batch,
        "streamed id sequences diverge from the batch x68 encode")
    } finally q.stop()
  }

  test("streaming heavy-hitter recount: frozen MG candidates, state equals the batch counts after any split") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val words = docs.select(org.apache.spark.sql.functions
      .explode(graft.functions.TextFunctions.words(col("text"))).as("word"))
    val batch = graft.ops.SketchOps.heavyHitters(words, "word", k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty, "fixture has no heavy hitters at k=64")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.heavyCountStream(
        input.toDF().toDF("doc_id", "text"), batch.keys.toSeq)
      .writeStream.format("memory").queryName("hh_stream_test")
      .outputMode(OutputMode.Complete).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 3)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("hh_stream_test").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == batch, s"stream counts diverged from batch on ${
        got.count { case (k, v) => batch.get(k) != Some(v) } +
          (batch.keySet -- got.keySet).size} words")
    } finally q.stop()
  }

  test("streaming CDC chunk gate: shared chunk grain, per-doc known counts equal the batch join") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    implicit val sqlCtx = spark.sqlContext
    val TF = graft.functions.TextFunctions
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hist = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 =!= 0)
    val known = graft.ops.TextDedup.cdcChunkFps(
        hist.select(col("doc_id"), TF.words(col("text")).as("ws")), 8)
      .select(col("chunk_fp")).distinct()
    val batch = graft.ops.TextDedup.cdcChunkFps(
        incoming.select(col("doc_id"), TF.words(col("text")).as("ws")), 8)
      .join(known.withColumn("__known", lit(1L)), Seq("chunk_fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__known").isNotNull, 1L).otherwise(0L))
          .as("n_known"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(batch.values.exists(_._2 > 0), "fixture has no known chunks")
    val rows = incoming.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), 1000000000L))
    val input = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.EventStreams.cdcGateStream(
        input.toDF().toDF("doc_id", "text", "ts"), known)
      .writeStream.format("memory").queryName("cdc_gate_test")
      .outputMode(OutputMode.Complete).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("cdc_gate_test").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == batch, s"stream gate diverged from batch on ${
        got.count { case (k, v) => batch.get(k) != Some(v) } +
          (batch.keySet -- got.keySet).size} docs")
    } finally q.stop()
  }

  test("streaming mixture gate: frozen rates, admitted set equals the batch temperature sample") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rates = graft.ops.CorpusOps.temperatureRates(docs, alpha = 0.5)
    val batch = graft.ops.CorpusOps.temperatureSample(docs, alpha = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2))))
      .toMap
    assert(batch.nonEmpty)
    val rows = docs.select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.mixGateStream(
        input.toDF().toDF("doc_id", "lang"), rates)
      .writeStream.format("memory").queryName("mix_gate_test")
      .outputMode(OutputMode.Append).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("mix_gate_test").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      assert(got == batch, s"stream gate diverged from batch on ${
        got.count { case (k, v) => batch.get(k) != Some(v) } +
          (batch.keySet -- got.keySet).size} docs")
    } finally q.stop()
  }

  test("streaming PQ encode: frozen codebook, stateless codes equal the batch encode") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.ops.VectorOps.pqTrain(e, m = 4, ksub = 8, iters = 2)
    val batch = graft.ops.VectorOps.pqEncode(e, cents, m = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val frozen = cents.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toSeq)).toSeq
    val rows = e.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.EventStreams.pqEncodeStream(
        input.toDF().toDF("vec_id", "embedding"), frozen, m = 4)
      .writeStream.format("memory").queryName("pq_stream_test")
      .outputMode(OutputMode.Append).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("pq_stream_test").collect()
        .map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == batch, s"stream codes diverged from batch on ${
        got.count { case (k, v) => batch.get(k) != Some(v) } +
          (batch.keySet -- got.keySet).size} (vec, sub) rows")
    } finally q.stop()
  }

  test("streaming DSIR gate: frozen two-model scores equal the batch x83 weight table") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source")
    val inTarget = col("source").isin("src0", "src1")
    val pool = all.filter(!inTarget)
    val tCounts = graft.ops.CorpusOps.unigramCounts(all.filter(inTarget))
    val sCounts = graft.ops.CorpusOps.unigramCounts(pool)
    val batch = graft.ops.CorpusOps.dsirWeights(pool, tCounts, sCounts)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val rows = pool.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), 1000000000L))
    val input = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.EventStreams.dsirScoreStream(
        input.toDF().toDF("doc_id", "text", "ts"), tCounts, sCounts)
      .writeStream.format("memory").queryName("dsir_stream_test")
      .outputMode(OutputMode.Complete).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("dsir_stream_test").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == batch,
        s"stream gate diverged from batch x83 on ${
          got.count { case (k, v) => batch.get(k) != Some(v) } +
            (batch.keySet -- got.keySet).size} docs")
    } finally q.stop()
  }

  test("streaming KN scoring: frozen bigram model equals the batch x109 apply") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val model = graft.ops.CorpusOps.bigramCounts(
      all.filter(col("doc_id") % 5 =!= 0))
    val applyTo = all.filter(col("doc_id") % 5 === 0)
    val batch = graft.ops.CorpusOps.knBigramApply(applyTo, model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val rows = applyTo.collect()
      .map(r => (r.getLong(0), r.getString(1), 1000000000L))
    val input = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.EventStreams.knScoreStream(
        input.toDF().toDF("doc_id", "text", "ts"), model)
      .writeStream.format("memory").queryName("kn_stream_test")
      .outputMode(OutputMode.Complete).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("kn_stream_test").collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == batch,
        s"stream KN diverged from batch x109 on ${
          got.count { case (k, v) => batch.get(k) != Some(v) } +
            (batch.keySet -- got.keySet).size} docs")
    } finally q.stop()
  }

  test("streaming semantic decontamination: stateless literal-suite gate equals the batch x102 report") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val benchDf = e.filter(col("vec_id") % 10 === 0)
    val train = e.filter(col("vec_id") % 10 =!= 0)
    val batch = graft.ops.VectorOps
      .semDecontaminate(train, benchDf, threshold = 0.35)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(batch.nonEmpty, "fixture must plant at least one semantic hit")
    val bench = benchDf.collect()
      .map(_.getSeq[Float](1).toSeq).toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.EventStreams.semDecontaminateStream(
        input.toDF().toDF("vec_id", "embedding"), bench, threshold = 0.35)
      .writeStream.format("memory").queryName("semdecon_stream")
      .outputMode(OutputMode.Append).start()
    try {
      val rows = train.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1: _*); q.processAllAvailable()
      input.addData(h2: _*); q.processAllAvailable()
      val got = spark.table("semdecon_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got == batch,
        s"stream gate diverged from batch x102 on ${
          got.count { case (k, v) => batch.get(k) != Some(v) } +
            (batch.keySet -- got.keySet).size} vecs")
    } finally q.stop()
  }

  test("streaming curation gate: frozen thresholds from the batch corpus, reasons equal an equivalent batch replay") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val TF = graft.functions.TextFunctions
    val EM = graft.functions.ExactMath
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text")
    val hist = all.filter(col("doc_id") % 5 =!= 0)
    val incoming = all.filter(col("doc_id") % 5 === 0)
    // frozen batch-side parameters (train once, gate forever)
    val cutQ = graft.ops.CorpusOps.entropySignal(hist)
      .agg(percentile(col("entropy_q"), lit(0.05))).head.getDouble(0).toLong
    val knownFps = graft.ops.TextDedup.cdcChunkFps(
      hist.select(col("doc_id"), TF.words(col("text")).as("ws")), 8)
      .select("chunk_fp")
    val rates = graft.ops.CorpusOps.temperatureRates(hist)

    // equivalent BATCH replay of the gate semantics over the incoming
    // slice (same integer entropy, same chunk grain, same thresholds)
    val ent = graft.ops.CorpusOps.entropySignal(incoming)
      .select(col("doc_id"), col("entropy_q"))
    val uni = incoming
      .select(col("doc_id"), explode(TF.words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")) === min(col("c"))).as("uni0"))
    val own = graft.ops.TextDedup.cdcChunkFps(
        incoming.select(col("doc_id"), TF.words(col("text")).as("ws")), 8)
      .join(knownFps.select(col("chunk_fp"), lit(1L).as("k")).distinct(),
        Seq("chunk_fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nc"),
        sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("nk"))
    val expected = incoming.select(col("doc_id"), col("lang"))
      .join(ent, Seq("doc_id")).join(uni, Seq("doc_id"))
      .join(own, Seq("doc_id"))
      .join(rates.select(col("lang"), col("thr")), Seq("lang"), "left")
      .select(col("doc_id"),
        when(col("entropy_q") < cutQ, "low_entropy")
          .when(col("uni0"), "uniform")
          .when(col("nk") * 2 > col("nc"), "dup_known_chunks")
          .when(!coalesce(TF.hash60(col("doc_id").cast("string"), "mix|")
            % 1000000L < col("thr"), lit(false)), "mix_out")
          .otherwise("kept").as("reason"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(expected.values.toSet.size >= 3,
      s"fixture must exercise several gates: ${expected.values.toSet}")

    val rows = incoming.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), 1000000000L))
    val input = MemoryStream[(Long, String, String, Long)]
    val q = EventStreams.curateGateStream(
        input.toDF().toDF("doc_id", "lang", "text", "ts"),
        entropyCutQ = cutQ, knownFps = knownFps, rates = rates)
      .writeStream.format("memory").queryName("curate_gate_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("curate_gate_stream").collect()
        .map(r => r.getLong(1) -> r.getString(5)).toMap
      assert(got == expected,
        s"stream gate diverged from the batch replay on ${
          got.count { case (k, v) => expected.get(k) != Some(v) } +
            (expected.keySet -- got.keySet).size} docs")
    } finally q.stop()
  }

  test("streaming linear gate: frozen trained weights, stateless scores equal the batch logregScore") {
    import org.apache.spark.sql.functions.{col, lit, when}
    implicit val sqlCtx = spark.sqlContext
    val dd = spark.read.parquet(s"$sf/documents.parquet")
    val y = graft.ops.CorpusOps.gopherRules(dd)
      .select(col("doc_id"), col("keep").as("y"))
    val feats = graft.ops.ClassifierOps.logregFeatures(dd)
      .join(y, Seq("doc_id"))
    val w = graft.ops.ClassifierOps.logregTrain(feats, steps = 4)
    val batch = graft.ops.ClassifierOps.logregScore(feats, w)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val rows = dd.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.logregScoreStream(
        input.toDF().toDF("doc_id", "text"), w)
      .writeStream.format("memory").queryName("logreg_stream_test")
      .outputMode(OutputMode.Append).start()
    try {
      val (h1, h2) = rows.splitAt(rows.length / 2)
      input.addData(h1.toSeq: _*); q.processAllAvailable()
      input.addData(h2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("logreg_stream_test").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == batch, s"stream gate diverged from batch on ${
        got.count { case (k, v) => batch.get(k) != Some(v) } +
          (batch.keySet -- got.keySet).size} docs")
    } finally q.stop()
  }
}