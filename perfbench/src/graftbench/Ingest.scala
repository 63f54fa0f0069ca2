package graftbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.catalog.Catalog
import graft.mvcc.LogTable
import graft.ops.{CorpusOps, TextDedup, VectorOps}
import graft.streaming.EventStreams

/** The `ingest` workload: index churn with writes beside reads.
  *
  * Documents and embeddings arrive in seeded micro-batches through the
  * public ingest streams (scored postings, near-dup signatures, IVF
  * vectors, plus the stateless `lmScoreStream` gate). After each batch a
  * seeded delete feed runs through the delete streams, the batch is
  * appended to an MVCC log table, seeded search probes run against all
  * three indexes, and an index is compacted when
  * `Catalog.shouldCompactBucketed` says so. [[Churn.finish]] ends with an
  * MVCC snapshot, `compactLog` and a second snapshot.
  *
  * Correctness: the snapshot's live-document count must equal the rows
  * that survived, and [[Churn.verify]] checks that the served search top-k
  * equals a one-shot batch build over the surviving rows. */
final class Ingest(run: Run, val allDocs: Seq[(Long, String)],
    val allVecs: Seq[(Long, Seq[Float])]) {
  private val spark = run.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Frozen coarse quantizer (train once, never per batch) and frozen LM
    * counts, both local relations so the storage sweep between ops
    * cannot drop them. */
  private val centroids: DataFrame = allVecs.take(16).toDF("c_id", "c_e")
  private val counts: DataFrame = {
    val train = allDocs.filter(_._1 % 10 == 0).toDF("doc_id", "text")
    CorpusOps.unigramCounts(train).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1))).toDF("word", "cnt")
  }

  private val Buckets = 8
  private val LogSchema = StructType(Seq(StructField("rid", LongType),
    StructField("text", StringType), StructField("txn", LongType), StructField("op", StringType)))

  /** One churn of all rows under `dir`: seeded micro-batches holding the
    * given shares of the rows. */
  final class Churn(dir: String, shares: Seq[Double], rng: Random) {
    val cat = Catalog(spark, s"$dir/idx")
    private val docIn = Seq.fill(3)(MemoryStream[(Long, String, Timestamp)])
    private val vecIn = MemoryStream[(Long, Array[Float])]
    private val delDocs = MemoryStream[Long]
    private val delVecs = MemoryStream[Long]
    private def docsDf(i: Int) = docIn(i).toDF().toDF("doc_id", "text", "ts")
    val ingest: Seq[StreamingQuery] = Seq(
      EventStreams.scoredPostingsIngestStream(docsDf(0).select("doc_id", "text"),
        s"$dir/idx", "spost", s"$dir/ck_spost"),
      EventStreams.nearDupIngestStream(docsDf(1).select("doc_id", "text"),
        s"$dir/idx", "nd", s"$dir/decisions", s"$dir/ck_nd", buckets = Buckets),
      EventStreams.lmScoreStream(docsDf(2), counts)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", s"$dir/ck_lm").start(),
      EventStreams.vectorIngestStream(vecIn.toDF().toDF("vec_id", "embedding"),
        centroids, s"$dir/idx", "vidx", s"$dir/ck_vidx", buckets = Buckets))
    // Each takedown batch starts the delete streams on their checkpoints,
    // feeds them and stops them, the pattern StreamingSpec pins. A delete
    // stream kept running reads the index through its own session's cached
    // file listing: it misses rows appended since and, after a compaction,
    // fails on files the compaction removed.
    private def deleteStreams() = Seq(
      EventStreams.scoredPostingsDeleteStream(delDocs.toDF().toDF("doc_id"),
        s"$dir/idx", "spost", s"$dir/ck_del_spost"),
      EventStreams.vectorDeleteStream(delVecs.toDF().toDF("vec_id"),
        s"$dir/idx", "vidx", s"$dir/ck_del_vidx"))
    cat.createNew("doclog", LogSchema)

    private def split[T](xs: Seq[T]) = {
      val ends = shares.scanLeft(0.0)(_ + _).map(f => math.round(f * xs.size).toInt)
      ends.zip(ends.tail).map { case (a, b) => xs.slice(a, b) }
    }
    private val docBatches = split(rng.shuffle(allDocs))
    private val vecBatches = split(rng.shuffle(allVecs))
    val liveDocs = mutable.LinkedHashSet[Long]()
    val liveVecs = mutable.LinkedHashSet[Long]()
    /** Text plus vector bytes fed to the indexes so far. */
    var ingestedBytes = 0L

    private def feed(name: String, kind: String, q: StreamingQuery, n: Long)(add: => Unit): Unit =
      run.op(kind, name) { s =>
        s.items = n
        s.phase("exec") { add; q.processAllAvailable() }
        None
      }

    /** Micro-batch `i`: ingest, takedowns, log append, probes, maintenance. */
    def step(i: Int): Unit = run.tracer.fold(batch(i))(_.span("batch", s"ingest/batch/$i")(batch(i)))

    private def batch(i: Int): Unit = {
      val db = docBatches(i)
      val vb = vecBatches(i)
      val rows = db.map { case (id, t) => (id, t, new Timestamp(1704067200000L + id * 1000)) }
      ingestedBytes += db.map(_._2.length.toLong).sum + vb.size * 64L * 4
      feed("append_postings", "append", ingest(0), db.size)(docIn(0).addData(rows))
      feed("append_neardup", "append", ingest(1), db.size)(docIn(1).addData(rows))
      feed("gate_lm", "gate", ingest(2), db.size)(docIn(2).addData(rows))
      feed("append_vectors", "append", ingest(3), vb.size)(
        vecIn.addData(vb.map { case (id, v) => (id, v.toArray) }))
      liveDocs ++= db.map(_._1)
      liveVecs ++= vb.map(_._1)
      val gone = rng.shuffle(liveDocs.toSeq).take(liveDocs.size / 40 + 1)
      val goneV = rng.shuffle(liveVecs.toSeq).take(liveVecs.size / 40 + 1)
      run.op("delete", "delete") { s =>
        s.items = gone.size + goneV.size
        s.phase("exec") {
          delDocs.addData(gone); delVecs.addData(goneV)
          val deletes = deleteStreams()
          try deletes.foreach(_.processAllAvailable()) finally deletes.foreach(_.stop())
        }
        None
      }
      liveDocs --= gone
      liveVecs --= goneV
      val txn = i + 1L
      run.op("log_append", "log_append") { s =>
        s.phase("exec") {
          val entries = LogTable.upserts(db.toDF("rid", "text"), txn, col("rid"))
            .unionByName(LogTable.deletes(gone.toDF("rid"), txn, col("rid")),
              allowMissingColumns = true)
            .unionByName(LogTable.commitMarker(spark, txn), allowMissingColumns = true)
          cat.append("doclog", entries.select(LogSchema.fields.map(f =>
            col(f.name).cast(f.dataType)).toSeq: _*))
        }
        None
      }
      refresh()
      probes()
      maintain()
    }

    /** The streams append from their own sessions, and Spark caches a
      * table's file listing per session, so this session refreshes the
      * indexes before reading them, as Spark requires for a table changed
      * by another session. Without it a compaction reads a stale listing
      * and drops the rows appended since. */
    private def refresh(): Unit =
      Seq("spost", "vidx", "nd_bands", "nd_sets").map(cat.bucketedName)
        .filter(spark.catalog.tableExists).foreach(spark.catalog.refreshTable)

    /** Seeded probes: BM25 top-k, near-dup lookups, ANN top-k. */
    private def probes(): Unit = {
      val terms = Seq.fill(3)(DataGen.Vocab(rng.nextInt(DataGen.Vocab.length))).distinct
      run.frame("search", "search_postings")(CorpusOps.searchScoredPostings(cat, "spost", terms, k = 10))
      val probe = Seq.fill(5)(allDocs(rng.nextInt(allDocs.size))).toDF("doc_id", "text")
      run.frame("search", "search_neardup")(TextDedup.dedupAgainstIndex(cat, "nd", probe))
      val qs = rng.shuffle(liveVecs.toSeq).take(5)
      run.frame("search", "search_vectors")(VectorOps.searchIndex(cat, "vidx", k = 5,
        queryPred = col("q_id").isin(qs: _*)))
    }

    /** Compact each index whose small-file or tombstone trigger fires. */
    private def maintain(): Unit = {
      val due = Seq[(String, String, () => Unit)](
        ("spost", "compact_postings", () => CorpusOps.compactScoredPostings(cat, "spost")),
        ("vidx", "compact_vectors", () => VectorOps.compactIndex(cat, "vidx")),
        ("nd_bands", "compact_neardup", () => TextDedup.compactSignatureIndex(cat, "nd")))
        .filter(j => cat.shouldCompactBucketed(j._1, maxTombstones = 50))
      for ((_, name, f) <- due) run.op("compact", name) { s => s.phase("exec")(f()); None }
    }

    /** MVCC: snapshot, `compactLog`, snapshot again; both must hold the live rows. */
    def finish(): Unit = {
      val asOf = shares.size.toLong
      def snapshot(name: String): Unit = run.op("snapshot", name) { s =>
        val n = s.phase("exec")(LogTable.snapshot(cat.table("doclog"), asOf).count())
        require(n == liveDocs.size, s"snapshot holds $n live documents, expected ${liveDocs.size}")
        None
      }
      snapshot("mvcc_snapshot")
      run.op("compact", "mvcc_compact") { s => s.phase("exec")(cat.compactLog("doclog", asOf)); None }
      snapshot("mvcc_snapshot_compacted")
    }

    def close(): Unit = ingest.foreach(_.stop())

    /** Report-only probe of a known defect, in its own catalog under `dir`:
      * this session reads a vector index, a stream then appends to it, and
      * `compactIndex` runs without the [[refresh]] the churn does. Returns
      * (rows appended, rows missing after the compaction); 0 missing once
      * `Catalog` or `EventStreams` no longer serve a stale file listing. */
    def staleListingProbe(dir: String): (Long, Long) = {
      val probeCat = Catalog(spark, s"$dir/idx")
      val in = MemoryStream[(Long, Array[Float])]
      val q = EventStreams.vectorIngestStream(in.toDF().toDF("vec_id", "embedding"),
        centroids, s"$dir/idx", "vidx", s"$dir/ck", buckets = Buckets)
      val (first, second) = allVecs.take(400).splitAt(200)
      def feed(vs: Seq[(Long, Seq[Float])]): Unit = {
        in.addData(vs.map { case (id, v) => (id, v.toArray) })
        q.processAllAvailable()
      }
      try {
        feed(first)
        VectorOps.searchIndex(probeCat, "vidx", k = 1,
          queryPred = col("q_id") === first.head._1).collect()
        feed(second)
      } finally q.stop()
      VectorOps.compactIndex(probeCat, "vidx")
      val appended = (first.size + second.size).toLong
      (appended, appended - probeCat.table("vidx").count())
    }

    /** Compare the churned indexes with one-shot builds over the survivors. */
    def verify(dir: String, rng: Random): Unit = {
      val once = Catalog(spark, s"$dir/oneshot")
      CorpusOps.writeScoredPostings(once, "spost",
        allDocs.filter(d => liveDocs(d._1)).toDF("doc_id", "text"))
      def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSet
      def same(what: String, a: Set[String], b: Set[String]): Unit =
        require(a == b, s"$what differs from the one-shot build: " +
          s"${(a -- b).take(3).mkString(", ")} served, ${(b -- a).take(3).mkString(", ")} expected")
      run.op("verify", "verify_postings") { s =>
        val terms = Seq.fill(3)(DataGen.Vocab(rng.nextInt(DataGen.Vocab.length))).distinct
        s.phase("exec")(same(s"postings top-10 for $terms",
          rows(CorpusOps.searchScoredPostings(cat, "spost", terms, 10)),
          rows(CorpusOps.searchScoredPostings(once, "spost", terms, 10))))
        None
      }
      run.op("verify", "verify_vectors") { s =>
        val kept = allVecs.filter(v => liveVecs(v._1)).toDF("vec_id", "embedding")
        val pred = col("q_id").isin(liveVecs.toSeq.sorted.take(50): _*)
        s.phase("exec")(same("vector top-5", rows(VectorOps.searchIndex(cat, "vidx", 5, pred)),
          rows(VectorOps.inCellTopK(VectorOps.ivfCells(kept, centroids, nprobe = 1), 5, pred))))
        None
      }
    }
  }
}
