package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Parameterized corpus-preparation operations — the library API behind
  * the `x37`/`x38`/`x40` demo queries: benchmark decontamination,
  * training-sequence packing, and deterministic epoch shuffling. Same
  * contract as [[TextDedup]]/[[VectorOps]]: callers bring their own
  * frames, column names, and knobs; the fixture queries are applied
  * instances.
  */
object CorpusOps {

  /** Pre-tokenized corpus view (doc_id, ws: array<string>) — the shared
    * input of the `FromWords` scoring forms. Composed pipelines
    * (unigram + bigram LM scoring, span stats) should compute this ONCE,
    * share it through [[graft.engine.Barrier.sharedGrain]], and feed
    * every consumer: tokenization (normalize + split) is the single most
    * repeated map cost in a scoring stack, and the cache makes it a
    * one-pass cost. (A shared grain, NOT a `localCheckpoint`:
    * checkpointing calls `toRdd` at construction, which under AQE
    * materializes every shuffle stage before the caller ever runs an
    * action — a shared grain defers ALL work to the first action,
    * `unpersist` frees it, and its plan compiles once per JVM.) */
  def tokenized(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("ws"))

  /** Corpus-trained unigram LM quality score — the engine-shaped core
    * of the CCNet-style LM filtering family (Wenzek et al., LREC 2020
    * train a KenLM and keep low-perplexity text; the unigram form needs
    * no external model and is what the engine itself can train in one
    * pass): every token is scored by its corpus frequency with add-one
    * smoothing, and a document's score is its mean token
    * log-probability. Junk (rare-token soup, encoding noise) scores far
    * below fluent text; rank or threshold `avg_logp_q` downstream.
    * Output: (doc_id, n_tokens, avg_logp_q — 1e-4 integer units).
    *
    * 100 TB shape: the count table is VOCAB-sized (one groupBy with
    * map-side partial agg absorbing stopword skew); the scoring join is
    * at (doc, word) grain on the word key — broadcast when the vocab is
    * bounded, shuffle + AQE skew-split otherwise; the two corpus
    * constants ride a one-row broadcast. Nothing driver-side.
    *
    * Determinism across engines: the per-word log-prob is quantized
    * ONCE to BIGINT micro-units (the [[graft.functions.ExactMath]]
    * grid; ln is the only IEEE op), summed exactly, and the mean is
    * integer divide-half-up — every digit engine/build-portable, so
    * the oracle hash-matches a float-heavy score at any SF. */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    lmScoreFromWords(tokenized(docs, idCol, textCol))

  /** [[lmScore]] over a pre-tokenized (doc_id, ws) frame ([[tokenized]]
    * output) — the composition form that shares one tokenize pass with
    * [[bigramLmScoreFromWords]]. */
  def lmScoreFromWords(words: DataFrame): DataFrame = {
    // Shared-materialization shape: the (doc, word) tf grain feeds the
    // corpus-count branch AND the scoring join. Checkpointing the tf
    // grain row-serializes a string-heavy frame (~6x the columnar cache
    // size — measured on x59's bigram twin), taxing every consumer's
    // read. So: LAZY columnar shared grain on the fat tf frame + EAGER
    // barrier on the vocab-sized counts table derived from it — the
    // counts job fills the tf cache at construction, and the scoring
    // join then reads the warm compact cache and a materialized counts
    // table. The barrier was added (r18) against an AQE race of the
    // consumers' leaf stages on a cold cache; that race no longer
    // happens (BarrierSpec pins one upstream evaluation for a lazy
    // grain), but the barrier still pays: on perfbench `pipeline` (x61;
    // 4-core host, seed 1, 4 alternating pairs) dropping this barrier
    // and bigramLmScoreFromWords' went wall 3.70 -> 3.91 s and cpu
    // 11.11 -> 12.07 s (construct jobs 21 -> 11, but exec 2.08 -> 2.29 s
    // and shuffle read 1.61 -> 2.24 MiB); lazy shared grains in their
    // place went wall 4.05 -> 4.30 s and cpu 12.28 -> 12.96 s.
    val tf = words.select(col("doc_id"), explode(col("ws")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.engine.Barrier.sharedGrain)
    val counts = graft.engine.Barrier.lineageBarrier(
      tf.groupBy(col("word")).agg(sum(col("tf")).as("cnt")))
    val denom = Denom.joined(unigramTotals(counts))
    gridMean(denom.attach(tf.join(counts, Seq("word")))
        .withColumn("lpw_q", addOneLogQ(col("cnt"), denom.value)),
      Seq(col("doc_id")), col("tf"), col("lpw_q"), "n_tokens", "avg_logp_q")
  }

  /** Add-one smoothed probability (cnt + 1) / denom of a count model's
    * unit — the leaf of every frozen count model here (unigram,
    * bigram, KN continuation, DSIR), batch and stream alike. */
  private[graft] def addOneP(cnt: Column, denom: Column): Column =
    (cnt + 1).cast("double") / denom

  /** [[addOneP]]'s ln, quantized ONCE onto the BIGINT micro grid
    * ([[graft.functions.ExactMath.microQ]]; ln is the only IEEE op). */
  private[graft] def addOneLogQ(cnt: Column, denom: Column): Column =
    graft.functions.ExactMath.microQ(log(addOneP(cnt, denom)))

  /** Grid-mean rollup, the one scoring tail of every frozen count
    * model: per `keys` group, `nName` = Σw and `qName` =
    * divHalfUpSigned(Σ w·q, Σw·100) — the exact 1e-4-grid mean of a
    * micro-grid per-unit score. Batch ops call it with keys doc_id and
    * weight tf on the (doc, unit) grain; stream gates with keys
    * (window(event_time), doc_id) and weight 1 on the token grain
    * (streaming allows one stateful aggregation, so a stream cannot
    * pre-aggregate tf). Integer sums are order-free, so both paths
    * give the same digits. */
  private[graft] def gridMean(scored: DataFrame, keys: Seq[Column],
      w: Column, q: Column, nName: String, qName: String): DataFrame =
    scored.groupBy(keys: _*)
      .agg(sum(w).cast("long").as(nName),
        graft.functions.ExactMath.divHalfUpSigned(sum(w * q),
          sum(w) * lit(100L)).as(qName))

  /** Where a count model's add-one denominator N+V comes from. Batch
    * ops cross-join the one-row totals frame as a broadcast and read
    * its two columns ([[Denom.joined]]); stream gates resolve the
    * totals once at setup into a literal ([[Denom.resolved]] — a
    * stream-static cross join would add a broadcast exchange to every
    * micro-batch). */
  private[graft] final case class Denom(consts: Option[DataFrame],
      value: Column) {
    def attach(df: DataFrame): DataFrame = consts.fold(df)(df.crossJoin)
  }

  private[graft] object Denom {
    /** `totals`: one row of two long columns (N, V). */
    def joined(totals: DataFrame): Denom = {
      val Array(n, v) = totals.columns
      Denom(Some(broadcast(totals)), (col(n) + col(v)).cast("double"))
    }

    /** [[joined]]'s totals collected once at setup; an empty model
      * (N null or 0) fails here with `what` instead of mid-stream. */
    def resolved(totals: DataFrame, what: String): Denom = {
      val r = totals.head
      require(!r.isNullAt(0) && r.getLong(0) > 0, s"$what: empty model")
      Denom(None, lit((r.getLong(0) + r.getLong(1)).toDouble))
    }
  }

  /** Adjacent-word bigrams "w1 w2" of a words array (empty under two
    * words) — the unit of every bigram model, batch and stream. */
  private[graft] def bigrams(ws: Column): Column = zip_with(
    slice(ws, lit(1), size(ws) - 1),
    slice(ws, lit(2), size(ws) - 1),
    (a, b) => concat(a, lit(" "), b))

  /** Benchmark decontamination: per training document, how many
    * distinct `shingleK`-word shingles it shares with the benchmark
    * set, and with how many benchmark documents. Join output is
    * non-empty only for contaminated docs (filter or anti-join the ids
    * downstream to act on it).
    *
    * 100 TB shape: shingle hashes are fused map-side work (8 bytes per
    * distinct shingle); the benchmark side is small and BROADCAST, so
    * the corpus is scanned once and never shuffled. (A bloom filter
    * over benchmark shingles is the same plan with a smaller
    * broadcast.)
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 8): DataFrame = {
    def sh(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(TF.shingleSetFast(TF.words(col(textCol)), shingleK)).as("sh"))
    sh(train, "doc_id")
      .join(broadcast(sh(benchmark, "eval_id")), "sh")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the form whose
    * broadcast cost stays bounded when the benchmark suite itself is
    * large. Output is IDENTICAL to [[decontaminate]]: the sketch only
    * prunes (a Bloom filter has no false negatives, and its false
    * positives are removed by the exact confirm join) — which is the
    * correctness contract x53 hash-checks against the exact oracle.
    *
    * 100 TB shape: `bloom_filter_agg` collapses the benchmark shingle
    * set to a fixed-size sketch (~1.2 bytes per item at the default
    * 3% fpp, vs 8-byte hashes plus hash-table overhead for an exact
    * broadcast); `might_contain` reads it through a scalar subquery =
    * ONE tiny value shipped to every scan task, so ~all clean corpus
    * shingles die map-side and the exact confirm join sees only true
    * hits plus the fpp tail. With the corpus side pre-shrunk ~30×, the
    * confirm join is cheap under either strategy Catalyst picks
    * (broadcast while the benchmark fits, shuffle on the pruned
    * remnant otherwise). Spark ships both expressions (they power its
    * runtime join pruning) but registers neither as a function —
    * [[graft.plans.GraftExtensions]] injects them, which also makes
    * the scalar-subquery form `might_contain` requires expressible.
    */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 8, expectedItems: Long = 1L << 20): DataFrame = {
    val spark = train.sparkSession
    def sh(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(TF.shingleSetFast(TF.words(col(textCol)), shingleK)).as("sh"))
    // might_contain's sketch input must be foldable or a scalar
    // subquery (Spark's analysis contract), so this one op is phrased
    // in SQL over uniquely-named temp views; analysis is eager, so the
    // views can be dropped as soon as the DataFrame exists.
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val tv = s"graft_decon_train_$tag"
    val bv = s"graft_decon_bench_$tag"
    sh(train, "doc_id").createOrReplaceTempView(tv)
    sh(benchmark, "eval_id").createOrReplaceTempView(bv)
    try spark.sql(
      s"""SELECT t.doc_id,
         |       count(DISTINCT t.sh)      AS n_shared,
         |       count(DISTINCT e.eval_id) AS n_eval_docs
         |  FROM (SELECT doc_id, sh FROM $tv
         |         WHERE might_contain(
         |                 (SELECT bloom_filter_agg(sh, ${expectedItems}L)
         |                    FROM $bv),
         |                 sh)) t
         |  JOIN $bv e ON t.sh = e.sh
         | GROUP BY t.doc_id""".stripMargin)
    finally {
      spark.catalog.dropTempView(tv)
      spark.catalog.dropTempView(bv)
    }
  }

  /** Training-sequence packing (concat-and-chunk): rows ordered by
    * `idCol` are concatenated into one token stream and cut into
    * `seqLen`-token sequences; each row reports its global token
    * offset, first sequence id, and the number of sequences it spans.
    *
    * 100 TB shape: the global prefix sum runs in TWO levels — a
    * within-block cumsum (window partitioned by `idCol div blockSize`)
    * plus a per-block totals table whose own cumsum is single-task over
    * n/blockSize rows and then broadcast back. No unpartitioned window
    * ever touches the full corpus; `blockSize` trades block-window
    * width against the totals-table length (√n is the classic choice).
    */
  def packSequences(docs: DataFrame, idCol: String = "doc_id",
      tokensCol: Column = null, seqLen: Int = 256,
      blockSize: Int = 100): DataFrame = {
    // the block key must be a MONOTONE function of the id (blocks are
    // contiguous runs of the global order, or the two-level prefix sum
    // is wrong); id div blockSize gives that for numeric ids. A
    // non-numeric id would cast to null and silently drop every row in
    // the block join — fail loudly instead. (String ids at scale: map
    // them through a range partitioner / zipWithIndex first.)
    require(docs.schema(idCol).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"packSequences needs a numeric id column; '$idCol' is " +
        docs.schema(idCol).dataType.simpleString)
    val nTok = Option(tokensCol).getOrElse(TF.tokenCount(col("text")))
    val base = docs.select(col(idCol),
      nTok.cast("long").as("n_tokens"),
      (col(idCol) / blockSize).cast("long").as("blk"))
    val wIn = Window.partitionBy("blk").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    // ONE tokenize + ONE shuffle: the window output is cached (lazy
    // persist — no job until the caller's first action) and BOTH
    // consumers — the per-row offsets and the per-block totals — read
    // its blocks; deriving the totals from `base` instead would
    // re-scan and re-tokenize the corpus (column pruning specializes
    // each branch's scan, so exchange reuse can't kick in). The totals
    // also come from the LAST row per block (max of off+n_tokens),
    // already co-partitioned by blk — no extra exchange. Blocks stay
    // pinned until unpersisted; sweep via
    // sparkContext.getPersistentRDDs (the Bench/test hygiene).
    val inBlk = base.withColumn("off_in_blk",
      coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .transform(graft.engine.Barrier.sharedGrain)
    val wBlk = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkOff = inBlk.groupBy("blk")
      .agg(max(col("off_in_blk") + col("n_tokens")).as("blk_tot"))
      .withColumn("blk_off", coalesce(sum(col("blk_tot")).over(wBlk), lit(0L)))
      .select(col("blk"), col("blk_off"))
    inBlk.join(broadcast(blkOff), "blk")
      .withColumn("start_tok", col("blk_off") + col("off_in_blk"))
      .withColumn("seq_id", (col("start_tok") / seqLen).cast("long"))
      .select(col(idCol), col("n_tokens"), col("start_tok"), col("seq_id"),
        (((col("start_tok") + col("n_tokens") - 1) / seqLen).cast("long")
          - col("seq_id") + 1).as("n_seqs"))
  }

  /** Deterministic epoch shuffle: shard = hash(id, epoch seed) mod
    * `nShards` (map-side), position within shard = rank by the same
    * hash. Stable across runs/engines/partitioning — unlike rand() —
    * and a new `epoch` value re-shuffles. Each shard's window is
    * independent and distributed; there is no global row_number (that
    * would serialize into one task).
    */
  def epochShuffle(docs: DataFrame, idCol: String = "doc_id",
      nShards: Int = 8, epoch: Int = 1): DataFrame = {
    val h = TF.hash60(col(idCol).cast("string"), s"shuf|ep$epoch|")
    val w = Window.partitionBy("shard").orderBy(col("h"), col(idCol))
    docs.select(col(idCol), (h % nShards).as("shard"), h.as("h"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Content-addressed shard manifest — the release-audit artifact a
    * dataset publisher ships next to the data (and a consumer recomputes
    * to verify a copy): per shard ([[epochShuffle]]'s deterministic
    * hash sharding), the row count and two ORDER-INSENSITIVE content
    * fingerprints — the exact decimal sum and the XOR of a per-row
    * hash binding (id, normalized content). Any dropped, duplicated,
    * re-idded, or edited row moves at least one of the three numbers;
    * order-insensitivity means the manifest is a pure function of the
    * row SET, stable across partitionings, engines, and rewrites.
    *
    * 100 TB shape: one map-side fingerprint pass + a shards-sized hash
    * aggregate (map-side partial combine) — the corpus is scanned once
    * and never shuffled beyond nShards-row partials. The sum rides
    * DECIMAL(38,0) so it is exact (no long overflow, no ANSI throw) up
    * to ~10^19 rows, then ships as its canonical decimal STRING — a
    * manifest is an interchange artifact read by other engines, and
    * decimal binary/display representations differ across them while
    * the digit string does not. Output: (shard, n_docs, fp_sum,
    * fp_xor). */
  def shardManifest(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", nShards: Int = 8,
      epoch: Int = 1): DataFrame = {
    val h = TF.hash60(col(idCol).cast("string"), s"shuf|ep$epoch|")
    val fp = TF.hash60(
      concat(col(idCol).cast("string"), lit("|"), TF.normText(col(textCol))),
      "manifest|")
    docs.select((h % nShards).as("shard"), fp.as("fp"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fp").cast("decimal(38,0)")).cast("string").as("fp_sum"),
        expr("bit_xor(fp)").as("fp_xor"))
  }

  /** Diff of two corpus versions at shard granularity — compare
    * [[shardManifest]]s and keep only shards where ANY of (count, sum,
    * xor) moved: the change-detection step of incremental re-processing
    * (re-dedup, re-score, re-publish only the shards that changed,
    * skip the rest). Full-outer on the shard key, so shards present in
    * only one version surface too (counts coalesce to 0). Output:
    * (shard, n_docs_a, n_docs_b) for each differing shard.
    *
    * 100 TB shape: two manifest passes (each one scan + a shards-sized
    * aggregate) and a shards-sized join — the diff itself costs
    * nothing beyond the manifests. */
  def manifestDiff(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", nShards: Int = 8,
      epoch: Int = 1): DataFrame = {
    val ma = shardManifest(a, idCol, textCol, nShards, epoch).as("a")
    val mb = shardManifest(b, idCol, textCol, nShards, epoch).as("b")
    ma.join(mb, col("a.shard") === col("b.shard"), "full_outer")
      .filter(!(col("a.n_docs") <=> col("b.n_docs") &&
        col("a.fp_sum") <=> col("b.fp_sum") &&
        col("a.fp_xor") <=> col("b.fp_xor")))
      .select(coalesce(col("a.shard"), col("b.shard")).as("shard"),
        coalesce(col("a.n_docs"), lit(0L)).as("n_docs_a"),
        coalesce(col("b.n_docs"), lit(0L)).as("n_docs_b"))
  }

  /** Cluster-level keep/drop decision: from [[GraphOps
    * .connectedComponents]] labels, drop every member that is not its
    * cluster's canonical (minimum) id. Unlike the pairwise
    * [[TextDedup.dedupDecision]] the canonical is the component ROOT:
    * on a chain a~b, b~c the pairwise form points c at b — itself a
    * dropped doc (dangling pointer); here every member maps to the one
    * kept doc. Output: (drop_id, canonical_id, n_members). */
  def clusterDedupDecision(labels: DataFrame): DataFrame = {
    val wCl = Window.partitionBy("cluster_id")
    labels.withColumn("n_members", count(lit(1)).over(wCl))
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("drop_id"), col("cluster_id").as("canonical_id"),
        col("n_members"))
  }

  /** One-call fused text+embedding dedup — the LIBRARY entry for the
    * x75/x101 family: MinHash-LSH banded text pairs ∪ IVF-bucketed
    * embedding pairs → connected components → cluster keep/drop
    * ([[clusterDedupDecision]]). Output: (drop_id, canonical_id,
    * n_members).
    *
    * The coarse quantizer defaults to AUTO-k (k ~ √n,
    * [[graft.ops.VectorOps.kmeansTrainAuto]]): with a FIXED small k the
    * in-cell pair volume is Σ cell² ≈ n²/k — quadratic in corpus size
    * (the x75 fixture pins k=16 for its unrolled oracle and measured
    * 4.9× cost at 4× corpus in ScaleCheck; auto-k at the same corpus
    * is 3.3–3.4× cheaper) — so a library caller CANNOT reach the
    * quadratic path by accident. Production callers with a persisted
    * train-once quantizer (the x101 contract,
    * [[graft.ops.VectorOps.writePqIndex]]'s discipline) pass it via
    * `coarseCentroids` and skip training entirely.
    *
    * 100 TB shape: both pair generators are banded/bucketed (band-key
    * equi join; broadcast centroids + per-cell equi self-join under
    * k ~ √n), the closure is O(log²n) star contraction with per-round
    * checkpoints, and the decision is one cluster-keyed window — no
    * stage is ever corpus×corpus. */
  def fusedDedup(docs: DataFrame, embeddings: DataFrame,
      shingleK: Int = 3, numHashes: Int = 8, bands: Int = 4,
      textThreshold: Double = 0.8, embThreshold: Double = 0.45,
      coarseCentroids: Option[DataFrame] = None, trainIters: Int = 2,
      nprobe: Int = 1, idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cent = coarseCentroids.getOrElse(
      graft.ops.VectorOps.kmeansTrainAuto(embeddings, iters = trainIters,
        idCol = vecIdCol, vecCol = vecCol))
    val textPairs = graft.ops.TextDedup.minhashLshPairs(docs, idCol,
      textCol, shingleK, numHashes, bands, textThreshold)
      .select(col("a_id"), col("b_id"))
    val embPairs = graft.ops.VectorOps.ivfPairs(
      graft.ops.VectorOps.ivfCells(embeddings, cent, nprobe,
        vecIdCol, vecCol), embThreshold)
      .select(col("a_id"), col("b_id"))
    clusterDedupDecision(graft.ops.GraphOps.connectedComponents(
      textPairs.unionByName(embPairs).distinct()))
  }

  /** [[clusterDedupDecision]] with a QUALITY-aware canonical: keep the
    * cluster member maximizing `quality` (ties broken by min id — total
    * order, deterministic) instead of the min-id member. This is what
    * production dedup actually does: when 17 crawls of one article
    * survive to a cluster, keep the longest / highest-LM-score /
    * best-extraction copy, not whichever happened to get the smallest
    * id. `quality`: (id, score) — e.g. n_chars, x02's composite, or
    * [[lmScore]]'s avg_logp.
    *
    * Scale shape: one equi-join of labels to quality on the node id, a
    * per-cluster max via window (partitioned by cluster, no corpus-wide
    * window), then the drop rows. Output: (drop_id, canonical_id,
    * n_members), same contract as [[clusterDedupDecision]]. */
  def clusterDedupDecisionBy(labels: DataFrame, quality: DataFrame,
      qIdCol: String = "doc_id", scoreCol: String = "score"): DataFrame = {
    val wOrd = Window.partitionBy("cluster_id")
      .orderBy(col("__q").desc, col("node").asc)
    labels
      .join(quality.select(col(qIdCol).as("node"), col(scoreCol).as("__q")),
        Seq("node"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      // default frame [unbounded preceding, current row] ⇒ first() is the
      // top-ranked (best-quality) member for EVERY row of the cluster
      .withColumn("canonical_id", first(col("node")).over(wOrd))
      .filter(col("node") =!= col("canonical_id"))
      .select(col("node").as("drop_id"), col("canonical_id"),
        col("n_members"))
  }

  /** Corpus unigram count table (word, cnt) under EXACTLY [[lmScore]]'s
    * tokenization (no empty-token filtering — an empty document yields
    * one "" token, as the batch scorer and its oracle both count) —
    * the static training table for the stream-static scorer
    * ([[graft.streaming.EventStreams.lmScoreStream]]), which needs
    * digit-for-digit batch parity. [[BpeOps.wordCounts]] differs: it
    * drops empty tokens (an empty BPE symbol sequence is meaningless),
    * so it is NOT a drop-in counts source for scoring parity. */
  def unigramCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    tokenized(docs, idCol, textCol)
      .select(explode(col("ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Apply a TRAINED unigram LM to new documents — the CCNet shape
    * (Wenzek et al., LREC 2020: the quality LM is trained ONCE on a
    * reference corpus and applied to every crawl candidate), vs
    * [[lmScore]] which scores a corpus under its own distribution.
    * `counts` is any (word, cnt) table ([[unigramCounts]] of the
    * reference corpus — typically persisted once, like the signature
    * index); out-of-vocabulary words take the smoothed floor
    * ln(1/(N+V)) via the same coalesce(cnt,0) rule the stream-static
    * scorer ([[graft.streaming.EventStreams.lmScoreStream]]) applies,
    * so batch-apply and stream-apply are digit-identical. Scoring
    * itself is [[lmScoreFromWords]]'s decimal-exact discipline.
    *
    * 100 TB shape: ONE candidate-corpus scan (tokenize → (doc, word)
    * tf); the model join is equi on the word key (AQE skew-split
    * absorbs stopwords), the smoothing constants ride a 1-row
    * broadcast, and the doc rollup partial-aggregates map-side. */
  def lmScoreApply(docs: DataFrame, counts: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lmApplyKernel(tokenized(docs, idCol, textCol)
        .select(col("doc_id"), explode(col("ws")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")),
      counts, Denom.joined(unigramTotals(counts)), Seq(col("doc_id")),
      col("tf"))

  /** The frozen unigram LM kernel, shared by [[lmScoreApply]] and
    * [[graft.streaming.EventStreams.lmScoreStream]] so batch/stream
    * parity holds by construction: `grain` carries the `keys` and a
    * `word` column; each word scores its [[addOneLogQ]] under `counts`
    * (a word missing from the model counts 0 — the smoothed floor
    * ln(1/(N+V))), rolled up by [[gridMean]] with weight `w`.
    * Output: (keys…, n_tokens, avg_logp_q). */
  private[graft] def lmApplyKernel(grain: DataFrame, counts: DataFrame,
      denom: Denom, keys: Seq[Column], w: Column): DataFrame =
    gridMean(denom.attach(grain.join(counts, Seq("word"), "left"))
        .withColumn("lpw_q",
          addOneLogQ(coalesce(col("cnt"), lit(0L)), denom.value)),
      keys, w, col("lpw_q"), "n_tokens", "avg_logp_q")

  /** A unigram count model's smoothing totals (N = Σcnt, V = #words)
    * as a one-row frame — the [[Denom]] source. */
  private[graft] def unigramTotals(counts: DataFrame, n: String = "n_total",
      v: String = "vocab"): DataFrame =
    counts.agg(sum(col("cnt")).as(n), count(lit(1)).as(v))

  /** Distinct-word count of a tokenized frame as a 1-row (vocab: long)
    * frame — the smoothing denominator shared by [[lmScoreFromWords]]
    * and [[bigramLmScoreFromWords]]. Computed over the TOKENIZED view,
    * so when the caller checkpoints it ([[tokenized]] contract) this
    * pass reads executor-local blocks, never the corpus. */
  def vocabOf(words: DataFrame): DataFrame =
    words.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("vocab"))

  /** Bigram-LM quality score — [[lmScore]]'s next-order upgrade toward
    * the CCNet n-gram filter: every adjacent word pair is scored by its
    * smoothed conditional probability under the corpus's own bigram
    * distribution, log P(w2|w1) = ln((c(w1 w2)+1) / (c(w1·)+V)), and a
    * document reports its mean bigram log-probability. Fluent text
    * rides common transitions; shuffled/junk text pays the unigram
    * independence penalty that [[lmScore]] cannot see. Documents
    * shorter than 2 words have no bigrams and are absent from the
    * output. Output: (doc_id, n_bigrams, avg_logp2_q — 1e-4 integer units).
    *
    * 100 TB shape: identical to [[lmScore]] one order up — the count
    * tables are bigram-vocab-sized (map-side partial agg absorbs
    * stopword-pair skew), the left-context counts derive from the
    * bigram table, and the vocab scalar rides a one-row broadcast. The
    * corpus is TOKENIZED ONCE: this form checkpoints the tokenized
    * view, so the bigram explode and the vocab scalar both read
    * executor-local blocks (the vocab pass is NOT a second corpus
    * scan). Composing with [[lmScore]]? Use [[lmScores]], which shares
    * one tokenize across both orders. Decimal-exact summation
    * (per-bigram log-prob rounded to 6, summed as DECIMAL) keeps the
    * score hash-checkable across engines. */
  def bigramLmScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = tokenized(docs, idCol, textCol)
      .transform(graft.engine.Barrier.sharedGrain)
    bigramLmScoreFromWords(toks, vocab = Some(vocabOf(toks)))
  }

  /** [[bigramLmScore]] over a pre-tokenized (doc_id, ws) frame. `vocab`
    * is the unigram distinct-word scalar frame ([[vocabOf]] shape);
    * pass it when a composed pipeline already has one (or a checkpointed
    * tokenized view to derive it from) — the default derives it from
    * `words`, which is a second pass over WHATEVER `words` is, so
    * un-checkpointed callers pay a second tokenize there. */
  def bigramLmScoreFromWords(words: DataFrame,
      vocab: Option[DataFrame] = None): DataFrame = {
    // shared-materialization shape (see lmScoreFromWords, which also
    // holds the A/B that keeps the barrier): lazy columnar shared grain
    // on the fat (doc, bigram) tf grain + eager barrier on the
    // vocab-sized cb table — cb's job fills the tf2 cache and the
    // scoring join reads it warm
    val tf2 = words.select(col("doc_id"), explode(bigrams(col("ws"))).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.engine.Barrier.sharedGrain)
    val cb = graft.engine.Barrier.lineageBarrier(
      tf2.groupBy(col("bg")).agg(sum(col("tf")).as("cb")))
    val cl = cb.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cb")).as("cl"))
    val vocabDf = vocab.getOrElse(vocabOf(words))
    gridMean(tf2.join(cb, Seq("bg"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .join(cl, Seq("w1"))
        .crossJoin(broadcast(vocabDf))
        .withColumn("lpb_q", addOneLogQ(col("cb"),
          (col("cl") + col("vocab")).cast("double"))),
      Seq(col("doc_id")), col("tf"), col("lpb_q"), "n_bigrams",
      "avg_logp2_q")
  }

  /** Kneser–Ney smoothed bigram LM scoring (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 §2.7) — the smoothing
    * family the REAL CCNet filter uses (KenLM is interpolated modified
    * KN): [[bigramLmScoreFromWords]]'s add-one smoothing systematically
    * over-penalizes common-word transitions; KN discounts every seen
    * bigram by a fixed D and backs off to the CONTINUATION probability
    * (how many distinct contexts a word follows) instead of raw
    * frequency:
    *
    *   P(w2|w1) = max(c(w1w2)−D, 0)/c(w1·)
    *            + (D·N1+(w1·)/c(w1·)) · N1+(·w2)/N_bigrams
    *
    * with D = 0.75 (binary-EXACT, so the discount arithmetic has no
    * representation error). Scored corpus-self like [[bigramLmScore]]
    * (every scored bigram has c ≥ 1 — the unseen-context branch never
    * binds). Every probability is a fixed sequence of correctly-rounded
    * IEEE double ops on integer counts, ln is quantized to
    * DECIMAL(18,6) at the leaf, the doc score is an exact decimal sum
    * — the full table hash-checks (the x51/x59 discipline one
    * smoothing generation up). Output: (doc_id, n_bigrams, avg_logp_kn_q — 1e-4 integer
    * units); docs with <2 words have no bigrams and are absent.
    *
    * 100 TB shape: identical to [[bigramLmScoreFromWords]] — ONE
    * bigram tf pass (persisted; the cb/cl/N1+ tables all derive from
    * it at bigram-vocab grain, never rescanning the corpus), word-key
    * equi joins with map-side partial aggs absorbing stopword-pair
    * skew, the single N_bigrams scalar on a 1-row broadcast. */
  def knBigramScoreFromWords(words: DataFrame,
      discount: Double = 0.75): DataFrame = {
    // shared-materialization shape (r18, see lmScoreFromWords): lazy
    // columnar persist on the fat (doc, bigram) tf grain + eager
    // barrier on the vocab-sized cb table — cb's job populates the tf2
    // cache race-free (killing the per-consumer tokenize+explode
    // re-runs the r17 verdict flagged), and the probe join reads the
    // warm compact cache; left/cont/nb all read cb's tiny blocks.
    val tf2 = words.select(col("doc_id"), explode(bigrams(col("ws"))).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.engine.Barrier.sharedGrain)
    val cb = graft.engine.Barrier.lineageBarrier(
      bigramSides(tf2.groupBy(col("bg")).agg(sum(col("tf")).as("cb"))))
    val (left, cont) = knStats(cb)
    val nb = cb.agg(count(lit(1)).as("nb"))
    val scored = tf2.join(cb.select(col("bg"), col("cb"), col("w1"),
        col("w2")), Seq("bg"))
      .join(left, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(nb))
      .withColumn("lpb_q",
        graft.functions.ExactMath.microQ(
          log(
            greatest(col("cb").cast("double") - discount, lit(0.0d)) /
              col("cl").cast("double") +
            (lit(discount) * col("n1f").cast("double") /
              col("cl").cast("double")) *
            (col("n1p").cast("double") / col("nb").cast("double")))))
    gridMean(scored, Seq(col("doc_id")), col("tf"), col("lpb_q"),
      "n_bigrams", "avg_logp_kn_q")
  }

  /** Bigram count table of a corpus — the persistable KN/bigram MODEL
    * artifact ([[knBigramApply]]'s input; train once on the reference
    * corpus, apply forever — the x74 contract one smoothing family
    * up). Output: (bg "w1 w2", cb). */
  def bigramCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(explode(bigrams(TF.words(col(textCol)))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cb"))

  /** A TRAINED Kneser–Ney bigram model applied to new documents — the
    * CCNet production shape for [[knBigramScoreFromWords]] (which
    * scores a corpus under its own distribution): the model is just
    * the bigram count table ([[bigramCounts]] of the reference
    * corpus); every KN statistic — left mass c(w1·), continuation
    * fan-ins N1+(w1·)/N1+(·w2), the type totals — derives from it at
    * bigram-vocab grain, so one persisted table IS the model. Unseen
    * events back off: a seen context w1 scores
    * max(c−D,0)/c(w1·) + (D·N1+(w1·)/c(w1·))·P̃c(w2); an UNSEEN w1
    * scores the continuation distribution alone, with P̃c add-one
    * smoothed over continuation types — P̃c(w2) = (N1+(·w2)+1)/(N_bg+V_c)
    * — so every probability is strictly positive and defined (the
    * documented divergence from textbook KN, which leaves the unseen-
    * context case to the recursion's unigram level; the add-one floor
    * plays that role here, the x74 OOV rule one family up). D = 0.75
    * binary-exact; every probability a fixed correctly-rounded IEEE
    * sequence; ln quantized at the leaf; exact decimal doc sums —
    * hash-checkable, and digit-identical to the streaming twin
    * ([[graft.streaming.EventStreams.knScoreStream]]).
    * Output: (doc_id, n_bigrams, avg_logp_kn_q — 1e-4 integer units).
    *
    * 100 TB shape: ONE candidate-corpus scan to the (doc, bigram) tf
    * grain; the model joins are equi on bigram/word keys against
    * bigram-vocab-sized tables; the two type totals ride a 1-row
    * broadcast; the doc rollup partial-aggregates map-side. */
  def knBigramApply(docs: DataFrame, counts: DataFrame,
      discount: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // EAGER barrier, not lazy persist: cbx has FOUR consumers (left,
    // cont, scal, the probe join); lazily cached, AQE materializes
    // their leaf stages concurrently against a cold cache and the
    // train-corpus explode+count lineage re-runs per consumer (r18
    // profile of x111: ~6 copies of the vocab-sized count stage at
    // 0.3–1.1 s each). cbx is bigram-vocab-sized, so the barrier pays
    // one small job and every consumer reads materialized blocks.
    val cbx = graft.engine.Barrier.lineageBarrier(bigramSides(counts))
    knApplyKernel(docs
        .select(col(idCol).as("doc_id"),
          explode(bigrams(TF.words(col(textCol)))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf")),
      cbx, Denom.joined(knTotals(cbx)), discount, Seq(col("doc_id")),
      col("tf"))
  }

  /** A bigram frame with its halves: w1, w2 split off `bg`. */
  private[graft] def bigramSides(df: DataFrame): DataFrame =
    df.withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))

  /** KN statistics of a bigram count table (bg, cb, w1, w2): the left
    * context's mass and fan-out (w1, cl, n1f), and the continuation
    * fan-in (w2, n1p). */
  private def knStats(cbx: DataFrame): (DataFrame, DataFrame) =
    (cbx.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cl"), count(lit(1)).as("n1f")),
     cbx.groupBy(col("w2")).agg(count(lit(1)).as("n1p")))

  /** A KN model's type totals (N_bg, V_c) as a one-row frame — the
    * continuation distribution's [[Denom]] source. */
  private[graft] def knTotals(cbx: DataFrame): DataFrame =
    cbx.agg(count(lit(1)).as("nb"), countDistinct(col("w2")).as("vc"))

  /** The frozen Kneser–Ney kernel, shared by [[knBigramApply]] and
    * [[graft.streaming.EventStreams.knScoreStream]] so batch/stream
    * parity holds by construction: `grain` carries the `keys` and a
    * `bg` column, `cbx` is the model's count table with its sides
    * ([[bigramSides]]). Each bigram scores the seen-context
    * interpolation, or the add-one continuation floor P̃c alone when
    * its context w1 is unseen (the formula is on [[knBigramApply]]);
    * [[gridMean]] rolls up per key with weight `w`.
    * Output: (keys…, n_bigrams, avg_logp_kn_q). */
  private[graft] def knApplyKernel(grain: DataFrame, cbx: DataFrame,
      denom: Denom, discount: Double, keys: Seq[Column],
      w: Column): DataFrame = {
    val (left, cont) = knStats(cbx)
    val pc = addOneP(coalesce(col("n1p"), lit(0L)), denom.value)
    val pSeen =
      greatest(coalesce(col("cb"), lit(0L)).cast("double") - discount,
        lit(0.0d)) / col("cl").cast("double") +
      (lit(discount) * col("n1f").cast("double") /
        col("cl").cast("double")) * pc
    gridMean(denom.attach(bigramSides(grain)
        .join(cbx.select(col("bg"), col("cb")), Seq("bg"), "left")
        .join(left, Seq("w1"), "left")
        .join(cont, Seq("w2"), "left"))
      .withColumn("lpb_q", graft.functions.ExactMath.microQ(
        log(when(col("cl").isNotNull, pSeen).otherwise(pc)))),
      keys, w, col("lpb_q"), "n_bigrams", "avg_logp_kn_q")
  }

  /** CCNet perplexity bucketing (Wenzek et al. LREC 2020 §4.2) — the
    * corpus split every LM-filtered dataset ships: score each document
    * under a FROZEN reference LM, then cut each language into
    * head / middle / tail by score quantile (head = best-scoring =
    * lowest perplexity). `scores` is any (doc_id, scoreCol) frame —
    * [[knBigramApply]] under a reference-corpus model in production,
    * [[lmScores]] for the cheap unigram variant. Cuts are per-lang
    * EXACT percentiles of the 1e-4-quantized score key (the q27/x106
    * recipe: quantization bounds the percentile buffer by the grid,
    * not the corpus — the score is already on a 1e-4 grid, so ~1e5
    * distinct keys regardless of corpus size), quartile fractions
    * (binary-exact interpolation weights; the paper's thirds would put
    * a non-terminating fraction in the interpolation). Output:
    * (doc_id, lang, <scoreCol>, bucket).
    *
    * 100 TB shape: the cut table is langs-sized and BROADCAST; bucket
    * assignment is a map-side compare — no corpus-wide rank/ntile
    * (a global rank is a global sort, the x106 discipline). */
  def pplBuckets(scores: DataFrame, docs: DataFrame,
      scoreCol: String = "avg_logp_kn_q", idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    // the score column is ALREADY a 1e-4-grid BIGINT (the ExactMath
    // discipline), so the percentile key is the score itself — no
    // re-quantization, no double anywhere before the cut compare.
    // EAGER barrier: sc feeds BOTH the cut aggregate and the bucket
    // probe; un-materialized, AQE races the two consumers' leaf stages
    // against a cold cache and the ENTIRE upstream scoring chain (the
    // KN model joins, the corpus tf pass) runs twice (r18 profile of
    // x111: 12.1 stage-seconds for a 4.2 s wall, the doc-grain rollup
    // duplicated). sc is doc-grain slim (id, score, lang), so the
    // barrier materializes the chain ONCE and everything downstream is
    // langs-sized or map-side.
    val sc = graft.engine.Barrier.lineageBarrier(
      scores.select(col("doc_id"), col(scoreCol))
        .join(docs.select(col(idCol).as("doc_id"), col(langCol).as("lang")),
          Seq("doc_id"))
        .withColumn("pk", col(scoreCol).cast("long")))
    val cuts = sc.groupBy(col("lang"))
      .agg(percentile(col("pk"), array(lit(0.25), lit(0.75))).as("cs"))
    sc.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col(scoreCol),
        when(col("pk").cast("double") > element_at(col("cs"), 2), "head")
          .when(col("pk").cast("double") > element_at(col("cs"), 1),
            "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Composed unigram + bigram LM scoring with ONE tokenize pass — the
    * form a production quality-filtering stack runs (CCNet scores
    * every document once per model order; tokenization dominates the
    * map cost, so sharing it halves the scan work). The corpus is
    * tokenized once into a lazily-checkpointed view; the unigram tf
    * table, the bigram tf table, and the shared vocab scalar all read
    * its executor-local blocks. Docs with <2 words carry NULL bigram
    * columns (left join — they have a unigram score but no bigrams).
    * Output: (doc_id, n_tokens, avg_logp_q, n_bigrams, avg_logp2_q). */
  def lmScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = tokenized(docs, idCol, textCol)
      .transform(graft.engine.Barrier.sharedGrain)
    lmScoreFromWords(toks)
      .join(bigramLmScoreFromWords(toks, vocab = Some(vocabOf(toks))),
        Seq("doc_id"), "left")
  }

  /** Span-duplication statistics — the repeated-substring signal of
    * Lee et al., ACL 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): long token spans recurring across a corpus mark
    * boilerplate, templated text, and memorization risk that
    * whole-document dedup can't see. Overlapping `window`-token spans
    * at `stride` are fingerprinted; a span whose fingerprint occurs
    * ANYWHERE else (another doc, or another offset of the same doc) is
    * duplicated; each doc reports its duplicated-span fraction — the
    * filter/excision signal. Sliding fingerprints are the distributed
    * approximation of the paper's suffix array: stride trades recall
    * for volume (stride 1 = exact span cover at window granularity).
    * Output: (doc_id, n_win, n_dup_win, dup_frac).
    *
    * 100 TB shape: fingerprints are map-side 8-byte hashes, volume
    * n_tokens/stride per doc (a constant factor of the corpus); the
    * only shuffles are the fingerprint groupBy (uniform hash keys,
    * map-side partial agg) and the per-doc rollup. */
  def spanDupStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 32,
      stride: Int = 8): DataFrame = {
    val wins = docs
      .select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1),
          greatest(size(col("ws")) - (window - 1), lit(1)),
          lit(stride))).as("st"))
      .select(col("doc_id"),
        TF.hash60(concat_ws(" ", slice(col("ws"), col("st"), lit(window))),
          "span|").as("fp"))
    val dup = wins.groupBy("fp").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    wins.join(dup, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("n_occ").isNotNull, 1L).otherwise(0L)).as("n_dup_win"))
      .withColumn("dup_frac",
        round(col("n_dup_win").cast("double") / col("n_win"), 4))
  }

  /** Span EXCISION — the act-on-signal twin of [[spanDupStats]] and
    * the deliverable of Lee et al., ACL 2022: remove every repeated
    * occurrence of each duplicated span, keeping exactly the FIRST
    * (deterministic rank: lexicographic min of (doc_id, offset)), then
    * reassemble each document's text from the surviving token ranges.
    * Windowing is IDENTICAL to [[spanDupStats]] (same `window`/`stride`
    * defaults, same start sequence, same truncated tail span, same
    * fingerprint seed), so measure and act can never disagree on what
    * "a duplicated span" is. Excised ranges from different fingerprints
    * may overlap; the union of ranges is removed. Output: (doc_id,
    * text — the reassembled normalized-token text, n_tokens,
    * n_kept, n_cut) for every input doc (docs with nothing to excise
    * pass through, n_cut = 0).
    *
    * 100 TB shape: same as [[spanDupStats]] — map-side 8-byte span
    * fingerprints (volume n_tokens/stride), one fingerprint groupBy
    * (uniform hash keys, map-side partial agg) for the occurrence
    * count + argmin, one per-doc rollup of the excised ranges, and a
    * final equi-join of ranges back onto the tokenized corpus. The
    * reassembly itself is per-row array work inside whole-stage
    * codegen (token count × excised-range count per doc, both
    * doc-bounded) — no shuffle, no driver. */
  def exciseSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 32,
      stride: Int = 8): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
    val wins = toks
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(1),
          greatest(col("n") - (window - 1), lit(1)),
          lit(stride))).as("st"))
      .select(col("doc_id"), col("n"), col("st"),
        TF.hash60(concat_ws(" ", slice(col("ws"), col("st"), lit(window))),
          "span|").as("fp"))
    // one pass over the fingerprints: occurrence count + the canonical
    // (kept) occurrence — min(struct) is the lexicographic (doc_id, st)
    // argmin, a plain hash aggregate (no window, no sort)
    val occ = wins.groupBy("fp")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("st"))).as("keep"))
      .filter(col("n_occ") > 1)
    val cut = wins.join(occ, Seq("fp"))
      .filter(!(col("doc_id") === col("keep.doc_id") &&
        col("st") === col("keep.st")))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("st"),
        least(col("st") + (window - 1), col("n")).as("en"))).as("rs"))
    toks.join(cut, Seq("doc_id"), "left")
      .withColumn("rs",
        coalesce(col("rs"), expr("array()").cast("array<struct<st:int,en:int>>")))
      .withColumn("kept", expr(
        "filter(sequence(1, n), i -> !exists(rs, r -> i >= r.st AND i <= r.en))"))
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(kept, i -> element_at(ws, i))"))
          .as("text"),
        col("n").cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n") - size(col("kept"))).cast("long").as("n_cut"))
  }

  /** EXACT substring excision — the exact half of Lee et al., ACL 2022
    * (their ExactSubstr dedup: remove every repeated occurrence of any
    * substring of ≥ `minLen` tokens, keeping the first), which
    * [[spanDupStats]]/[[exciseSpans]] APPROXIMATE with stride-8
    * fingerprints. Two facts make the exact form distributable without
    * the paper's monolithic suffix array:
    *
    *  1. a substring of length ≥ L is duplicated iff every one of its
    *     length-L windows is duplicated, and a position lies inside a
    *     duplicated ≥L-substring iff some duplicated length-L window
    *     covers it — so STRIDE-1 length-L windows decide the exact
    *     dup-position cover (the suffix array in the paper is an
    *     efficiency device over the same windows, not a different
    *     semantics);
    *  2. duplicate detection must compare CONTENT, not hashes — a
    *     fingerprint-only equality (the x58/x60 approximation) admits
    *     collisions at exactly the scale where the corpus outgrows the
    *     hash space.
    *
    * Plan (the Spark-native suffix-sort split): stage 1 shuffles only
    * 8-byte span fingerprints (map-side hashes, stride 1) to find
    * CANDIDATE duplicate windows; stage 2 re-slices the true window
    * text for candidate positions only and groups by the full content
    * — exact verification + lexicographic-min canonical — so the
    * wide (L-token) shuffle keys are paid only for the duplicated
    * tail, never the whole corpus. Excision and reassembly are
    * [[exciseSpans]]'s per-doc array work. Docs shorter than `minLen`
    * have no qualifying window and pass through untouched (the exact
    * semantics; the approximate form spans their whole text instead).
    * Output: (doc_id, text, n_tokens, n_kept, n_cut) for every input
    * doc.
    *
    * 100 TB shape: stage-1 volume is one fingerprint per token
    * (uniform keys, map-side partial agg); stage-2 volume is
    * duplicated-candidate occurrences × L tokens; the doc-keyed
    * re-slice join is equi on doc_id against docs that own at least
    * one candidate (semi-join pruned); reassembly is codegen'd array
    * work, no shuffle, no driver. */
  def exactSpanExcise(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minLen: Int = 32): DataFrame = {
    require(minLen >= 2, s"minLen >= 2, got $minLen")
    // Shared-materialization shape (r18): toks feeds the sieve, the
    // candidate re-slice AND the final reassembly join; fps feeds the
    // dup-fingerprint aggregate AND the candidate semi-join; candWin
    // feeds the occurrence aggregate AND the cut join. All-lazy, each
    // consumer raced the cold cache and the tokenize/window-explode
    // lineage re-ran per consumer (r18 profile: three tokenize passes).
    // Lazy columnar persists on the fat grains + eager barriers on the
    // small derived tables (dupFp: duplicated fingerprints only; occ:
    // duplicated windows only) populate the caches race-free.
    val toks = docs
      .select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
      .transform(graft.engine.Barrier.sharedGrain)
    val sts = toks.filter(col("n") >= minLen)
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(1), col("n") - (minLen - 1))).as("st"))
    // stage 1: 8-byte candidate sieve (collisions only ADD candidates
    // — stage 2's content grouping verifies them away)
    val fps = sts.select(col("doc_id"), col("st"),
      TF.hash60(concat_ws(" ", slice(col("ws"), col("st"), lit(minLen))),
        "exact|").as("fp"))
      .transform(graft.engine.Barrier.sharedGrain)
    val dupFp = graft.engine.Barrier.lineageBarrier(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("fp")))
    val cand = fps.join(dupFp, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("st"))
    // stage 2: true window content for candidates only — exact verify
    // + lexicographic-min canonical occurrence
    val candWin = cand.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("st"),
        concat_ws(" ", slice(col("ws"), col("st"), lit(minLen))).as("win"))
      .transform(graft.engine.Barrier.sharedGrain)
    val occ = graft.engine.Barrier.lineageBarrier(
      candWin.groupBy(col("win"))
        .agg(count(lit(1)).as("n_occ"),
          min(struct(col("doc_id"), col("st"))).as("keep"))
        .filter(col("n_occ") > 1))
    val cut = candWin.join(occ, Seq("win"))
      .filter(!(col("doc_id") === col("keep.doc_id") &&
        col("st") === col("keep.st")))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("st"),
        (col("st") + (minLen - 1)).as("en"))).as("rs"))
    toks.join(cut, Seq("doc_id"), "left")
      .withColumn("rs",
        coalesce(col("rs"), expr("array()").cast("array<struct<st:int,en:int>>")))
      .withColumn("kept", expr(
        "filter(sequence(1, n), i -> !exists(rs, r -> i >= r.st AND i <= r.en))"))
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(kept, i -> element_at(ws, i))"))
          .as("text"),
        col("n").cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n") - size(col("kept"))).cast("long").as("n_cut"))
  }

  /** Temperature-weighted mixture sampling — the multilingual /
    * multi-domain data-mixing step (Lample & Conneau NeurIPS'19 /
    * XLM-R: sample groups with probability ∝ (n_g/N)^α so
    * low-resource groups are up-weighted relative to their raw share).
    * Deterministic rejection form: every group keeps rate
    * r_g = (n_min/n_g)^(1-α) — the smallest group keeps everything,
    * larger groups are down-sampled toward it (α=1 keeps all, α=0
    * equalizes counts) — and a row survives iff
    * `hash60(salt|id) mod resolution < round(r_g · resolution)`.
    * Hash thresholding makes the sample a pure function of (id, salt,
    * group counts): reproducible across runs, engines, and cluster
    * sizes, and a changed salt draws a fresh epoch. Output: the kept
    * rows as (id, group, rate — rounded to 6 for observability).
    *
    * 100 TB shape: the group-count aggregate is GROUPS-sized (map-side
    * partial agg), its n_min reduction is one row, and both ride a
    * broadcast back onto the corpus — the corpus itself is scanned
    * once, map-only, never shuffled.
    *
    * Determinism across engines: the threshold is an INTEGER —
    * `round(r·resolution)` — so the float boundary only matters if
    * pow() drift crosses a whole resolution step (~1e-6); r's last-ulp
    * is ~1e-16.
    *
    * Rows with a NULL group key are EXCLUDED from the output (equi-join
    * semantics — null never matches its own rate row); `coalesce` the
    * group column upstream if unknown-group rows must participate. */
  def temperatureSample(docs: DataFrame, groupCol: String = "lang",
      idCol: String = "doc_id", alpha: Double = 0.5, salt: String = "mix",
      resolution: Long = 1000000L,
      weightCol: Option[String] = None): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    // weightCol: group mass = sum(weight) instead of row count — the
    // TOKEN-budget form (training mixtures budget tokens, not docs:
    // a language of few huge docs and one of many small docs should
    // not sample alike). The keep decision stays per-ROW (same hash
    // threshold), so expected kept weight per group follows the same
    // (W_min/W_g)^(1-alpha) law the doc form applies to counts.
    mixKernel(docs, broadcast(
        temperatureRates(docs, groupCol, alpha, resolution, weightCol)),
      groupCol, idCol, salt, resolution)
  }

  /** The mixture keep predicate: a row survives iff
    * hash60(salt|id) mod `resolution` is under its group's integer
    * threshold `thr` ([[temperatureRates]]). */
  private[graft] def mixKeep(id: Column, salt: String,
      resolution: Long): Column =
    TF.hash60(id.cast("string"), s"$salt|") % resolution < col("thr")

  /** The frozen-rates mixture kernel, shared by [[temperatureSample]]
    * and [[graft.streaming.EventStreams.mixGateStream]]: each row joins
    * its group's (rate, thr) and is kept by [[mixKeep]] — stateless,
    * a pure function of (id, salt, rates). Output: the kept rows as
    * (id, group, rate rounded to 6). */
  private[graft] def mixKernel(docs: DataFrame, rates: DataFrame,
      groupCol: String, idCol: String, salt: String,
      resolution: Long): DataFrame =
    docs.join(rates, Seq(groupCol))
      .filter(mixKeep(col(idCol), salt, resolution))
      .select(col(idCol), col(groupCol), round(col("rate"), 6).as("rate"))

  /** The trained half of [[temperatureSample]] as its own frame —
    * (group, rate, thr): per-group keep rates from the
    * (n_min/n_g)^(1-α) law with the integer threshold. Split out so
    * the batch sampler and the streaming ingest gate
    * ([[graft.streaming.EventStreams.mixGateStream]]) derive the keep
    * decision from ONE definition and can never drift. GROUPS-sized
    * (map-side partial agg + a 1-row n_min broadcast). */
  def temperatureRates(docs: DataFrame, groupCol: String = "lang",
      alpha: Double = 0.5, resolution: Long = 1000000L,
      weightCol: Option[String] = None): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    val counts = weightCol match {
      case Some(w) => docs.groupBy(col(groupCol))
        .agg(sum(col(w)).as("n_group"))
      case None => docs.groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_group"))
    }
    val nMin = counts.agg(min(col("n_group")).as("n_min"))
    counts.crossJoin(broadcast(nMin))
      .withColumn("rate",
        pow(col("n_min").cast("double") / col("n_group").cast("double"),
          lit(1.0 - alpha)))
      .select(col(groupCol), col("rate"),
        round(col("rate") * resolution).cast("long").as("thr"))
  }

  /** Weighted sampling WITHOUT replacement — exactly `k` rows per
    * group, selection probability ∝ `weightCol` (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", IPL 2006):
    * each row draws u ∈ (0,1) and the k largest u^(1/w) win; ranking by
    * the monotone-equivalent ln(u)/w avoids the pow. Complements
    * [[temperatureSample]]: that is Bernoulli (expected rate, no exact
    * count); this hits the quota exactly — the "give me exactly k docs
    * per language, long docs preferred" curation ask.
    *
    * Determinism: u is hash-derived — (hash60(salt|id) mod 2²⁰ + 1) /
    * (2²⁰ + 1), never 0 or 1 — so the sample is a pure function of
    * (id, salt, weight), reproducible across runs/engines/partitioning;
    * the rank key is rounded to 6 with id as total tie-break. Weights
    * must be strictly positive (ln(u)/w with w ≤ 0 inverts or
    * zero-divides the key — filter or clamp upstream). Rows with a
    * NULL group key form their own null group and receive their own
    * quota (window-partition semantics, identical across engines);
    * `coalesce` the group column upstream if that is not wanted —
    * contrast [[temperatureSample]], whose equi-join EXCLUDES them.
    *
    * 100 TB shape: key assignment is map-side; row_number ≤ k over
    * (group, key desc) plans WindowGroupLimit partial+final, so each
    * map task forwards at most k rows per group — the exchange carries
    * O(groups·k·tasks), never the corpus. Output: (group, id, weight,
    * skey, rnk). */
  /** The Efraimidis–Spirakis rank key ln(u)/w as a Column — shared by
    * [[weightedSample]] and the streaming twin ([[graft.streaming
    * .EventStreams.weightedSampleStream]]) so the draw can't drift
    * between them. `+ 0.0` normalizes IEEE -0.0 → 0.0: a huge weight
    * drives the key to a tiny negative that can round to negative zero
    * in one engine and positive zero in another (same ordering —
    * IEEE compares them equal — different value repr; observed at
    * sf0.1); the addition is value-identical otherwise. */
  private[graft] def esKey(idCol: String, weightCol: String,
      salt: String): Column = {
    val m = 1048576L
    val u = (TF.hash60(col(idCol).cast("string"), s"$salt|") % m + 1)
      .cast("double") / (m + 1).toDouble
    round(log(u) / col(weightCol).cast("double"), 6) + lit(0.0)
  }

  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
      groupCol: String = "lang", idCol: String = "doc_id",
      salt: String = "wsample"): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val byGroup = Window.partitionBy(groupCol)
      .orderBy(col("skey").desc, col(idCol).asc)
    docs.select(col(groupCol), col(idCol), col(weightCol),
        esKey(idCol, weightCol, salt).as("skey"))
      .withColumn("rnk", row_number().over(byGroup))
      .filter(col("rnk") <= k)
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023, with
    * unigram features): every pool document gets the mean per-token
    * log importance ratio ln p̂_target(w) − ln p̂_source(w), where both
    * distributions are add-one-smoothed unigram tables
    * ([[unigramCounts]] of a small curated target set and of the raw
    * pool itself). High `log_ratio` = "looks like the target domain";
    * resample or top-k select on it downstream. Per-word logs reuse
    * [[lmScoreApply]]'s exact-decimal quantization (round(ln,6) →
    * DECIMAL(18,6)), so the doc-level sums are order-insensitive and
    * the whole weight table hash-checks against an independent engine.
    * Output: (doc_id, n_tokens, log_ratio_q — 1e-4 integer units).
    *
    * 100 TB shape: ONE pool scan to the (doc, word) tf grain; both
    * model joins are equi on the word key (vocab-sized tables — AQE
    * skew-split absorbs stopwords); the two smoothing-constant pairs
    * ride 1-row broadcasts; the doc rollup partial-aggregates
    * map-side. The target set is curation-sized, so its count table
    * costs nothing next to the pool scan. */
  def dsirWeights(pool: DataFrame, targetCounts0: DataFrame,
      sourceCounts0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // eager barriers on the vocab-sized count models (r18): each is
    // consumed twice (the word-key join AND the totals broadcast);
    // un-materialized, both consumers re-ran the model corpus
    // scan+explode (r18 profile of x84: duplicated single-task count
    // stages, 3.4 stage-seconds for a 1.8 s wall)
    val targetCounts = graft.engine.Barrier.lineageBarrier(targetCounts0)
    val sourceCounts = graft.engine.Barrier.lineageBarrier(sourceCounts0)
    dsirKernel(tokenized(pool, idCol, textCol)
        .select(col("doc_id"), explode(col("ws")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")),
      targetCounts,
      Denom.joined(unigramTotals(targetCounts, "nt_t", "v_t")),
      sourceCounts,
      Denom.joined(unigramTotals(sourceCounts, "nt_s", "v_s")),
      Seq(col("doc_id")), col("tf"))
  }

  /** The frozen two-model DSIR kernel, shared by [[dsirWeights]] and
    * [[graft.streaming.EventStreams.dsirScoreStream]] so batch/stream
    * parity holds by construction: `grain` carries the `keys` and a
    * `word` column; each word scores [[addOneLogQ]] under the target
    * model minus the same under the source model (a missing word
    * counts 0 in either), rolled up by [[gridMean]] with weight `w`.
    * Output: (keys…, n_tokens, log_ratio_q). */
  private[graft] def dsirKernel(grain: DataFrame, target: DataFrame,
      tDenom: Denom, source: DataFrame, sDenom: Denom, keys: Seq[Column],
      w: Column): DataFrame = {
    val joined = grain
      .join(target.select(col("word"), col("cnt").as("cnt_t")),
        Seq("word"), "left")
      .join(source.select(col("word"), col("cnt").as("cnt_s")),
        Seq("word"), "left")
    gridMean(sDenom.attach(tDenom.attach(joined))
        .withColumn("lpw_t",
          addOneLogQ(coalesce(col("cnt_t"), lit(0L)), tDenom.value))
        .withColumn("lpw_s",
          addOneLogQ(coalesce(col("cnt_s"), lit(0L)), sDenom.value)),
      keys, w, col("lpw_t") - col("lpw_s"), "n_tokens", "log_ratio_q")
  }

  /** Token-budget mixture PLAN — the static allocation table a training
    * run is configured from (the artifact DoReMi-style recipes ship),
    * complementing [[temperatureSample]]/x69 which SAMPLE rows under a
    * rate law: per group, the α=0.5 temperature weight over token mass
    * (XLM-R's smoothing, computed via sqrt so both engines round the
    * same — IEEE sqrt is correctly rounded, pow is not), the token
    * allocation under `budgetFrac` of the corpus, and the EPOCH factor
    * alloc/tokens. epochs > 1 means the group must repeat (oversample)
    * — the low-resource upweighting a Bernoulli keep-rate can never
    * express, and the number a data loader actually needs. All
    * arithmetic is exact decimal after one sqrt quantization, so the
    * plan is hash-checkable. Output: (group, n_tokens, weight,
    * alloc_tokens, epochs, oversampled).
    *
    * 100 TB shape: one map-side token-count scan into a groups-sized
    * aggregate; the total rides a 1-row broadcast; everything after is
    * arithmetic on a groups-sized frame. */
  def mixturePlan(docs: DataFrame, budgetFrac: java.math.BigDecimal,
      groupCol: String = "lang", textCol: String = "text"): DataFrame =
    mixtureAlloc(
      docs.select(col(groupCol), TF.tokenCount(col(textCol)).as("n"))
        .groupBy(col(groupCol)).agg(sum(col("n")).as("n_tokens")),
      budgetFrac, groupCol)

  /** Mixture plan under a GIVEN weight law — [[mixturePlan]] with the
    * sqrt-mass heuristic replaced by an externally-learned per-group
    * weight column ([[doremiWeights]] is the intended producer; any
    * (group, weight) frame with weights summing to ~1 works). This is
    * the step that turns a LEARNED mixture into a token budget:
    * alloc_d = ⌊⌊budget·tok_tot⌋·w_d⌋, then the same epochs /
    * oversampling report as [[mixturePlan]]. The weight multiply is one
    * IEEE double product of exact operands floored once — deterministic
    * across engines (the x98 smoothing-step discipline).
    *
    * 100 TB shape: identical to [[mixturePlan]] — one map-side
    * token-count scan to a groups-sized aggregate; the weight table is
    * groups-sized and broadcast; the total rides a 1-row broadcast. */
  def mixturePlanWeighted(docs: DataFrame, weights: DataFrame,
      budgetFrac: java.math.BigDecimal, groupCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val grouped = docs
      .select(col(groupCol), TF.tokenCount(col(textCol)).as("n"))
      .groupBy(col(groupCol)).agg(sum(col("n")).as("n_tokens"))
    val tot = broadcast(grouped.agg(sum(col("n_tokens")).as("tok_tot")))
    grouped
      .join(broadcast(weights.select(col(groupCol),
        col("weight").cast("double").as("weight"))), Seq(groupCol))
      .crossJoin(tot)
      .withColumn("alloc_tokens",
        floor(floor(lit(budgetFrac) * col("tok_tot")).cast("double") *
          col("weight")).cast("long"))
      .withColumn("epochs", round(col("alloc_tokens").cast("double") /
        col("n_tokens").cast("double"), 4))
      .select(col(groupCol), col("n_tokens"), col("weight"),
        col("alloc_tokens"), col("epochs"),
        when(col("epochs") > 1.0d, 1L).otherwise(0L).as("oversampled"))
  }

  /** [[mixturePlanWeighted]] on the exact integer grid — the variant
    * [[doremiWeights]]' BIGINT micro-unit law feeds (x103): the budget
    * ⌊budget·tok_tot⌋ is exact decimal floor, the per-group allocation
    * ⌊budget_tokens·w_q/1e6⌋ is pure integer floor-division, and the
    * epoch factor is divHalfUp(alloc·1e4, n_tokens) — no IEEE op
    * anywhere, so the report is digit-portable across engines/builds
    * ([[graft.functions.ExactMath]]'s discipline). `weightsMicro` is a
    * (group, weight_q) frame with weight_q summing to ~1e6. Output:
    * (group, n_tokens, weight_q, alloc_tokens, epochs_q, oversampled)
    * — epochs in 1e-4 units, oversampled = epochs_q > 1e4.
    *
    * 100 TB shape: identical to [[mixturePlanWeighted]] — one map-side
    * token-count scan to a groups-sized aggregate; the weight table is
    * groups-sized and broadcast; the total rides a 1-row broadcast. */
  def mixturePlanWeightedMicro(docs: DataFrame, weightsMicro: DataFrame,
      budgetFrac: java.math.BigDecimal, groupCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val EM = graft.functions.ExactMath
    val grouped = docs
      .select(col(groupCol), TF.tokenCount(col(textCol)).as("n"))
      .groupBy(col(groupCol)).agg(sum(col("n")).as("n_tokens"))
    val tot = broadcast(grouped.agg(sum(col("n_tokens")).as("tok_tot")))
    // DECIMAL(38,0) lane for the overflow-prone grid products — see
    // [[mixtureAlloc]]: budget_tokens·weight_q exceeds Long above
    // ~9e12 budget tokens, the very scale this plan is for
    val dec = "decimal(38,0)"
    grouped
      .join(broadcast(weightsMicro.select(col(groupCol),
        col("weight_q").cast("long").as("weight_q"))), Seq(groupCol))
      .crossJoin(tot)
      .withColumn("alloc_tokens", call_function("div",
        floor(lit(budgetFrac) * col("tok_tot")).cast(dec) *
          col("weight_q"), lit(1000000L)))
      .withColumn("epochs_q",
        EM.divHalfUp(col("alloc_tokens").cast(dec) * lit(10000L),
          col("n_tokens")))
      .select(col(groupCol), col("n_tokens"), col("weight_q"),
        col("alloc_tokens"), col("epochs_q"),
        when(col("epochs_q") > 10000L, 1L).otherwise(0L)
          .as("oversampled"))
  }

  /** The allocation arithmetic of [[mixturePlan]] over an already-
    * aggregated (group, n_tokens) frame — shared with
    * [[mixtureMaterialize]] so plan and materialization cannot drift
    * on the weight law. */
  private def mixtureAlloc(grouped: DataFrame,
      budgetFrac: java.math.BigDecimal, groupCol: String): DataFrame = {
    val EM = graft.functions.ExactMath
    // sqrt is correctly-rounded IEEE, so one micro-quantization of the
    // identical double; everything after is exact integer arithmetic.
    // The grid products (s_q·1e6, budget·weight_q, alloc·1e4) ride the
    // DECIMAL(38,0) lane, NOT raw longs: budget_tokens·weight_q reaches
    // ~1e19 above ~9e12 budget tokens — past Long range at exactly the
    // corpus sizes this plan targets (the zipfSlope squared-sum
    // pattern; DuckDB promotes the same products to HUGEINT).
    val dec = "decimal(38,0)"
    val toks = grouped
      .withColumn("s_q",
        EM.microQ(sqrt(col("n_tokens").cast("double"))))
    val tot = broadcast(toks.agg(sum(col("s_q")).as("s_tot_q"),
      sum(col("n_tokens")).as("tok_tot")))
    toks.crossJoin(tot)
      .withColumn("weight_q",
        EM.divHalfUp(col("s_q").cast(dec) * lit(1000000L),
          col("s_tot_q").cast(dec)))
      .withColumn("alloc_tokens", call_function("div",
        floor(lit(budgetFrac) * col("tok_tot")).cast(dec) *
          col("weight_q"), lit(1000000L)))
      .withColumn("epochs_q",
        EM.divHalfUp(col("alloc_tokens").cast(dec) * lit(10000L),
          col("n_tokens")))
      .select(col(groupCol), col("n_tokens"), col("weight_q"),
        col("alloc_tokens"), col("epochs_q"),
        when(col("epochs_q") > 10000L, 1L).otherwise(0L).as("oversampled"))
  }

  /** Mixture plan MATERIALIZED to the document grain — the step
    * between [[mixturePlan]]'s per-group allocation and an actual
    * data-loader order ([[epochShuffle]]): per doc, how many COPIES
    * the loader delivers under the plan. Every doc in a group repeats
    * `alloc div n_tokens` times (the whole epochs); the remainder
    * budget `alloc mod n_tokens` is filled greedily in deterministic
    * hash order (h = hash60("mix|" + id), ties by id): a doc joins the
    * partial epoch iff the docs before it left room for ALL its
    * tokens. Pure function of (ids, texts, budget) — no RNG — so the
    * copy table is hash-checked; Σ n_copies·n_tokens ≤ alloc per
    * group by construction, undershooting by at most one doc at each
    * greedy boundary.
    *
    * 100 TB shape: ONE tokenize pass (persisted — plan aggregate and
    * doc grain both read it); the per-group running sum is a TWO-LEVEL
    * prefix sum ([[packSequences]]'s discipline, per group): level 1
    * windows partition by (group, hash-block) — 128 blocks split the
    * hash space order-compatibly, so no single task ever sees a whole
    * group — and the blocks-sized offset table rides a broadcast back.
    * The plan table is groups-sized, also broadcast. Output: (doc_id,
    * group, n_tokens, n_copies). */
  def mixtureMaterialize(docs: DataFrame,
      budgetFrac: java.math.BigDecimal, groupCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(groupCol), col(idCol).as("doc_id"),
        TF.tokenCount(col(textCol)).as("n_tokens"),
        TF.hash60(col(idCol).cast("string"), "mix|").as("h"))
      .transform(graft.engine.Barrier.sharedGrain)
    // eager barrier on the groups-sized plan (r18 shared-
    // materialization shape): populates the toks cache race-free for
    // the blocked prefix-sum and block-offset consumers
    val plan = graft.engine.Barrier.lineageBarrier(mixtureAlloc(
      toks.groupBy(col(groupCol)).agg(sum(col("n_tokens")).as("n_tokens")),
      budgetFrac, groupCol)
      .select(col(groupCol), col("n_tokens").as("g_tokens"),
        col("alloc_tokens")))
    // two-level per-group prefix sum in (h, doc_id) order: hash60 is
    // 60-bit, so h div 2^53 yields 128 order-compatible blocks
    val blocked = toks.withColumn("blk", expr("h div " + (1L << 53)))
    val w1 = Window.partitionBy(groupCol, "blk")
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wb = Window.partitionBy(groupCol).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkOff = blocked.groupBy(col(groupCol), col("blk"))
      .agg(sum(col("n_tokens")).as("bt"))
      .withColumn("blk_off", coalesce(sum(col("bt")).over(wb), lit(0L)))
      .select(col(groupCol), col("blk"), col("blk_off"))
    blocked
      .withColumn("run1", coalesce(sum(col("n_tokens")).over(w1), lit(0L)))
      .join(broadcast(blkOff), Seq(groupCol, "blk"))
      .join(broadcast(plan), Seq(groupCol))
      .withColumn("running", col("run1") + col("blk_off"))
      .withColumn("full_ep", expr("alloc_tokens div g_tokens"))
      .withColumn("rem", col("alloc_tokens") - col("full_ep") * col("g_tokens"))
      .select(col("doc_id"), col(groupCol), col("n_tokens"),
        (col("full_ep") + when(col("running") + col("n_tokens") <= col("rem"),
          1L).otherwise(0L)).as("n_copies"))
  }

  /** Build a persisted inverted index: the corpus's distinct
    * (doc_id, word) postings in a word-bucketed, word-sorted table
    * (x55's layout) — a conjunctive search scans only the probed
    * terms' buckets and the corpus itself is never touched at query
    * time. Build once per corpus; grow with [[appendToPostings]]. */
  def writePostings(cat: graft.catalog.Catalog, name: String,
      docs: DataFrame, buckets: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    cat.writeBucketed(name, postingRows(docs, idCol, textCol)
        .withColumn("gen", lit(cat.nextGen(name))),
      buckets = buckets, bucketCols = Seq("word"), sortCols = Seq("word"))

  /** Fold a new batch into a persisted postings index — the
    * frozen-contract append path the PQ and signature indexes already
    * have ([[graft.ops.VectorOps.appendToPqIndex]],
    * [[graft.ops.TextDedup.appendToSignatureIndex]]): the batch's
    * distinct postings land as NEW per-bucket files via
    * [[graft.catalog.Catalog.appendBucketed]] — bucket layout and
    * term co-location preserved, no existing data rewritten — so
    * [[searchPostings]] after an append answers exactly as a full
    * rebuild over the union corpus (OpsSpec pins the equivalence;
    * x132 hash-checks it against the union oracle). Run
    * [[graft.catalog.Catalog.compactBucketed]] as the periodic
    * small-file maintenance job at real ingest rates. */
  def appendToPostings(cat: graft.catalog.Catalog, name: String,
      batch: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    cat.appendBucketed(name, postingRows(batch, idCol, textCol)
      .withColumn("gen", lit(cat.nextGen(name))))

  private def postingRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TF.words(col(textCol)))).as("word"))

  /** Conjunctive keyword search over a persisted postings index: the
    * IN-list over the term column is pushed into the parquet scan
    * (only the probed terms' postings are read — bucket pruning +
    * sorted row groups), and docs matching ALL terms survive the
    * count filter — the distributed form of posting-list
    * intersection. Output: (doc_id, n_hit). */
  def searchPostings(cat: graft.catalog.Catalog, name: String,
      terms: Seq[String]): DataFrame =
    cat.minusTombstones(name, cat.bucketedTable(name))
      .filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === terms.length)

  /** Build a persisted SCORED postings index — the ranked-retrieval
    * upgrade of [[writePostings]] (which answers only boolean
    * conjunctions): postings carry the BM25-sufficient statistics
    * (word, doc_id, tf, dl) in the same word-bucketed layout, plus a
    * `{name}_stats` sidecar of ADDITIVE (n_docs, sum_dl) rows — the
    * Lucene-shaped index contract: df for a probed term falls out of
    * its own posting list, dl rides the posting row (denormalized so
    * a probe never joins a norms table), and the corpus scalars are a
    * monoid (searchers SUM the stats rows), so [[
    * appendToScoredPostings]] is PURELY additive — new bucket files +
    * one delta stats row, nothing rewritten, and
    * search-after-append ≡ rebuild by associativity (x138
    * hash-checks it against the union-corpus oracle). */
  def writeScoredPostings(cat: graft.catalog.Catalog, name: String,
      docs: DataFrame, buckets: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    // posting rows carry their WRITE GENERATION (the catalog's per-table
    // monotonic counter) — the delete tier stamps graves with the
    // current gen and kills only generations ≤ it, so delete → re-add
    // serves the new rows with no compaction (Catalog.tombstoneName's
    // generation mode)
    val rows = scoredPostingRows(docs, idCol, textCol)
      .withColumn("gen", lit(cat.nextGen(name)))
    cat.writeBucketed(name, rows,
      buckets = buckets, bucketCols = Seq("word"), sortCols = Seq("word"))
    cat.createNew(s"${name}_stats", org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_dl",
          org.apache.spark.sql.types.LongType))))
    cat.append(s"${name}_stats", statsDelta(docs, idCol, textCol))
  }

  /** Additive append to a scored postings index: the batch's posting
    * rows land as new per-bucket files ([[graft.catalog.Catalog
    * .appendBucketed]] — frozen layout) and its corpus-stat
    * contribution as ONE more delta row in the stats sidecar. No
    * existing byte is rewritten; BM25 after the append is exactly the
    * rebuild's (df from the union posting lists, scalars from the
    * summed deltas). */
  def appendToScoredPostings(cat: graft.catalog.Catalog, name: String,
      batch: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    cat.appendBucketed(name, scoredPostingRows(batch, idCol, textCol)
      .withColumn("gen", lit(cat.nextGen(name))))
    cat.append(s"${name}_stats", statsDelta(batch, idCol, textCol))
  }

  /** Delete documents from a boolean or positional postings index:
    * their ids land in the tombstone sidecar
    * ([[graft.catalog.Catalog.addTombstones]]), every searcher
    * anti-joins it from this moment on, and
    * [[graft.catalog.Catalog.compactBucketed]] makes the delete
    * physical — the index-tier mirror of [[graft.mvcc.LogTable]]'s
    * tombstone+compaction semantics (a dedup-dropped or MVCC-deleted
    * doc no longer needs a full index rebuild to leave the serving
    * path). Graves are GENERATION-stamped (r16): on indexes whose rows
    * carry their write gen ([[writePostings]]/[[writePositionalPostings]]
    * stamp it) a grave kills only generations ≤ its own, so
    * delete → re-append serves the new rows with no compaction; on a
    * pre-gen layout the probe falls back to the key anti-join
    * (grave wins until compaction). */
  def deleteFromPostings(cat: graft.catalog.Catalog, name: String,
      ids: DataFrame, idCol: String = "doc_id"): Unit =
    cat.addTombstones(name, stampGraveGen(cat, name, ids, idCol))

  /** Grave rows for a delete feed: an existing `gen` column in `ids`
    * (captured by the producer at ENQUEUE time) is used verbatim — the
    * discipline that makes an at-least-once delete replay idempotent
    * under interleaved re-ingest of the same id (the replay re-stamps
    * the original gen instead of the newest counter, so re-added
    * generations stay above the grave). Gen-less feeds stamp the
    * counter read at apply time (single-writer semantics). */
  private def stampGraveGen(cat: graft.catalog.Catalog, name: String,
      ids: DataFrame, idCol: String, keyName: String = "doc_id"): DataFrame =
    if (ids.columns.contains("gen"))
      ids.select(col(idCol).cast("long").as(keyName),
        col("gen").cast("long").as("gen")).distinct()
    else
      ids.select(col(idCol).cast("long").as(keyName)).distinct()
        .withColumn("gen", lit(cat.currentGen(name)))

  /** Delete documents from a SCORED postings index: tombstone the
    * posting rows AND append the corpus-stat compensation — one
    * NEGATIVE (n_docs, sum_dl) delta row derived from the index
    * itself (dl rides every posting row, so no corpus access), the
    * additive inverse of the delta [[appendToScoredPostings]] wrote.
    * Because the stats are a monoid and df falls out of the surviving
    * (anti-joined) posting lists, search-after-delete ranks exactly
    * as a rebuild over the corpus minus the deleted docs — the same
    * associativity argument as append≡rebuild, now with inverses
    * (OpsSpec pins delete ≡ rebuild, and compaction preserves it).
    * Graves are GENERATION-stamped (the posting rows carry their write
    * gen; the grave carries the current counter and kills only
    * generations ≤ it — [[graft.catalog.Catalog.tombstoneName]]'s
    * generation mode), so delete → [[appendToScoredPostings]] re-adds
    * a doc correctly with NO compaction: the re-added batch mints a
    * higher gen that rides above the grave while the doc's old rows
    * stay suppressed. The stats delta is computed from the LIVE
    * (gen-filtered) view, so double-delete contributes nothing and a
    * delete-after-re-add subtracts exactly the re-added generation's
    * mass. Ids absent from the live index contribute nothing.
    * Crash window: tombstones land first, the delta second — a crash
    * between them leaves deleted docs out of results but still
    * counted in n_docs/avgdl; re-running the delete is NOT the fix
    * (the grave would hide their dl rows); compact + one stats
    * rebuild from the surviving index is. */
  def deleteFromScoredPostings(cat: graft.catalog.Catalog, name: String,
      ids: DataFrame, idCol: String = "doc_id"): Unit = {
    val want = ids.select(col(idCol).cast("long").as("doc_id")).distinct()
    // dl per LIVE doc from its own posting rows (max = the dl every row
    // of the doc's serving generation carries; the gen-filtered view
    // already excludes dead generations); one deletes-sized aggregate
    cat.refreshBucketed(name)
    val live = cat.minusTombstones(name, cat.bucketedTable(name))
    val gone = live
      .join(broadcast(want), Seq("doc_id"))
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .head()
    cat.addTombstones(name, stampGraveGen(cat, name, ids, idCol))
    if (gone.getLong(0) > 0L) {
      val spark = ids.sparkSession
      import spark.implicits._
      cat.append(s"${name}_stats",
        Seq((-gone.getLong(0), -gone.getLong(1)))
          .toDF("n_docs", "sum_dl"))
    }
  }

  /** Compaction for a scored postings index: the bucketed rewrite
    * drops tombstoned posting rows ([[graft.catalog.Catalog
    * .compactBucketed]] — physical delete, sidecar cleared) and the
    * stats sidecar's accumulated delta rows (build + appends −
    * deletes) collapse to ONE row with the same sum, so the searcher
    * reads one stats row instead of one per ingest event. Returns the
    * bucketed table's file-count savings. */
  def compactScoredPostings(cat: graft.catalog.Catalog,
      name: String): Int = {
    val saved = cat.compactBucketed(name)
    val sn = s"${name}_stats"
    val tot = cat.table(sn)
      .agg(coalesce(sum(col("n_docs")), lit(0L)),
        coalesce(sum(col("sum_dl")), lit(0L))).head()
    val spark = cat.spark
    import spark.implicits._
    cat.drop(sn)
    val one = Seq((tot.getLong(0), tot.getLong(1))).toDF("n_docs", "sum_dl")
    cat.createNew(sn, one.schema)
    cat.append(sn, one)
    // streaming-ingested indexes also accumulate one hwm marker row per
    // micro-batch — fold them to the single max row here, like the stats
    // sidecar (no-op for batch-built indexes)
    cat.collapseHwm(s"${name}_hwm")
    saved
  }

  private def scoredPostingRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TF.words(col(textCol))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("dl",
        sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .select(col("word"), col("doc_id"), col("tf"), col("dl"))

  private def statsDelta(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(size(TF.words(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** BM25-ranked retrieval served ENTIRELY from a persisted scored
    * postings index ([[writeScoredPostings]]) — the corpus is never
    * touched at query time: the probed terms' posting lists (IN-list
    * pushed into the bucket-pruned scan) carry tf and dl; df per term
    * = its posting-list length (one probed-words-sized aggregate
    * joined back); n_docs/avgdl = the summed stats rows (1-row
    * broadcast). Per-term Okapi BM25 weight with x42's constants
    * (k1=1.2, b=0.75), quantized once to BIGINT micro-units and
    * summed exactly per doc (the x94 discipline — rankings are
    * engine-identical); disjunctive semantics (standard ranked
    * retrieval; `n_hit` is emitted for conjunctive post-filtering).
    * Output: global top-`k` (score_q desc, doc_id asc) —
    * TakeOrderedAndProject, map tasks forward ≤ k rows. */
  def searchScoredPostings(cat: graft.catalog.Catalog, name: String,
      terms: Seq[String], k: Int = 10): DataFrame =
    bm25Scores(cat, name, terms)
      .orderBy(col("score_q").desc, col("doc_id").asc)
      .limit(k)

  /** Doc-grain BM25 scores for `terms` from a scored postings index —
    * the un-truncated scoring half of [[searchScoredPostings]]
    * (which adds the global top-k), reusable by compositions that
    * gate or re-rank before truncating ([[searchPhraseRanked]]).
    * Output: (doc_id, score_q, n_hit) for every doc matching ≥1
    * term. */
  def bm25Scores(cat: graft.catalog.Catalog, name: String,
      terms: Seq[String]): DataFrame = {
    val post = cat.minusTombstones(name, cat.bucketedTable(name))
      .filter(col("word").isin(terms: _*))
    val dfreq = post.groupBy(col("word"))
      .agg(count(lit(1)).as("dfreq"))
    val stats = cat.table(s"${name}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5)))
    val norm = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    post
      .join(broadcast(dfreq), Seq("word"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        graft.functions.ExactMath.microQ(idf * norm).as("t_q"))
      .groupBy(col("doc_id"))
      .agg(sum(col("t_q")).as("score_q"), count(lit(1)).as("n_hit"))
  }

  /** PHRASE-SCORED ranked retrieval — the scoring half of the Lucene
    * positional contract, composed ENTIRELY from two persisted
    * artifacts: the proximity gate comes from the positional index
    * ([[searchProximity]] — only docs holding all phrase terms inside
    * `window` positions survive) and the relevance score from the
    * scored postings index ([[bm25Scores]]), boosted by tightness:
    * rank_q = score_q + divHalfUp(10⁶, min_span) — the
    * 1/min_span proximity bonus on the exact 1e-6 grid (the same
    * idea as Lucene's sloppyFreq ∝ 1/(slop+1), kept in pure integer
    * arithmetic so the ranking is engine-replayable). Output: global
    * top-`k` by (rank_q desc, doc_id asc): (doc_id, score_q,
    * min_span, rank_q).
    *
    * 100 TB shape: both inputs are index probes (bucket-pruned
    * posting lists, never the corpus); the gate join is equi on
    * doc_id between two probe-sized frames; top-k is
    * TakeOrderedAndProject. */
  def searchPhraseRanked(scoredCat: graft.catalog.Catalog,
      scoredName: String, posCat: graft.catalog.Catalog,
      posName: String, phrase: Seq[String], window: Int,
      k: Int = 10): DataFrame = {
    val prox = searchProximity(posCat, posName, phrase.distinct, window)
    val bm = bm25Scores(scoredCat, scoredName, phrase.distinct)
    prox.join(bm, Seq("doc_id"))
      .withColumn("rank_q", col("score_q") +
        graft.functions.ExactMath.divHalfUp(lit(1000000L), col("min_span")))
      .select(col("doc_id"), col("score_q"), col("min_span"), col("rank_q"))
      .orderBy(col("rank_q").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Multi-query BM25 over a scored postings index — the per-query
    * form of [[searchScoredPostings]] a retrieval stack runs: `qterms`
    * is the (q_id, word) probe set (each query's distinct terms); the
    * union of probe words becomes an IN-list pushed into the
    * bucket-pruned index scan (collected driver-side — the probe
    * vocabulary is query-set-sized by construction, the bounded side
    * of the problem), per-term BM25 weights are computed once per
    * (doc, word) from the index statistics exactly as the single-query
    * form, and the query-set broadcast fans them out to (q_id, doc)
    * scores. Per-query top-`k` by (score desc, doc_id asc) plans
    * WindowGroupLimit — map tasks forward ≤ k rows per query. Output:
    * (q_id, doc_id, score_q, r_text). Self-matches (q_id = doc_id)
    * are excluded — the retrieval convention of the x94 family. */
  def searchScoredPostingsPerQuery(cat: graft.catalog.Catalog,
      name: String, qterms: DataFrame, k: Int = 20,
      maxProbeVocab: Int = 262144): DataFrame = {
    // Driver-side cap on the probe vocabulary: the distinct query-term
    // set is collected to push an IN-list into the bucket-pruned scan,
    // which is query-set-sized by construction — but a caller that
    // passes a corpus-sized frame as the "query set" would OOM the
    // driver here. limit(cap+1) bounds the collect itself (the driver
    // never materializes more than cap+1 strings even on misuse), and
    // the require turns the 262145th term into a loud contract error
    // instead of a silent heap death. 256K terms ≈ a few MB — far past
    // any real query workload, far below driver heap.
    val terms0 = qterms.select(col("word")).distinct()
      .limit(maxProbeVocab + 1).collect()
    require(terms0.length <= maxProbeVocab,
      s"searchScoredPostingsPerQuery: probe vocabulary exceeds " +
        s"$maxProbeVocab distinct terms — this API broadcasts the " +
        "query vocabulary; for corpus-scale probes use the index-join " +
        "form (join postings on word) instead of an IN-list probe")
    val terms = terms0.map(_.getString(0)).toSeq
    val post = cat.minusTombstones(name, cat.bucketedTable(name))
      .filter(col("word").isin(terms: _*))
    val dfreq = post.groupBy(col("word"))
      .agg(count(lit(1)).as("dfreq"))
    val stats = cat.table(s"${name}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5)))
    val norm = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val term = post
      .join(broadcast(dfreq), Seq("word"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("word"),
        graft.functions.ExactMath.microQ(idf * norm).as("t_q"))
    val wt = Window.partitionBy("q_id")
      .orderBy(col("score_q").desc, col("doc_id").asc)
    broadcast(qterms).join(term, Seq("word"))
      .filter(col("q_id") =!= col("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("t_q")).as("score_q"))
      .withColumn("r_text", row_number().over(wt).cast("long"))
      .filter(col("r_text") <= k)
      .select(col("q_id"), col("doc_id"), col("score_q"), col("r_text"))
  }

  /** Build a POSITIONAL postings index — the third tier of the index
    * family ([[writePostings]] boolean / [[writeScoredPostings]]
    * ranked / this one positional): postings carry the token position
    * (word, doc_id, pos) in the same word-bucketed layout, which is
    * what phrase and proximity queries need (the Lucene positions
    * file). Grows with [[graft.catalog.Catalog.appendBucketed]] like
    * its siblings (positions are per-doc absolute, so appended docs
    * are self-contained). */
  def writePositionalPostings(cat: graft.catalog.Catalog, name: String,
      docs: DataFrame, buckets: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    cat.writeBucketed(name,
      positionalRows(docs, idCol, textCol)
        .withColumn("gen", lit(cat.nextGen(name))),
      buckets = buckets, bucketCols = Seq("word"), sortCols = Seq("word"))

  /** Additive append to a positional index — positions are per-doc
    * absolute, so appended docs are self-contained; new per-bucket
    * files, frozen layout, rows gen-stamped like every text tier. */
  def appendToPositionalPostings(cat: graft.catalog.Catalog,
      name: String, batch: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    cat.appendBucketed(name, positionalRows(batch, idCol, textCol)
      .withColumn("gen", lit(cat.nextGen(name))))

  /** Compaction for a positional index: tombstone-aware bucketed
    * rewrite ([[graft.catalog.Catalog.compactBucketed]] — generation
    * graves become physical, sidecar cleared, append files fold) plus
    * the streaming ingest's hwm marker collapse (one row per
    * micro-batch otherwise accumulates forever — the same fold
    * [[compactScoredPostings]] does). Returns file-count savings. */
  def compactPositionalPostings(cat: graft.catalog.Catalog,
      name: String): Int = {
    val saved = cat.compactBucketed(name)
    cat.collapseHwm(s"${name}_hwm")
    saved
  }

  private def positionalRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TF.words(col(textCol))).as(Seq("pos", "word")))
      .select(col("word"), col("doc_id"), (col("pos") + 1).cast("long")
        .as("pos"))

  /** EXACT phrase search over a positional index: documents where the
    * words of `phrase` occur at consecutive positions, with the
    * occurrence count. Term i's posting list (bucket-pruned scan,
    * word = phrase(i) pushed as a literal filter) is anchored at
    * pos − i; the k-way equi join on (doc_id, anchor) IS the
    * positional intersection — the corpus text is never touched.
    * Output: (doc_id, n_occ).
    *
    * 100 TB shape: k bucket-pruned posting scans (one term each), k−1
    * equi joins keyed (doc_id, anchor) — each join's inputs are the
    * phrase terms' posting lists, never the corpus; rare-term phrases
    * prune to almost nothing (the first join's smaller side caps the
    * rest — exactly how Lucene orders its positional intersection). */
  def searchPhrase(cat: graft.catalog.Catalog, name: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "searchPhrase: empty phrase")
    val posts = cat.minusTombstones(name, cat.bucketedTable(name))
    val anchored = phrase.zipWithIndex.map { case (w, i) =>
      posts.filter(col("word") === lit(w))
        .select(col("doc_id"), (col("pos") - lit(i.toLong)).as("anchor"))
    }
    anchored.reduce(_.join(_, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
  }

  /** ORDERED sloppy-phrase search over a positional index — the
    * middle rung between [[searchPhrase]]'s exact adjacency and
    * [[searchProximity]]'s order-free window: the phrase's words must
    * occur IN ORDER at strictly increasing positions p₀ < … < p₋₁
    * whose total stretch (p₋₁ − p₀ + 1) − m is at most `slop`
    * (the number of extra tokens allowed inside the phrase span —
    * slop 0 forces consecutive positions and is EXACTLY
    * [[searchPhrase]]'s semantics, OpsSpec pins the equivalence).
    * Output: (doc_id, n_anchors) — the count of distinct start
    * positions that begin at least one valid match (dedup by start,
    * so a loose slop can't combinatorially inflate the count).
    *
    * Plan: the join chain follows PHRASE order (each hop adds term
    * i+1's bucket-pruned posting list, keyed on doc_id with the
    * position band p_i < p_{i+1} ≤ p₀ + m − 1 + slop as a join
    * predicate — the band makes the final stretch filter implicit and
    * caps each hop's fan-out at slop+1 candidates per occurrence).
    * Corpus never touched; same 100 TB shape as [[searchPhrase]]. */
  def searchPhraseSlop(cat: graft.catalog.Catalog, name: String,
      phrase: Seq[String], slop: Int): DataFrame = {
    require(phrase.nonEmpty, "searchPhraseSlop: empty phrase")
    require(slop >= 0, s"searchPhraseSlop: negative slop $slop")
    val posts = cat.minusTombstones(name, cat.bucketedTable(name))
    val m = phrase.size
    val lists = phrase.zipWithIndex.map { case (w, i) =>
      posts.filter(col("word") === lit(w))
        .select(col("doc_id").as(s"d$i"), col("pos").as(s"p$i"))
    }
    val joined = lists.tail.zipWithIndex.foldLeft(lists.head) {
      case (acc, (nxt, i)) =>
        acc.join(nxt,
          col(s"d${i + 1}") === col("d0") &&
            col(s"p${i + 1}") > col(s"p$i") &&
            col(s"p${i + 1}") <= col("p0") + lit((m - 1 + slop).toLong))
          .drop(s"d${i + 1}")
    }
    joined.select(col("d0").as("doc_id"), col("p0")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_anchors"))
  }

  /** "Within k" PROXIMITY search over a positional index — the other
    * half of the Lucene positional contract next to [[searchPhrase]]'s
    * exact adjacency: documents where ALL of `terms` (distinct words,
    * any order) co-occur inside a window of `window` consecutive token
    * positions, with the TIGHTEST such span per doc. Output:
    * (doc_id, min_span) — min_span ∈ [terms.size, window]; ranking
    * min_span ASC is proximity-scored retrieval on an exact integer
    * both engines replay (no IEEE anywhere).
    *
    * Plan: each term's bucket-pruned posting list, joined RAREST-FIRST
    * (posting-list lengths from one tiny per-term count — Lucene's df
    * ordering) on doc_id with the |pos−anchor| < window band as a join
    * predicate, so the intermediate never exceeds (matches within the
    * band) × (rarest list). The corpus is never touched. A term absent
    * from the index short-circuits to an empty result (conjunctive
    * semantics) without running the join.
    *
    * 100 TB shape: m bucket-pruned posting scans; the m−1 band joins
    * are keyed on doc_id and fan out only within ±window positions of
    * the rarest term's occurrences — per-doc work is O(tf_rarest ·
    * window-band hits), independent of corpus size. Stopword probes
    * are the caller's contract to avoid, exactly as in Lucene. */
  def searchProximity(cat: graft.catalog.Catalog, name: String,
      terms: Seq[String], window: Int): DataFrame = {
    require(terms.nonEmpty, "searchProximity: empty term set")
    require(terms.distinct == terms,
      s"searchProximity: duplicate terms in $terms")
    require(window >= terms.size,
      s"searchProximity: window $window can't hold ${terms.size} terms")
    val posts = cat.minusTombstones(name, cat.bucketedTable(name))
    val spark = posts.sparkSession
    // df per probed term: one bucket-pruned, terms-sized aggregate —
    // drives the rarest-first join order AND the absent-term short-circuit
    val sizes = posts.filter(col("word").isin(terms: _*))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("min_span",
        org.apache.spark.sql.types.LongType)))
    if (terms.exists(t => !sizes.contains(t)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val ordered = terms.sortBy(t => (sizes(t), t))
    // per-list unique column names (d_i, p_i): all m frames derive from
    // the same bucketed scan, so df("col") disambiguation on a chained
    // self-join is fragile — unique names make every join predicate
    // unambiguous by construction
    val lists = ordered.zipWithIndex.map { case (w, i) =>
      posts.filter(col("word") === lit(w))
        .select(col("doc_id").as(s"d$i"), col("pos").as(s"p$i"))
    }
    val joined = lists.tail.zipWithIndex.foldLeft(lists.head) {
      case (acc, (nxt, i)) =>
        acc.join(nxt,
          col(s"d${i + 1}") === col("d0") &&
            col(s"p${i + 1}") > col("p0") - window &&
            col(s"p${i + 1}") < col("p0") + window)
          .drop(s"d${i + 1}")
    }
    val ps = ordered.indices.map(i => col(s"p$i"))
    val span =
      if (ps.size == 1) lit(1L)
      else greatest(ps: _*) - least(ps: _*) + lit(1L)
    joined.select(col("d0").as("doc_id"), span.as("span"))
      .filter(col("span") <= window)
      .groupBy(col("doc_id"))
      .agg(min(col("span")).cast("long").as("min_span"))
  }

  /** Contamination FRACTION report — [[decontaminate]] upgraded from
    * "shares ≥1 shingle" to the GPT-3 appendix-C dirtiness metric: per
    * contaminated training doc, what fraction of its distinct k-word
    * shingles appear anywhere in the benchmark suite, and a flag at
    * `flagFrac` (docs above it are removed; below, spot-checked).
    * Both numerator and denominator come from ONE training-corpus
    * shingle pass: the per-doc set grain left-joins the deduplicated
    * benchmark shingle set, so n_shingles (set size) and n_shared
    * (hits) fall out of the same aggregate — no second scan, and the
    * fraction can never mix two tokenizations. Output: (doc_id,
    * n_shingles, n_shared, frac_q — the fraction in exact 1e-4 grid
    * units, BIGINT — flagged) for docs with n_shared > 0.
    *
    * 100 TB shape: one corpus scan; the benchmark set is broadcast
    * (suite-sized); swap in [[decontaminateBloom]]'s sketch prefilter
    * when the suite outgrows a comfortable broadcast — the aggregate
    * shape is unchanged. */
  def contaminationReport(train: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 8, flagFrac: Double = 0.2): DataFrame = {
    val tsh = train.select(col(idCol).as("doc_id"),
      explode(TF.shingleSetFast(TF.words(col(textCol)), shingleK)).as("sh"))
    val bsh = benchmark
      .select(explode(TF.shingleSetFast(TF.words(col(textCol)), shingleK))
        .as("sh"))
      .distinct().withColumn("hit", lit(1L))
    // dirtiness fraction on the exact 1e-4 integer grid (ExactMath
    // discipline — the last rounded-raw-double output in the registry
    // until r15): numerator and denominator are exact longs, so the
    // quantized ratio and the flag threshold are pure integer
    // arithmetic both engines replay digit-for-digit; no IEEE division
    // anywhere in the output or the decision.
    val flagQ = math.rint(flagFrac * 10000d).toLong
    tsh.join(broadcast(bsh), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .filter(col("n_shared") > 0)
      .withColumn("frac_q", graft.functions.ExactMath.divHalfUp(
        col("n_shared") * lit(10000L), col("n_shingles")))
      .withColumn("flagged",
        when(col("frac_q") >= flagQ, 1L).otherwise(0L))
  }

  /** Gopher/MassiveText rule-based quality gate (Rae et al. 2021,
    * appendix A1.1 — the hand-written filter every major pretraining
    * corpus runs BEFORE any trained classifier): per document, the
    * rule signals and the composite keep decision. Rules carried (the
    * subset meaningful for single-line documents; thresholds are the
    * paper's): 50 ≤ word count ≤ 100k, 3 ≤ mean word length ≤ 10,
    * symbol-to-word ratio (# and …) < 0.1, ≥ 80% of words contain an
    * alphabetic character, and ≥ 2 distinct stopwords from the
    * engine's stopword list (the x02 quality convention; the paper
    * uses its own 8-word list). Rule signals are emitted alongside
    * `keep` so a pipeline can audit WHICH rule fired — the number a
    * filtering report actually needs.
    *
    * Ratios are rounded to 4 before thresholding, so the decision is
    * a pure function of quantized values both engines agree on (all
    * ratios are ≥ 0 — no −0.0 class here). Output: (doc_id, n_words,
    * mean_word_len, symbol_ratio, alpha_frac, n_stop, keep).
    *
    * 100 TB shape: one scan, map-only per-row array arithmetic — no
    * shuffle, no join, nothing leaves the partition. */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val nt = TF.normText(col(textCol))
    val ws = TF.words(col(textCol))
    val nw = size(ws).cast("long")
    val meanLen = round(
      aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long"))
        .cast("double") / nw.cast("double"), 4)
    // non-overlapping occurrence counts via replace-length deltas —
    // the '…' delta is a multiple of 3, so the division is exact
    val nHash = (length(nt) - length(regexp_replace(nt, "#", ""))).cast("long")
    val nEll = ((length(nt) - length(regexp_replace(nt, "\\.\\.\\.", "")))
      .cast("long") / lit(3)).cast("long")
    val symRatio = round((nHash + nEll).cast("double") / nw.cast("double"), 4)
    val alphaFrac = round(
      size(filter(ws, w => w.rlike("[a-z]"))).cast("double") /
        nw.cast("double"), 4)
    val stops = Seq("the", "and", "of", "to", "in", "is", "a")
    val nStop = size(array_distinct(
      filter(ws, w => w.isin(stops.map(x => x: Any): _*)))).cast("long")
    docs.select(col(idCol).as("doc_id"), nw.as("n_words"),
        meanLen.as("mean_word_len"), symRatio.as("symbol_ratio"),
        alphaFrac.as("alpha_frac"), nStop.as("n_stop"))
      .withColumn("keep",
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") < 0.1 && col("alpha_frac") >= 0.8 &&
          col("n_stop") >= 2).cast("long"))
  }

  /** Gopher REPETITION signals (Rae et al. 2021 A1.2) — the
    * within-doc half of the rule stack [[gopherRules]] (A1.1 content
    * rules) deliberately leaves out: templated or looping text shows
    * up as a few n-grams soaking up most of the document's characters.
    * Per doc, on the word grain (the fixture corpus has no
    * line/paragraph structure, so the paper's line-based variants
    * collapse to their n-gram forms): the character fraction of the
    * single most frequent 2-gram and 3-gram (tie-broken (count DESC,
    * gram DESC) — mirrored verbatim in the oracle) and the character
    * fraction covered by ALL duplicated 5-grams (overlapping
    * occurrences double-count, so the sum is capped at 1 — the
    * paper's caveat). Character counts exclude separator spaces on
    * both numerator and denominator. Keep thresholds are the paper's:
    * top-2 ≤ 0.20, top-3 ≤ 0.18, dup-5 ≤ 0.15, compared on the
    * rounded grid so the decision is exactly reproducible from the
    * emitted fractions. Docs too short for a gram level score 0 for
    * it. Output: (doc_id, n_words, top2_frac, top3_frac, dup5_frac,
    * keep).
    *
    * 100 TB shape: ONE corpus scan → one exploded (doc, n, gram)
    * grain with map-side partial counts → doc-grain rollup; every
    * shuffle is keyed by doc_id, nothing corpus-wide, no broadcast. */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // one tokenize pass persisted: the doc-stat projection and the
    // gram explode both read it (without the cache the corpus text is
    // scanned twice — the x61 one-pass discipline)
    val toks = docs.select(col(idCol).as("doc_id"),
        TF.words(col(textCol)).as("ws"),
        length(regexp_replace(TF.normText(col(textCol)), " ", ""))
          .cast("long").as("tot"))
      .transform(graft.engine.Barrier.sharedGrain)
    val ws = col("ws")
    def grams(n: Int): Column =
      when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)),
          i => struct(lit(n).as("n"),
            concat_ws(" ", slice(ws, i, lit(n))).as("gram"))))
        .otherwise(array().cast("array<struct<n:int,gram:string>>"))
    val base = toks.select(col("doc_id"),
      size(ws).cast("long").as("n_words"), col("tot"))
    val cnts = toks
      .select(col("doc_id"),
        explode(concat(grams(2), grams(3), grams(5))).as("g"))
      .groupBy(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as("cnt"))
    // charlen(gram) = length minus the n-1 separator spaces
    val charlen = length(col("gram")) - (col("n") - 1)
    val sig = cnts.groupBy(col("doc_id")).agg(
      max(when(col("n") === 2, struct(col("cnt"), col("gram")))).as("t2"),
      max(when(col("n") === 3, struct(col("cnt"), col("gram")))).as("t3"),
      sum(when(col("n") === 5 && col("cnt") >= 2,
        col("cnt") * charlen).otherwise(lit(0L))).as("dup5c"))
    def frac(chars: Column): Column =
      when(col("tot") > 0, round(least(
        chars.cast("double") / col("tot").cast("double"), lit(1.0)), 4))
        .otherwise(lit(0.0))
    base.join(sig, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        frac(coalesce(col("t2.cnt") *
          (length(col("t2.gram")) - 1), lit(0L))).as("top2_frac"),
        frac(coalesce(col("t3.cnt") *
          (length(col("t3.gram")) - 2), lit(0L))).as("top3_frac"),
        frac(coalesce(col("dup5c"), lit(0L))).as("dup5_frac"))
      .withColumn("keep",
        (col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18 &&
          col("dup5_frac") <= 0.15).cast("long"))
  }

  /** Word-distribution ENTROPY quality proxy — the compression-ratio
    * signal family (a doc that zips too well is templated/repetitive;
    * one at the entropy ceiling for its length is shuffled-vocabulary
    * noise — both are standard pretraining-corpus rejects, cf. the
    * entropy/compressibility filters in Gopher A1 and CCNet's "head"
    * heuristics). Shannon entropy of the WITHIN-doc word distribution:
    * H = [ln n − (Σ_w c_w·ln c_w)/n] / ln 2 bits, plus the
    * length-normalized form H / log2(n_types) ∈ [0,1] (1 = every type
    * equally likely — maximum surprise for the doc's own vocabulary;
    * → 0 = one type dominates). Output: (doc_id, n_words, n_types,
    * entropy_q, norm_entropy_q) in 1e-4 integer units.
    *
    * 100 TB shape: one tokenize pass to the (doc, word) count grain
    * (map-side partial agg), one doc-grain rollup — the x01/x110
    * map-side family: no broadcast, no window, nothing corpus-wide.
    *
    * Determinism across engines: each ln is micro-quantized once; the
    * Σ c·ln c term is an exact integer sum (order-independent); the
    * normalized form is a pure integer rational and the bits form has
    * exactly one IEEE division before its single grid rounding. */
  def entropySignal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    entropySignalFromWords(tokenized(docs, idCol, textCol)
      .select(col("doc_id"), explode(col("ws")).as("word")))

  /** [[entropySignal]] over a pre-exploded (doc_id, word) frame — the
    * composition form that shares one tokenize pass with other
    * word-grain consumers (the lmScoreFromWords discipline; x123's
    * card feeds entropy, the heavy-hitter set, and the per-lang hh
    * mass from ONE persisted explode). */
  def entropySignalFromWords(words: DataFrame): DataFrame =
    entropySignalFromCounts(words
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c")))

  /** [[entropySignalFromWords]] over a pre-computed (doc_id, c)
    * word-count grain — the composition form for pipelines that
    * already hold per-(doc, word) counts (x123's corpus card shares
    * ONE count grain between entropy, heavy hitters, and the per-lang
    * heavy-hitter mass). Only `doc_id` and `c` are read. */
  def entropySignalFromCounts(cnt: DataFrame): DataFrame = {
    val EM = graft.functions.ExactMath
    val lnt_q = EM.microQ(log(col("n_types").cast("double")))
    val num = entropyNumQ(col("n_words"), col("clc_q"))
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_words"),
        count(lit(1)).cast("long").as("n_types"),
        sum(clnTermQ(col("c"))).cast("long").as("clc_q"))
      .select(col("doc_id"), col("n_words"), col("n_types"),
        entropyQ(col("n_words"), col("clc_q")).as("entropy_q"),
        when(col("n_types") > 1,
          EM.divHalfUp(num * lit(10000L), col("n_words") * lnt_q))
          .otherwise(lit(0L)).as("norm_entropy_q"))
  }

  /** One word type's c·ln c term, ln micro-quantized — summed per doc
    * into the `clcQ` of [[entropyQ]]. */
  private[graft] def clnTermQ(c: Column): Column =
    c * graft.functions.ExactMath.microQ(log(c.cast("double")))

  /** Entropy numerator ln(nW)·nW − Σ c·ln c: an exact integer in
    * 1e-6·nat·token units (every ln micro-quantized once). */
  private def entropyNumQ(nW: Column, clcQ: Column): Column =
    graft.functions.ExactMath.microQ(log(nW.cast("double"))) * nW - clcQ

  /** The integer-grid within-doc word entropy in bits (1e-4 units) —
    * one formula for [[entropySignalFromCounts]], [[curateV6]] and
    * [[graft.streaming.EventStreams.curateGateStream]]: the
    * [[entropyNumQ]] numerator takes exactly ONE IEEE division, by
    * nW·ln2·100 with ln2·100 pinned as a literal (no libm variance),
    * before its one nearest-integer rounding. */
  private[graft] def entropyQ(nW: Column, clcQ: Column): Column =
    round(entropyNumQ(nW, clcQ).cast("double") /
      (nW.cast("double") * lit(69.31471805599453))).cast("long")

  /** Corpus SATURATION curve — the Heaps-law diagnostic a growing
    * corpus is monitored with: split ingestion into `waves`
    * deterministic waves (doc_id mod `waves`), and per wave report how
    * much of its distinct shingle mass is NEW (first seen in that
    * wave). A healthy diverse corpus keeps novelty high wave after
    * wave; a crawler stuck re-fetching the same sites shows novelty
    * collapsing toward 0 — the early-warning twin of the dedup rate
    * (x88 measures pairs after the fact; this measures the trend as
    * data lands). Output: (batch, n_distinct — the wave's distinct
    * shingles, n_new — those first seen here, novelty = n_new /
    * n_distinct, 4 dp).
    *
    * 100 TB shape: one shingle pass persisted (map-side 8-byte
    * fingerprints), a shingle-grain min-wave groupBy and a per-wave
    * exact distinct — both uniform hash keys with map-side partials;
    * output is waves-sized. */
  def saturationCurve(docs: DataFrame, waves: Int = 5,
      shingleK: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(waves >= 1, s"waves >= 1, got $waves")
    // pmod, not %: Spark's % keeps the dividend's sign, so negative ids
    // would mint up to waves−1 extra negative batches; pmod keeps the
    // wave count exactly `waves` for any integral id (matches the
    // hash60-bucketing discipline of the sampler family)
    val sh = docs.select(pmod(col(idCol), lit(waves)).as("batch"),
        explode(TF.shingleSetFast(TF.words(col(textCol)), shingleK))
          .as("fp"))
      .transform(graft.engine.Barrier.sharedGrain)
    // deliberately LAZY (r18 A/B): an eager barrier on the novelty
    // rollup measured 0.87x — the two consumers' duplicated shingle
    // explodes overlap on idle cores and beat the serialized
    // materialization here
    val nb = sh.groupBy(col("fp")).agg(min(col("batch")).as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_new"))
    sh.groupBy(col("batch"))
      .agg(countDistinct(col("fp")).as("n_distinct"))
      .join(nb, Seq("batch"), "left")
      .select(col("batch"), col("n_distinct"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(coalesce(col("n_new"), lit(0L)).cast("double") /
          col("n_distinct").cast("double"), 4).as("novelty"))
  }

  /** Boilerplate EXCISION by global block frequency — the CCNet /
    * RefinedWeb paragraph-dedup step (Wenzek et al. LREC 2020 §4.1:
    * hash every paragraph, drop paragraphs whose hash repeats across
    * the corpus; RefinedWeb runs the same gate line-wise): chrome that
    * recurs across many distinct documents (navigation, headers,
    * licence stubs) is removed from EVERY document — unlike
    * [[exciseSpans]], which keeps a canonical first occurrence of
    * repeated content, boilerplate has no canonical: all occurrences
    * go. The fixture corpus has no newline/paragraph structure, so the
    * paragraph unit here is the non-overlapping `block`-token block
    * (same normalization as every text op); the last `n mod block`
    * tokens of a doc are unblocked and always survive. A block is
    * boilerplate iff it occurs in ≥ `minDf` DISTINCT documents —
    * within-doc repetition alone never marks it (that is [[spanDupStats]]'s
    * signal). Output: (doc_id, text — reassembled from surviving
    * tokens, n_tokens, n_kept, n_cut) for every input doc.
    *
    * 100 TB shape: map-side 8-byte block fingerprints (volume
    * n_tokens/block), one fingerprint groupBy with an exact
    * count-distinct (two-level hash agg, uniform keys), the
    * boilerplate set joined back equi on the fingerprint, one per-doc
    * rollup of cut ranges, and per-row array reassembly inside
    * whole-stage codegen — the same excision plan PlanAudit pins for
    * x60, with the df gate replacing the first-occurrence rank. */
  def boilerplateExcise(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", block: Int = 4, minDf: Int = 3): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
    val blocks = blockFps(toks, block)
    val cut = blocks.join(boilerplateSetFromBlocks(blocks, minDf), Seq("fp"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("st"),
        (col("st") + (block - 1)).as("en"))).as("rs"))
    toks.join(cut, Seq("doc_id"), "left")
      .withColumn("rs",
        coalesce(col("rs"), expr("array()").cast("array<struct<st:int,en:int>>")))
      .withColumn("kept", expr(
        "filter(sequence(1, n), i -> !exists(rs, r -> i >= r.st AND i <= r.en))"))
      .select(col("doc_id"),
        concat_ws(" ", expr("transform(kept, i -> element_at(ws, i))"))
          .as("text"),
        col("n").cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n") - size(col("kept"))).cast("long").as("n_cut"))
  }

  /** Aligned full-block fingerprints of a (doc_id, ws, n) frame — the
    * shared block unit of [[boilerplateExcise]] and the streaming gate
    * twin (one definition so measure and act can't desynchronize).
    * Extra columns (e.g. a streaming event_time) pass through. */
  private[graft] def blockFps(toks: DataFrame, block: Int): DataFrame =
    toks
      .withColumn("st", explode(sequence(lit(1),
        greatest(col("n") - (block - 1), lit(1)), lit(block))))
      // full blocks only: a doc shorter than `block` contributes nothing
      // (the greatest() guard above only protects sequence() from a
      // descending range)
      .filter(col("st") + (block - 1) <= col("n"))
      .withColumn("fp",
        TF.hash60(concat_ws(" ", slice(col("ws"), col("st"), lit(block))),
          "bp|"))
      .drop("ws")

  private def boilerplateSetFromBlocks(blocks: DataFrame,
      minDf: Int): DataFrame =
    blocks.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDf)
      .select(col("fp"))

  /** The trained boilerplate fingerprint set alone — the train-once
    * artifact the streaming gate consumes ([[graft.streaming
    * .EventStreams.boilerplateGateStream]]): blocks occurring in
    * ≥ `minDf` distinct docs of the training corpus. */
  def boilerplateSet(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", block: Int = 4, minDf: Int = 3): DataFrame =
    boilerplateSetFromBlocks(blockFps(
      docs.select(col(idCol).as("doc_id"), TF.words(col(textCol)).as("ws"))
        .withColumn("n", size(col("ws"))), block), minDf)

  /** Shingle-grain NOVELTY score — the "how much of this document is
    * new text" signal dataset-growth audits and memorization studies
    * run (the doc-grain complement of [[spanDupStats]]'s span signal):
    * a document's distinct `k`-word shingles are attributed to the
    * document that introduced them (min doc_id = earliest ingest), and
    * the doc's novelty is the fraction of its shingle set it
    * introduced itself. Exact duplicates of an earlier doc score 0;
    * fully original docs score 1; partial rewrites land in between.
    * Set semantics per doc (within-doc repetition doesn't inflate
    * novelty). Docs with < k words have no shingles: n_shingles = 0,
    * novel_frac = NULL. Output: (doc_id, n_shingles, n_novel,
    * novel_frac — rounded to 4).
    *
    * 100 TB shape: map-side distinct shingle fingerprints (8 bytes
    * each), one fingerprint groupBy for the min-doc attribution
    * (uniform hash keys, map-side partial min), an equi join back on
    * the fingerprint, and a doc-grain rollup — the x58 family plan at
    * shingle grain, no window, no skew (shingle keys are
    * content-hashed). */
  def noveltyScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    // the shingle branch is the compute-heavy per-row pass — rebalance
    // it HERE (no-op on well-split sources) so callers can hand the
    // plain frame and the id-only zero-fill branch below reads the
    // pruned scan instead of the full-payload rebalance exchange (r18
    // profile: the exchange reuse made the id branch deserialize every
    // text row, 0.5 s for a doc_id projection)
    val sh = graft.catalog.Catalog.rebalanced(docs.sparkSession, docs)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TF.shingles(col(textCol), k))).as("s"))
      .select(col("doc_id"), TF.hash60(col("s"), "nov|").as("fp"))
    val first = sh.groupBy("fp").agg(min(col("doc_id")).as("first_id"))
    val per = sh.join(first, Seq("fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 4)
          .as("novel_frac"))
  }

  /** Per-source distribution DRIFT — the corpus-monitoring twin of the
    * per-doc DSIR ratio ([[dsirWeights]]): for every source, the KL
    * divergence of its unigram distribution from the (add-one-smoothed)
    * corpus-wide distribution, KL(p_s ‖ q̃) = Σ_w p_s(w)·(ln p_s(w) −
    * ln q̃(w)). High KL = the slice least like the mixture — the number
    * a freshness/ingest dashboard alerts on, and the corpus-level
    * complement of x83's doc-level selection signal. Determinism: each
    * log is one correctly-rounded double division quantized to
    * DECIMAL(18,6) (the x51 leaf recipe), each term one double product
    * quantized to DECIMAL(24,12), the per-source sum exact decimal —
    * order-insensitive, hash-checkable; the final round carries the
    * −0.0 guard (KL against the SMOOTHED reference can dip fractionally
    * negative). Output: (group, n_tokens, kl).
    *
    * 100 TB shape: ONE tokenize pass to the (source, word) grain; the
    * corpus count table DERIVES from it (no second scan); per-source
    * totals are groups-sized broadcasts, the corpus scalars a 1-row
    * broadcast; the word-key join is vocab-sized with map-side partial
    * aggs absorbing stopword skew. */
  def sourceDrift(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val sc = docs
      .select(col(groupCol), explode(TF.words(col(textCol))).as("word"))
      .groupBy(col(groupCol), col("word"))
      .agg(count(lit(1)).as("cnt_s"))
      .transform(graft.engine.Barrier.sharedGrain)
    // eager barrier on the vocab-sized corpus counts (r18 shared-
    // materialization shape): cc's job populates the sc cache
    // race-free; ns and the scoring join then read it warm
    val cc = graft.engine.Barrier.lineageBarrier(
      sc.groupBy(col("word")).agg(sum(col("cnt_s")).as("cnt_c")))
    val ns = sc.groupBy(col(groupCol)).agg(sum(col("cnt_s")).as("n_s"))
    val nc = broadcast(cc.agg(sum(col("cnt_c")).as("n_c"),
      count(lit(1)).as("vocab")))
    sc.join(cc, Seq("word"))
      .join(broadcast(ns), Seq(groupCol))
      .crossJoin(nc)
      .withColumn("lp_q",
        graft.functions.ExactMath.microQ(
          log(col("cnt_s").cast("double") / col("n_s").cast("double"))))
      .withColumn("lq_q", addOneLogQ(col("cnt_c"),
        (col("n_c") + col("vocab")).cast("double")))
      .groupBy(col(groupCol))
      .agg(sum(col("cnt_s")).cast("long").as("n_tokens"),
        // Σ p·(lp−lq) with p = cnt_s/n_s and n_s constant per group is
        // the EXACT rational Σ cnt_s·(lp_q−lq_q) / n_s — integer
        // numerator, signed half-up division back onto the 1e-6 grid
        graft.functions.ExactMath.divHalfUpSigned(
          sum(col("cnt_s") * (col("lp_q") - col("lq_q"))),
          max(col("n_s"))).as("kl_q"))
  }

  /** Per-group Zipf slope — the corpus-statistics sanity gauge: natural
    * language follows freq ∝ rank^(−α), α ≈ 1 (Zipf); templated,
    * synthetic, or heavily-duplicated text bends the log-log line, so
    * the fitted OLS slope is a cheap health indicator next to content
    * gates. Ranks are (count DESC, word) per group — a GROUP-keyed
    * window over the vocab grain — and the slope comes from
    * exact-decimal sufficient statistics (quantized logs, exact sums,
    * one double ratio, −0.0 guarded). Output: (group, n_types,
    * n_tokens, slope).
    *
    * 100 TB shape: one tokenize pass to the (group, word) count grain;
    * the rank window partitions by group over vocab-sized input; the
    * statistics collapse into a groups-sized aggregate. */
  def zipfSlope(docs: DataFrame, groupCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col("cnt").desc, col("word"))
    docs
      .select(col(groupCol), explode(TF.words(col(textCol))).as("word"))
      .groupBy(col(groupCol), col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w))
      .select(col(groupCol), col("cnt"),
        graft.functions.ExactMath.microQ(
          log(col("rnk").cast("double"))).as("xq"),
        graft.functions.ExactMath.microQ(
          log(col("cnt").cast("double"))).as("yq"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_types"),
        sum(col("cnt")).cast("long").as("n_tokens"),
        // sufficient statistics as EXACT integers (squared sums ride
        // DECIMAL(38,0) — a web-scale vocab overflows a long sum)
        sum(col("xq")).cast("decimal(38,0)").as("sx"),
        sum(col("yq")).cast("decimal(38,0)").as("sy"),
        sum((col("xq") * col("xq")).cast("decimal(38,0)")).as("sxx"),
        sum((col("xq") * col("yq")).cast("decimal(38,0)")).as("sxy"))
      .select(col(groupCol), col("n_types"), col("n_tokens"),
        // slope = (n·sxy − sx·sy)/(n·sxx − sx²): both sides exact
        // integers (1e-6 grids cancel), half-up onto the 1e-4 grid.
        // n_types = 1 makes the denominator exactly 0 (all xq equal)
        // — an OLS slope is undefined there, and the engines disagree
        // on integer-div-by-zero (Spark NULL vs DuckDB error), so a
        // fixed sentinel 0 is pinned on BOTH sides (oracle: the same
        // CASE), the entropySignal norm-guard discipline
        when(col("n_types") > 1L,
          graft.functions.ExactMath.divHalfUpSigned(
            (col("n_types") * col("sxy") - col("sx") * col("sy")) *
              lit(10000L),
            col("n_types") * col("sxx") - col("sx") * col("sx")))
          .otherwise(lit(0L).cast("long"))
          .as("slope_q"))
  }

  /** DoReMi-style domain reweighting (Xie et al., "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining", NeurIPS 2023,
    * arXiv 2305.10429) in its static data-engine form. The paper
    * alternates proxy-model training with a multiplicative-weights
    * update on per-domain EXCESS LOSS; here the reference model is a
    * held-out unigram LM ([[lmScoreApply]]'s CCNet shape) and excess is
    * each domain's held-out per-token loss over the best-fit domain's,
    * so the model is static — but the MWU chain is still unrolled step
    * by step on an exact integer grid (BIGINT micro-units,
    * [[graft.functions.ExactMath]]): per-word log-probs are quantized
    * ONCE (`lpw_q = round(ln(p)·1e6)` — the x99 pattern; the only IEEE
    * op in the whole chain), then losses, excesses, the per-step
    * update w_q ← divHalfUp(w_q·m_q, 1e6), the normalization, and the
    * uniform smoothing are all integer multiply/divide-half-up that
    * the DuckDB oracle replays digit for digit (the x48Iters
    * discipline — one Scala constant set generates both sides; r12's
    * DECIMAL-round form hash-flipped across DuckDB builds). The
    * paper's exponential update exp(η·e) is deliberately linearized to
    * (1+η·e)ᵀ: exp is not correctly-rounded IEEE and drifts across
    * engines (the x89 Gumbel-key lesson), while integer multiplication
    * is exact; for η·e ≲ 0.5 the two produce the same domain ORDERING,
    * which is what the normalized mixture consumes.
    *
    * Output: (group, n_tokens, loss_q, excess_q, weight_q) — loss and
    * excess in nat micro-units, weight in probability micro-units;
    * weights sum to 1e6 up to per-domain half-up rounding. `eta` and
    * `smooth` must sit on the 1e-6 grid (longValueExact guards).
    *
    * 100 TB shape: the train pass and the eval pass are x74's — one
    * tokenize each, word-key equi model join (AQE skew-split absorbs
    * stopwords), smoothing constants on a 1-row broadcast — and the
    * eval aggregate lands directly on the DOMAINS-sized grain (the
    * per-doc grain is never materialized). Everything after is
    * arithmetic on that domains-sized frame; the min-loss baseline and
    * the normalization total ride 1-row broadcasts (the
    * PlanAuditSpec-allowlisted scalar shape, as x85). */
  def doremiWeights(ref: DataFrame, eval: DataFrame,
      eta: java.math.BigDecimal, steps: Int,
      smooth: java.math.BigDecimal, groupCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val EM = graft.functions.ExactMath
    val M = 1000000L
    val etaQ = eta.movePointRight(6).longValueExact
    val smoothQ = smooth.movePointRight(6).longValueExact
    // eager barrier on the vocab-sized reference model (r18, the dsir
    // shape): consumed by the totals broadcast AND the word-key join —
    // un-materialized both re-ran the reference scan+explode
    val counts = graft.engine.Barrier.lineageBarrier(
      unigramCounts(ref, idCol, textCol))
    val denom = Denom.joined(unigramTotals(counts))
    val domLoss = denom.attach(eval
        .select(col(groupCol), explode(TF.words(col(textCol))).as("word"))
        .groupBy(col(groupCol), col("word"))
        .agg(count(lit(1)).as("tf"))
        .join(counts, Seq("word"), "left"))
      .withColumn("lpw_q",
        addOneLogQ(coalesce(col("cnt"), lit(0L)), denom.value))
      .groupBy(col(groupCol))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        sum(col("tf") * col("lpw_q")).cast("long").as("s_q"))
      .withColumn("loss_q", EM.divHalfUp(-col("s_q"), col("n_tokens")))
      .drop("s_q")
    val base = broadcast(domLoss.agg(min(col("loss_q")).as("loss_min_q"),
      count(lit(1)).as("n_dom")))
    val seeded = domLoss.crossJoin(base)
      .withColumn("excess_q", col("loss_q") - col("loss_min_q"))
      .withColumn("m_q",
        lit(M) + EM.divHalfUp(lit(etaQ) * col("excess_q"), lit(M)))
      .withColumn("w_q", lit(M))
    val stepped = (1 to steps).foldLeft(seeded) { (df, _) =>
      df.withColumn("w_q", EM.divHalfUp(col("w_q") * col("m_q"), lit(M)))
    }
    val tot = broadcast(stepped.agg(sum(col("w_q")).as("w_tot_q")))
    stepped.crossJoin(tot)
      .withColumn("frac_q", EM.divHalfUp(col("w_q") * lit(M), col("w_tot_q")))
      .withColumn("weight_q", EM.divHalfUp(
        lit(M - smoothQ) * col("frac_q") * col("n_dom") +
          lit(smoothQ) * lit(M),
        lit(M) * col("n_dom")))
      .select(col(groupCol), col("n_tokens"), col("loss_q"),
        col("excess_q"), col("weight_q"))
  }

  /** One-call curation pipeline v6 — entropy band → CDC ownership
    * dedup → temperature mix as a single operator, returning EVERY
    * input doc with the decision that removed it (or kept it). The
    * composition is the one the dedup tier-agreement matrix (x128)
    * motivated and PipelineSpec drives gate by gate; this is the
    * production entry point, with reasons so a curation run is
    * auditable ("why did doc X disappear?" is a filter, not a replay).
    *
    * Gates, in reason precedence order (first failure names the doc):
    *  1. `low_entropy` — within-doc word entropy (integer-quantized to
    *     the 1e-4 grid, the [[graft.functions.ExactMath.microQ]]
    *     discipline) below the corpus `pLow`-percentile cut; the cut is
    *     ONE exact-percentile scalar on a broadcast (x106's recipe —
    *     deliberately not a corpus-wide ntile).
    *  2. `uniform` — every word type equally frequent (max count =
    *     min count): shuffled-vocabulary noise at its own entropy
    *     ceiling. Exact integer test — no norm_entropy rounding.
    *  3. `dup_chunks` — within the gated pool, the doc OWNS (is
    *     keep-min for) fewer than half its content-defined chunks
    *     ([[graft.ops.TextDedup.cdcChunkFps]]' grain): exact copies
    *     own none of theirs, heavy quoters own few.
    *  4. `mix_out` — the survivor pool is α-temperature-sampled per
    *     group ([[temperatureRates]] — integer hash threshold, the x54
    *     contract); rows over the threshold leave.
    *  5. `kept`.
    * Output: (idCol, groupCol, reason, kept 0/1).
    *
    * 100 TB shape: entropy is the x112 map-side rollup; the cut and
    * the mix rates ride broadcasts; CDC ownership is one hash-keyed
    * groupBy at chunk grain; the doc-grain gate frame is persisted so
    * the reason assembly replays no text pass. */
  def curateV6(docs: DataFrame, pLow: Int = 5, cdcModulus: Int = 8,
      alpha: Double = 0.5, salt: String = "mix",
      idCol: String = "doc_id", groupCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    require(pLow >= 0 && pLow <= 100, s"pLow in [0,100], got $pLow")
    val res = 1000000L
    val cnt = docs
      .select(col(idCol).as("doc_id"), explode(TF.words(col(textCol)))
        .as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    // ent_q: x112's integer-grid entropy ([[entropyQ]])
    val ent = cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_words"),
        sum(clnTermQ(col("c"))).cast("long").as("clc_q"),
        (max(col("c")) === min(col("c"))).as("uni0"))
      .select(col("doc_id"), col("uni0"),
        entropyQ(col("n_words"), col("clc_q")).as("ent_q"))
    val cut = broadcast(ent.agg(
      percentile(col("ent_q"), lit(pLow / 100.0)).as("cut")))
    val gates = docs.select(col(idCol).as("doc_id"),
        col(groupCol).as("grp"))
      .join(ent, Seq("doc_id"), "left")
      .crossJoin(cut)
      // coalesce: a zero-word doc has no entropy row — it fails no
      // entropy gate (and owns no chunks), flowing through to the mix
      .withColumn("low", coalesce(col("ent_q") < col("cut"), lit(false)))
      .withColumn("uni", !col("low") && coalesce(col("uni0"), lit(false)))
      .transform(graft.engine.Barrier.sharedGrain)
    val poolIds = gates.filter(!col("low") && !col("uni"))
      .select(col("doc_id"))
    val chunks = graft.ops.TextDedup.cdcChunkFps(
      docs.select(col(idCol).as("doc_id"),
          TF.words(col(textCol)).as("ws"))
        .join(poolIds, Seq("doc_id")), cdcModulus)
    val keepMin = chunks.groupBy(col("chunk_fp"))
      .agg(min(col("doc_id")).as("keep_doc"))
    val own = chunks.join(keepMin, Seq("chunk_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_owned"))
    val g2 = gates.join(own, Seq("doc_id"), "left")
      .withColumn("dup", !col("low") && !col("uni") &&
        coalesce(col("n_owned") * 2 < col("n_chunks"), lit(false)))
      .transform(graft.engine.Barrier.sharedGrain)
    val rates = temperatureRates(
      g2.filter(!col("low") && !col("uni") && !col("dup"))
        .select(col("doc_id"), col("grp").as(groupCol)),
      groupCol, alpha, res)
    val inMix = mixKeep(col("doc_id"), salt, res)
    g2.join(broadcast(rates.select(col(groupCol).as("grp"), col("thr"))),
        Seq("grp"), "left")
      .select(col("doc_id").as(idCol), col("grp").as(groupCol),
        when(col("low"), lit("low_entropy"))
          .when(col("uni"), lit("uniform"))
          .when(col("dup"), lit("dup_chunks"))
          .when(!inMix, lit("mix_out"))
          .otherwise(lit("kept")).as("reason"),
        when(!col("low") && !col("uni") && !col("dup") && inMix, 1L)
          .otherwise(0L).as("kept"))
  }

  /** Shared grain of the all-pairs similarity join: per-doc shingle
    * term-frequency vectors (doc_id, fp, w) — feature = hash60 of the
    * `k`-word shingle, weight = its in-doc occurrence count (pure
    * integers end to end, so every similarity decision is exact). */
  private def shingleTf(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame = docs
    .select(col(idCol).as("doc_id"),
      explode(TF.shingles(col(textCol), shingleK)).as("g"))
    .select(col("doc_id"), TF.hash60(col("g"), "aps|").as("fp"))
    .groupBy(col("doc_id"), col("fp"))
    .agg(count(lit(1)).as("w"))

  /** Candidate pairs of the prefix-filtered all-pairs join — exposed so
    * audits/specs can measure the pruning ([[allPairsCosine]] is the
    * verified result). A doc's features are ordered globally by
    * (document frequency asc, fp asc) — rare features first — and a
    * position is INDEXED only while the suffix norm² from it on is
    * ≥ τ²·‖d‖² (exact integer comparison on the 1e-8 τ² grid). The
    * candidate join is indexed(a) × indexed(b) — BOTH sides prefix
    * only — and is still a PROVEN superset: let f* be the pair's FIRST
    * shared feature in the global order; if f* missed either doc's
    * prefix, every shared feature would sit in that doc's unindexed
    * tail (prefixes are order-contiguous), and by Cauchy–Schwarz the
    * cosine would be < τ (Bayardo, Ma & Srikant, WWW 2007, "Scaling Up
    * All Pairs Similarity Search" — the prefix-filtering principle;
    * rare-first ordering keeps the indexed prefixes low-df, so the
    * candidate join explodes on rare keys, not stopword-like ones). */
  def allPairsCandidates(docs: DataFrame,
      tau: java.math.BigDecimal, idCol: String = "doc_id",
      textCol: String = "text", shingleK: Int = 3): DataFrame = {
    val tf = shingleTf(docs, idCol, textCol, shingleK)
      .transform(graft.engine.Barrier.lineageBarrier)
    candidatesFromTf(tf, tau2E8(tau))
  }

  private def tau2E8(tau: java.math.BigDecimal): Long =
    tau.pow(2).movePointRight(8)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  private def candidatesFromTf(tf: DataFrame, t2e8: Long): DataFrame = {
    val dfreq = tf.groupBy(col("fp")).agg(count(lit(1)).as("dfreq"))
    val ss = tf.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("ss"))
    // cumulative w² in rare-first order; suffix-from-here = ss − cum + w²
    val wOrd = Window.partitionBy(col("doc_id"))
      .orderBy(col("dfreq"), col("fp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // eagerly materialized: the self-join below would otherwise
    // duplicate the whole window+join subtree once per side
    // (plan-audited — the un-materialized form planned two full
    // Window computations); row blocks per the tf A/B above
    val indexed = tf.join(dfreq, Seq("fp")).join(ss, Seq("doc_id"))
      .withColumn("cum", sum(col("w") * col("w")).over(wOrd))
      .filter((col("ss") - col("cum") + col("w") * col("w"))
        .cast("decimal(38,0)") * lit(100000000L) >=
        col("ss").cast("decimal(38,0)") * lit(t2e8))
      .select(col("doc_id"), col("fp"))
      .transform(graft.engine.Barrier.lineageBarrier)
    indexed.select(col("doc_id").as("doc_a"), col("fp"))
      .join(indexed.select(col("doc_id").as("doc_b"), col("fp")),
        Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** WHOLE-DOCUMENT sequence packing — the alternative to
    * [[packSequences]]'s concat-and-chunk (which splits documents at
    * chunk boundaries): each document stays intact and is placed whole
    * into fixed-capacity bins by next-fit-decreasing — the classic
    * one-pass bin-packing heuristic (Johnson 1973; the document-packing
    * framing is Krell et al., arXiv 2107.02027, who measure the padding
    * cost of naive packing in LLM pretraining). Docs are sharded by
    * content hash, sorted (n_tokens desc, doc_id asc) within the shard,
    * and folded left to right: a doc joins the current bin if it fits,
    * else opens the next; a doc longer than `seqLen` occupies a bin
    * alone. Deterministic — a pure function of the corpus. Output:
    * (doc_id, n_tokens, shard, bin, off).
    *
    * 100 TB shape: packing is sequential WITHIN a shard only — the fold
    * runs as a codegen'd `aggregate` over the shard's collected doc
    * list (id + length only, NOT text: 24 bytes/doc of task state), so
    * `nShards` is the knob that bounds per-task state; shards pack in
    * parallel with no cross-shard coordination, exactly how a loader
    * consumes them. The [[packSequences]] prefix-sum form remains the
    * choice when splitting docs is acceptable. */
  def packDocs(docs: DataFrame, seqLen: Int = 128, nShards: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val L = lit(seqLen.toLong)
    val toks = docs.select(col(idCol).as("doc_id"),
        size(TF.words(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("shard",
        pmod(TF.hash60(col("doc_id").cast("string"), "pack|"),
          lit(nShards.toLong)))
    val accT = "array<struct<doc_id:bigint,n_tokens:bigint," +
      "bin:bigint,off:bigint>>"
    val init = struct(lit(0L).as("bin"), lit(0L).as("used"),
      array().cast(accT).as("acc"))
    val packed = toks
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(
        (-col("n_tokens")).as("nn"), col("doc_id"), col("n_tokens"))))
        .as("ds"))
      .select(col("shard"), aggregate(col("ds"), init, (st, e) => {
        val fits = st("used") + e("n_tokens") <= L || st("used") === 0L
        val bin = when(fits, st("bin")).otherwise(st("bin") + 1L)
        val off = when(fits, st("used")).otherwise(lit(0L))
        struct(bin.as("bin"), (off + e("n_tokens")).as("used"),
          concat(st("acc"), array(struct(
            e("doc_id").as("doc_id"), e("n_tokens").as("n_tokens"),
            bin.as("bin"), off.as("off")))).as("acc"))
      }).as("st"))
      .select(col("shard"), explode(col("st.acc")).as("p"))
    packed.select(col("p.doc_id").as("doc_id"),
      col("p.n_tokens").as("n_tokens"), col("shard"),
      col("p.bin").as("bin"), col("p.off").as("off"))
  }

  /** All-pairs cosine similarity join over shingle tf vectors (Bayardo
    * et al. WWW 2007): every UNORDERED doc pair with
    * cos(a, b) ≥ τ, found WITHOUT the quadratic all-pairs scan —
    * prefix-filtered candidates ([[allPairsCandidates]], a proven
    * superset) verified by the exact integer test
    * dot²·10⁸ ≥ τ²₁ₑ₈·‖a‖²·‖b‖² (DECIMAL(38,0) products — no IEEE
    * anywhere in the decision, so the pruned path is hash-identical to
    * a brute-force engine replay at any τ, which is exactly how the
    * oracle checks it). The decision's 38-digit exactness requires
    * per-doc ss ≤ 10¹⁵, ENFORCED below with a loud failure — see the
    * inline bound note. Output: (doc_a, doc_b, dot, ss_a, ss_b, cos —
    * round-4 double, presentation only).
    *
    * 100 TB shape: the tf grain is one map-side explode + (doc, fp)
    * groupBy; df/norms are feature-/doc-grain aggregates; the
    * candidate join is keyed on LOW-df features by construction (the
    * rare-first prefix), so no stopword-key explosion; verification
    * touches candidate pairs only. The brute-force twin is the
    * all-co-occurring-pairs join the prefix provably dominates. */
  def allPairsCosine(docs: DataFrame, tau: java.math.BigDecimal,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3,
      maxDocSs: Long = 999999999999999L): DataFrame = {
    val t2e8 = tau2E8(tau)
    // eager row-block checkpoint, not columnar persist: five consumers
    // read this narrow frame, and the x21/x42 A/B (re-measured here:
    // 4.2 s -> 2.6 s per fresh run at sf0.1) shows the columnar cache
    // write+read path losing to row blocks on tf-grain shapes
    val tf = shingleTf(docs, idCol, textCol, shingleK)
      .transform(graft.engine.Barrier.lineageBarrier)
    // Exactness bound, enforced (not just documented): the verification
    // below computes dot²·1e8 and ss_a·ss_b·t2e8 in DECIMAL(38,0); with
    // per-doc ss ≤ 1e15−1 both sides stay STRICTLY below 1e38
    // (dot ≤ √(ss_a·ss_b) by Cauchy–Schwarz, t2e8 ≤ 1e8), inside
    // DECIMAL(38,0)'s max of 1e38−1. The ceiling is 1e15−1, not 1e15:
    // at ss_a = ss_b = 1e15 exactly (identical degenerate docs),
    // dot²·1e8 = 1e38 — one past the decimal max, so the boundary case
    // would still overflow to NULL. Past the cap Spark's decimal
    // multiply yields NULL and the filter would silently DROP a
    // genuinely qualifying pair — and the DuckDB HUGEINT oracle shares
    // the ~1.7e38 ceiling, so the bench would stay green while both
    // engines are wrong. A doc needs ~3·10⁷ repeats of one shingle
    // (≈ a 100 MB degenerate file) to trip this; such docs fail loudly
    // here with a split/pre-filter hint instead. (ss itself is exact:
    // each w² ≤ 1e15 pre-cap and the long sum saturates far below 2⁶³ —
    // wrap-around would require ss ≥ 9·10¹⁸, caught by this same gate
    // long before.) `maxDocSs` must never exceed 1e15−1 (the decimal
    // headroom); callers may tighten it.
    val ssCap = math.min(maxDocSs, 999999999999999L)
    val ss = tf.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("ss"))
      .withColumn("ss", when(col("ss") <= ssCap, col("ss"))
        .otherwise(raise_error(concat(
          lit("allPairsCosine: doc "), col("doc_id").cast("string"),
          lit(" has ss="), col("ss").cast("string"),
          lit(" above the 1e15-1 cap — exact DECIMAL(38,0) verification would " +
            "overflow and silently drop pairs; split or pre-filter " +
            "degenerate documents"))).cast("long")))
    val cand = candidatesFromTf(tf, t2e8)
    val dot = cand
      .join(tf.select(col("doc_id").as("doc_a"), col("fp"),
        col("w").as("wa")), Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("fp"),
        col("w").as("wb")), Seq("doc_b", "fp"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dot
      .join(ss.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")),
        Seq("doc_a"))
      .join(ss.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")),
        Seq("doc_b"))
      .filter(col("dot").cast("decimal(38,0)") *
        col("dot").cast("decimal(38,0)") * lit(100000000L) >=
        col("ss_a").cast("decimal(38,0)") *
        col("ss_b").cast("decimal(38,0)") * lit(t2e8))
      .select(col("doc_a"), col("doc_b"), col("dot"), col("ss_a"),
        col("ss_b"),
        (round(col("dot").cast("double") /
          sqrt(col("ss_a").cast("double") * col("ss_b").cast("double")),
          4) + lit(0.0)).as("cos"))
  }
}
