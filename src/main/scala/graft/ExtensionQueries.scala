package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.mvcc.LogTable

/** Training-data-pipeline extension queries — dedup (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine), similarity search (brute
  * force + LSH-bucketed ANN), text analysis (token counting, quality,
  * language-ID, fingerprinting), multimodal metadata, event-stream
  * windows/sessionization, and the MVCC snapshot recipe.
  *
  * All hashing is engine-portable md5-derived (see [[TF.hash60]]), so
  * even MinHash signatures, SimHash values, and LSH candidate pairs are
  * *fully oracle-checked* against DuckDB — not rows-only.
  *
  * Scale design notes are on each query; the recurring shape is:
  * per-row map work (no shuffle) → blocked/bucketed self-join (equi
  * shuffle on the block key) → verify step. Brute-force variants exist
  * as correctness baselines; the LSH variants are the 100 TB path.
  */
object ExtensionQueries {
  type QFn = (SparkSession, String) => DataFrame

  // Two scan flavors, chosen PER QUERY (each assignment A/B-measured at
  // sf0.1, r5):
  //  - docs/embs: plain scans. Wins for (a) map-light queries — single
  //    hash, id arithmetic, small projections — where the extra
  //    full-payload round-robin exchange is a straight loss (x04
  //    0.98→0.21s vs blanket-rebalanced r4), and (b) pipelines whose
  //    first heavy step is itself a shuffle or broadcast-side pass —
  //    chunk explodes (x26/x35), packing (x38), bucket/block self-joins
  //    (x09/x13), broadcast query probes (x12/x28), ivfCells paths
  //    (x18/x22/x30/x31/x48) — the exchange redistributes anyway, so
  //    pre-balancing pays twice (x26 0.27→0.21s, x13 0.57→0.31s, x28
  //    0.74→0.43s, x18 0.77→0.30s plain);
  //  - docsR/embsR: under-split-guarded rebalance (Catalog.tableRebalanced,
  //    no-op on well-split sources) for pipelines whose heavy work is
  //    PER-ROW map compute before any exchange — gram/shingle/minhash/
  //    simhash hashing, regex scans, brute-force cosine — where one
  //    unsplittable row group serializes the whole map phase (x10
  //    2.7→1.1s, x11 1.5→0.3s, x03 0.58→0.31s, x25 0.52→0.24s
  //    rebalanced).
  private def docs(s: SparkSession, d: String): DataFrame =
    Catalog(s, d).table("documents")
  private def embs(s: SparkSession, d: String): DataFrame =
    Catalog(s, d).table("embeddings")
  private def docsR(s: SparkSession, d: String): DataFrame =
    Catalog(s, d).tableRebalanced("documents")
  /** [[graft.catalog.Catalog.tableRebalanced]]'s under-split guard for a
    * DERIVED frame feeding compute-heavy per-row work (image decode,
    * hashing): one shuffle of the slim input when the source offers
    * fewer splits than the cluster, no-op on any healthy layout. */
  private def rebalanced(s: SparkSession, df: DataFrame): DataFrame =
    Catalog.rebalanced(s, df)
  private def embsR(s: SparkSession, d: String): DataFrame =
    Catalog(s, d).tableRebalanced("embeddings")
  // ts normalized to epoch-ns long whatever the parquet encoding
  // (TIMESTAMP(NANOS) via nanosAsLong, or TIMESTAMP(MICROS)/NTZ) — see
  // [[graft.functions.EventTime]]
  private def events(s: SparkSession, d: String): DataFrame =
    graft.functions.EventTime.withNanos(Catalog(s, d).table("events"))

  // ---------------------------------------------------------- text analysis

  /** Token counting: whitespace tokens + BPE-ish subword estimate.
    * Pure map work — scales linearly, no shuffle. */
  private val x01_tokens: QFn = (s, d) =>
    docs(s, d).select(
      col("doc_id"), col("n_chars"),
      TF.tokenCount(col("text")).as("n_tokens"),
      TF.bpeTokenCount(col("text")).as("n_bpe"))

  /** Composite quality score in 1e-4 integer units (shared by
    * x02/x57/x64/x65/x70/x97): 0.4·stopword ratio + 0.3·length
    * saturation + 0.3·alpha ratio, evaluated as ONE exact rational on
    * the common denominator nw·len and rounded half-up by pure integer
    * arithmetic ([[graft.functions.ExactMath.divHalfUp]]) —
    * quality_q = ⌈(4000·hits·len + 30·min(nw,100)·nw·len +
    * 3000·alpha·nw) / (nw·len)⌋. No IEEE op anywhere, so the value is
    * identical on every engine/build at every SF — this retires the
    * documented sf0.1 ".xxxx5" mismatch class (r12 BENCH_NOTES: x02/
    * x57/x64 one 4th-decimal flip each). Requires nonempty text. */
  private def qualityQ: Column = {
    val nw = TF.tokenCount(col("text")).cast("long")
    val hits = TF.stopwordHits(TF.words(col("text")),
      Seq("the", "and", "of", "to", "in", "is", "a")).cast("long")
    val ac = regexp_count(col("text"), lit("[A-Za-z]")).cast("long")
    val lenC = length(col("text")).cast("long")
    graft.functions.ExactMath.divHalfUp(
      lit(4000L) * hits * lenC +
        lit(30L) * least(nw, lit(100L)) * nw * lenC +
        lit(3000L) * ac * nw,
      nw * lenC)
  }

  /** Quality scoring: length/stopword/alpha ratios + composite score,
    * ALL in 1e-4 integer units via exact-rational divHalfUp (no
    * round(double) anywhere — the r13 grid discipline; the r12 form
    * had documented cross-engine 4th-decimal flips at sf0.1). */
  private val x02_quality: QFn = (s, d) => {
    val EM = graft.functions.ExactMath
    val nw = TF.tokenCount(col("text")).cast("long")
    val norm = TF.normText(col("text"))
    val hits = TF.stopwordHits(TF.words(col("text")),
      Seq("the", "and", "of", "to", "in", "is", "a")).cast("long")
    val ac = regexp_count(col("text"), lit("[A-Za-z]")).cast("long")
    docsR(s, d).select(
      col("doc_id"),
      nw.as("n_words"),
      EM.divHalfUp((length(norm).cast("long") - (nw - lit(1L))) *
        lit(10000L), nw).as("avg_wlen_q"),
      EM.divHalfUp(hits * lit(10000L), nw).as("stop_ratio_q"),
      EM.divHalfUp(ac * lit(10000L), length(col("text")).cast("long"))
        .as("alpha_ratio_q"),
      qualityQ.as("quality_q"))
  }

  /** Language-ID: stopword-profile argmax (deterministic tie order). */
  private val x03_langid: QFn = (s, d) =>
    docsR(s, d).select(col("doc_id"), col("lang"),
      TF.langId(col("text")).as("pred_lang"))

  /** Exact dedup: hash-groupBy on normalized text; canonical = min id.
    * The one shuffle is on the content hash — uniform keys, no skew.
    * (Library form: [[graft.ops.TextDedup.exact]].) */
  private val x04_dedup_exact: QFn = (s, d) =>
    graft.ops.TextDedup.exact(docs(s, d))

  /** Document fingerprinting: full md5 + 60-bit prefix fingerprint. */
  private val x05_fingerprint: QFn = (s, d) =>
    docs(s, d).select(
      col("doc_id"),
      md5(TF.normText(col("text"))).as("fp"),
      TF.hash60(TF.normText(col("text")), "").as("fp60"))

  // ------------------------------------------------------------------ dedup

  private val NumHashes = 8
  private val ShingleK = 3

  /** One fused pass computes all signatures (native minhash_sigs
    * expression; values identical to the declarative [[TF.minhash]] —
    * see ExtensionsSpec); mh0..mh7 are projections of the array. */
  private def minhashCols: Seq[Column] = {
    val sigs = TF.minhashSigsFast(TF.words(col("text")), ShingleK, NumHashes)
    (0 until NumHashes).map(i => element_at(sigs, i + 1).as(s"mh$i"))
  }

  /** MinHash signatures (8 hashes over 3-word shingles) — map-side only;
    * signature is 64 bytes/doc regardless of document size. */
  private val x06_minhash_sig: QFn = (s, d) =>
    docsR(s, d).select(col("doc_id") +: minhashCols: _*)

  /** MinHash + LSH near-dup pairs: 4 bands × 2 rows; candidates share a
    * band key; verified with true shingle-set Jaccard ≥ 0.8.
    *
    * 100 TB shape: explode to (band, key) — 4 rows/doc — then an *equi*
    * self-join on the band key. No quadratic blow-up: work is
    * sum(bucket²) over near-uniform md5 buckets. Skewed mega-buckets
    * (boilerplate docs) are handled by AQE skew-join splitting.
    */
  private val x07_minhash_lsh_pairs: QFn = (s, d) =>
    graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
      shingleK = ShingleK, numHashes = NumHashes, bands = 4, threshold = 0.8)

  /** Text near-dup keep/drop DECISION at corpus scale — the MinHash-LSH
    * twin of x22's embedding decision (VERDICT r1: decisions, not pair
    * lists, are what a pipeline acts on): banded candidates → Jaccard
    * verify (x07's plan, ReusedExchange + equi-join only) → one groupBy
    * on the dropped id. */
  private val x33_text_dedup_decision: QFn = (s, d) =>
    graft.ops.TextDedup.dedupDecision(
      graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
        shingleK = ShingleK, numHashes = NumHashes, bands = 4, threshold = 0.8))

  /** SimHash-family keep/drop decision — completes the decision surface
    * (x22 embedding, x33 MinHash): pigeonhole-banded candidates (x23's
    * plan) → hamming verify → groupBy drop decision. */
  private val x34_simhash_dedup_decision: QFn = (s, d) =>
    graft.ops.TextDedup.dedupDecision(
      graft.ops.TextDedup.simhashBandedPairs(docsR(s, d), maxHamming = 6))

  /** Chunk-level dedup — dedup at TRAINING-SEQUENCE granularity, not
    * document granularity: identical 64-token windows (boilerplate
    * headers, licenses, navigation) collapse across documents even when
    * their parent documents differ. One groupBy on the chunk
    * fingerprint; keep = lexicographically first (doc, chunk) site. */
  private val x35_chunk_dedup: QFn = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), TF.words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        posexplode(sequence(lit(1), size(col("ws")), lit(48)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        md5(concat_ws(" ",
          slice(col("ws"), col("start"), lit(64)))).as("chunk_fp"))
      .groupBy(col("chunk_fp"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keep"),
        count(lit(1)).as("n_sites"))
      .select(col("chunk_fp"), col("keep.doc_id").as("keep_doc"),
        col("keep.chunk_idx").as("keep_chunk"), col("n_sites"))

  /** Duplicate CLUSTERS — connected components over the verified
    * MinHash-LSH near-dup pairs (x07's edges): the per-pair decisions
    * (x33) leave dangling canonicals on transitive chains (a~b, b~c
    * points c at b, itself dropped); component resolution maps every
    * member to ONE true canonical (the component-min doc_id). See
    * [[graft.ops.GraphOps.connectedComponents]] for the 100 TB shape:
    * the pair plan runs once into a barrier, each partition is
    * contracted by a local union-find, and when that barrier is one
    * partition (the fixture's pair graph is) the one task's forest is
    * the exact answer, with no round run; larger graphs continue with
    * large-star / small-star rounds, O(log² n) on any graph shape.
    * Output: every clustered doc with its canonical id and the cluster
    * size. x46 is the same query under its own registry name. */
  private val x36_dup_clusters: QFn = (s, d) => {
    val pairs = graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
      shingleK = ShingleK, numHashes = NumHashes, bands = 4, threshold = 0.8)
    val labels = graft.ops.GraphOps.connectedComponents(pairs)
    val wCl = Window.partitionBy("cluster_id")
    labels.select(col("node").as("doc_id"), col("cluster_id"))
      .withColumn("n_members", count(lit(1)).over(wCl))
  }

  /** Benchmark decontamination — flag training documents that share
    * verbatim 8-word shingles with an eval/benchmark set (here: the
    * deterministic doc_id%5 slice stands in for the benchmark suite).
    * The canonical pre-training hygiene pass (per GPT-3/PaLM reports:
    * n-gram overlap against eval sets).
    *
    * 100 TB shape: shingle hashes are map-side (fused shingle_set, 8
    * bytes per distinct shingle); the benchmark side is tiny and
    * broadcast — the join costs one scan of the corpus, no shuffle of
    * the corpus itself. (A bloom filter over benchmark shingles is the
    * same plan with a smaller broadcast.) */
  private val x37_decontaminate: QFn = (s, d) => {
    val dd = docsR(s, d)
    graft.ops.CorpusOps.decontaminate(
      train = dd.filter(col("doc_id") % 5 =!= 0),
      benchmark = dd.filter(col("doc_id") % 5 === 0),
      shingleK = 8)
  }

  /** x37 through the Bloom-sketch path ([[graft.ops.CorpusOps
    * .decontaminateBloom]]): benchmark shingles collapse to ONE
    * fixed-size `bloom_filter_agg` sketch riding a scalar subquery;
    * `might_contain` kills ~all clean corpus shingles map-side; the
    * exact confirm join then sees only true hits + the fpp tail. The
    * sketch only prunes (no false negatives; false positives are
    * confirmed away), so the output — and the oracle — are exactly
    * x37's: a hash-green row here *proves* the lossless-prefilter
    * contract, not just plausibility. This is the decontamination form
    * that survives a benchmark suite too big to broadcast exactly. */
  private val x53_bloom_decontaminate: QFn = (s, d) => {
    val dd = docsR(s, d)
    graft.ops.CorpusOps.decontaminateBloom(
      train = dd.filter(col("doc_id") % 5 =!= 0),
      benchmark = dd.filter(col("doc_id") % 5 === 0),
      shingleK = 8)
  }

  /** Conjunctive keyword search over a PERSISTED inverted index: the
    * corpus's distinct (word, doc_id) postings live in a bucketed table
    * keyed by word (built once per dataset, x50-style layout cache); a
    * query is an IN-list over the term column — pushed into the parquet
    * scan, so only the probed terms' postings are read — and docs
    * matching ALL terms survive the count filter (the distributed form
    * of posting-list intersection). Output: (doc_id, n_hit).
    *
    * 100 TB shape: the posting build is one map-side explode+distinct
    * and a bucketed write; a query scans a term-pruned slice of the
    * index and shuffles ONLY the matching postings on doc_id (AQE
    * collapses that to a handful of partitions). The corpus itself is
    * never touched at query time — the IR backbone for corpus
    * search/inspection tooling. */
  private val x55_inverted_search: QFn = (s, d) => {
    val terms = Seq("spark", "join", "window")
    val idxDir = layoutDir(s, d, "documents", "invidx|v2") { cat =>
      graft.ops.CorpusOps.writePostings(cat, "postings", docsR(s, d))
    }
    graft.ops.CorpusOps.searchPostings(Catalog(s, idxDir), "postings", terms)
  }

  /** Inverted search THROUGH AN APPEND ([[graft.ops.CorpusOps
    * .appendToPostings]]) — the index is built from docs with
    * doc_id % 3 ≠ 0, then the remaining third arrives as a later
    * ingest batch folded in by the frozen-contract append (new
    * per-bucket files, layout preserved, nothing rewritten). The probe
    * is x55's conjunctive search; the oracle intersects posting lists
    * over the WHOLE corpus — so a hash-green row proves
    * search-after-append ≡ rebuild, the invariant that makes the
    * postings layout an incrementally-maintainable index rather than a
    * build-once artifact. 100 TB shape: the append shuffles ONLY the
    * batch's postings into the existing bucket layout; the probe scans
    * a term-pruned slice exactly as x55. */
  private val x132_postings_append: QFn = (s, d) => {
    val terms = Seq("spark", "join", "window")
    val dd = docsR(s, d)
    val idxDir = layoutDir(s, d, "documents", "invidx-append|v2") { cat =>
      graft.ops.CorpusOps.writePostings(cat, "postings",
        dd.filter(col("doc_id") % 3 =!= 0))
      graft.ops.CorpusOps.appendToPostings(cat, "postings",
        dd.filter(col("doc_id") % 3 === 0))
    }
    graft.ops.CorpusOps.searchPostings(Catalog(s, idxDir), "postings", terms)
  }

  /** EXACT substring dedup ([[graft.ops.CorpusOps.exactSpanExcise]]) —
    * the Lee et al. ACL'22 ExactSubstr half that x58/x60 approximate
    * with stride-8 fingerprints: stride-1 length-32 windows grouped by
    * TRUE CONTENT (the 8-byte fingerprint is only a candidate sieve —
    * collisions are verified away), every repeated occurrence excised,
    * first occurrence kept, text reassembled. The oracle replays the
    * exact content grouping wholesale, so the rebuilt text — not a
    * hash proxy of it — is checked end to end. Strictly more is cut
    * than x60 (stride 1 covers the positions stride 8 skips); docs
    * shorter than the window pass through untouched (exact semantics —
    * no truncated tail span). */
  private val x133_exact_substrings: QFn = (s, d) =>
    graft.ops.CorpusOps.exactSpanExcise(docsR(s, d), minLen = 32)

  /** Prefix-filtered ALL-PAIRS similarity join ([[graft.ops.CorpusOps
    * .allPairsCosine]], Bayardo, Ma & Srikant, WWW 2007): every doc
    * pair with shingle-tf cosine ≥ τ, WITHOUT the quadratic
    * all-co-occurring-pairs scan — each doc indexes only the rare-first
    * feature prefix whose suffix norm² still clears τ²·‖d‖² (a
    * Cauchy–Schwarz-proven lossless sieve), candidates join on those
    * indexed features only, and an exact integer test
    * (dot²·10⁸ ≥ τ²₁ₑ₈·‖a‖²·‖b‖², DECIMAL(38,0)) verifies. The oracle
    * is the BRUTE-FORCE join with the same integer test — a hash-green
    * row set IS the losslessness proof of the pruning (the x53 Bloom
    * pattern, applied to similarity search). OpsSpec measures the
    * candidate-set shrinkage vs the co-occurring pair space and pins
    * candidates ⊇ result. τ = 0.6 (X134Tau — one constant, both
    * engines); shingleK = 4 because the synthetic fixture's 31-word
    * vocabulary SATURATES the 3-gram space at sf0.1 (avg feature df
    * ≈ 10 — no feature is rare, so no prefix prunes; measured 569,750
    * candidates at k=3 vs 268 at k=4 for the same 256 result pairs,
    * 10.1 s → 1.5 s). Real web text never saturates 3-gram space;
    * picking the shingle width so features stay sparse IS the
    * documented tuning rule of the prefix-filter family. */
  private val x134_allpairs_sim: QFn = (s, d) =>
    graft.ops.CorpusOps.allPairsCosine(docsR(s, d),
      new java.math.BigDecimal(X134Tau), shingleK = 4)
  private val X134Tau = "0.6"
  private lazy val X134Tau2E8: Long =
    new java.math.BigDecimal(X134Tau).pow(2).movePointRight(8)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  // one constant set drives the Spark fold AND the oracle's CTE chain
  // (the X98Steps discipline) — step count cannot drift between engines
  private val X135Steps = 4

  /** Linear-gate DISTILLATION ([[graft.ops.ClassifierOps
    * .logregFeatures/logregTrain/logregScore]]): the x90 Gopher rule
    * gate — a hand-written, many-signal decision — distilled into a
    * 4-weight linear model trained by 4 full-batch gradient-descent
    * rounds with a HARD sigmoid (clamp(0,1,½+z/4) — Courbariaux et al.
    * NeurIPS 2015's piecewise-linear form; exp is non-portable IEEE,
    * the hard form keeps training itself on the exact BIGINT micro
    * grid). Train on the 4/5 split's rule labels, score the held-out
    * 1/5: (doc_id, y, z_q, p_q, pred) — z through the trained weights
    * pins every gradient step, so a hash-green table verifies the
    * ENTIRE training trajectory (the x98 discipline applied to model
    * fitting; NB = x72 is the generative family, this is the
    * discriminative one). Features are pure integer rationals
    * (distinct ratio, top-word dominance, mean word length) — no IEEE
    * op anywhere in the whole query.
    *
    * 100 TB shape: each GD step is one map-side aggregate over the
    * persisted narrow feature frame (4 DECIMAL sums to the driver —
    * the pcaPower contract); scoring is a stateless map under literal
    * weights. */
  private val x135_logreg_distill: QFn = (s, d) => {
    val all = docsR(s, d)
    val y = graft.ops.CorpusOps.gopherRules(all)
      .select(col("doc_id"), col("keep").as("y"))
    val feats = graft.ops.ClassifierOps.logregFeatures(all)
      .join(y, Seq("doc_id"))
      .transform(graft.engine.Barrier.sharedGrain)
    val w = graft.ops.ClassifierOps.logregTrain(
      feats.filter(col("doc_id") % 5 =!= 0), steps = X135Steps)
    graft.ops.ClassifierOps.logregScore(
      feats.filter(col("doc_id") % 5 === 0), w)
  }

  /** BM25 retrieval served ENTIRELY from the persisted scored-postings
    * index ([[graft.ops.CorpusOps.writeScoredPostings/
    * searchScoredPostings]]) — the serving-tier upgrade of x55/x132's
    * boolean index and the index-backed twin of x42/x94's corpus-scan
    * BM25: posting rows carry (tf, dl), df is each probed term's
    * posting-list length, and the corpus scalars are SUMS of additive
    * stats rows — so the whole ranked answer derives from the index
    * alone, corpus untouched. Lifecycle-checked like x132: build on
    * 2/3 of the corpus, [[graft.ops.CorpusOps.appendToScoredPostings]]
    * the remaining third (new bucket files + ONE delta stats row —
    * nothing rewritten), then search; the oracle replays BM25 over
    * the WHOLE corpus, so hash-green = append ≡ rebuild INCLUDING the
    * global statistics (df/avgdl/n_docs), the part a naive index
    * append silently corrupts. */
  private val x138_indexed_bm25: QFn = (s, d) =>
    graft.ops.CorpusOps.searchScoredPostings(
      Catalog(s, scoredIdxDir(s, d)), "spost",
      Seq("spark", "join", "window"))

  /** The shared scored-postings layout (build on 2/3 + append 1/3 —
    * the lifecycle x138 verifies; x139 reads the same artifact). */
  private def scoredIdxDir(s: SparkSession, d: String): String =
    layoutDir(s, d, "documents", "scoredidx|v2") { cat =>
      val dd = docsR(s, d)
      graft.ops.CorpusOps.writeScoredPostings(cat, "spost",
        dd.filter(col("doc_id") % 3 =!= 0))
      graft.ops.CorpusOps.appendToScoredPostings(cat, "spost",
        dd.filter(col("doc_id") % 3 === 0))
    }

  /** The persisted PQ serving index over the embeddings (train-once
    * codebooks + codes — [[graft.ops.VectorOps.writePqIndex]]). */
  private def pqServeIdxDir(s: SparkSession, d: String): String =
    layoutDir(s, d, "embeddings", "pqserve|v2") { cat =>
      graft.ops.VectorOps.writePqIndex(cat, "pqidx", embs(s, d))
    }

  /** Hybrid RRF retrieval served ENTIRELY from persisted indexes — the
    * serving-tier capstone: x94 computes both ranking modalities from
    * the raw corpus every time; here the LEXICAL ranks come from the
    * scored postings index (x138's artifact, df/dl/avgdl all
    * index-derived, corpus untouched — [[graft.ops.CorpusOps
    * .searchScoredPostingsPerQuery]]) and the SEMANTIC ranks from the
    * persisted PQ index (x115/x116's codes + frozen codebooks,
    * stored vectors never touched at query time — [[graft.ops
    * .VectorOps.searchPqIndex]]), fused with x94's exact-rational
    * RRF (k=60, per-modality top-20, fused top-10). The oracle
    * replays BOTH sides from first principles over the raw tables —
    * BM25 from the whole corpus AND the full unrolled PQ
    * train/encode/ADC chain — so a hash-green table proves the two
    * stored artifacts serve exactly what fresh computation would
    * (the x132/x138 rebuild-equivalence argument, composed across
    * index families in one answer). */
  private val x139_indexed_hybrid: QFn = (s, d) => {
    val qterms = docs(s, d).filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"),
        explode(TF.words(col("text"))).as("word"))
      .distinct()
    val tr = graft.ops.CorpusOps.searchScoredPostingsPerQuery(
        Catalog(s, scoredIdxDir(s, d)), "spost", qterms, k = 20)
      .select(col("q_id"), col("doc_id"), col("r_text"))
    val vr = graft.ops.VectorOps.searchPqIndex(
        Catalog(s, pqServeIdxDir(s, d)), "pqidx",
        embs(s, d).filter(col("vec_id") < 3), k = 20)
      .select(col("q_id"), col("n_id").as("doc_id"),
        col("rnk").as("r_vec"))
    val wf = Window.partitionBy("q_id")
      .orderBy(col("rrf_q").desc, col("doc_id").asc)
    val EMx = graft.functions.ExactMath
    tr.join(vr, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_q",
        when(col("r_text").isNotNull && col("r_vec").isNotNull,
          EMx.divHalfUp(
            lit(1000000L) * (lit(120L) + col("r_text") + col("r_vec")),
            (lit(60L) + col("r_text")) * (lit(60L) + col("r_vec"))))
          .when(col("r_text").isNotNull,
            EMx.divHalfUp(lit(1000000L), lit(60L) + col("r_text")))
          .otherwise(
            EMx.divHalfUp(lit(1000000L), lit(60L) + col("r_vec"))))
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("doc_id"), col("r_text"), col("r_vec"),
        col("rrf_q"))
  }

  /** Exact PHRASE search from a persisted POSITIONAL postings index
    * ([[graft.ops.CorpusOps.writePositionalPostings/searchPhrase]]) —
    * the third index tier (x55 boolean, x138 ranked, this positional
    * — Lucene's postings/positions split): each phrase term's
    * bucket-pruned posting list is anchored at pos − i and the k-way
    * (doc_id, anchor) equi join IS the positional intersection. The
    * oracle counts consecutive-word occurrences by scanning the RAW
    * text windows — hash-green proves index-served phrase search ≡
    * a full-corpus scan, the x138 rebuild-equivalence argument at the
    * positions tier. Phrase: "table hash" (present at every SF). */
  private val x142_phrase_search: QFn = (s, d) => {
    val idxDir = layoutDir(s, d, "documents", "posidx|v2") { cat =>
      graft.ops.CorpusOps.writePositionalPostings(cat, "ppost", docsR(s, d))
    }
    graft.ops.CorpusOps.searchPhrase(Catalog(s, idxDir), "ppost",
      Seq("table", "hash"))
  }

  /** "Within k" PROXIMITY search from the SAME persisted positional
    * index as x142 ([[graft.ops.CorpusOps.searchProximity]]) — the
    * second half of the Lucene positional contract: docs where all of
    * {dup, vector, merge} co-occur inside any 8-token window, with the
    * tightest span per doc (min_span ASC = proximity-ranked retrieval
    * on an exact integer). Posting lists join RAREST-FIRST ('dup' is
    * ~35× rarer than the other two at every SF), each join banded to
    * ±7 positions of the rarest term's occurrences — the corpus is
    * never scanned. The oracle recomputes min spans from RAW text
    * positions (the index never enters it), so hash-green proves
    * index-served proximity ≡ a full-corpus window scan. */
  private val x143_proximity_search: QFn = (s, d) => {
    val idxDir = layoutDir(s, d, "documents", "posidx|v2") { cat =>
      graft.ops.CorpusOps.writePositionalPostings(cat, "ppost", docsR(s, d))
    }
    graft.ops.CorpusOps.searchProximity(Catalog(s, idxDir), "ppost",
      Seq("dup", "vector", "merge"), window = 8)
  }

  /** ORDERED sloppy-phrase search from the SAME persisted positional
    * index as x142/x143 ([[graft.ops.CorpusOps.searchPhraseSlop]]) —
    * Lucene's slop semantics between x142's exact adjacency and
    * x143's order-free window: "table … hash" IN ORDER with at most 2
    * intervening tokens (slop 0 ≡ x142's phrase, OpsSpec-pinned;
    * at every SF slop 2 surfaces ~3× the exact-adjacency anchors).
    * Output counts DISTINCT start positions, so loose slops can't
    * combinatorially inflate. The oracle recounts anchors from raw
    * text positions — index never enters it. */
  private val x145_slop_phrase: QFn = (s, d) => {
    val idxDir = layoutDir(s, d, "documents", "posidx|v2") { cat =>
      graft.ops.CorpusOps.writePositionalPostings(cat, "ppost", docsR(s, d))
    }
    graft.ops.CorpusOps.searchPhraseSlop(Catalog(s, idxDir), "ppost",
      Seq("table", "hash"), slop = 2)
  }

  /** PHRASE-SCORED ranked retrieval ([[graft.ops.CorpusOps
    * .searchPhraseRanked]]) — the last piece of the Lucene positional
    * contract (x142 exact, x145 slop, x143 proximity, THIS scoring):
    * docs holding {dup, vector, merge} inside an 8-token window
    * (positional-index gate), ranked by index-served BM25 over the
    * same terms PLUS the 1/min_span tightness bonus on the exact
    * integer grid — both modalities from persisted artifacts, corpus
    * untouched at query time. The oracle replays BM25 from first
    * principles AND recomputes min spans from raw text positions, so
    * hash-green proves the two stored indexes together serve exactly
    * what fresh computation would. */
  private val x146_phrase_ranked: QFn = (s, d) => {
    val posDir = layoutDir(s, d, "documents", "posidx|v2") { cat =>
      graft.ops.CorpusOps.writePositionalPostings(cat, "ppost", docsR(s, d))
    }
    graft.ops.CorpusOps.searchPhraseRanked(
      Catalog(s, scoredIdxDir(s, d)), "spost",
      Catalog(s, posDir), "ppost",
      Seq("dup", "vector", "merge"), window = 8)
  }

  /** BM25 served from a scored postings index AFTER a TOMBSTONED
    * DELETE — the index-tier delete lifecycle (r14 verdict gap: every
    * index had build + additive append but no delete, so a
    * dedup-dropped doc stayed in every index until a full rebuild).
    * The layout builds x138's index over the WHOLE corpus, then
    * applies the exact-dedup decision (x04's keep-min-id flow — the
    * x82 dedup-application at the index tier) via
    * [[graft.ops.CorpusOps.deleteFromScoredPostings]]: dropped ids
    * land in the tombstone sidecar (probe-time anti-join — the
    * posting files are never rewritten) and ONE negative stats delta
    * compensates n_docs/sum_dl, while df falls out of the surviving
    * posting lists. The oracle replays BM25 from first principles
    * over the corpus WITH the dropped docs excluded — hash-green
    * proves delete ≡ rebuild on the deduped corpus, including the
    * global statistics (the part a results-only filter silently
    * corrupts). [[graft.ops.CorpusOps.compactScoredPostings]] later
    * makes the delete physical (OpsSpec pins compact ≡ rebuild). */
  private val x144_bm25_after_delete: QFn = (s, d) => {
    val idxDir = layoutDir(s, d, "documents", "scoredidx-del|v2") { cat =>
      val dd = docsR(s, d)
      graft.ops.CorpusOps.writeScoredPostings(cat, "spost", dd)
      val drops = dd
        .select(col("doc_id"), md5(TF.normText(col("text"))).as("h"))
        .withColumn("mk",
          min(col("doc_id")).over(Window.partitionBy(col("h"))))
        .filter(col("doc_id") =!= col("mk"))
        .select(col("doc_id"))
      graft.ops.CorpusOps.deleteFromScoredPostings(cat, "spost", drops)
    }
    graft.ops.CorpusOps.searchScoredPostings(Catalog(s, idxDir), "spost",
      Seq("spark", "join", "window"))
  }

  /** BM25 after DELETE → RE-APPEND with NO compaction — the oracle
    * face of the r16 generation-tombstone contract ([[graft.catalog
    * .Catalog.tombstoneName]]'s generation mode): the layout builds
    * x138's index over the whole corpus, tombstones doc_id % 7 == 0
    * ([[graft.ops.CorpusOps.deleteFromScoredPostings]] — graves
    * stamped with the current write generation), then RE-ADMITS the
    * same docs by a plain additive append (a higher generation that
    * rides above the graves). Under r15's key-tombstone contract this
    * sequence required compacting the whole index first — at 100 TB, a
    * full-index rewrite to undo one takedown; now it is one append.
    * The oracle replays BM25 over the FULL corpus from first
    * principles (delete + full re-add restores exactly the original
    * corpus — including n_docs/sum_dl via the negative-then-positive
    * stats deltas), so hash-green proves the old generations stay
    * suppressed, the new generation serves, and the global statistics
    * are exact through the whole cycle. */
  private val x148_bm25_delete_readd: QFn = (s, d) => {
    val idxDir = layoutDir(s, d, "documents", "scoredidx-readd|v1") { cat =>
      val dd = docsR(s, d)
      graft.ops.CorpusOps.writeScoredPostings(cat, "spost", dd)
      val victims = dd.filter(col("doc_id") % 7 === 0)
      graft.ops.CorpusOps.deleteFromScoredPostings(cat, "spost",
        victims.select(col("doc_id")))
      graft.ops.CorpusOps.appendToScoredPostings(cat, "spost", victims)
    }
    graft.ops.CorpusOps.searchScoredPostings(Catalog(s, idxDir), "spost",
      Seq("spark", "join", "window"))
  }

  /** ANN served from a persisted IVF cell index AFTER a TOMBSTONED
    * DELETE — closes the r15 verdict's last index-delete gap (every
    * other tier — plain/scored/positional postings, PQ codes,
    * signatures — already had the lifecycle; the IVF cell index did
    * not, so a dedup-dropped vector kept surfacing as a neighbor until
    * a full rebuild). The layout builds the bucketed cell index over
    * ALL vectors ([[graft.ops.VectorOps.writeIndex]] — x18's stand-in
    * centroid assignment), then [[graft.ops.VectorOps.deleteFromIndex]]
    * tombstones vec_id % 7 == 0: dropped ids land in the sidecar and
    * the probe ([[graft.ops.VectorOps.searchIndex]]) anti-joins them —
    * off BOTH sides of the in-cell self-join, so deleted vectors
    * neither query nor serve. The oracle replays the assignment from
    * first principles and searches ONLY the surviving vectors —
    * hash-green proves delete ≡ rebuild-on-survivors under the frozen
    * quantizer (the FAISS remove_ids contract; assignment is
    * per-vector, so survivors' cells are unchanged).
    * [[graft.ops.VectorOps.compactIndex]] later makes the delete
    * physical (OpsSpec pins compact ≡ rebuild). 100 TB shape: the
    * sidecar is deletes-sized and broadcast; the bucketed scan's
    * partitioning on `cell` survives the anti-join, so the probe's
    * self-join stays zero-shuffle (PlanAuditSpec pins it). */
  private val x147_ann_after_delete: QFn = (s, d) => {
    val idxDir = layoutDir(s, d, "embeddings", "ivfidx-del|v2") { cat =>
      graft.ops.VectorOps.writeIndex(cat, "vidx",
        ivfCells(embs(s, d), nprobe = 1), buckets = 16)
      graft.ops.VectorOps.deleteFromIndex(cat, "vidx",
        embs(s, d).filter(col("vec_id") % 7 === 0).select(col("vec_id")))
    }
    graft.ops.VectorOps.searchIndex(Catalog(s, idxDir), "vidx", k = 3,
      queryPred = col("q_id") < 10)
  }

  /** Two-stage ANN: PQ candidates + EXACT re-rank (the FAISS
    * IndexRefineFlat serving pattern, Jégou et al. TPAMI 2011 §VI):
    * the persisted PQ index proposes top-50 candidates per query at
    * code cost (stored vectors untouched — x116's ADC), then ONLY
    * those ≤50 rows join the true embeddings for an exact-cosine
    * re-rank to top-10 — approximate recall, exact precision, the
    * standard answer to x121's honest resolution audit (4×8 codes on
    * 64-dim data rank coarsely; the refine stage fixes ordering
    * without paying a corpus scan). Output: (q_id, n_id, cos, rnk).
    *
    * 100 TB shape: stage 1 is the index probe (LUT broadcast, exact
    * integer sums); stage 2 touches candidates×1 vectors — a
    * queries·50-row equi join against the vector store, never the
    * corpus. */
  private val x141_pq_rerank: QFn = (s, d) => {
    val e = embs(s, d)
    val cand = graft.ops.VectorOps.searchPqIndex(
        Catalog(s, pqServeIdxDir(s, d)), "pqidx",
        e.filter(col("vec_id") < 3), k = 50)
      .select(col("q_id"), col("n_id"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("n_id").asc)
    cand
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_e")),
        Seq("q_id"))
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_e")),
        Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.ExactMath.microQ(
          VF.cosineFast(col("q_e"), col("n_e"))).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
  }

  /** Contrastive-pair mining — the training-data construction for
    * retrieval/embedding models (the SimCSE/DPR data shape: anchor,
    * positives, HARD negatives): for each anchor doc (every 17th id —
    * a deterministic sample spine), positives are its verified
    * near-dups (x07's banded-LSH pair set, ranked jaccard desc) and
    * hard negatives are the top-3 embedding-cosine neighbors among
    * docs with a DIFFERENT language label that are NOT positives —
    * the "close in vector space, provably not a match" examples that
    * make contrastive training work (Karpukhin et al. EMNLP 2020 §3.2
    * mine hard negatives exactly this way, from BM25/ANN neighbors).
    * Output: (anchor_id, cand_id, kind ∈ pos|neg, rnk).
    *
    * 100 TB shape: positives ride the banded LSH (never all-pairs);
    * the negative side is anchors × corpus exact cosine here (the
    * x12 allowlisted exact tier — anchors are the bounded sample), and
    * swaps to the IVF/PQ probe (x18/x116) when anchors stop being
    * broadcastable; the label filter prunes before any cosine is
    * computed. */
  private val x140_contrastive_pairs: QFn = (s, d) => {
    val dd = docs(s, d)
    val e = embs(s, d)
    val anchors = dd.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("anchor_id"))
    // docsR: the LSH signature pass is per-row compute-heavy — on the
    // fixture's single-row-group scan it would serialize on one task.
    // Both pair orientations come from ONE explode over the pair frame
    // (r18; the former self-union evaluated the whole LSH chain twice).
    val pr = graft.ops.TextDedup.minhashLshPairs(docsR(s, d))
    val posU = pr.select(explode(array(
        struct(col("a_id").as("anchor_id"), col("b_id").as("cand_id")),
        struct(col("b_id").as("anchor_id"), col("a_id").as("cand_id"))))
        .as("p"), col("jac"))
      .select(col("p.anchor_id").as("anchor_id"),
        col("p.cand_id").as("cand_id"), col("jac"))
      .join(broadcast(anchors), Seq("anchor_id"))
    val wp = Window.partitionBy("anchor_id")
      .orderBy(col("jac").desc, col("cand_id").asc)
    val pos = posU
      .withColumn("rnk", row_number().over(wp).cast("long"))
      .select(col("anchor_id"), col("cand_id"), lit("pos").as("kind"),
        col("rnk"))
    val lang = dd.select(col("doc_id"), col("lang"))
    val qv = e.join(broadcast(anchors.withColumnRenamed("anchor_id",
        "vec_id")), Seq("vec_id"))
      .select(col("vec_id").as("anchor_id"), col("embedding").as("q_e"))
      .join(lang.select(col("doc_id").as("anchor_id"),
        col("lang").as("a_lang")), Seq("anchor_id"))
    val cands = e.select(col("vec_id").as("cand_id"),
        col("embedding").as("n_e"))
      .join(lang.select(col("doc_id").as("cand_id"),
        col("lang").as("c_lang")), Seq("cand_id"))
    val wn = Window.partitionBy("anchor_id")
      .orderBy(col("cos").desc, col("cand_id").asc)
    val neg = broadcast(qv).crossJoin(cands)
      .filter(col("a_lang") =!= col("c_lang"))
      .select(col("anchor_id"), col("cand_id"),
        graft.functions.ExactMath.microQ(
          VF.cosineFast(col("q_e"), col("n_e"))).as("cos"))
      .join(pos.select(col("anchor_id"), col("cand_id")),
        Seq("anchor_id", "cand_id"), "left_anti")
      .withColumn("rnk", row_number().over(wn).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("anchor_id"), col("cand_id"), lit("neg").as("kind"),
        col("rnk"))
    pos.unionByName(neg)
  }

  /** Count-Min frequency estimates ([[graft.ops.SketchOps
    * .cmSketch]]/[[graft.ops.SketchOps.cmEstimate]], Cormode &
    * Muthukrishnan, J. Algorithms 2005) — the bounded-state POINT-QUERY
    * tier next to x113's Misra–Gries heavy hitters: a depth×width grid
    * of bucket sums answers "how often did this token occur" for ANY
    * token in O(d·w) state, never undercounting, overcounting by at
    * most the colliding mass. With fixed seeds the sketch is a pure
    * function of the token multiset, so the estimates are
    * HASH-CHECKED (the oracle replays the full hash grid), not merely
    * bound-checked; the audit joins the exact counts so every word's
    * overcount is a verified number. The bucket aggregate is algebraic
    * ⇒ the same op keeps the sketch current over a stream in Complete
    * mode (the x77 property). Output: (word, cnt, est, overcount). */
  private val x137_cm_counts: QFn = (s, d) => {
    val words = docsR(s, d)
      .select(explode(TF.words(col("text"))).as("word"))
      .transform(graft.engine.Barrier.sharedGrain)
    // deliberately LAZY (r18 A/B): an eager barrier on the exact
    // counts measured 0.89x — the sketch and count branches'
    // duplicated explodes overlap on idle cores and beat the
    // serialized materialization here
    val exact = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val est = graft.ops.SketchOps.cmEstimate(
      graft.ops.SketchOps.cmSketch(words, "word"), exact, "word")
    exact.join(est, Seq("word"))
      .select(col("word"), col("cnt"), col("est"),
        (col("est") - col("cnt")).as("overcount"))
  }

  /** Whole-document sequence packing ([[graft.ops.CorpusOps
    * .packDocs]]) — x38's concat-and-chunk SPLITS documents at
    * sequence boundaries; this is the other loader contract, where
    * documents stay intact: next-fit-decreasing bins of capacity 128
    * within content-hash shards (Johnson 1973's NFD; Krell et al.
    * arXiv 2107.02027 for the LLM-pretraining framing). The oracle
    * replays the SEQUENTIAL greedy fold as a recursive CTE advancing
    * all shards in rank lockstep — a hash-green table proves the
    * distributed sort + codegen'd fold equals the literal one-by-one
    * packing a single-node loader would compute. */
  private val x136_pack_docs: QFn = (s, d) =>
    graft.ops.CorpusOps.packDocs(docsR(s, d), seqLen = 128, nShards = 8)

  /** Deterministic per-group k-sample (eval-slice construction: a fixed
    * number of docs per language, reproducible across runs and
    * engines): rank by salted hash within each language, keep rank ≤ k.
    * The rank-limit filter plans as WindowGroupLimit — every task
    * locally top-ks its partition BEFORE the shuffle, so at most
    * k rows per (task, group) ever move; never a corpus-wide window.
    * A changed salt draws a fresh, disjoint-looking sample. */
  private val x56_group_sample: QFn = (s, d) => {
    val k = 100
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs(s, d)
      .select(col("doc_id"), col("lang"),
        TF.hash60(col("doc_id").cast("string"), "val|").as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("lang"), col("rn"))
  }

  /** CCNet-style per-language quality stratification (Wenzek et al.,
    * LREC 2020 split each language into head/middle/tail by LM
    * perplexity terciles): ntile(3) over the composite quality score
    * within each language — bucket 1 = worst tercile, 3 = best; ties
    * broken by doc_id so the split is a deterministic pure function of
    * the corpus. Downstream pipelines keep head+middle, or sample the
    * buckets at different rates (compose with x54).
    *
    * Scale: the window is partitioned by LANGUAGE — bounded cardinality
    * (dozens), so this is the exact form. When a single group outgrows
    * a task, the sketch path replaces ntile with approx_percentile
    * cuts (mergeable, fixed-size state, broadcast back; q35's pattern)
    * at the cost of boundary exactness.
    *
    * Compare note: inherits x02's .xxxx5 round() boundary caveat on the
    * quality VALUE column (sf0.1: the same 2/5000 rows as x02; bucket
    * assignments still match — a last-ulp rounding difference can't
    * reorder values a whole quality step apart). Clean at the sf0.01
    * gate. */
  private val x57_quality_buckets: QFn = (s, d) => {
    val w = Window.partitionBy("lang").orderBy(col("quality_q"), col("doc_id"))
    docsR(s, d).select(col("doc_id"), col("lang"), qualityQ.as("quality_q"))
      .withColumn("bucket", ntile(3).over(w).cast("long"))
  }

  /** Bigram-LM quality score ([[graft.ops.CorpusOps.bigramLmScore]]) —
    * x51's next order: mean smoothed log P(w2|w1) under the corpus's
    * own bigram distribution. Catches shuffled/templated junk whose
    * unigram profile looks fluent. Same decimal-exact verification
    * trick, one order up. */
  private val x59_bigram_lm: QFn = (s, d) =>
    graft.ops.CorpusOps.bigramLmScore(docsR(s, d))

  /** Composed unigram + bigram LM scoring
    * ([[graft.ops.CorpusOps.lmScores]]) — x51 and x59 as ONE pipeline
    * sharing a single tokenize pass: the corpus is tokenized once into
    * a lazily-checkpointed view feeding the unigram tf table, the
    * bigram tf table, and the shared vocab scalar (PipelineSpec audits
    * the plan reads documents.parquet exactly once). Docs with <2
    * words keep their unigram score with NULL bigram columns. */
  private val x61_lm_scores: QFn = (s, d) =>
    graft.ops.CorpusOps.lmScores(docsR(s, d))

  /** Span-duplication scoring ([[graft.ops.CorpusOps.spanDupStats]],
    * Lee et al. ACL 2022): stride-8 windows of 32 tokens fingerprinted;
    * a doc's duplicated-window fraction is the repeated-substring
    * quality signal document-level dedup can't see (boilerplate,
    * templates, memorization risk). Cross-doc AND cross-offset repeats
    * both count. Fingerprint groupBy on uniform hash keys + per-doc
    * rollup — no data-sized state anywhere. */
  private val x58_span_dup: QFn = (s, d) =>
    graft.ops.CorpusOps.spanDupStats(docsR(s, d))

  /** Span EXCISION ([[graft.ops.CorpusOps.exciseSpans]]) — the
    * act-on-signal twin of x58 and the operation Lee et al. ACL 2022
    * actually ship: every duplicated 32-token stride-8 span keeps its
    * FIRST occurrence (min (doc_id, offset)) and every other occurrence
    * is cut; each doc's text is reassembled from the surviving tokens.
    * Same windowing constants as x58, so the measured signal and the
    * applied excision agree by construction. Hash-checked end-to-end:
    * the oracle rebuilds the excised TEXT, not just counts. */
  private val x60_excise_spans: QFn = (s, d) =>
    graft.ops.CorpusOps.exciseSpans(docsR(s, d))

  /** Corpus-trained BPE, wired into sequence packing
    * ([[graft.ops.BpeOps]] → [[graft.ops.CorpusOps.packSequences]]) —
    * the real-subword upgrade of x01's `n_bpe` regex proxy and x38's
    * proxy-length packing: learn 16 merges from the corpus's own word
    * distribution (Sennrich et al. ACL 2016; argmax with a total
    * deterministic tie-break), count each doc's subword tokens by
    * replaying the merges over the DISTINCT-word table, and pack
    * training sequences with the learned lengths. Training iterates
    * over the vocab-sized word-count table, never the corpus.
    * Hash-checked end-to-end: the DuckDB oracle unrolls the identical
    * [[X62Merges]] training rounds (the x48 unrolled-iteration
    * pattern), then replays tokenize + pack in SQL; [[x62a_bpe_merges]]
    * additionally checks the learned merge table itself. OpsSpec keeps
    * the naive single-node BPE reference as the spec-level pin.
    *
    * The merge table is built AT MOST ONCE per dataset generation
    * behind [[layoutDir]]'s atomic publish (train-once /
    * tokenize-forever, [[graft.ops.BpeOps.writeMerges]] — like x50's
    * signature index and x55's postings): bench reps measure the
    * REPLAY — the recurring production cost — not the training loop. */
  /** Merge count for the x62 family — one constant feeds the Spark
    * trainer AND the generated DuckDB oracle (x48's `X48Iters` pattern),
    * so the query and its unrolled-round oracle can't drift. At every
    * fixture SF the 16th merge's pair count is in the hundreds-to-
    * thousands (measured: 978 / 943 / 9159 at sf0.001/0.01/0.1), so the
    * trainer's count<2 early stop never fires and the oracle — which
    * unrolls exactly 16 rounds — replays the identical training run. */
  private val X62Merges = 16

  /** Shared x62 layout: train-once merge table behind [[layoutDir]]'s
    * atomic publish; both x62 queries read the same generation. */
  private def x62MergesDir(s: SparkSession, d: String): String =
    layoutDir(s, d, "documents", "bpe16|v1") { cat =>
      graft.ops.BpeOps.writeMerges(s, cat.path("bpe_merges"),
        graft.ops.BpeOps.train(docsR(s, d), numMerges = X62Merges))
    }

  private val x62_bpe_pack: QFn = (s, d) => {
    val ds = docsR(s, d)
    val merges = graft.ops.BpeOps.readMerges(s,
      Catalog(s, x62MergesDir(s, d)).path("bpe_merges"))
    // counts already carries a numeric doc_id + n_bpe — packing it
    // directly avoids a pointless identity join back to the corpus
    // (counts' ids are a subset of ds's by construction)
    graft.ops.CorpusOps.packSequences(
      graft.ops.BpeOps.tokenCounts(ds, merges),
      tokensCol = col("n_bpe"), seqLen = 256)
  }

  /** The learned BPE merge table itself, as an oracle-hash-checked
    * query — the verification row the training loop was missing: the
    * DuckDB oracle replays the IDENTICAL [[X62Merges]] rounds (pair
    * count argmax with the total count-desc/left-asc/right-asc
    * tie-break, then a greedy left-to-right fold per round) as an
    * unrolled MATERIALIZED-CTE chain, so the trainer's every argmax and
    * every merge application is checked against an independent engine —
    * not just spec-pinned. Reads the same train-once layout as
    * [[x62_bpe_pack]]. */
  private val x62a_bpe_merges: QFn = (s, d) =>
    Catalog(s, x62MergesDir(s, d)).table("bpe_merges")
      .select(col("rank").cast("long").as("merge_rank"),
        col("left").as("lhs"), col("right").as("rhs"))

  /** BPE ENCODE — per-document subword token-id sequences under the
    * trained merge table ([[graft.ops.BpeOps.encodeDocs]]): the actual
    * production tokenizer deliverable (x62 counts tokens; this emits
    * them). Ids are the deterministic [[graft.ops.BpeOps.vocabIds]]
    * assignment (base code points in code-point order, then merge
    * outputs by rank, duplicates keep the smallest id), so the whole
    * id sequence — replay, ordering, id mapping — is hash-checked
    * against the DuckDB oracle, which rebuilds the identical
    * vocabulary from its own unrolled training rounds. The sequence
    * ships comma-joined as one string column: the check artifact must
    * survive engines/harnesses that cannot sort or hash nested array
    * cells (the in-engine op [[graft.ops.BpeOps.encodeDocs]] keeps the
    * typed array).
    *
    * 100 TB shape: replay+encode once per DISTINCT word (broadcast
    * rules + alphabet-sized id map); the corpus joins its (doc, pos,
    * word) grain on the word key; reassembly is per-doc bounded array
    * work. Reads the same train-once layout as [[x62_bpe_pack]]. */
  private val x68_bpe_encode: QFn = (s, d) => {
    val merges = graft.ops.BpeOps.readMerges(s,
      Catalog(s, x62MergesDir(s, d)).path("bpe_merges"))
    graft.ops.BpeOps.encodeDocs(docsR(s, d), merges)
      .withColumn("token_ids",
        concat_ws(",", col("token_ids").cast("array<string>")))
  }

  /** End-to-end curation decision in ONE declarative plan — the
    * composition a production corpus build runs, as a single
    * oracle-hash-checked query (PipelineSpec checks the ops COMPOSE;
    * this checks the composed VALUES): exact dedup (keep min doc_id
    * per content hash, x04 semantics) → composite quality score on the
    * survivors → keep the top tercile per language (x57's ntile on the
    * DEDUPED pool) → XLM-R temperature sampling (α=0.5, x54 semantics,
    * rates from the gated pool's language counts). Output: the kept
    * rows (doc_id, lang, quality, rate).
    *
    * 100 TB shape: one content-hash groupBy (uniform keys), one
    * per-language tercile window (never corpus-wide), languages-sized
    * count aggregate riding a broadcast, and a deterministic
    * hash-threshold filter — every stage map-side or keyed on uniform/
    * bounded keys; nothing driver-side but the plan. */
  private val x64_curate: QFn = (s, d) => {
    val ds = docsR(s, d)
    val keep = graft.ops.TextDedup.exact(ds)
      .select(col("keep_id").as("doc_id"))
    val pool = ds.join(keep, Seq("doc_id"))
    val w = Window.partitionBy("lang").orderBy(col("quality_q"), col("doc_id"))
    // eager barrier (r18; was a lazy cache): temperatureSample reads
    // gated twice (language counts + the rate join) and the quality
    // join-back a third time — lazily cached, the three consumers
    // raced the cold cache and each re-ran the corpus quality
    // projection and the per-language window; the barrier pays the
    // doc-grain-slim materialization once
    val gated = graft.engine.Barrier.lineageBarrier(pool
      .select(col("doc_id"), col("lang"), qualityQ.as("quality_q"))
      .withColumn("bucket", ntile(3).over(w))
      .filter(col("bucket") === 3).drop("bucket"))
    graft.ops.CorpusOps.temperatureSample(gated, salt = "curate")
      .join(gated, Seq("doc_id", "lang"))
      .select(col("doc_id"), col("lang"), col("quality_q"), col("rate"))
  }

  /** Per-source quality quota — the domain-cap staple of web-corpus
    * builds (no single crawl source may dominate the mix): keep at
    * most 10 docs per `source`, ranked by the composite quality score
    * (ties: min doc_id). Per-SOURCE window, never corpus-wide; the
    * rank-limit filter plans WindowGroupLimit, so tasks top-k-prune
    * map-side before the one shuffle — same scale shape as x56's
    * per-language sampler, with quality (not a hash) as the rank. */
  private val x65_source_quota: QFn = (s, d) => {
    val w = Window.partitionBy("source")
      .orderBy(col("quality_q").desc, col("doc_id"))
    docsR(s, d)
      .select(col("doc_id"), col("source"), qualityQ.as("quality_q"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
  }

  /** kNN label agreement — the embedding-quality metric the labeled
    * fixture enables: for each query vector (vec_id < 20), the
    * majority label among its 10 nearest neighbors (exact cosine,
    * excluding itself; majority ties break to the smaller label) vs
    * its own label. High agreement = the embedding space respects the
    * labels; per-query rows keep the verdict auditable. Brute-force
    * exact here (the oracle-checkable form, same labeled-baseline role
    * as x12); the scale path swaps the cross join for the IVF probe
    * (x18/x48) with the identical downstream vote. */
  private val x66_knn_label: QFn = (s, d) => {
    val e = embsR(s, d)
    val q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"),
      col("embedding").as("q_e"), col("label").cast("long").as("q_label"))
    val n = e.select(col("vec_id").as("n_id"),
      col("embedding").as("n_e"), col("label").cast("long").as("n_label"))
    val byCos = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("n_id").asc)
    val byVotes = Window.partitionBy("q_id")
      .orderBy(col("n_votes").desc, col("knn_label").asc)
    q.crossJoin(n).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        round(VF.cosineFast(col("q_e"), col("n_e")), 6).as("cos"))
      .withColumn("rnk", row_number().over(byCos))
      .filter(col("rnk") <= 10)
      .groupBy(col("q_id"), col("q_label"), col("n_label").as("knn_label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("pick", row_number().over(byVotes))
      .filter(col("pick") === 1).drop("pick")
      .withColumn("agree",
        when(col("knn_label") === col("q_label"), 1L).otherwise(0L))
  }

  /** kNN label agreement over the IVF probe — x66's vote with its
    * brute-force cross join swapped for the bucketed candidate
    * generation (x18's broadcast-centroid assignment, multi-probe
    * nprobe=2), completing the brute-force→scale-twin pairing every
    * other baseline here has (x12→x18, x19→x22). Candidates are the
    * query's probed-cell members only; the downstream top-10 +
    * majority vote is IDENTICAL to x66's — within probed cells the
    * result is deterministic, so the oracle replays the same
    * assignment + vote exactly (hash-checked, not rows-only).
    *
    * 100 TB shape: centroids broadcast (assignment map-side,
    * WindowGroupLimit keeps ≤ nprobe rows per vector before the
    * exchange); the candidate join is equi on the cell id; the top-10
    * and vote windows are per-query. The brute-force x66 stays as the
    * labeled recall baseline, exactly like x12 does for x18. */
  private val x67_knn_label_ivf: QFn = (s, d) => {
    val e = embsR(s, d)
    val cells = ivfCells(e, nprobe = 2)
    val lab = e.select(col("vec_id"), col("label").cast("long").as("label"))
    val q = cells.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"),
      col("embedding").as("q_e"), col("cell"))
    val n = cells.select(col("vec_id").as("n_id"),
      col("embedding").as("n_e"), col("cell"))
    val byCos = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("n_id").asc)
    val byVotes = Window.partitionBy("q_id")
      .orderBy(col("n_votes").desc, col("knn_label").asc)
    q.join(n, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VF.cosineFast(col("q_e"), col("n_e")), 6).as("cos"))
      .distinct() // a candidate can share both probed cells
      .withColumn("rnk", row_number().over(byCos))
      .filter(col("rnk") <= 10)
      .join(lab.select(col("vec_id").as("n_id"),
        col("label").as("n_label")), Seq("n_id"))
      .join(lab.select(col("vec_id").as("q_id"),
        col("label").as("q_label")), Seq("q_id"))
      .groupBy(col("q_id"), col("q_label"), col("n_label").as("knn_label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("pick", row_number().over(byVotes))
      .filter(col("pick") === 1).drop("pick")
      .withColumn("agree",
        when(col("knn_label") === col("q_label"), 1L).otherwise(0L))
  }

  /** TOKEN-budget mixture sampling — x54's XLM-R temperature law
    * applied to token mass instead of document counts (what a training
    * mixture actually budgets: a language of few huge documents and
    * one of many small documents should not sample alike). Group mass
    * = sum of whitespace token counts (x01's oracle-checked count);
    * keep rate per language = (W_min/W_g)^(1-α), α=0.5; the keep
    * decision stays the same deterministic per-doc hash threshold, so
    * expected kept TOKENS per language follow the rate law and the
    * whole sample remains a pure function of (corpus, salt) —
    * hash-checked, not rows-only.
    *
    * 100 TB shape: identical to x54 — a languages-sized weighted
    * aggregate rides a broadcast back onto the corpus; the corpus is
    * scanned once, map-only, never shuffled. */
  private val x69_token_mix: QFn = (s, d) => {
    val ds = docsR(s, d).select(col("doc_id"), col("lang"),
      TF.tokenCount(col("text")).as("n_tokens"))
    graft.ops.CorpusOps.temperatureSample(ds, salt = "tokmix",
      weightCol = Some("n_tokens"))
  }

  /** Corpus card — the release-statistics rollup a dataset ships
    * (and the first thing an auditor asks for): per (lang, source)
    * plus ROLLUP subtotals and the grand total, in ONE pass: doc
    * count, token mass, char mass, exact-duplicate count (x04's
    * keep-min-id semantics — a doc is a dup iff its normalized text
    * has an earlier twin), and mean composite quality. The quality
    * mean sums as DECIMAL (x51's trick) so the float-heavy average is
    * hash-checkable across engines.
    *
    * 100 TB shape: one corpus scan computes every per-doc input; the
    * dup flag is a min-over-content-hash window (the hash IS the
    * partition key — uniform, never corpus-wide), so the corpus is
    * shuffled ONCE; the rollup is a grouping-sets agg over
    * (lang, source) — hundreds of cells, map-side partials riding a
    * tiny exchange. (The alternative — x04's groupBy + join back on
    * doc_id — costs a second full-row corpus shuffle; the window form
    * subsumes the keep-set computation in the one it already pays.) */
  private val x70_corpus_card: QFn = (s, d) => {
    val wh = Window.partitionBy(col("h"))
    docsR(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        TF.tokenCount(col("text")).as("n_tokens"),
        qualityQ.as("quality_q"),
        md5(TF.normText(col("text"))).as("h"))
      .withColumn("is_dup",
        when(col("doc_id") === min(col("doc_id")).over(wh), 0L)
          .otherwise(1L))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("is_dup")).as("n_dup_docs"),
        graft.functions.ExactMath.divHalfUp(sum(col("quality_q")),
          count(lit(1))).as("mean_quality_q"))
  }

  /** Hot-key split join ([[graft.ops.SkewOps.hotColdJoin]]) — the
    * explicit Zipfian-skew mitigation, exercised on the word-scoring
    * join shape (the family ScaleCheck measured as volume-bound; this
    * is the escape hatch for corpora where the measurement says
    * hot-key-bound instead): the top-16 hottest words join via a
    * broadcast of their 16-row count slice, every other word takes the
    * normal shuffle, and the output — per-doc token totals + hot-token
    * fraction + count-weighted mass — is hash-identical to the plain
    * join the DuckDB oracle runs (the split must never change
    * answers). */
  private val x63_skew_join: QFn = (s, d) => {
    // persisted (x61's one-pass discipline): three consumers read this
    // grain — the hot-key rank (eager collect below), the word-count
    // build side, and the probe side of the split join (different
    // partition keys, so no exchange reuse is possible) — without the
    // cache the corpus tokenizes once per consumer
    val perDocWord = docsR(s, d)
      .select(col("doc_id"), explode(TF.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
      .transform(graft.engine.Barrier.sharedGrain)
    // eager barrier on the vocab-sized counts (r18 shared-
    // materialization shape): populates the perDocWord cache race-free
    // for the hot/cold join probe
    val counts = graft.engine.Barrier.lineageBarrier(
      perDocWord.groupBy(col("word"))
        .agg(sum(col("n")).as("cnt")))
    // rank hot words by TOKEN weight (counts is pre-aggregated, one
    // row per word carrying its mass): top-16 by (cnt desc, word asc)
    val hotWords = graft.ops.SkewOps.hotKeys(
      counts, "word", 16, weightCol = Some("cnt"))
    graft.ops.SkewOps.hotColdJoin(perDocWord, counts, "word", hotWords)
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("word").isInCollection(hotWords), col("n"))
          .otherwise(0L)).as("n_hot"),
        sum(col("n") * col("cnt")).as("wsum"))
      .withColumn("hot_frac",
        round(col("n_hot").cast("double") / col("n_tokens"), 4))
  }

  /** Temperature-weighted language mixture sampling
    * ([[graft.ops.CorpusOps.temperatureSample]], α=0.5) — the XLM-R
    * data-mixing step: every language keeps rate (n_min/n_lang)^0.5,
    * so the smallest language survives whole and dominant languages
    * are down-sampled toward it. Deterministic hash-threshold
    * rejection ⇒ the sample is a pure function of (doc_id, salt,
    * counts) and fully oracle-checked — not a rows-only RNG sample.
    * Plan: languages-sized count agg + one-row min, both broadcast
    * back; the corpus is scanned once, map-only, never shuffled. */
  private val x54_mix_sample: QFn = (s, d) =>
    graft.ops.CorpusOps.temperatureSample(docs(s, d))

  /** Training-sequence packing (concat-and-chunk): documents in
    * deterministic order are concatenated into one token stream and cut
    * into 256-token sequences; each doc reports its stream offset, its
    * first sequence id, and how many sequences it spans — the exact
    * bookkeeping an LLM data loader needs.
    *
    * 100 TB shape: a global prefix sum done in TWO levels — within-block
    * cumsum (window partitioned by a block key = doc_id div 100) plus a
    * tiny per-block totals table whose own cumsum is single-task over
    * n/100 rows and then BROADCAST back. No unpartitioned window ever
    * touches the full corpus. */
  private val x38_pack_sequences: QFn = (s, d) =>
    graft.ops.CorpusOps.packSequences(docs(s, d), seqLen = 256, blockSize = 100)

  /** Gopher-style repetition metrics — the quality signals that catch
    * degenerate/boilerplate text: duplicate-word fraction and
    * top-word dominance per document (ties on the mode broken
    * lexicographically so engines agree). Two shuffles that share the
    * doc_id partitioning: (doc, word) counts, then the per-doc rollup.
    */
  private val x39_repetition: QFn = (s, d) => {
    val wc = docsR(s, d)
      .select(col("doc_id"), explode(TF.words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val top = Window.partitionBy("doc_id")
      .orderBy(col("cnt").desc, col("word").asc)
    wc.withColumn("rn", row_number().over(top))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(when(col("rn") === 1, col("word"))).as("top_word"),
        max(when(col("rn") === 1, col("cnt"))).as("top_cnt"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 4)
          .as("dup_frac"),
        col("top_word"),
        round(col("top_cnt").cast("double") / col("n_words"), 4).as("top_frac"))
  }

  /** Deterministic training shuffle — the reproducible epoch-order pass:
    * shard = hash(doc_id, epoch) mod n_shards (pure map work), position
    * within shard = rank by the same hash. Unlike rand() this is stable
    * across runs/engines/partitioning, and re-keying the seed string
    * re-shuffles for the next epoch. No global row_number (that would
    * single-task); each shard's window is independent and distributed.
    */
  private val x40_shuffle_shard: QFn = (s, d) =>
    graft.ops.CorpusOps.epochShuffle(docs(s, d), nShards = 8, epoch = 1)

  /** Transitive cluster-level keep/drop decision — the component form
    * of x33's pairwise decision: every non-canonical member of a
    * near-dup cluster maps to the component ROOT (the pairwise form
    * leaves chain members pointing at docs that are themselves
    * dropped). Composition: x07 pairs → x36 components → decision. */
  private val x41_cluster_decision: QFn = (s, d) =>
    graft.ops.CorpusOps.clusterDedupDecision(
      graft.ops.GraphOps.connectedComponents(
        graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
          shingleK = ShingleK, numHashes = NumHashes, bands = 4,
          threshold = 0.8)))

  /** SimHash values (60-bit, word-multiset votes; fused native form —
    * identical to [[TF.simhash]], see ExtensionsSpec). */
  private val x08_simhash: QFn = (s, d) =>
    docsR(s, d).select(col("doc_id"), TF.simhashFast(col("text")).as("sh"))

  /** SimHash near-dup pairs: hamming ≤ 6 within a language block.
    * Brute-force-within-block baseline; [[x23_simhash_banded]] is the
    * scale path (pigeonhole banding — exact same pair semantics without
    * the language-sized quadratic block). */
  private val x09_simhash_pairs: QFn = (s, d) => {
    // rebalanced + checkpoint barrier: the hamming filter's inferred
    // isnotnull(sh) otherwise pushes the full simhash below the scan
    // on both join sides (computed serially on the single scan split,
    // then recomputed by the projection above — the x23-family
    // pushdown pathology)
    val sh = docsR(s, d).select(col("doc_id"), col("lang"),
      TF.simhashFast(col("text")).as("sh")).transform(graft.engine.Barrier.pushdownBarrier)
    sh.as("a").join(sh.as("b").hint("shuffle_hash"),
      col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
  }

  /** SimHash near-dup pairs at corpus scale — x09's semantics without
    * any language block: explode each doc to its 7 (chunk, value) band
    * keys, equi self-join on the band key, dedup candidates, verify
    * true hamming ≤ 6. All-pairs semantics (a cross-language near-dup
    * IS a near-dup) — the oracle is the brute-force all-pairs form,
    * identical by the pigeonhole guarantee.
    *
    * 100 TB shape: the only join is equi on (chunk, cval) — work is
    * sum(bucket²) per chunk over 2^8..2^9-ary uniform buckets, shuffle
    * partitioned, AQE-splittable; nothing is quadratic in a data-sized
    * block. (For billion-doc corpora, [[x47_simhash_pairbanded]] is the
    * chunk-PAIR-key refinement — same plan, ~2^15-ary buckets.)
    */
  private val x23_simhash_banded: QFn = (s, d) =>
    graft.ops.TextDedup.simhashBandedPairs(docsR(s, d), maxHamming = 6)

  /** x23's extreme-scale twin — chunk-PAIR keys (Manku WWW'07
    * multi-block banding): 8 chunks instead of 7, keyed by all
    * C(8,2)=28 chunk pairs, so ≤ 6 differing bits leave ≥ 2 chunks —
    * hence ≥ 1 whole PAIR key — intact. Exactly the same output pair
    * set (both bandings are pigeonhole-exact; same brute-force oracle
    * as x23), but candidate buckets are ~2^15-ary instead of ~2^8.6-ary:
    * expected random-collision candidate volume drops ~2^6× (OpsSpec
    * asserts the shrink on the fixture), which is what keeps the
    * candidate join sub-quadratic at billion-doc corpora where x23's
    * single-chunk buckets hold n/2^8.6 docs each. The price — 28 slim
    * explode rows/doc instead of 7 — is linear and map-side. */
  private val x47_simhash_pairbanded: QFn = (s, d) =>
    graft.ops.TextDedup.simhashBandedPairs(docsR(s, d), maxHamming = 6,
      pairKeys = true)

  /** Character-4-gram Jaccard near-dup pairs, blocked by (lang, length
    * band) — the brute-force baseline: block sizes are data-dependent,
    * so a 100× corpus makes popular (lang, length) blocks quadratic.
    * [[x43_chargram_lsh]] is the banded scale twin (MinHash-LSH over
    * the same gram sets, uniform band-key buckets).
    */
  private val x10_ngram_jaccard: QFn = (s, d) => {
    val norm = TF.normText(col("text"))
    // hashed-gram sets (native, oracle-identical): set ops on 60-bit
    // longs instead of strings; the set Jaccard is unchanged
    val grams = TF.chargramSetFast(norm, 4)
    val g = docsR(s, d).select(col("doc_id"), col("lang"),
      expr("n_chars div 64").as("len_band"), grams.as("grams"))
    g.as("a").join(g.as("b").hint("shuffle_hash"),
      col("a.lang") === col("b.lang") && col("a.len_band") === col("b.len_band") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        round(call_function("jaccard_sorted", col("a.grams"), col("b.grams")), 4)
          .as("jac"))
      .filter(col("jac") >= 0.8)
  }

  /** Char-gram Jaccard near-dup pairs, BANDED — x10's scale twin (the
    * last similarity family that had only a quadratic-block form):
    * MinHash-LSH over the same hashed 4-gram sets via
    * [[graft.ops.TextDedup.minhashLshPairsFromSets]], verified with the
    * same true-Jaccard ≥ 0.8 merge scan. No data-sized blocks anywhere:
    * work is sum(band-bucket²), shuffle on uniform minhash band keys —
    * the plan survives a 100× corpus where x10's (lang, length) blocks
    * go quadratic.
    *
    * Curve (b=8 bands × r=6 rows): the fixture corpus is a worst case
    * for LSH selectivity — word-salad docs share one small gram
    * vocabulary, so the BASELINE pairwise Jaccard is ≈ 0.31, and a
    * loose 8×2 curve passed 24% of ALL pairs into verification (3M
    * candidate pairs at sf0.1 — slower than the blocked baseline it
    * exists to beat). At 8×6: background pass ≈ 1−(1−0.31⁶)⁸ ≈ 0.7%,
    * while P[miss] = (1−j⁶)⁸ ≤ 0.2% at j = 0.9 and ≤ 4·10⁻⁴ at
    * j = 0.93 (every observed true pair); boundary pairs at exactly
    * j = 0.8 verify ~91% — the deliberate trade of a curve biased
    * toward precision when verification is exact. The 48 affine
    * permutations are integer arithmetic over the already-hashed gram
    * set ([[graft.plans.MinHashPerms]]) — signatures stay map-side
    * cheap. x10 remains the labeled exact-within-block baseline
    * (recall ⊇ spec-checked in OpsSpec).
    */
  private val x43_chargram_lsh: QFn = (s, d) =>
    graft.ops.TextDedup.minhashLshPairsFromSets(
      docsR(s, d).select(col("doc_id"),
        TF.chargramSetFast(TF.normText(col("text")), 4).as("el_set")),
      numHashes = X43Hashes, bands = X43Bands, threshold = 0.8)

  /** x43's LSH curve; shared with the generated oracle SQL. */
  private val X43Hashes = 48
  private val X43Bands = 8

  // ------------------------------------------------------------- similarity

  /** Embedding near-dup pairs: brute-force cosine ≥ 0.45 (the fixture's
    * top of distribution). Baseline; x13 is the bucketed scale path. */
  private val x11_cosine_pairs: QFn = (s, d) => {
    val e = embsR(s, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_e"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_e"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(VF.cosineFast(col("a_e"), col("b_e")), 6).as("cos"))
      .filter(col("cos") >= 0.45)
  }

  /** Brute-force cosine top-k (k=5) for query vectors vec_id < 10 —
    * the exact-ANN baseline. TakeOrdered per query via window rank. */
  private val x12_ann_topk: QFn = (s, d) => {
    val e = embs(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_e"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_e"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    q.crossJoin(c).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VF.cosineFast(col("q_e"), col("n_e")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
  }

  /** LSH-bucketed ANN: sign-bucket on the first 8 coordinates, top-3
    * neighbors *within bucket* per query. The join is equi on the bucket
    * key — sum(bucket²) work instead of n², shuffle-partitioned, the
    * shape that survives 100 TB. (IVF = same plan with learned centroid
    * ids as the bucket key.)
    */
  private val x13_ann_lsh: QFn = (s, d) =>
    graft.ops.VectorOps.inCellTopK(
      embs(s, d).select(col("vec_id"), col("embedding"),
        VF.signBucket(col("embedding"), 8).as("cell")),
      k = 3)

  /** Shared IVF assignment: every vector mapped to its `nprobe` nearest
    * "centroids" (the first 16 vectors stand in for trained centroids —
    * [[x30_kmeans_step]] is the step that trains real ones) via a
    * broadcast cross-join argmax: map-side work, no shuffle. Used by
    * x18/x22/x30/x31 — one definition so a centroid-rule change can't
    * silently desynchronize them. */
  private def ivfCells(e: DataFrame, nprobe: Int): DataFrame = {
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_e"))
    graft.ops.VectorOps.ivfCells(e, cent, nprobe)
  }

  /** IVF-style ANN: assign every vector to its nearest "centroid" (the
    * first 16 vectors stand in for trained k-means centroids — the
    * assignment/search plan is what matters), then search only within
    * the query's cell (nprobe=1).
    *
    * 100 TB shape: the centroid set is tiny and *broadcast* — assignment
    * scoring is map-side and the rank exchange carries ≤ nprobe rows
    * per vector (WindowGroupLimit); the search join is equi on
    * cell id. Swapping in real trained centroids changes recall, not the
    * plan. */
  private val x18_ann_ivf: QFn = (s, d) =>
    graft.ops.VectorOps.inCellTopK(
      ivfCells(embs(s, d), nprobe = 1), k = 3, queryPred = col("q_id") < 10)

  /** Embedding-cosine dedup *decision*: from the near-dup pairs (x11's
    * definition), drop every vector that has a more-canonical (lower-id)
    * near-duplicate — the keep/drop list a dedup pipeline acts on. */
  private val x19_embed_dedup: QFn = (s, d) => {
    val e = embsR(s, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_e"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_e"))
    val pairs = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(VF.cosineFast(col("a_e"), col("b_e")), 6).as("cos"))
      .filter(col("cos") >= 0.45)
    pairs.groupBy(col("b_id").as("drop_id"))
      .agg(min(col("a_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
  }

  /** Embedding dedup *decision* at corpus scale — the bucketed pipeline
    * replacing [[x19_embed_dedup]]'s O(n²) crossJoin for the actual
    * deliverable: candidate generation (IVF multi-probe, x18's
    * broadcast-centroid shape with nprobe=2) → exact cosine verify →
    * canonical resolution (drop any vector with a lower-id verified
    * near-dup; canonical = the lowest such id).
    *
    * 100 TB shape: centroid set is tiny and broadcast (assignment =
    * map-side scoring, rank exchange ≤ nprobe rows/vector); the
    * candidate join is equi on the
    * cell id (sum(cell²) work, AQE-splittable); verification is exact
    * cosine on candidates only; the decision is one groupBy on the
    * dropped id. Multi-probe (nprobe) assigns each vector to its several
    * nearest cells so near-dups straddling a Voronoi boundary still meet.
    *
    * Tuning vs the fixture: the fixture's 0.45 threshold is deliberately
    * LOW (a similar-pair threshold, not a near-dup one), so total recall
    * needs nprobe=6 over the 16 stand-in centroids — verified equal to
    * x19's brute-force keep/drop set at sf0.001 and sf0.01 (spec +
    * oracle). At production dedup thresholds (cos ≥ 0.9) and √n trained
    * centroids, nprobe=1-2 suffices; the knobs move, the plan doesn't.
    * Measured (ScaleCheck, ×4 embedding corpus): this oracle-pinned
    * k=16 form grows 9.3× — fixed-k sum(cell²) is quadratic in corpus
    * size by construction — while the SAME [[graft.ops.VectorOps
    * .ivfDedupDecision]] with k=64 runs 6.4× faster there (19.5→3.0 s),
    * collapsing back toward output-bound growth. k must scale with n;
    * see BENCH_NOTES.md.
    */
  private val IvfProbe = 6
  private val x22_embed_dedup_bucketed: QFn = (s, d) =>
    graft.ops.VectorOps.ivfDedupDecision(
      ivfCells(embs(s, d), nprobe = IvfProbe), threshold = 0.45)

  /** End-to-end corpus cleaning — the composition a training-data
    * pipeline actually runs: exact-dedup (keep lowest doc_id per content
    * hash) → quality floor → confident language-ID → token accounting.
    * Every stage is a previous oracle-checked query; this checks the
    * composition. Exactly ONE shuffle (the per-content-hash window);
    * everything else is map-side. */
  private val x20_corpus_clean: QFn = (s, d) => {
    val nw = TF.tokenCount(col("text"))
    val alphaRaw = regexp_count(col("text"), lit("[A-Za-z]")).cast("double") /
      length(col("text"))
    val scored = docsR(s, d).select(
      col("doc_id"), col("lang"), col("text"),
      nw.as("n_tokens"),
      TF.langId(col("text")).as("pred_lang"),
      alphaRaw.as("alpha"),
      md5(TF.normText(col("text"))).as("chash"))
    // exact dedup as ONE window over the content hash (keep = min doc_id
    // per chash) — a single shuffle on chash, instead of the groupBy +
    // semi-join form that computes the scored subtree twice and shuffles
    // three times. Same keep set: row_number orderBy doc_id picks the min.
    val byHash = Window.partitionBy("chash").orderBy("doc_id")
    scored
      .withColumn("__rn", row_number().over(byHash))
      .filter(col("__rn") === 1)                            // exact dedup
      .filter(col("n_tokens") >= 20 && col("alpha") >= 0.5) // quality floor
      .filter(col("pred_lang") === col("lang"))             // confident langid
      .select(col("doc_id"), col("lang"), col("n_tokens"))
  }

  /** TF-IDF term weighting — the classic corpus-statistics op a training
    * pipeline runs for keyword extraction / quality signals. Three
    * aggregations: term frequency per (doc, word), document frequency per
    * word, corpus size; idf joined back and the tiny corpus-size scalar
    * broadcast.
    *
    * 100 TB shape: tf groupBy shuffles on (doc_id, word) — near-uniform;
    * df groupBy on word alone can skew on stopwords, which is exactly
    * what AQE skew handling (or a two-level partial agg, already how
    * Spark plans it) absorbs. No driver-side state: the corpus size is a
    * 1-row broadcast, not a collected constant. */
  private val x21_tfidf: QFn = (s, d) => {
    val dd = docsR(s, d)
    // materialized once: tf feeds both dfreq and the final join (as
    // x42 — pruning-specialized scans defeat exchange reuse otherwise).
    // Eager checkpoint beats lazy persist here: the columnar
    // InMemoryRelation read path measured +0.3 s over row-block
    // checkpoint reads on this two-consumer shape (r14 A/B)
    val tf = dd
      .select(col("doc_id"), explode(TF.words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.engine.Barrier.lineageBarrier)
    val dfreq = tf.groupBy(col("word"))
      .agg(count(lit(1)).as("dfreq")) // one row per (doc,word) ⇒ doc count
    val n = dd.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("word"))
      .crossJoin(broadcast(n))
      .filter(col("tf") >= 4)
      .select(col("doc_id"), col("word"), col("tf"), col("dfreq"),
        round(col("tf") * log(col("n_docs").cast("double") / col("dfreq")), 4)
          .as("tfidf"))
  }

  /** BM25 term weighting (Okapi, k1=1.2 b=0.75) — the retrieval-grade
    * upgrade of x21's TF-IDF, with document-length normalization: the
    * score of a term in a doc saturates with tf and discounts long
    * documents against the corpus average length.
    *
    * 100 TB shape: identical to x21 — tf groupBy on (doc, word), df
    * groupBy on word (stopword skew absorbed by partial agg + AQE), and
    * the two corpus scalars (N, avgdl) are a 1-row broadcast, never a
    * collected constant. Scoring itself is per-row math. */
  private val x42_bm25: QFn = (s, d) => {
    val dd = docsR(s, d)
    // tf is consumed by FOUR branches (dl, dfreq, corpus, the final
    // join); materialize it once — column pruning otherwise specializes
    // each branch's scan and the corpus gets re-read and re-tokenized
    // per branch (measured: 7 scans without this, 1 with). Eager
    // checkpoint beats lazy persist: the columnar InMemoryRelation
    // read path measured +0.7 s across four consumers (r14 A/B)
    val tf = dd
      .select(col("doc_id"), explode(TF.words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.engine.Barrier.lineageBarrier)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("dfreq"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    // constants written EXACTLY as in the oracle SQL (2.2, not k1+1 —
    // double(1.2)+1.0 differs from double(2.2) in the last ulp)
    val idf = log(lit(1.0) +
      (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5)))
    val norm = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(dl, Seq("doc_id"))
      .join(dfreq, Seq("word"))
      .crossJoin(broadcast(corpus))
      .filter(col("tf") >= 4)
      .select(col("doc_id"), col("word"), col("tf"), col("dfreq"),
        round(idf * norm, 4).as("bm25"))
  }

  /** Deterministic train/val/test split — the reproducible alternative
    * to rand()-sampling a training corpus: the split is a pure function
    * of the document id (hash60 → bucket 0-99 → 90/5/5), so it is
    * stable across runs, engines, and repartitioning, and any worker
    * can compute membership without coordination. Pure map work. */
  private val x24_train_split: QFn = (s, d) => {
    val h = TF.hash60(col("doc_id").cast("string"), "split|") % 100
    docs(s, d).select(col("doc_id"), h.as("bucket"),
      when(h < 90, "train").when(h < 95, "val").otherwise("test").as("split"))
  }

  /** PII redaction — scrub emails/phone numbers before training. The
    * fixture text contains no PII, so a deterministic fake contact line
    * (derived from doc_id) is appended first; the redaction regexes and
    * counts are the real, oracle-checked surface. Pure map work; the
    * regex subset used (char classes, bounded reps, \b) is common to
    * Java regex and RE2 so both engines agree byte-for-byte. */
  private val x25_pii_redact: QFn = (s, d) => {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    val aug = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com or 555-123-4567 now"))
    docsR(s, d).select(
      col("doc_id"),
      regexp_count(aug, lit(emailRe)).as("n_emails"),
      regexp_count(aug, lit(phoneRe)).as("n_phones"),
      md5(regexp_replace(regexp_replace(aug, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>")).as("redacted_fp"))
  }

  /** Document chunking — split each document into 64-token windows with
    * 16-token overlap (stride 48), the standard pre-tokenization shape
    * for training-sequence construction. sequence+posexplode+slice is
    * all map-side (no shuffle, no UDF); chunk text is fingerprinted
    * (md5) so the oracle checks content without hauling full chunks. */
  private val x26_doc_chunks: QFn = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), TF.words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        posexplode(sequence(lit(1), size(col("ws")), lit(48)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        md5(concat_ws(" ", slice(col("ws"), col("start"), lit(64)))).as("chunk_fp"),
        least(size(col("ws")) - col("start") + 1, lit(64)).cast("long")
          .as("n_chunk_tokens"))

  /** ANN quality evaluation — recall@3 of the sign-LSH index (x13's
    * plan) against exact brute-force top-3, per query vector. The
    * tuning harness every ANN deployment runs before trusting an index:
    * recall is computed IN the engine (semi-join of approx hits against
    * exact hits, one row per query), not by eyeballing. Exact side is
    * brute force over the 10 fixture queries only — the evaluation
    * sample, not the corpus. */
  private val x28_ann_recall: QFn = (s, d) => {
    val e = embs(s, d)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_e"))
    val exact = q.crossJoin(e.select(col("vec_id").as("n_id"), col("embedding").as("n_e")))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VF.cosineFast(col("q_e"), col("n_e")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("n_id"))
    val eb = e.select(col("vec_id"), col("embedding"),
      VF.signBucket(col("embedding"), 8).as("bucket"))
    val approx = eb.as("a").join(eb.as("b").hint("shuffle_hash"),
      col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .filter(col("a.vec_id") < 10)
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        round(VF.cosineFast(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("n_id"))
    val hits = exact.join(approx, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    q.select(col("q_id")).join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / 3.0, 4).as("recall_at_3"))
  }

  /** Embedding int8 quantization — the storage-compression pass a
    * 100 TB embedding store runs (4 bytes→1 byte per dim): per-vector
    * max-abs scale, symmetric round-to-nearest. Output is the scale and
    * the quantized vector's squared norm (scalars, engine-comparable)
    * — the quantized arrays themselves stay distributed. Pure map work.
    */
  private val x29_embed_quantize: QFn = (s, d) =>
    embs(s, d)
      .withColumn("mx",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .select(col("vec_id"), round(col("mx"), 6).as("scale"),
        // all-zero vector guard: 0/0 would be NaN (and engines disagree
        // on NaN→int casts); an all-zero vector quantizes to all zeros
        when(col("mx") === 0, lit(0L)).otherwise(
          aggregate(
            transform(col("embedding"),
              x => round(x.cast("double") * 127 / col("mx")).cast("long")),
            lit(0L), (acc, v) => acc + v * v)).as("qnorm2"))

  /** One Lloyd's iteration of k-means over the embedding corpus — the
    * training step that produces REAL IVF centroids (x18/x22 use the
    * first 16 vectors as stand-ins; this is how trained ones are made,
    * at scale): assign every vector to its nearest centroid (tiny
    * broadcast, map-side scoring), then the new centroid = per-cell
    * per-dimension mean via posexplode + one groupBy — no driver-side
    * loops, no collect; iterate by feeding the output back as the next
    * broadcast. Output is (cell, dim, mean, count) — the new centroid
    * table in long form. */
  private val x30_kmeans_step: QFn = (s, d) =>
    graft.ops.VectorOps.kmeansStep(ivfCells(embs(s, d), nprobe = 1))

  /** End-to-end semantic search — the retrieval path a RAG/search
    * deployment runs: query vector (vec 0's embedding stands in for an
    * embedded query string) → IVF cell lookup (nprobe=2, broadcast
    * centroids) → in-cell cosine top-5 → hydration join back to the
    * documents table for display fields. The final top-5 window is
    * unpartitioned over a HANDFUL of candidate rows (post-ANN, one
    * query) — the correct plan there; the hydration join broadcasts the
    * 5-row hit list against the corpus. */
  private val x31_semantic_search: QFn = (s, d) => {
    val cells = ivfCells(embs(s, d), nprobe = 2)
    val q = cells.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_e"), col("cell"))
    val w = Window.orderBy(col("cos").desc, col("n_id").asc)
    val hits = q.join(cells.select(col("vec_id").as("n_id"),
        col("embedding").as("n_e"), col("cell")), Seq("cell"))
      .filter(col("n_id") =!= 0)
      .select(col("n_id"), round(VF.cosineFast(col("q_e"), col("n_e")), 6).as("cos"))
      .distinct() // a hit can share both probed cells
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
    hits.join(docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        hits("n_id") === col("doc_id"))
      .select(col("rnk"), col("doc_id"), col("cos"), col("lang"), col("n_chars"))
  }

  /** Lloyd's rounds the trained-ANN pipeline runs (x48): fixed so the
    * DuckDB oracle can unroll the identical iterations. */
  private val X48Iters = 2

  /** End-to-end TRAINED-centroid ANN — the composition x18/x30 only
    * staged: train IVF centroids by iterating Lloyd's steps
    * ([[graft.ops.VectorOps.kmeansTrain]]: assign with broadcast
    * centroids → exact-integer quantized re-center, bit-identical
    * across engines/partitionings), then search within the trained
    * cells (same inCellTopK plan as x18 — swapping stand-in centroids
    * for trained ones changes recall, not the plan). The oracle unrolls
    * the SAME two Lloyd's rounds in SQL, so training + assignment +
    * search are all hash-checked, not rows-only. ExtensionsSpec
    * additionally asserts in-engine recall@3 of the trained index ≥ the
    * first-16-vectors stand-in's (x18), and round-trips the centroid
    * frame through Catalog persistence. At 100 TB: training touches the
    * corpus `iters` times map-side (centroids stay broadcast-sized);
    * nothing corpus-sized reaches the driver. */
  private val x48_ann_trained: QFn = (s, d) => {
    val e = embs(s, d)
    val cent = cachedCentroids(s, d, 16)
    graft.ops.VectorOps.inCellTopK(
      graft.ops.VectorOps.ivfCells(e, cent, nprobe = 1),
      k = 3, queryPred = col("q_id") < 10)
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al., arXiv 2303.09540):
    * train k-means cells (the x48 trainer, identical Lloyd's rounds),
    * score each vector's centroid-cosine, and within each cell drop
    * near-duplicates (cos ≥ τ) keeping the representative FARTHEST from
    * the centroid — the paper's diversity-preserving keep rule, vs
    * x22's arbitrary min-id ([[graft.ops.VectorOps.semDedupDecision]]).
    * The oracle unrolls the same two Lloyd's rounds (shared CTE chain
    * with x48), so training + assignment + scoring + the keep decision
    * are all hash-checked. 100 TB: same shape as x22 — broadcast
    * centroids, Σ cell² candidate work under k ~ √n, one decision
    * groupBy; the extra cq column rides the existing exchanges. */
  private val x71_semdedup: QFn = (s, d) => {
    val e = embs(s, d)
    val cent = cachedCentroids(s, d, 16)
    // τ = 0.35, not the pair queries' 0.45: the fixture's embeddings
    // are near-orthogonal, so within-CLUSTER pairs clearing 0.45 are
    // rare (6 rows at sf0.01) — 0.35 exercises the keep rule on 60
    // decisions while staying a "semantic near-dup" bar for this corpus
    graft.ops.VectorOps.semDedupDecision(
      graft.ops.VectorOps.ivfCellsScored(e, cent, nprobe = 1),
      threshold = 0.35)
  }

  /** Dedup decisions APPLIED through the versioned write path — the
    * loop every decision query (x33/x34/x41/x52…) feeds in production:
    * the corpus lives as an MVCC log (txn 1 upserts), the x41 cluster
    * drop set lands as txn-2 TOMBSTONES, and the committed snapshot is
    * the cleaned corpus — reported per language. Ties the decision
    * surface to the reference's own write-path semantics (set_objects
    * tombstones + commit markers, x17's machinery): dedup is not a
    * side-table here, it is an applied, versioned, revertible edit
    * (snapshot asOf=1 still shows the uncleaned corpus). Oracle =
    * x41's recursive-CTE drop set anti-joined and rolled up. */
  private val x82_dedup_applied: QFn = (s, d) => {
    val base = docs(s, d)
      .select(col("doc_id").as("rid"), col("lang"), col("n_chars"))
    val drops = graft.ops.CorpusOps.clusterDedupDecision(
      graft.ops.GraphOps.connectedComponents(
        graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
          shingleK = ShingleK, numHashes = NumHashes, bands = 4,
          threshold = 0.8)))
    val log = LogTable.upserts(base, 1L, col("rid"))
      .unionByName(LogTable.deletes(
        base.join(drops.select(col("drop_id").as("rid")), Seq("rid")),
        2L, col("rid")), allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(s, 1L), allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(s, 2L), allowMissingColumns = true)
    LogTable.snapshot(log, asOf = 2L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"))
  }

  /** Embedding dedup decision at the SCALE-RULE operating point — x22
    * with k grown the way the 100 TB path demands (k ~ √n,
    * [[graft.ops.VectorOps.suggestK]]): 64 TRAINED centroids (the x48
    * trainer, identical Lloyd's rounds) instead of the oracle-pinned 16
    * stand-ins, nprobe=2 for Voronoi-boundary recall. ScaleCheck
    * measured this regime 8–15× faster than fixed k=16 on the ×16
    * corpus; this query makes the regime itself HASH-CHECKED — the
    * oracle unrolls the same training rounds with 64 seeds, so the
    * trained cells, the multi-probe assignment, and every keep/drop
    * decision are verified, closing the "scale path is measured but
    * not oracle-checked" gap. */
  private val x81_embed_dedup_trained: QFn = (s, d) => {
    val e = embs(s, d)
    val cent = cachedCentroids(s, d, 64)
    graft.ops.VectorOps.ivfDedupDecision(
      graft.ops.VectorOps.ivfCells(e, cent, nprobe = 2), threshold = 0.45)
  }

  /** Trainable corpus classifier ([[graft.ops.ClassifierOps]]) — the
    * fastText-style quality/domain gate of CCNet/GPT-3-style curation,
    * as multinomial Naive Bayes: train on the 4/5 deterministic split
    * (doc_id % 5 ≠ 0), predict `lang` for the held-out 1/5, report the
    * confusion matrix. Every log-prob is quantized to DECIMAL(18,6) at
    * the leaf, so scores are exact decimal sums and the argmax is
    * engine-reproducible — training, scoring, AND prediction are
    * hash-checked, not rows-only. The confusion grain makes the check
    * sharp: one flipped prediction anywhere moves a count. (Measured
    * 42% on sf0.01's 5 langs vs 20% chance — the fixture's text is
    * synthetic so `lang` is only weakly word-predictable; the op under
    * test is the distributed train/score pipeline, not the model.) */
  private val x72_nb_classifier: QFn = (s, d) => {
    val all = docsR(s, d)
    val train = all.filter(col("doc_id") % 5 =!= 0)
    val test = all.filter(col("doc_id") % 5 === 0)
    graft.ops.ClassifierOps.nbPredict(train, test)
      .join(test.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_label"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Exact-quota weighted sampling ([[graft.ops.CorpusOps
    * .weightedSample]], Efraimidis–Spirakis): exactly 25 docs per
    * language, probability ∝ n_chars — the "k docs per group, long
    * docs preferred" curation ask x54's Bernoulli form can't answer
    * exactly. Hash-derived u makes the draw reproducible; the oracle
    * replays key assignment + per-group top-k verbatim. Plan:
    * WindowGroupLimit partial+final (PlanAuditSpec) — map tasks forward
    * ≤ k rows per group, the exchange never carries the corpus. */
  private val x73_weighted_sample: QFn = (s, d) =>
    graft.ops.CorpusOps.weightedSample(docs(s, d), k = 25,
      weightCol = "n_chars")

  /** Held-out LM quality scoring ([[graft.ops.CorpusOps
    * .lmScoreApply]]) — the CCNet production shape: unigram counts
    * trained on the 4/5 split, APPLIED to the held-out 1/5 (x51 scores
    * the corpus under its own distribution — fine for corpus
    * statistics, circular for quality gating). OOV words take the
    * smoothed ln(1/(N+V)) floor, so junk outside the reference
    * vocabulary scores low instead of being skipped. */
  private val x74_lm_apply: QFn = (s, d) => {
    val all = docsR(s, d)
    graft.ops.CorpusOps.lmScoreApply(
      all.filter(col("doc_id") % 5 === 0),
      graft.ops.CorpusOps.unigramCounts(all.filter(col("doc_id") % 5 =!= 0)))
  }

  /** Multi-signal fused dedup — what production pipelines actually run:
    * no single signal catches everything (MinHash misses paraphrases,
    * embeddings miss verbatim-but-reordered), so the TEXT edge set
    * (x07's LSH-verified pairs) and the EMBEDDING edge set (x22's
    * IVF-verified cosine pairs, [[graft.ops.VectorOps.ivfPairs]]) are
    * UNIONED into one graph, components resolved once, one canonical
    * per fused cluster (x41's decision). A doc caught by either signal
    * joins the cluster — and transitive chains may cross signals (text
    * edge a–b, embedding edge b–c ⇒ one cluster {a,b,c}).
    *
    * 100 TB shape: both edge generators are the already-measured
    * scale paths (equi band/cell joins); the union is edge-grain;
    * the components are x36's contraction, the decision is x41's.
    * Embedding ids and doc ids share the key space (the fixture's
    * vec_id ≡ doc_id contract, as x31's hydration join uses).
    *
    * This query pins [[graft.ops.CorpusOps.fusedDedup]]'s LIBRARY
    * DEFAULT operating point — auto-k (k ~ √n via [[graft.ops
    * .VectorOps.suggestK]], 2 Lloyd's rounds, nprobe=1) — in its
    * PRODUCTION form: the quantizer trains ONCE per dataset generation
    * inside a persisted layout (the x101/[[trainedCentroidDir]]
    * train-once contract — you never retrain a production quantizer
    * per run) and every execution reads the √n-row centroid table
    * back, paying assignment + pairs + closure only. The oracle
    * replays the WHOLE chain from first principles — k =
    * greatest/least/√count(*) derived from the data on both engines
    * (one oracle string serves every SF), √n-seeded training unrolled
    * round by round on the exact-integer centroid grid, assignment,
    * in-cell pairs, fused closure — so the stored centroids stay
    * hash-verified, never trusted. Until r15 this query pinned the
    * fixed-k=16/nprobe=6 `coarseCentroids` fixture instead (quadratic
    * under replication — ScaleCheck measured 4.9× at ×4 — and the
    * single most expensive query of every bench sweep, benchmarking an
    * escape hatch the default deliberately avoids); that path keeps
    * OpsSpec equivalence coverage, and the one-call in-query-training
    * default keeps its own OpsSpec row (auto ≡ manual composition). */
  private val x75_fused_dedup: QFn = (s, d) =>
    graft.ops.CorpusOps.fusedDedup(docsR(s, d), embs(s, d),
      shingleK = ShingleK, numHashes = NumHashes, bands = 4,
      textThreshold = 0.8, embThreshold = 0.45,
      coarseCentroids = Some(
        Catalog(s, autoCentroidDir(s, d)).table("cent")))

  /** Tokenizer-efficiency audit — the fertility/compression report a
    * tokenizer owner publishes per corpus slice: under the SAME trained
    * BPE layout x62/x68 use, per (lang, source) with ROLLUP subtotals:
    * doc/char/word/subword mass and chars-per-BPE-token (the
    * compression ratio; low outliers flag slices the vocabulary serves
    * poorly — the retrain signal). Replay runs once per DISTINCT word
    * ([[graft.ops.BpeOps.tokenCounts]]); the rollup is groups-sized.
    * The oracle replays the identical 16 training rounds (x62's CTE
    * chain), so the audit numbers are hash-checked end to end. */
  private val x78_tokenizer_audit: QFn = (s, d) => {
    val merges = graft.ops.BpeOps.readMerges(s,
      Catalog(s, x62MergesDir(s, d)).path("bpe_merges"))
    graft.ops.BpeOps.tokenCounts(docsR(s, d), merges)
      .join(docs(s, d).select(col("doc_id"), col("lang"), col("source"),
        col("n_chars")), Seq("doc_id"))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe")).as("n_bpe"),
        round(sum(col("n_chars")).cast("double") /
          sum(col("n_bpe")).cast("double"), 4).as("chars_per_token"))
  }

  /** Content-addressed shard manifest ([[graft.ops.CorpusOps
    * .shardManifest]]) — the release-audit artifact: per deterministic
    * shard, row count + two order-insensitive content fingerprints
    * (exact decimal sum and XOR of the per-row (id, content) hash).
    * The oracle recomputing the identical manifest IS the op's use
    * case: an independent engine verifying a dataset copy. */
  private val x77_shard_manifest: QFn = (s, d) =>
    graft.ops.CorpusOps.shardManifest(docs(s, d), nShards = 16)

  /** Cross-source duplication matrix — the provenance report behind
    * per-source quotas and crawl-frontier decisions (which sources
    * mirror which; the C4/RefinedWeb-style overlap analysis): x07's
    * verified near-dup pairs, each mapped to its UNORDERED source pair
    * (least/greatest — (src2,src5) and (src5,src2) are the same
    * relationship), counted per pair. The diagonal (src_1 = src_2) is
    * within-source duplication; off-diagonal mass is cross-source
    * mirroring. Edge-grain join + a sources²-bounded aggregate on top
    * of the already-measured LSH pair generation. */
  private val x80_source_overlap: QFn = (s, d) => {
    val pairs = graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
      shingleK = ShingleK, numHashes = NumHashes, bands = 4, threshold = 0.8)
      .select(col("a_id"), col("b_id"))
    val src = docs(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("src_a")),
        Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("src_b")),
        Seq("b_id"))
      .groupBy(least(col("src_a"), col("src_b")).as("src_1"),
        greatest(col("src_a"), col("src_b")).as("src_2"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Manifest DIFF ([[graft.ops.CorpusOps.manifestDiff]]) — the
    * incremental-reprocessing trigger: between corpus v1 (as shipped)
    * and a deterministic v2 (drop every 97th doc, edit every 89th),
    * report exactly the shards whose content moved. Downstream jobs
    * re-run on those shards only. Changed-shard detection is
    * hash-checked: the oracle recomputes both manifests and the same
    * three-way comparison. */
  private val x79_manifest_diff: QFn = (s, d) => {
    val v1 = docs(s, d)
    val v2 = v1.filter(col("doc_id") % 97 =!= 0)
      .withColumn("text", when(col("doc_id") % 89 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
    graft.ops.CorpusOps.manifestDiff(v1, v2, nShards = 16)
  }

  /** End-to-end TRAINED-gate curation — x64's untrained pipeline with
    * the model in the loop: train the NB classifier on the 4/5 split
    * (x72's model), keep held-out docs whose PREDICTED label agrees
    * with the declared one (the trained upgrade of x20's heuristic
    * langid gate), then fill an exact per-language quota by weighted
    * sampling (x73's op). Training, prediction, the gate, AND the
    * quota draw are all hash-checked in one oracle — the whole
    * model-gated pipeline is reproducible, not just its stages.
    * PipelineSpec's v3 adds the LM-floor stage spec-side. */
  private val x76_curate_trained: QFn = (s, d) => {
    val all = docsR(s, d)
    val train = all.filter(col("doc_id") % 5 =!= 0)
    val test = all.filter(col("doc_id") % 5 === 0)
    val gated = test
      .join(graft.ops.ClassifierOps.nbPredict(train, test), Seq("doc_id"))
      .filter(col("pred_label") === col("lang"))
    graft.ops.CorpusOps.weightedSample(gated, k = 10,
      weightCol = "n_chars", salt = "curate76")
  }

  /** Ingest-time dedup against the LIVE corpus — the composition an
    * incremental crawl pipeline runs on every batch: existing corpus =
    * MVCC snapshot of the committed log (x17 semantics); incoming batch
    * = re-crawled duplicates (same text, new ids) + genuinely new
    * versions; keep only rows whose content fingerprint is absent from
    * the snapshot. One anti-join on the fingerprint — equi, broadcast-
    * able when the batch is small, shuffle otherwise. */
  private val x32_ingest_dedup: QFn = (s, d) => {
    val base = docs(s, d).select(col("doc_id").as("rid"), col("text"))
    val log = LogTable.upserts(base, 1L, col("rid"))
      .unionByName(LogTable.commitMarker(s, 1L), allowMissingColumns = true)
    // checkpoint barrier: the anti-join's inferred isnotnull(fp)
    // otherwise pushes md5(normText) below the snapshot window into
    // the scan-side filter — hashed twice per row (filter + project)
    val existing = LogTable.snapshot(log, asOf = 1L)
      .select(md5(TF.normText(col("text"))).as("fp"))
      .transform(graft.engine.Barrier.pushdownBarrier)
    val inc = docs(s, d).filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")) // re-crawled dups
      .unionByName(docs(s, d).filter(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" updated content")).as("text"))) // new versions
    graft.ops.TextDedup.ingestFilter(inc, existing)
  }

  /** Stratified corpus sampling — deterministic per-language rates (the
    * "rebalance the language mix" op of corpus curation): en keeps 20%,
    * de/fr 50%, everything else 100%. Membership = hash60(doc_id) % 100
    * under the stratum's threshold — a pure map-side decision, stable
    * across runs/engines/partitioning (rand()-based sampleBy is not),
    * and any worker computes it with zero coordination. */
  private val x27_stratified_sample: QFn = (s, d) => {
    val h = TF.hash60(col("doc_id").cast("string"), "sample|") % 100
    val rate = when(col("lang") === "en", 20)
      .when(col("lang").isin("de", "fr"), 50)
      .otherwise(100)
    docs(s, d).filter(h < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_kept"))
  }

  // ------------------------------------------------------------- multimodal

  /** Multimodal metadata extraction: media columns are opaque binary +
    * typed metadata. The container has no image/audio codecs, so decode
    * is a deterministic fake keyed on content hash (clearly marked; see
    * [[graft.multimodal.MediaPipeline]] for the mapPartitions plumbing)
    * — the *derivation* below is the real, oracle-checked part.
    */
  private val x14_media_meta: QFn = (s, d) =>
    docs(s, d)
      .withColumn("h1", TF.hash60(col("text"), "media|"))
      .selectExpr("doc_id",
        "256 + h1 % 1024 AS width",
        "256 + (h1 div 1024) % 1024 AS height",
        "cast(1 + h1 % 30 AS BIGINT) AS n_frames")

  /** Multimodal metadata over a REAL `BinaryType` column — x14's
    * text-hash stand-in upgraded to the actual binary path: attach a
    * 16-byte binary payload ([[graft.multimodal.MediaPipeline.withPayload]],
    * the stand-in for reading media bytes from a blob store), run the
    * mapPartitions decode ([[graft.multimodal.MediaPipeline.extractMeta]]
    * — per-partition init, narrow, the shape a real codec plugs into),
    * and emit byte-derived metadata. The md5 payloads carry no image
    * magic, so this query pins decodeMeta's FALLBACK branch (the
    * documented deterministic fake — x129 pins the REAL `javax.imageio`
    * branch on planted PNGs); everything the
    * oracle checks — payload bytes, length, byte-indexed dimension
    * derivation — is computed from the BINARY column on both sides
    * (DuckDB: unhex→BLOB, octet_length, hex-pair extraction).
    */
  private val x44_media_binary: QFn = (s, d) =>
    graft.multimodal.MediaPipeline.extractMeta(
      graft.multimodal.MediaPipeline.withPayload(
        docs(s, d).select(col("doc_id"), col("text")), "text"), "media")
      .select(col("doc_id"),
        length(col("media")).cast("long").as("n_bytes"),
        col("media_meta.format").as("format"),
        col("media_meta.width").cast("long").as("width"),
        col("media_meta.height").cast("long").as("height"),
        col("media_meta.nFrames").cast("long").as("n_frames"))

  /** REAL image decode round-trip ([[graft.multimodal.MediaPipeline
    * .decodeMeta]] — `javax.imageio`, JDK-bundled): per document a
    * genuine PNG is synthesized at doc_id-derived dimensions
    * (16 + id%32 × 16 + (id/32)%32, deterministic pixels), planted as
    * the binary payload, and decoded back through the same
    * mapPartitions plumbing x44 uses. The oracle recomputes the
    * dimensions arithmetically — the row hash-matches IFF the codec
    * actually parsed the PNG it was handed (the deterministic fake
    * would emit 256+… dims and mismatch every row), so this query is
    * the proof x44's `???`-class stub got a real image path. x44 stays
    * as the FALLBACK-path check: its md5 payloads carry no image
    * magic, so both branches of [[graft.multimodal.MediaPipeline
    * .decodeMeta]] are driver-verified. Encode+decode are per-row
    * map-side work (no shuffle until the oracle-ordered output). */
  private val x129_imageio_decode: QFn = (s, d) => {
    import s.implicits._
    // rebalance the slim id column BEFORE the encode/decode map: the
    // single-row-group fixture parquet offers one split, which would
    // serialize ~0.7 ms/row of codec work on one core (guide §2.5
    // input-skew class; no-op when the source is already well-split)
    val withPng = rebalanced(s, docs(s, d).select(col("doc_id"))).as[Long]
      .mapPartitions(_.map { id =>
        (id, graft.multimodal.MediaPipeline.encodePng(
          16 + (id % 32).toInt, 16 + ((id / 32) % 32).toInt, seed = id))
      }).toDF("doc_id", "media")
    graft.multimodal.MediaPipeline.extractMeta(withPng, "media")
      .select(col("doc_id"),
        col("media_meta.format").as("format"),
        col("media_meta.width").cast("long").as("width"),
        col("media_meta.height").cast("long").as("height"),
        col("media_meta.nFrames").cast("long").as("n_frames"))
  }

  /** Mixed-format imageio decode — x129's twin with BOTH real decoder
    * branches exercised in one run: even doc_ids plant a real PNG, odd
    * ones a real JPEG ([[graft.multimodal.MediaPipeline.encodeJpeg]] —
    * lossy pixels, exact dimensions), so the magic-prefix routing AND
    * the JPEG decode path are hash-checked (the oracle recomputes
    * format + dimensions arithmetically; only a real decode of each
    * format can match). Same 100 TB shape as x129: payloads are built
    * and decoded inside `mapPartitions` batches, never shuffled, never
    * driver-side. */
  private val x131_jpeg_decode: QFn = (s, d) => {
    import s.implicits._
    // same under-split rebalance as x129 — codec work must not run on
    // the single scan split the fixture parquet offers
    val withImg = rebalanced(s, docs(s, d).select(col("doc_id"))).as[Long]
      .mapPartitions(_.map { id =>
        val w = 16 + (id % 32).toInt
        val h = 16 + ((id / 32) % 32).toInt
        val bytes =
          if (id % 2 == 0) graft.multimodal.MediaPipeline.encodePng(w, h, id)
          else graft.multimodal.MediaPipeline.encodeJpeg(w, h, id)
        (id, bytes)
      }).toDF("doc_id", "media")
    graft.multimodal.MediaPipeline.extractMeta(withImg, "media")
      .select(col("doc_id"),
        col("media_meta.format").as("format"),
        col("media_meta.width").cast("long").as("width"),
        col("media_meta.height").cast("long").as("height"),
        col("media_meta.nFrames").cast("long").as("n_frames"))
  }

  // ----------------------------------------------------------------- events

  /** Bump when the z-ordered layout recipe changes: the version is part
    * of the layout directory key, so stale layouts from an older recipe
    * can never be read by a newer build. */
  private val ZOrderLayoutVersion = 2

  /** Get-or-build a derived read-only layout for dataset dir `d` —
    * built AT MOST ONCE per (dataset, `salt`) and read-only afterwards,
    * so evaluating the layout queries repeatedly (bench reps) or from
    * two concurrent sessions never races a write against a read. The
    * build stages into a per-invocation unique directory and publishes
    * with an atomic directory rename: readers only ever see a complete
    * layout, and when two builders race, exactly one rename wins and
    * the loser discards its staging copy. Include a layout version in
    * `salt` so a recipe change can never read a stale layout.
    *
    * The key also folds in a metadata fingerprint of the SOURCE table
    * (file names, lengths, mtimes — one directory listing, no data
    * read): a regenerated dataset at the same path gets a fresh layout
    * instead of silently serving the previous generation's rows. */
  private def layoutDir(s: SparkSession, d: String, srcTable: String,
      salt: String)(build: Catalog => Unit): String = {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
    val conf = s.sparkContext.hadoopConfiguration
    val srcPath = new org.apache.hadoop.fs.Path(s"$d/$srcTable.parquet")
    val srcFs = srcPath.getFileSystem(conf)
    val fp = srcFs.listStatus(srcPath).toSeq
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(",")
    // Base dir resolution: env override > a project-stable `.graft_layouts`
    // under the working directory > the old per-user tmpdir. The stable
    // default is what makes a FRESH JVM's first full run warm: layouts
    // built by one session (a bench warm-up, a local verify sweep) are
    // reused by the next JVM run from the same checkout — tmpdir does not
    // reliably survive between harness runs, and rebuilding every BPE/PQ/
    // postings layout cold is what pushed full Verify sweeps past their
    // wall-clock budget (r14/r15 empty driver artifacts). The per-user
    // tmpdir fallback covers a read-only working directory.
    val base = sys.env.getOrElse("SPARK_GRAFT_LAYOUT_DIR", {
      val cwd = new java.io.File(System.getProperty("user.dir"))
      if (cwd.isDirectory && cwd.canWrite)
        s"${cwd.getAbsolutePath}/.graft_layouts"
      else {
        val user = Option(System.getProperty("user.name")).getOrElse("anon")
          .replaceAll("[^A-Za-z0-9_-]", "_")
        s"${System.getProperty("java.io.tmpdir")}/graft_layout_$user"
      }
    })
    val dsKey = md5hex(s"$d|$salt")
    val genName = s"${dsKey}_${md5hex(fp)}"
    val target = s"$base/$genName"
    val hTarget = new org.apache.hadoop.fs.Path(target)
    val fs = hTarget.getFileSystem(conf)
    // in-JVM get-or-build dedupe: concurrent threads (parallel Verify
    // dumps) wanting the same layout serialize here, so exactly one
    // builds and the rest read it back — the atomic-rename publish below
    // still guards the cross-JVM race, this lock just stops same-JVM
    // threads from paying duplicate builds that one of them discards.
    layoutBuildLocks.computeIfAbsent(target, _ => new Object).synchronized {
    if (!fs.exists(hTarget)) {
      val staging = s"$target.stage.${s.sparkContext.applicationId}" +
        s".${java.util.UUID.randomUUID.toString.take(8)}"
      val hStaging = new org.apache.hadoop.fs.Path(staging)
      build(Catalog(s, staging))
      // atomic publish. Losing a race is detected by RE-CHECKING the
      // target, not by rename's return value: LocalFileSystem's rename
      // falls back to FileUtil.copy when the target exists, which
      // "succeeds" by copying the staging dir INSIDE the published
      // layout. So: rename only if the target is still absent, then
      // unconditionally clear the staging path and any stray nested
      // copy a fallback might have left.
      if (fs.exists(hTarget) || !fs.rename(hStaging, hTarget)) {
        fs.delete(hStaging, true)
        val stray = new org.apache.hadoop.fs.Path(hTarget, hStaging.getName)
        if (fs.exists(stray)) fs.delete(stray, true)
      }
      // prune stale generations: same dataset+salt, older fingerprint.
      // Safe to delete — a different fingerprint means the SOURCE at
      // this path was regenerated, so nothing current reads them.
      fs.listStatus(new org.apache.hadoop.fs.Path(base))
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.startsWith(s"${dsKey}_") && n != genName && !n.contains(".stage.")
        }
        .foreach(fs.delete(_, true))
    }
    }
    target
  }

  private val layoutBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def zorderLayoutDir(s: SparkSession, d: String,
      ev: DataFrame): String =
    layoutDir(s, d, "events", s"zorder|v$ZOrderLayoutVersion") { cat =>
      cat.writeZOrdered("ev_z", ev, "user_id", "value", nFiles = 16)
    }

  /** Train-once k-means quantizer, published as a persisted `cent`
    * table behind [[layoutDir]]'s fingerprint + atomic-rename contract:
    * the Lloyd's rounds run exactly once per dataset generation; every
    * later session/rep reads the k-row centroid table back (the
    * production contract of [[graft.ops.VectorOps.writePqIndex]] —
    * you never retrain a quantizer per query). The fingerprint folds
    * in the embeddings source metadata, so a regenerated dataset
    * retrains instead of serving stale centroids; k and iters are in
    * the salt, so operating points never collide. */
  private def trainedCentroidDir(s: SparkSession, d: String,
      initK: Int, iters: Int): String =
    layoutDir(s, d, "embeddings", s"kmeans|k$initK|i$iters|v1") { cat =>
      val cent = graft.ops.VectorOps.kmeansTrain(embs(s, d),
        initK = initK, iters = iters)
      cat.create("cent", cent.schema)
      cat.append("cent", cent)
    }

  /** Train-once AUTO-K (k ~ √n, [[graft.ops.VectorOps.kmeansTrainAuto]])
    * centroids behind the same fingerprint + atomic-rename contract —
    * the persisted production form of [[graft.ops.CorpusOps
    * .fusedDedup]]'s default quantizer (x75 reads it; the oracle
    * re-derives k from count(*) and replays the training, so the
    * stored table is hash-verified every run). k is data-derived, so a
    * regenerated dataset retrains at ITS √n automatically. */
  private def autoCentroidDir(s: SparkSession, d: String): String =
    layoutDir(s, d, "embeddings", s"kmeans-auto|i$X48Iters|v1") { cat =>
      val cent = graft.ops.VectorOps.kmeansTrainAuto(embs(s, d),
        iters = X48Iters)
      cat.create("cent", cent.schema)
      cat.append("cent", cent)
    }

  /** The shared train-once coarse quantizer (k, X48Iters) — every ANN/
    * dedup query that used to run Lloyd's in-query reads this ONE
    * persisted layout instead (the x101 recipe): training runs once per
    * dataset generation, deterministic, so every consumer sees
    * digit-identical centroids and all oracles keep replaying the same
    * unrolled rounds. */
  private def cachedCentroids(s: SparkSession, d: String,
      initK: Int): DataFrame =
    Catalog(s, trainedCentroidDir(s, d, initK, X48Iters)).table("cent")

  /** Train-once PQ codebooks, same contract: `salt` names the operating
    * point (raw vs coarse-residual subvectors); the builder runs once
    * per dataset generation behind layoutDir's fingerprint +
    * atomic-rename publish. The training-iteration constant is folded
    * into the cache key exactly as [[trainedCentroidDir]] folds it —
    * bumping X48Iters must retrain, never serve a stale codebook whose
    * source fingerprint still matches. */
  private def pqCodebookDir(s: SparkSession, d: String, salt: String)(
      train: => DataFrame): String =
    layoutDir(s, d, "embeddings", s"pqcb|$salt|i$X48Iters|v1") { cat =>
      val c = train
      cat.create("cents", c.schema)
      cat.append("cents", c)
    }

  private def pqRawDir(s: SparkSession, d: String): String =
    pqCodebookDir(s, d, "raw-m4k8")(
      graft.ops.VectorOps.pqTrain(embs(s, d), m = 4, ksub = 8,
        iters = X48Iters))

  private def cachedPqRaw(s: SparkSession, d: String): DataFrame =
    Catalog(s, pqRawDir(s, d)).table("cents")

  /** Test hooks for the train-once determinism contract
    * (LayoutDeterminismSpec): the 13 ANN/dedup consumers of the
    * persisted quantizer layouts rest on retraining being
    * DETERMINISTIC — delete a layout generation, rebuild, and every
    * artifact must come back value-identical (float-bit-identical).
    * These expose the get-or-build dir paths so a spec can exercise
    * exactly that cycle against the real publish path. */
  private[graft] def centroidLayoutDirForTest(s: SparkSession, d: String,
      initK: Int): String = trainedCentroidDir(s, d, initK, X48Iters)
  private[graft] def pqRawLayoutDirForTest(s: SparkSession,
      d: String): String = pqRawDir(s, d)
  private[graft] def pqResidLayoutDirForTest(s: SparkSession,
      d: String): String = pqResidDir(s, d)

  private def pqResidDir(s: SparkSession, d: String): String =
    pqCodebookDir(s, d, "resid16-m4k8")(
      graft.ops.VectorOps.pqTrain(
        graft.ops.VectorOps.pqResiduals(embs(s, d),
          cachedCentroids(s, d, 16)),
        m = 4, ksub = 8, iters = X48Iters, vecCol = "resid"))

  private def cachedPqResid(s: SparkSession, d: String): DataFrame =
    Catalog(s, pqResidDir(s, d)).table("cents")

  /** Z-ordered layout round-trip: ingest events clustered by the Morton
    * interleave of (user_id, value) ([[graft.catalog.Catalog
    * .writeZOrdered]]), then answer a two-dimensional box query from the
    * clustered copy. The layout is built once per dataset behind an
    * exists-check and published by atomic rename
    * ([[zorderLayoutDir]]) — the query itself is read-only, so bench
    * reps measure the SCAN, not the write, and concurrent sessions are
    * safe. The oracle checks CONTENT (the box result must
    * equal the same filter over the raw table — clustering must never
    * change answers); the data-skipping property the layout exists for
    * (row-group pruning on BOTH box dimensions, where a single-column
    * sort prunes one) is metric-asserted in ZOrderSpec. At 100 TB this
    * is the scan-a-tile-not-a-stripe layout for telemetry/feature
    * tables filtered on several numeric ranges at once. */
  private val x45_zorder_scan: QFn = (s, d) => {
    val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
    val zcat = Catalog(s, zorderLayoutDir(s, d, ev))
    // box bounds derived from exact min/max aggregates — the oracle
    // recomputes the identical IEEE arithmetic from the same table
    val r = ev.agg(min(col("value")), max(col("value")),
      min(col("user_id")), max(col("user_id"))).head
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val (ulo, uhi) = (r.getLong(2), r.getLong(3))
    zcat.table("ev_z")
      .filter(col("value") >= lit(lo + (hi - lo) * 0.45) &&
        col("value") < lit(lo + (hi - lo) * 0.55) &&
        col("user_id") >= lit(ulo + (uhi - ulo) / 4) &&
        col("user_id") < lit(ulo + (uhi - ulo) / 2))
  }

  /** 3-dimensional z-ordered layout round-trip — x45's n-ary upgrade:
    * events clustered by the Morton interleave of (user_id, value, ts)
    * via [[graft.catalog.Catalog.writeZOrderedN]], with `value` mapped
    * through QUANTILE cells (the skewed-dimension path — rank cells are
    * layout-only, so any approxQuantile wobble can shift file
    * boundaries but never answers). The oracle checks CONTENT: the
    * 3-dim box from the clustered copy must equal the same box over the
    * raw table. Skipping on all three dims (vs every single-column
    * sort) is metric-asserted in ZOrderSpec; at 100 TB this is the
    * telemetry-table layout for queries that band time AND key AND
    * measure at once. Built once per dataset, atomic-rename publish,
    * read-only query ([[layoutDir]]). */
  private val x49_zorder3_scan: QFn = (s, d) => {
    val ev = events(s, d)
      .select(col("event_id"), col("user_id"), col("value"), col("ts"))
    // shares ZOrderLayoutVersion with x45: writeZOrdered/writeZOrderedN
    // evolve together, so a recipe-change bump must invalidate BOTH
    // cached layouts, not just x45's
    val dir3 = layoutDir(s, d, "events",
        s"zorder3|v$ZOrderLayoutVersion") { cat =>
      cat.writeZOrderedN("ev_z3", ev, Seq("user_id", "value", "ts"),
        nFiles = 64, rankCols = Set("value"))
    }
    // bounds from exact min/max aggregates; long dims use pure integer
    // arithmetic and the double dim one mul+add — the oracle recomputes
    // the identical IEEE/integer expressions from the same table. Time
    // works in MICROSECONDS (ts div 1000, = DuckDB epoch_us): the
    // engine-side ts is normalized epoch-ns ([[events]]) while the
    // oracle reads the native timestamp, so µs is the shared exact
    // precision. The filter still hits the LAYOUT's ns column (µs bound
    // × 1000 selects the identical rows since floor(ts/1000) >= b ⟺
    // ts >= b*1000) — and the layout's ts is a plain long, so parquet
    // footer pushdown on all three dims stays intact (PlanAuditSpec).
    val r = ev.agg(min(col("value")), max(col("value")),
      min(col("user_id")), max(col("user_id")),
      min(expr("ts div 1000")), max(expr("ts div 1000"))).head
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val (ulo, uhi) = (r.getLong(2), r.getLong(3))
    val (tlo, thi) = (r.getLong(4), r.getLong(5))
    Catalog(s, dir3).table("ev_z3")
      .filter(col("value") >= lit(lo + (hi - lo) * 0.3) &&
        col("value") < lit(lo + (hi - lo) * 0.45) &&
        col("user_id") >= lit(ulo + (uhi - ulo) / 4) &&
        col("user_id") < lit(ulo + (uhi - ulo) / 2) &&
        col("ts") >= lit((tlo + (thi - tlo) / 4) * 1000L) &&
        col("ts") < lit((tlo + (thi - tlo) / 2) * 1000L))
      .select(col("event_id"), col("user_id"), col("value"),
        expr("ts div 1000").as("ts_us"))
  }

  /** Incremental near-dedup against a PERSISTED signature index — the
    * daily-ingest form of x07/x33: the historical corpus (doc_id % 10
    * != 0) is signatured ONCE into two bucketed tables
    * ([[graft.ops.TextDedup.writeSignatureIndex]]: exploded LSH bucket
    * keys bucketed BY key, shingle sets bucketed by id), and the
    * incoming batch (doc_id % 10 == 0) probes it
    * ([[graft.ops.TextDedup.dedupAgainstIndex]]) — band-key equi-join +
    * Jaccard verify, with the INDEX side of both joins shuffle-free
    * (bucketed on the join key; PlanAuditSpec pins it). Output: the
    * keep/drop decision (in_id, canonical_id, n_matches).
    *
    * 100 TB story: this is how near-dedup actually runs in production —
    * the history is hashed once per corpus generation (build cost
    * amortized over every later batch), and per-batch cost scales with
    * the batch. Like x45/x49, the index is built at most once per
    * dataset generation behind [[layoutDir]]'s atomic publish, so bench
    * reps measure the PROBE (the recurring cost), not the build. */
  private val x50_index_dedup: QFn = (s, d) => {
    val idxDir = layoutDir(s, d, "documents", "sigindex|v2") { cat =>
      graft.ops.TextDedup.writeSignatureIndex(cat, "hist",
        docsR(s, d).filter(col("doc_id") % 10 =!= 0),
        shingleK = ShingleK, numHashes = NumHashes, bands = 4, buckets = 16)
    }
    graft.ops.TextDedup.indexDedupDecision(
      graft.ops.TextDedup.dedupAgainstIndex(Catalog(s, idxDir), "hist",
        docsR(s, d).filter(col("doc_id") % 10 === 0),
        shingleK = ShingleK, numHashes = NumHashes, bands = 4,
        threshold = 0.8))
  }

  /** Quality-aware cluster dedup decision — the production form of
    * x41: dup clusters from x07's verified pair graph
    * ([[graft.ops.GraphOps.connectedComponents]]), but the kept
    * canonical is the highest-QUALITY member (here: longest by
    * n_chars, ties min id) instead of the min id
    * ([[graft.ops.CorpusOps.clusterDedupDecisionBy]]) — when 17 crawls
    * of one article survive to a cluster, a pipeline keeps the best
    * extraction, not the smallest id. Same plan shape as x41 plus one
    * equi-join to the quality column and a per-cluster (never
    * corpus-wide) window. */
  private val x52_quality_canonical: QFn = (s, d) => {
    val pairs = graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
      shingleK = ShingleK, numHashes = NumHashes, bands = 4, threshold = 0.8)
    graft.ops.CorpusOps.clusterDedupDecisionBy(
      graft.ops.GraphOps.connectedComponents(pairs),
      docs(s, d).select(col("doc_id"), col("n_chars")),
      scoreCol = "n_chars")
  }

  /** Corpus-trained unigram LM quality score ([[graft.ops.CorpusOps
    * .lmScore]]) — the CCNet-family LM filter: token log-probability
    * under the corpus's own unigram distribution (add-one smoothing),
    * averaged per document. One vocab-sized count table, one scoring
    * join on the word key, decimal-exact summation so even this
    * float-heavy score is hash-checked against the oracle (per-word
    * log-prob rounded to 6 decimals, summed as DECIMAL — order
    * independent). */
  private val x51_lm_score: QFn = (s, d) =>
    graft.ops.CorpusOps.lmScore(docsR(s, d))

  /** Tumbling 1-hour window aggregation over the event stream (batch
    * form; the streaming form with watermark lives in graft.streaming).
    * `ts` surfaces as epoch-ns long (normalized in [[events]] whatever
    * the parquet encoding) — bucket via integer div. Values are
    * quantized ONCE to micro-units per row (the x99/ExactMath grid);
    * the window sums are then exact integer sums — order-independent
    * and engine-portable, unlike the r12 raw-double sum whose last-ulp
    * fold-order drift flipped one round(·,2) boundary at sf0.1 (the
    * documented "x15 one sum" mismatch, now structurally gone).
    * sum_value_c is in cents (1e-2 units), avg_value_q in 1e-4. */
  private val x15_events_window: QFn = (s, d) => {
    val EM = graft.functions.ExactMath
    events(s, d)
      .selectExpr("ts div 3600000000000 AS hour_bucket", "event_type",
        "CAST(round(value * 1000000) AS BIGINT) AS value_q")
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n"),
        EM.divHalfUp(sum(col("value_q")), lit(10000L)).as("sum_value_c"),
        EM.divHalfUp(sum(col("value_q")), count(lit(1)) * lit(100L))
          .as("avg_value_q"))
  }

  /** Sessionization: 30-minute inactivity gap, per-user session count —
    * the batch (window-lag) form of mapGroupsWithState sessionization. */
  private val x16_sessionize: QFn = (s, d) => {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byTime))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") - col("prev_ts") > 1800000000000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
  }

  // ------------------------------------------------------------------- mvcc

  /** MVCC snapshot over a log-table built deterministically from
    * `orders`: txn1 = base upserts, txn2 = price update on keys %10=0,
    * txn3 = tombstone keys %7=0, txn4 = *uncommitted* update (%3=0,
    * excluded — no commit marker). Snapshot at txn 3 via
    * [[LogTable.snapshot]] (newest committed version per rid, tombstones
    * drop rows) — the reference's table_scan visibility as a window. */
  private val x17_mvcc_snapshot: QFn = (s, d) => {
    val o = Catalog(s, d).table("orders")
      .select(col("o_orderkey").as("rid"), col("o_totalprice").as("price"))
    val base = LogTable.upserts(o, 1L, col("rid"))
    val upd = LogTable.upserts(
      o.filter(col("rid") % 10 === 0)
        .withColumn("price", col("price") + 1000.0),
      2L, col("rid"))
    val del = LogTable.deletes(o.filter(col("rid") % 7 === 0), 3L, col("rid"))
    val uncommitted = LogTable.upserts(
      o.filter(col("rid") % 3 === 0).withColumn("price", col("price") * 2.0),
      4L, col("rid"))
    val log = base.unionByName(upd)
      .unionByName(del, allowMissingColumns = true)
      .unionByName(uncommitted)
      .unionByName(LogTable.commitMarker(s, 1L), allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(s, 2L), allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(s, 3L), allowMissingColumns = true)
    LogTable.snapshot(log, asOf = 3L)
      .select(col("rid"), round(col("price"), 2).as("price"))
  }

  /** DSIR importance weights ([[graft.ops.CorpusOps.dsirWeights]],
    * Xie et al. NeurIPS 2023) — target-domain data selection: target =
    * the src0/src1 slice (stand-in for a curated reference set), pool
    * = everything else, source distribution = the pool itself. Every
    * pool doc gets its mean per-token log p̂_target − log p̂_pool; the
    * whole weight table — both trained unigram models, the smoothing,
    * the doc rollup — is hash-checked. Selection on top is
    * [[x84_dsir_select]]. */
  private val x83_dsir_weights: QFn = (s, d) => {
    val all = docsR(s, d)
    val inTarget = col("source").isin("src0", "src1")
    val pool = all.filter(!inTarget)
    graft.ops.CorpusOps.dsirWeights(pool,
      graft.ops.CorpusOps.unigramCounts(all.filter(inTarget)),
      graft.ops.CorpusOps.unigramCounts(pool))
  }

  /** DSIR SELECTION — the top-64 pool docs by [[x83_dsir_weights]]'s
    * log ratio (ties by doc_id): the deterministic top-k form of the
    * paper's importance resampling, i.e. the rows a target-domain
    * continued-pretraining run would actually take. Plans
    * TakeOrderedAndProject — per-partition top-k forwarded, the weight
    * table itself never globally sorts (PlanAuditSpec pins it). */
  private val x84_dsir_select: QFn = (s, d) =>
    x83_dsir_weights(s, d)
      .orderBy(col("log_ratio_q").desc, col("doc_id").asc)
      .limit(64)

  /** Token-budget mixture PLAN ([[graft.ops.CorpusOps.mixturePlan]]) —
    * the static per-language allocation table a training run is
    * configured from, at half the corpus's token mass under the α=0.5
    * temperature law: weight, allocated tokens, and the EPOCH factor
    * (epochs > 1 ⇒ the language repeats — the oversampling decision
    * x69's Bernoulli keep-rate form cannot express). Groups-sized
    * output; sqrt-quantized exact-decimal arithmetic end to end, so
    * the plan itself is hash-checked. */
  private val x85_mixture_plan: QFn = (s, d) =>
    graft.ops.CorpusOps.mixturePlan(docs(s, d),
      budgetFrac = new java.math.BigDecimal("0.5"))

  /** Classifier CALIBRATION report — the reliability table a gate
    * owner reads before trusting x72's scores as thresholds: held-out
    * predictions bucketed into per-predicted-label score terciles
    * (x57's window discipline — never corpus-wide), each bucket's doc
    * count, agreement count, and accuracy. A well-calibrated gate's
    * accuracy rises with the score bucket; a flat curve says the score
    * carries no signal and thresholding on it is noise. Train/score/
    * argmax reuse [[graft.ops.ClassifierOps]] verbatim (exact-decimal
    * scores ⇒ deterministic buckets). */
  private val x86_nb_calibration: QFn = (s, d) => {
    val all = docsR(s, d)
    val train = all.filter(col("doc_id") % 5 =!= 0)
    val test = all.filter(col("doc_id") % 5 === 0)
    val pred = graft.ops.ClassifierOps.nbScores(train, test)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("label"))).as("k"))
      .select(col("doc_id"), col("k.label").as("pred_label"),
        (-col("k.ns")).as("score"))
    val byScore = Window.partitionBy("pred_label")
      .orderBy(col("score").asc, col("doc_id").asc)
    pred.join(test.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("bucket", ntile(3).over(byScore).cast("long"))
      .groupBy(col("pred_label"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === col("pred_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("acc_q", graft.functions.ExactMath.divHalfUp(
        col("n_agree") * lit(10000L), col("n_docs")))
  }

  /** Contamination FRACTION ([[graft.ops.CorpusOps
    * .contaminationReport]]) — x37's decision upgraded to the GPT-3
    * appendix-C dirtiness metric: per contaminated training doc, the
    * fraction of its distinct 8-word shingles found anywhere in the
    * benchmark (the held-out 1/5, as x37), flagged at 20%. Numerator
    * and denominator fall out of ONE training-shingle aggregate, so
    * the fraction cannot mix tokenizations. */
  private val x87_contamination_frac: QFn = (s, d) => {
    val all = docsR(s, d)
    graft.ops.CorpusOps.contaminationReport(
      train = all.filter(col("doc_id") % 5 =!= 0),
      benchmark = all.filter(col("doc_id") % 5 === 0),
      shingleK = 8, flagFrac = 0.2)
  }

  /** Dedup threshold-sensitivity CURVE — the tuning report behind
    * every near-dup threshold choice (how many pairs and how many
    * dropped docs does each candidate threshold imply?): x07's
    * LSH-verified pairs generated ONCE at the loosest candidate
    * threshold (0.7 — banding is threshold-independent, only the
    * verify filter moves), then per threshold in {0.7, 0.8, 0.9} the
    * surviving pair count and the distinct docs the keep-min-id
    * decision (x33) would drop. One pair-generation pass feeds the
    * whole curve: the pairs frame is persisted and both rollups read
    * it — pair-grain, never corpus-grain. */
  private val x88_threshold_curve: QFn = (s, d) => {
    import s.implicits._
    val pairs = graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
      shingleK = ShingleK, numHashes = NumHashes, bands = 4, threshold = 0.7)
      .transform(graft.engine.Barrier.sharedGrain)
    val thresholds = Seq(0.7, 0.8, 0.9)
    val th = explode(array(thresholds.map(lit): _*)).as("threshold")
    // eager barrier on the thresholds-sized pair counts (r18 shared-
    // materialization shape): populates the pairs cache race-free for
    // the drop-count rollup
    val pairCnt = graft.engine.Barrier.lineageBarrier(
      pairs.select(col("jac"), th)
        .filter(col("jac") >= col("threshold"))
        .groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs")))
    val dropCnt = pairs.groupBy(col("b_id")).agg(max(col("jac")).as("mj"))
      .select(col("mj"), th)
      .filter(col("mj") >= col("threshold"))
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs_dropped"))
    // every candidate threshold gets a row even when NOTHING survives it
    // (plausible at 0.9 on a sparse corpus): left-join both rollups onto
    // the candidate list and zero-fill — an inner join would silently
    // drop the "this threshold kills everything" data point, the most
    // informative row on the curve
    thresholds.toDF("threshold")
      .join(pairCnt, Seq("threshold"), "left")
      .join(dropCnt, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
  }

  /** DSIR importance RESAMPLING — the paper's actual selector (Xie et
    * al. NeurIPS 2023 §2: sample k docs WITHOUT replacement with
    * probability ∝ exp(log_ratio)), where [[x84_dsir_select]] is the
    * deterministic top-k simplification. Realized as Gumbel-top-k,
    * which is EXACTLY Efraimidis–Spirakis sampling with weight
    * exp(log_ratio) but never evaluates exp: rank key = log_ratio +
    * Gumbel(0,1) noise g = −ln(−ln(u)), u hash-derived per doc (x73's
    * reproducible-u recipe; exp is not correctly rounded IEEE, so
    * avoiding it is what keeps the key digit-identical across
    * engines). Both addends are integer-quantized (the ExactMath
    * grid: gkey once at 1e-6, log_ratio_q rescaled to match), the rank
    * key is ONE exact integer add, ties break by doc_id — the draw is
    * a pure function of (doc_id, salt, corpus) and fully hash-checked.
    *
    * 100 TB shape: x83's weight pass plus a map-side key column and a
    * TakeOrderedAndProject — per-partition top-64 forwarded, no
    * global sort, nothing corpus-sized moves. */
  private val x89_dsir_resample: QFn = (s, d) => {
    val m = 1048576L
    val u = (TF.hash60(col("doc_id").cast("string"), "dsir|") % m + 1)
      .cast("double") / (m + 1).toDouble
    x83_dsir_weights(s, d)
      // gkey on the 1e-6 grid (one quantization of the identical
      // double), log_ratio_q rescaled 1e-4→1e-6: the rank key is then
      // ONE exact integer add — no IEEE op, no −0.0 repr hazard
      .withColumn("gkey_q", graft.functions.ExactMath.microQ(
        -log(-log(u))))
      .withColumn("skey_q", col("log_ratio_q") * lit(100L) + col("gkey_q"))
      .orderBy(col("skey_q").desc, col("doc_id").asc)
      .limit(64)
  }

  /** Gopher rule-based quality gate ([[graft.ops.CorpusOps
    * .gopherRules]], Rae et al. 2021 A1.1) — the hand-written filter
    * that runs BEFORE any trained classifier in every major
    * pretraining corpus: per doc, the rule signals (word count, mean
    * word length, symbol ratio, alpha fraction, distinct stopwords)
    * and the composite keep decision, all quantized so the whole rule
    * table — not just the keep bit — is hash-checked. Complements
    * x02 (continuous quality score) and x72 (trained gate): this is
    * the interpretable threshold tier of the same stack. Plan: one
    * scan, map-only — no shuffle at any corpus size. */
  private val x90_gopher_rules: QFn = (s, d) =>
    graft.ops.CorpusOps.gopherRules(docsR(s, d))

  /** Mixture plan MATERIALIZED ([[graft.ops.CorpusOps
    * .mixtureMaterialize]]) — x85's allocation turned into the per-doc
    * COPY counts a data loader actually consumes: whole epochs repeat
    * every doc of the group, the remainder budget fills greedily in
    * deterministic hash order. No RNG anywhere, so the copy table is
    * hash-checked end to end (allocation arithmetic + greedy boundary
    * per group). Plan: one persisted tokenize pass, a two-level
    * per-group prefix sum (no task ever windows a whole group), plan
    * and block-offset tables broadcast. */
  private val x91_mixture_materialize: QFn = (s, d) =>
    graft.ops.CorpusOps.mixtureMaterialize(docs(s, d),
      budgetFrac = new java.math.BigDecimal("0.5"))

  /** CCNet-style boilerplate excision ([[graft.ops.CorpusOps
    * .boilerplateExcise]], Wenzek et al. LREC 2020 §4.1) — blocks
    * recurring in ≥ 3 distinct docs are chrome and removed from EVERY
    * doc (x60 keeps a canonical first occurrence; boilerplate has
    * none). Hash-checked end-to-end: the oracle rebuilds the excised
    * TEXT. Block df measured at all fixture SFs (max df 4/3 at
    * sf0.001/sf0.01) — the ≥3 gate is non-degenerate everywhere. */
  private val x92_boilerplate: QFn = (s, d) =>
    graft.ops.CorpusOps.boilerplateExcise(docsR(s, d))

  /** Shingle-grain novelty ([[graft.ops.CorpusOps.noveltyScore]]) —
    * fraction of a doc's distinct 3-shingles it introduced (min
    * doc_id attribution). Exact dups of earlier docs score 0. Same
    * ShingleK as the x07 dedup family, so "novel" and "near-dup" are
    * measured on the same unit. */
  private val x93_novelty: QFn = (s, d) =>
    // plain docs: noveltyScore rebalances its shingle branch itself,
    // so the id-only zero-fill branch reads the pruned parquet scan
    graft.ops.CorpusOps.noveltyScore(docs(s, d))

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    * SIGIR 2009) — the RAG-stack workhorse: for each query doc
    * (doc_id < 3; the fixture's embeddings are row-aligned with
    * documents, standing in for the doc's embedding column), rank
    * candidates LEXICALLY (BM25 retrieval: sum over the query's terms
    * of x42's per-term weight — each term quantized once to BIGINT
    * micro-units and summed exactly, so the ranking is
    * engine-identical) and
    * SEMANTICALLY (cosine over the embedding, x12's exact form), take
    * each modality's top-20, and fuse: rrf = Σ 1/(60+rank), absent
    * modality contributing 0 — k=60 per the paper. Output: top-10 per
    * query with both ranks (NULL where one modality missed) and the
    * fused score.
    *
    * 100 TB shape (r14, inverted-probe): the query vocabulary (3 docs,
    * filter pushed to the scan) is broadcast INTO the corpus tokenize,
    * so the only corpus-grain shuffle is the query-vocab-bounded
    * posting/length grain — BM25 never scores a (doc, word) pair that
    * can't reach a ranking, which is what probing a real inverted
    * index (x55's postings layout) would do; dl/avgdl/n_docs fall out
    * of the same collapsed grain, and df/corpus scalars ride
    * broadcasts. r13 scored EVERY (doc, word) pair through a
    * checkpointed full-tf table — correct, but its pinned block set
    * grew with the corpus (the 5.30 s r13 suite-sweep anomaly); the
    * collapsed grain keeps the one materialized frame query-sized at
    * any corpus scale. Both per-(query, modality) top-20s and the
    * final top-10 plan WindowGroupLimit — map tasks forward ≤ k rows
    * per query, never the corpus (PlanAuditSpec pins it). The fusion
    * join is equi on (q_id, doc_id) over ≤ 20-row-per-query frames. */
  private val x94_hybrid_rrf: QFn = (s, d) => {
    val dd = docsR(s, d)
    // INVERTED-PROBE shape (r14): BM25 only ever SCORES (candidate,
    // word) pairs whose word occurs in a query doc — so the query
    // vocabulary is extracted first (tiny: 3 docs, filter pushed to
    // the scan) and broadcast INTO the corpus tokenize, slashing the
    // (doc, word) shuffle from full-corpus tf grain to the posting
    // lists of the query terms. r13 scored every (doc, word) pair and
    // needed a checkpointed full tf (5.30 s in the r13 suite sweep);
    // this is the plan an inverted index would give — nothing scored
    // that can't reach a ranking. dfreq for the probed words falls out
    // of the postings themselves (rows per word = docs containing it),
    // and dl/avgdl/n_docs come from a MAP-ONLY token-count pass (dl =
    // Σ tf over a doc's words = its token count — no shuffle).
    val qterms = dd.filter(col("doc_id") < 3)
      .select(col("doc_id").as("q_id"),
        explode(TF.words(col("text"))).as("word"))
      .distinct()
    val qwords = qterms.select(col("word")).distinct()
    // ONE corpus tokenize pass serves BOTH posting lists and document
    // lengths: every non-query word collapses onto a per-doc NULL
    // sentinel grain (a real token is never null, so no collision),
    // which shrinks the shuffle to (#query-words-in-doc + 1) rows per
    // doc; dl = Σ counts over a doc's grains (tf-grain token count, so
    // zero-word docs are absent from n_docs/avgdl exactly as in the
    // oracle's definition). grains feeds four consumers (postings, dl,
    // dfreq, the probe) whose pruning-specialized scans would each
    // re-tokenize the corpus — materialize it ONCE. Unlike r13's
    // full-tf checkpoint (every (doc, word) pair — the 5.30 s suite
    // blowup), the collapsed grain is query-vocab-bounded: the
    // checkpointed block set is tiny at any corpus size.
    val grains = dd
      .select(col("doc_id"), explode(TF.words(col("text"))).as("word"))
      .join(broadcast(qwords.withColumn("hit", lit(1))),
        Seq("word"), "left")
      .groupBy(col("doc_id"),
        when(col("hit").isNotNull, col("word")).as("w"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.engine.Barrier.lineageBarrier)
    val postings = grains.filter(col("w").isNotNull)
      .select(col("doc_id"), col("w").as("word"), col("c").as("tf"))
    val dl = grains.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("dl"))
    val dfreq = postings.groupBy(col("word"))
      .agg(count(lit(1)).as("dfreq"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5)))
    val norm = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val term = postings.join(dl, Seq("doc_id"))
      .join(broadcast(dfreq), Seq("word"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("word"),
        graft.functions.ExactMath.microQ(idf * norm).as("t_q"))
    val wt = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    val tr = broadcast(qterms).join(term, Seq("word"))
      .filter(col("q_id") =!= col("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("t_q")).as("score"))
      .withColumn("r_text", row_number().over(wt).cast("long"))
      .filter(col("r_text") <= 20)
      .select(col("q_id"), col("doc_id"), col("r_text"))
    val e = embs(s, d)
    val qv = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_e"))
    val wv = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("doc_id").asc)
    val vr = qv.crossJoin(
        e.select(col("vec_id").as("doc_id"), col("embedding").as("n_e")))
      .filter(col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id"),
        graft.functions.ExactMath.microQ(
          VF.cosineFast(col("q_e"), col("n_e"))).as("cos"))
      .withColumn("r_vec", row_number().over(wv).cast("long"))
      .filter(col("r_vec") <= 20)
      .select(col("q_id"), col("doc_id"), col("r_vec"))
    val wf = Window.partitionBy("q_id")
      .orderBy(col("rrf_q").desc, col("doc_id").asc)
    val EMx = graft.functions.ExactMath
    tr.join(vr, Seq("q_id", "doc_id"), "full_outer")
      // rrf = 1/(60+rt) + 1/(60+rv) is an exact rational of small
      // integers — half-up onto the 1e-6 grid with no IEEE op at all
      .withColumn("rrf_q",
        when(col("r_text").isNotNull && col("r_vec").isNotNull,
          EMx.divHalfUp(
            lit(1000000L) * (lit(120L) + col("r_text") + col("r_vec")),
            (lit(60L) + col("r_text")) * (lit(60L) + col("r_vec"))))
          .when(col("r_text").isNotNull,
            EMx.divHalfUp(lit(1000000L), lit(60L) + col("r_text")))
          .otherwise(
            EMx.divHalfUp(lit(1000000L), lit(60L) + col("r_vec"))))
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("doc_id"), col("r_text"), col("r_vec"),
        col("rrf_q"))
  }

  /** Iteration count for the x95 power method — one constant feeds the
    * Spark iteration AND the generated unrolled-CTE oracle (the
    * x48/x62 pattern), so query and oracle can't drift on rounds. */
  private val X95Iters = 8

  /** Distributed PCA: dominant principal component
    * ([[graft.ops.VectorOps.pcaPower]]) — exact-decimal Gram matrix
    * (one distributed corpus pass, d²-key partial agg) + 8 power-method
    * rounds replayed as an exact driver constant-fold over the
    * d²-bounded matrix (the `RowMatrix.computePrincipalComponents`
    * split). The whole loading vector AND the eigenvalue estimate are
    * hash-checked: the oracle replays the identical 8 rounds as an
    * unrolled CTE chain over the same quantized decimals. */
  private val x95_pca_power: QFn = (s, d) =>
    graft.ops.VectorOps.pcaPower(embsR(s, d), iters = X95Iters)

  /** Quality-signal AGREEMENT report — the audit a pipeline owner runs
    * before trusting any one gate: Pearson correlation between the
    * three independent quality tiers (x02's continuous score, x90's
    * Gopher rule keep bit, x93's novelty fraction), pairwise over the
    * corpus. Signals that should agree and don't (or agree so highly
    * one is redundant) are the finding. Exact arithmetic end to end:
    * each signal is on its 1e-4 grid (cast DECIMAL(18,4)), all ten
    * sufficient statistics (n, Σx, Σx², Σxy per pair) are EXACT
    * decimal sums — so the correlations are pure functions of the
    * data, engine- and partitioning-identical; only the final ratio
    * passes through doubles (round 4, −0.0-guarded).
    *
    * 100 TB shape: three map-side signal passes (novelty adds its
    * shingle groupBy) joined at doc grain, then ONE global partial
    * aggregate collapsing to a single statistics row — the 3-row
    * report explodes from that. No window, no skew, nothing
    * corpus-sized after the joins. */
  private val x97_signal_corr: QFn = (s, d) => {
    val dd = docsR(s, d)
    // checkpoint barriers on the three signal frames: the explicit
    // q/v null-filter below otherwise pushes past the joins AND the
    // rebalance exchange with the full qualityQ expression substituted
    // — the whole stopword/regexp/token scoring re-ran serially on the
    // single scan split just to evaluate isnotnull (r17 profile: a
    // 0.9 s single-task stage). Past the barrier the filter reads the
    // materialized column.
    val q = dd.select(col("doc_id"),
      (qualityQ * lit(new java.math.BigDecimal("0.0001")))
        .cast("decimal(18,4)").as("q")).transform(graft.engine.Barrier.pushdownBarrier)
    val g = graft.ops.CorpusOps.gopherRules(dd)
      .select(col("doc_id"), col("keep").cast("decimal(18,4)").as("g"))
      .transform(graft.engine.Barrier.pushdownBarrier)
    val nv = graft.ops.CorpusOps.noveltyScore(dd)
      .select(col("doc_id"), col("novel_frac").cast("decimal(18,4)").as("v"))
      .transform(graft.engine.Barrier.pushdownBarrier)
    val j = q.join(g, Seq("doc_id")).join(nv, Seq("doc_id"))
      .filter(col("q").isNotNull && col("v").isNotNull)
    // sufficient statistics: every sum exact decimal; the (14,4)/(18,8)
    // downcasts keep all later products inside DECIMAL(38) EXACTLY
    // (bounds: signals ∈ [0,1], n ≤ 10^10)
    val agg = j.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("q")).cast("decimal(14,4)").as("sq"),
      sum(col("q") * col("q")).cast("decimal(18,8)").as("sqq"),
      sum(col("g")).cast("decimal(14,4)").as("sg"),
      sum(col("g") * col("g")).cast("decimal(18,8)").as("sgg"),
      sum(col("v")).cast("decimal(14,4)").as("sv"),
      sum(col("v") * col("v")).cast("decimal(18,8)").as("svv"),
      sum(col("q") * col("g")).cast("decimal(18,8)").as("sqg"),
      sum(col("q") * col("v")).cast("decimal(18,8)").as("sqv"),
      sum(col("g") * col("v")).cast("decimal(18,8)").as("sgv"))
      .withColumn("n10", col("n").cast("decimal(10,0)"))
    def r(sxy: Column, sx: Column, sxx: Column,
        sy: Column, syy: Column): Column =
      round((col("n10") * sxy - sx * sy).cast("double") /
        sqrt((col("n10") * sxx - sx * sx).cast("double") *
          (col("n10") * syy - sy * sy).cast("double")), 4) + lit(0.0)
    agg.select(col("n"),
      r(col("sqg"), col("sq"), col("sqq"), col("sg"), col("sgg")).as("r_qg"),
      r(col("sqv"), col("sq"), col("sqq"), col("sv"), col("svv")).as("r_qv"),
      r(col("sgv"), col("sg"), col("sgg"), col("sv"), col("svv")).as("r_gv"))
      .select(col("n"), explode(array(
        struct(lit("quality~gopher").as("pair"), col("r_qg").as("r")),
        struct(lit("quality~novelty").as("pair"), col("r_qv").as("r")),
        struct(lit("gopher~novelty").as("pair"), col("r_gv").as("r"))))
        .as("p"))
      .select(col("p.pair").as("pair"), col("n"), col("p.r").as("r"))
  }

  /** PCA projection ([[graft.ops.VectorOps.pcaProject]]) — x95's
    * trained component applied back to every embedding: the 1-d
    * whitening / curriculum-key feature. Train-and-apply in one query
    * (two corpus passes by construction: the gram pass and the
    * projection pass; the d-row component rides a broadcast between
    * them). Exact per-term decimal sums ⇒ the full score column
    * hash-checks. */
  private val x96_pca_project: QFn = (s, d) => {
    val e = embsR(s, d)
    graft.ops.VectorOps.pcaProject(e,
      graft.ops.VectorOps.pcaPower(e, iters = X95Iters))
  }

  // DoReMi MWU chain length + rates — ONE set of constants generates the
  // Spark fold AND the oracle's CTE chain (the X48Iters discipline), so
  // query and oracle cannot drift on the step count or the literals.
  private val X98Steps = 4
  private val X98Eta = "0.5"
  private val X98Smooth = "0.2"

  /** DoReMi-style domain reweighting ([[graft.ops.CorpusOps
    * .doremiWeights]], Xie et al. arXiv 2305.10429): per-domain excess
    * held-out loss under the x74 reference LM drives an unrolled
    * multiplicative-weights chain (4 steps on the BIGINT micro-unit
    * grid — the linearized (1+η·e) update, exp being non-portable
    * IEEE; every step exact integer multiply/divide-half-up), then
    * uniform smoothing. The full weight table — loss, excess, and the
    * final mixture weight per domain — is hash-checked against a DuckDB
    * replay of the same chain. Closes the mixture-design loop: x85
    * allocates a GIVEN weight law; x98 LEARNS the law from model loss. */
  private val x98_doremi: QFn = (s, d) => {
    val all = docsR(s, d)
    graft.ops.CorpusOps.doremiWeights(
      all.filter(col("doc_id") % 5 =!= 0),
      all.filter(col("doc_id") % 5 === 0),
      eta = new java.math.BigDecimal(X98Eta), steps = X98Steps,
      smooth = new java.math.BigDecimal(X98Smooth))
  }

  /** D4 prototypicality decision ([[graft.ops.VectorOps
    * .prototypicality]], Tirumala et al. arXiv 2308.12284): within each
    * trained k-means cell (the x48 trainer, identical Lloyd's rounds),
    * rank by centroid-cosine and drop the top 10% most prototypical —
    * the diversification pass D4 runs AFTER SemDeDup (x71 is the dedup
    * half; this is the other half). The cut is integer arithmetic
    * (⌈n/10⌉ via (n+9) div 10), the rank key is the integer-quantized
    * cq — the whole decision table hash-checks against the shared
    * unrolled-Lloyd's oracle CTEs. */
  private val x99_prototypical: QFn = (s, d) => {
    val e = embs(s, d)
    val cent = cachedCentroids(s, d, 16)
    graft.ops.VectorOps.prototypicality(
      graft.ops.VectorOps.ivfCellsScored(e, cent, nprobe = 1),
      dropNum = 1, dropDen = 10)
  }

  /** Margin-based mining ([[graft.ops.VectorOps.marginMine]], Artetxe &
    * Schwenk ACL 2019 — the LASER/CCMatrix criterion): even-id vectors
    * mine their best odd-id partner by RATIO MARGIN over in-cell
    * candidates of the trained assignment — cosine relative to both
    * sides' average top-4 neighborhood cosine, the score that suppresses
    * dense-hub false positives plain cosine (x11/x22) cannot. Margin
    * arithmetic is integer divide-half-up over exact micro-unit sums
    * (no IEEE division anywhere) — pairs, cosines, AND margins
    * hash-check against the shared unrolled-Lloyd's oracle. */
  private val x100_margin_mine: QFn = (s, d) => {
    val e = embs(s, d)
    val cent = cachedCentroids(s, d, 16)
    graft.ops.VectorOps.marginMine(
      graft.ops.VectorOps.ivfCells(e, cent, nprobe = 1),
      xSide = _ % 2 === 0, k = 4, minCos = 0.1, minMargin = 1.05,
      dedupProbes = false) // nprobe=1: a pair can't repeat across cells
  }

  /** x75's multi-signal fused dedup at the TRAINED k=64 operating point
    * — the same closure x81 gave x22: x75 deliberately keeps the
    * oracle-pinned fixed k=16 embedding edge generator (its ScaleCheck
    * rows show the quadratic fixture class, 4.9× at ×4), and its
    * docstring points here for the scale regime. This query IS that
    * regime, hash-checked: text edges unchanged (x07's banded LSH),
    * embedding edges from the TRAINED k=64 / nprobe=2 assignment (the
    * x81 trainer — identical Lloyd's rounds, 64-seed unrolled-CTE
    * oracle), same union → transitive closure → min-id decision. The
    * two queries' outputs may legitimately differ in edge RECALL (a
    * trained cell boundary splits what a fixture cell joined, and vice
    * versa) — each is exactly verified against its own assignment.
    *
    * The quantizer is TRAIN-ONCE: the k=64 Lloyd's rounds run inside
    * [[trainedCentroidDir]] exactly once per dataset generation and
    * publish a centroid table by atomic rename (the zorderLayoutDir
    * recipe); every later execution — bench reps, repeated dedup runs
    * over a growing corpus — reads the 64-row table back and pays only
    * the assignment + pair generation. That is the 100 TB operational
    * shape (you never retrain a production quantizer per query); the
    * oracle keeps its unrolled-CTE replay of the same rounds, so the
    * stored centroids stay hash-verified, not trusted. */
  private val x101_fused_trained: QFn = (s, d) => {
    val textPairs = graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
      shingleK = ShingleK, numHashes = NumHashes, bands = 4, threshold = 0.8)
      .select(col("a_id"), col("b_id"))
    val e = embs(s, d)
    val cent = cachedCentroids(s, d, 64)
    val embPairs = graft.ops.VectorOps
      .ivfPairs(graft.ops.VectorOps.ivfCells(e, cent, nprobe = 2),
        threshold = 0.45)
      .select(col("a_id"), col("b_id"))
    val edges = textPairs.unionByName(embPairs).distinct()
    graft.ops.CorpusOps.clusterDedupDecision(
      graft.ops.GraphOps.connectedComponents(edges))
  }

  /** Semantic decontamination ([[graft.ops.VectorOps
    * .semDecontaminate]]) — x37's benchmark gate in the EMBEDDING
    * space: training vectors cosine-≥ 0.35 to any held-out benchmark
    * vector (vec_id % 10 = 0, the fixture's held-out convention) are
    * flagged with hit counts and the max similarity. Completes the
    * decontamination tier: x37/x53/x87 catch verbatim/lexical leaks,
    * x102 catches paraphrased ones lexical shingles cannot see
    * (the published motivation for embedding-based contamination
    * checks). Plan is x37's scale shape verbatim: suite-sized
    * benchmark broadcast, ONE corpus scan, map-side exact cosines —
    * deliberately no ANN (n·|suite| beats building candidates when
    * one side is suite-sized); τ = 0.35 is x71's near-dup bar for
    * this near-orthogonal fixture. */
  private val x102_sem_decontaminate: QFn = (s, d) => {
    val e = embsR(s, d)
    graft.ops.VectorOps.semDecontaminate(
      e.filter(col("vec_id") % 10 =!= 0),
      e.filter(col("vec_id") % 10 === 0), threshold = 0.35)
  }

  /** Learned-mixture token allocation ([[graft.ops.CorpusOps
    * .mixturePlanWeighted]]) — x98's DoReMi weights feeding x85's
    * budget arithmetic: the full learn-the-law → spend-the-budget loop
    * as ONE declarative query (the x91 materializer consumes its
    * alloc_tokens unchanged). Plan side counts tokens over ALL
    * documents (one extra scan beyond x98's train/eval passes — a
    * different grain, not a redundant one); weight law and allocation
    * are both hash-checked via the shared x98 CTE chain. */
  private val x103_doremi_mixture: QFn = (s, d) => {
    val all = docsR(s, d)
    val w = graft.ops.CorpusOps.doremiWeights(
      all.filter(col("doc_id") % 5 =!= 0),
      all.filter(col("doc_id") % 5 === 0),
      eta = new java.math.BigDecimal(X98Eta), steps = X98Steps,
      smooth = new java.math.BigDecimal(X98Smooth))
      .select(col("lang"), col("weight_q"))
    graft.ops.CorpusOps.mixturePlanWeightedMicro(all, w,
      budgetFrac = new java.math.BigDecimal("0.5"))
  }

  /** Top-2 PCA via orthogonal iteration ([[graft.ops.VectorOps
    * .pcaPower2]]) — x95 extended to the second component: per-round
    * Gram–Schmidt against the quantized v₁ (the robust Hotelling
    * deflation), everything on the same exact-decimal rails. Component
    * 1 is x95's output verbatim (ExtensionsSpec pins equality); the
    * whole two-component table hash-checks against the unrolled
    * double-chain CTE oracle. Still ONE distributed gram pass. */
  private val x105_pca_top2: QFn = (s, d) =>
    graft.ops.VectorOps.pcaPower2(embsR(s, d), iters = X95Iters)

  /** Curriculum ordering — the loader artifact x96's doc promises: the
    * 1-d PCA projection as a difficulty proxy, quartile-cut into
    * curriculum STAGES, each stage hash-sharded and deterministically
    * ordered for the data loader (epochShuffle's recipe per stage).
    * The quartile cuts are ONE 1-row broadcast (the q27 exact
    * percentile recipe on the integer-quantized key) and bucket
    * assignment is a map-side comparison — deliberately NOT a
    * corpus-wide ntile: a global rank is a global sort, the cut
    * compare is one broadcast scan (the x57 audit's discipline taken
    * to the unpartitioned case). Ordering windows are keyed by
    * (stage, shard) — bounded partitions at any corpus size. Output:
    * (vec_id, stage 1-4, shard, pos). */
  private val x106_curriculum: QFn = (s, d) => {
    val e = embsR(s, d)
    val proj = graft.ops.VectorOps.pcaProject(e,
      graft.ops.VectorOps.pcaPower(e, iters = X95Iters))
    // proj_q is 1e-9 integer units; the 1e-6 percentile key is an
    // exact signed half-up rescale — no double anywhere
    val pk = proj.select(col("vec_id"),
      graft.functions.ExactMath.divHalfUpSigned(col("proj_q"), lit(1000L))
        .as("pk"))
    val cuts = broadcast(pk.agg(percentile(col("pk"),
      array(lit(0.25), lit(0.5), lit(0.75))).as("cs")))
    val h = TF.hash60(col("vec_id").cast("string"), "curr|")
    val staged = pk.crossJoin(cuts)
      .select(col("vec_id"), col("pk"),
        (lit(1L) +
          when(col("pk").cast("double") > element_at(col("cs"), 1), 1L)
            .otherwise(0L) +
          when(col("pk").cast("double") > element_at(col("cs"), 2), 1L)
            .otherwise(0L) +
          when(col("pk").cast("double") > element_at(col("cs"), 3), 1L)
            .otherwise(0L)).as("stage"),
        h.as("h"))
      .withColumn("shard", col("h") % 8)
    val w = Window.partitionBy("stage", "shard")
      .orderBy(col("h"), col("vec_id"))
    staged.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("vec_id"), col("stage"), col("shard"), col("pos"))
  }

  /** Per-language Zipf slope — the corpus-statistics sanity gauge:
    * natural language word frequencies follow rank^(−α) with α ≈ 1
    * (Zipf 1949); templated, synthetic, or heavily-duplicated text
    * bends the log-log line, so the fitted slope (and how far it sits
    * from −1) is a cheap corpus-health indicator next to the content
    * gates (x02/x90). Per language: words ranked by (count DESC, word)
    * — a LANG-keyed window over the vocab grain, never corpus-wide —
    * then the OLS slope of round(ln cnt,6) on round(ln rank,6) via
    * exact-decimal sufficient statistics (the x97 recipe: every sum an
    * exact decimal, only the final ratio through doubles, −0.0
    * guarded). Output: (lang, n_types, n_tokens, slope).
    *
    * 100 TB shape: one tokenize pass to the (lang, word) count grain;
    * the rank window partitions by lang over vocab-sized input; the
    * statistics collapse into a langs-sized aggregate. */
  private val x108_zipf_slope: QFn = (s, d) =>
    graft.ops.CorpusOps.zipfSlope(docsR(s, d))

  /** Trained-KN apply ([[graft.ops.CorpusOps.knBigramApply]]) — the
    * x74 shape at the production smoothing family: the KN bigram model
    * trains once on the 4/5 slice (the count table IS the model) and
    * scores the held-out 1/5, unseen events backing off to the
    * add-one-smoothed continuation distribution. Train-once /
    * apply-forever, hash-checked; [[graft.streaming.EventStreams
    * .knScoreStream]] is the digit-identical ingest twin. */
  private val x109_kn_apply: QFn = (s, d) => {
    val all = docsR(s, d)
    graft.ops.CorpusOps.knBigramApply(
      all.filter(col("doc_id") % 5 === 0),
      graft.ops.CorpusOps.bigramCounts(all.filter(col("doc_id") % 5 =!= 0)))
  }

  /** Gopher repetition signals ([[graft.ops.CorpusOps
    * .repetitionSignals]], Rae et al. 2021 A1.2) — the within-doc
    * repetition tier of the rule stack: character fraction of the top
    * 2-gram / top 3-gram and of all duplicated 5-grams, with the
    * paper's keep thresholds (0.20 / 0.18 / 0.15) compared on the
    * rounded grid. Complements x90 (content rules) and x58
    * (cross-grain span stats): this is the cheap map-reduce signal
    * every major pretraining corpus gates on before any trained
    * model. Plan: one scan, one doc-keyed exploded count, one
    * doc-grain rollup — no broadcast, nothing corpus-wide. */
  private val x110_repetition: QFn = (s, d) =>
    graft.ops.CorpusOps.repetitionSignals(docsR(s, d))

  /** CCNet perplexity buckets ([[graft.ops.CorpusOps.pplBuckets]]) —
    * x109's frozen-KN scores over the WHOLE corpus, cut per language
    * into head/middle/tail by exact quantized quartiles (broadcast
    * cut table, map-side assignment — no corpus-wide rank). The split
    * every LM-filtered pretraining corpus ships; head feeds training,
    * tail feeds the quality-classifier negatives. Inherits x109's
    * 1-row type-total broadcast (allowlisted); the scoring passes and
    * model joins are x109's exactly. */
  private val x111_ppl_buckets: QFn = (s, d) => {
    val all = docsR(s, d)
    val scored = graft.ops.CorpusOps.knBigramApply(all,
      graft.ops.CorpusOps.bigramCounts(all.filter(col("doc_id") % 5 =!= 0)))
    graft.ops.CorpusOps.pplBuckets(scored, all)
  }

  /** Word-entropy quality proxy ([[graft.ops.CorpusOps
    * .entropySignal]]) — the compression-ratio tier of the signal
    * stack: per-doc Shannon entropy of the word distribution (bits)
    * and its length-normalized form. Low = templated/repetitive (the
    * gate x110 fires on), ceiling = shuffled-vocabulary noise; both
    * tails feed the reject pile. One tokenize pass, doc-keyed rollup,
    * exact-decimal Σ c·ln c — hash-checked. */
  private val x112_entropy: QFn = (s, d) =>
    graft.ops.CorpusOps.entropySignal(docsR(s, d))

  /** Exact corpus heavy hitters ([[graft.ops.SketchOps.heavyHitters]])
    * — the WIMBD-style token audit at bounded intermediate state:
    * per-partition Misra–Gries summaries (O(k) task state) propose a
    * provable superset of every word with count > N/(k+1); a
    * broadcast-pruned exact recount and an INTEGER threshold
    * (cnt·(k+1) > N — no float boundary) emit the true heavy hitters,
    * so the output is partition-invariant even though each summary is
    * not. On the fixture the k=64 gate admits the 30 common vocabulary
    * words and excludes the rare 'dup' marker. The oracle recounts
    * from scratch — the sketch path must agree exactly. */
  private val x113_heavy_hitters: QFn = (s, d) =>
    graft.ops.SketchOps.heavyHitters(
      docsR(s, d).select(explode(TF.words(col("text"))).as("word")),
      "word", k = 64)

  /** Content-defined chunk dedup ([[graft.ops.TextDedup
    * .cdcChunkDedup]]) — x35's insertion-robust sibling: boundaries
    * picked by word-hash content (CDC / rolling-hash chunking at word
    * grain), so an edit reshapes one chunk and every later chunk
    * re-aligns and keeps deduplicating. Chunking is map-side array
    * work; the only shuffle is the chunk-fp groupBy (x35's plan). */
  private val x114_cdc_chunks: QFn = (s, d) =>
    graft.ops.TextDedup.cdcChunkDedup(docsR(s, d))

  /** Product-quantization codebooks + codes ([[graft.ops.VectorOps
    * .pqTrain]]/[[graft.ops.VectorOps.pqEncode]], Jégou et al. TPAMI
    * 2011) — the memory side of billion-scale ANN: 4 subspaces × 8
    * entries trained for exactly 2 Lloyd rounds (the unrolled-oracle
    * discipline), every vector stored as 4 codes + its integer
    * quantization error. The whole (codes, errors) table is
    * hash-checked against the from-scratch SQL replay. */
  private val x115_pq_encode: QFn = (s, d) => {
    val e = embs(s, d)
    val cents = cachedPqRaw(s, d)
    graft.ops.VectorOps.pqEncode(e, cents, m = 4)
  }

  /** ADC top-k over PQ codes ([[graft.ops.VectorOps.pqAdcTopK]]) —
    * the search half of x115: each query scores every vector through
    * a broadcast lookup table of quantized partial distances and an
    * exact integer sum — stored vectors are never touched at scan
    * time. Top-3 per query (vec_id < 10), rank (adc_qd2 asc, n_id
    * asc), hash-checked digit for digit. */
  private val x116_pq_ann: QFn = (s, d) => {
    val e = embs(s, d)
    val cents = cachedPqRaw(s, d)
    val codes = graft.ops.VectorOps.pqEncode(e, cents, m = 4)
    graft.ops.VectorOps.pqAdcTopK(e.filter(col("vec_id") < 10),
      codes, cents, k = 3, m = 4)
  }

  /** IVF+PQ composed ANN ([[graft.ops.VectorOps.ivfPqTopK]]) — the
    * billion-scale layout both halves exist for: the trained cosine
    * IVF (x48's coarse quantizer, 16 cells, nprobe=2 on the query
    * side) restricts each query's scan to ~nprobe/k of the corpus,
    * and within the probed cells distance runs over x115's PQ codes
    * via the broadcast LUT + exact integer sums — stored vectors are
    * touched by neither stage at query time. Both trainings AND the
    * search are hash-checked against the full SQL replay. */
  private val x118_ivfpq_ann: QFn = (s, d) => {
    val e = embs(s, d)
    val coarse = cachedCentroids(s, d, 16)
    val dbCells = graft.ops.VectorOps.ivfCells(e, coarse, nprobe = 1)
    val qs = e.filter(col("vec_id") < 10)
    val qCells = graft.ops.VectorOps.ivfCells(qs, coarse, nprobe = 2)
    val cents = cachedPqRaw(s, d)
    val codes = graft.ops.VectorOps.pqEncode(e, cents, m = 4)
    graft.ops.VectorOps.ivfPqTopK(qCells, dbCells, qs, codes, cents,
      k = 3, m = 4)
  }

  /** PQ-code banded dedup ([[graft.ops.VectorOps.pqBandPairs]]) —
    * multi-index hashing over x115's stored codes: each (sub, code)
    * is a band key, pairs agreeing in ≥ 2 of 4 subspaces are
    * candidates, only those pay the exact verify (≥ 0.45, x81's
    * operating threshold). The bands come free with the codes — no
    * extra index, no Σ cell² term; on the fixture the 2-of-4 gate
    * verifies 9 of the 14 exact-cosine pairs from ~9% of the pair
    * space (1-of-4 reaches 12 at 43% — the band/recall dial).
    * Hash-checked including the training. */
  private val x119_pq_band_dedup: QFn = (s, d) => {
    val e = embs(s, d)
    val cents = cachedPqRaw(s, d)
    graft.ops.VectorOps.pqBandPairs(e, cents, m = 4, minShared = 2,
      threshold = 0.45)
  }

  /** Residual PQ encode ([[graft.ops.VectorOps.pqResiduals]] → the
    * x115 chain) — the FAISS-faithful IVFPQ form: codes quantize
    * x − centroid(x), not x, so the codebook budget spends its
    * resolution where the data is. Total quantization error measured
    * at ~0.90× the raw chain's on this fixture (OpsSpec pins the
    * strict inequality). Same output shape as x115; the whole
    * coarse-train → residual → PQ-train → encode chain hash-checks. */
  private val x120_pq_residual: QFn = (s, d) => {
    val e = embs(s, d)
    val coarse = cachedCentroids(s, d, 16)
    val resid = graft.ops.VectorOps.pqResiduals(e, coarse)
    val cents = cachedPqResid(s, d)
    graft.ops.VectorOps.pqEncode(resid, cents, m = 4, vecCol = "resid")
  }

  /** PQ recall audit — x28's in-engine evaluation applied to the ADC
    * searcher: exact brute-force top-3 vs x116's code-based top-3,
    * per-query hit count and recall@3. The eval loop every
    * quantized-index deployment runs before swapping the index in. */
  private val x121_pq_recall: QFn = (s, d) => {
    val e = embs(s, d)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_e"))
    val exact = q.crossJoin(e.select(col("vec_id").as("n_id"),
        col("embedding").as("n_e")))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VF.cosineFast(col("q_e"), col("n_e")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("n_id"))
    val cents = cachedPqRaw(s, d)
    val codes = graft.ops.VectorOps.pqEncode(e, cents, m = 4)
    val approx = graft.ops.VectorOps.pqAdcTopK(e.filter(col("vec_id") < 10),
      codes, cents, k = 3, m = 4).select(col("q_id"), col("n_id"))
    val hits = exact.join(approx, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    q.select(col("q_id")).join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / 3.0, 4).as("recall_at_3"))
  }

  /** Residual IVF+PQ search ([[graft.ops.VectorOps
    * .ivfPqResidualTopK]]) — the complete faithful IVFPQ query path:
    * coarse probe (nprobe=2) + x120's residual codes + a
    * per-(query, cell) residual LUT. x118 searches raw-vector codes;
    * this searches the lower-error residual codes the production
    * index actually stores. Whole chain hash-checked. */
  private val x122_ivfpq_residual_ann: QFn = (s, d) => {
    val e = embs(s, d)
    val coarse = cachedCentroids(s, d, 16)
    val resid = graft.ops.VectorOps.pqResiduals(e, coarse)
    val cents = cachedPqResid(s, d)
    val codes = graft.ops.VectorOps.pqEncode(resid, cents, m = 4,
      vecCol = "resid")
    graft.ops.VectorOps.ivfPqResidualTopK(e.filter(col("vec_id") < 10),
      coarse, nprobe = 2, resid, codes, cents, k = 3, m = 4)
  }

  /** Corpus card v2 — x70's dataset report extended with this round's
    * signal family, per language: doc/token mass, mean word entropy
    * (x112's compression tier, exact-decimal mean), the Gopher
    * repetition keep rate (x110's gate), and the heavy-hitter token
    * fraction (share of the language's tokens that are corpus-level
    * heavy hitters, x113's set — vocabulary-concentration at a
    * glance). Report-grade composition: three independent signal
    * passes (each individually ScaleCheck-measured: 1.67×/2.39×/1.33×
    * at ×4) + one lang rollup; left joins zero-fill a language with no
    * heavy-hitter tokens. */
  private val x123_corpus_card_v2: QFn = (s, d) => {
    val docs0 = docsR(s, d)
    // ONE (doc, lang, word) count grain feeds all three word-signal
    // consumers (r18; replaces the r17 persisted raw-word explode that
    // each consumer re-aggregated at its own grain): entropy rolls up
    // per doc, the heavy-hitter set is the exact integer gate over the
    // word totals (cnt·(k+1) > N — identical set to SketchOps
    // .heavyHitters' sieve+recount, which exists for when no count
    // grain is at hand), and the hh mass sums the same counts per
    // lang. The count grain is ~5x smaller than the raw explode, and
    // the vocab-sized word-total barrier populates its cache
    // race-free; repetition keeps its own gram-grain pass — 2 tokenize
    // passes total, PipelineSpec-audited. The (doc, lang) spine comes
    // from the count grain too, not a third corpus scan: the inner join
    // with the entropy signal keeps exactly the docs that have words.
    val tfw = docs0.select(col("doc_id"), col("lang"),
      explode(TF.words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.engine.Barrier.sharedGrain)
    val wcnt = graft.engine.Barrier.lineageBarrier(
      tfw.groupBy(col("word")).agg(sum(col("c")).as("cnt")))
    val ent = graft.ops.CorpusOps.entropySignalFromCounts(
      tfw.select(col("doc_id"), col("word"), col("c")))
    val rep = graft.ops.CorpusOps.repetitionSignals(docs0)
    val hh = wcnt
      .crossJoin(broadcast(wcnt.agg(sum(col("cnt")).as("n_total"))))
      .filter(col("cnt") * 65 > col("n_total")) // k = 64, x113's gate
      .select(col("word"))
    val hhMass = tfw.join(broadcast(hh), Seq("word"))
      .groupBy(col("lang")).agg(sum(col("c")).as("hh_tokens"))
    tfw.select(col("doc_id"), col("lang")).distinct()
      .join(ent.select(col("doc_id"), col("n_words"), col("entropy_q")),
        Seq("doc_id"))
      .join(rep.select(col("doc_id"), col("keep")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        graft.functions.ExactMath.divHalfUp(sum(col("entropy_q")),
          count(lit(1))).as("mean_entropy_q"),
        graft.functions.ExactMath.divHalfUp(
          sum(col("keep")) * lit(10000L), count(lit(1))).as("keep_rate_q"))
      .join(hhMass, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("mean_entropy_q"), col("keep_rate_q"),
        graft.functions.ExactMath.divHalfUp(
          coalesce(col("hh_tokens"), lit(0L)) * lit(10000L),
          col("n_tokens")).as("hh_frac_q"))
  }

  /** Int8 SQ cosine top-k ([[graft.ops.VectorOps.sqTopK]]) — the
    * middle memory tier between exact fp32 (x12) and PQ codes (x116):
    * 4× compression with near-exact recall. Similarity is a ratio of
    * EXACT integer sums (the per-vector scales cancel in cosine), so
    * the whole result table hash-checks with no quantized-double
    * machinery. Top-3 per query (vec_id < 10), linear int8 scan,
    * query side broadcast. */
  private val x124_sq_ann: QFn = (s, d) => {
    val e = embs(s, d)
    graft.ops.VectorOps.sqTopK(e.filter(col("vec_id") < 10), e, k = 3)
  }

  /** Corpus saturation curve ([[graft.ops.CorpusOps.saturationCurve]])
    * — the Heaps-law monitor: per deterministic ingestion wave, the
    * fraction of its distinct shingles never seen before. Novelty
    * collapsing toward 0 is the crawler-stuck early warning; x88
    * measures the resulting dup pairs after the fact. One persisted
    * shingle pass, shingle-grain aggs, waves-sized output. */
  private val x125_saturation: QFn = (s, d) =>
    graft.ops.CorpusOps.saturationCurve(docsR(s, d), waves = 5,
      shingleK = ShingleK)

  /** Matryoshka truncation recall (Kusupati et al., NeurIPS 2022) —
    * does the HALF-dimension prefix of the embedding rank like the
    * full vector? Exact top-3 under the 32-dim prefix cosine vs the
    * full 64-dim exact top-3, per-query hits + recall@3. High recall
    * licenses running ANN (and the whole IVF/PQ stack) on the prefix
    * at half the memory — the audit a truncation decision reads
    * first. Both sides are the deliberate 10-query × corpus
    * brute-force cross join (x28's class). */
  private val x126_matryoshka_recall: QFn = (s, d) => {
    val e = embs(s, d)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    def top3(vec: Column => Column) = {
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), vec(col("embedding")).as("q_e"))
      q.crossJoin(e.select(col("vec_id").as("n_id"),
          vec(col("embedding")).as("n_e")))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          round(VF.cosineFast(col("q_e"), col("n_e")), 6).as("cos"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"))
    }
    val full = top3(identity)
    val half = top3(v => slice(v, 1, 32))
    val hits = full.join(half, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    embs(s, d).filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / 3.0, 4).as("recall_at_3"))
  }

  /** Bag-of-words dedup ([[graft.ops.TextDedup.bagDedup]]) — the
    * permutation-invariant tier between x04 (byte-identical) and x07
    * (set-based): word-order shuffles of the same multiset collapse,
    * vocabulary-sharing docs with different counts do not. x04's
    * groups are a strict subset by construction (spec-pinned). */
  private val x127_bag_dedup: QFn = (s, d) =>
    graft.ops.TextDedup.bagDedup(docs(s, d))

  /** Dedup tier-agreement matrix — which tier catches what: the drop
    * sets of exact (x04), bag-of-words (x127), MinHash-decision (x33)
    * and SimHash-decision (x34) compared pairwise — (n_a, n_b,
    * n_both) per unordered tier pair. The containment ladder every
    * dedup stack documents (exact ⊆ bag; the near-dup tiers overlap
    * but neither contains the other) becomes a measured table instead
    * of a claim. Each tier's drop set is the documented machinery of
    * its own query; the matrix adds one tagged union, a doc-keyed
    * equi self-join, and tier-grain rollups. */
  private val x128_dedup_tiers: QFn = (s, d) => {
    import s.implicits._
    // rebalanced: the exact/bag tiers hash (md5, sort_array) every doc
    // map-side — on the fixture's single-row-group scan that work would
    // serialize on one task (r17 profile: 0.9 s + 0.6 s single-task
    // stages); the near-dup tiers already read the rebalanced view
    val dd = docsR(s, d)
    def hashDrops(h: Column, tier: String) = {
      // checkpoint barrier: the self-join's implicit isnotnull(h)
      // null-filter otherwise pushes below the rebalance exchange with
      // the md5/sort_array expression substituted — re-hashing every
      // doc on the single scan split just to test a never-null value
      val t = dd.select(col("doc_id"), h.as("h")).transform(graft.engine.Barrier.pushdownBarrier)
      t.join(t.groupBy(col("h")).agg(min(col("doc_id")).as("k")), Seq("h"))
        .filter(col("doc_id") =!= col("k"))
        .select(lit(tier).as("tier"), col("doc_id"))
    }
    val drops =
      hashDrops(md5(TF.normText(col("text"))), "exact")
        .unionByName(hashDrops(
          md5(concat_ws(" ", sort_array(TF.words(col("text"))))), "bag"))
        .unionByName(graft.ops.TextDedup.dedupDecision(
          graft.ops.TextDedup.minhashLshPairs(docsR(s, d),
            shingleK = ShingleK, numHashes = NumHashes, bands = 4,
            threshold = 0.8))
          .select(lit("minhash").as("tier"), col("drop_id").as("doc_id")))
        .unionByName(graft.ops.TextDedup.dedupDecision(
          graft.ops.TextDedup.simhashBandedPairs(docsR(s, d),
            maxHamming = 6))
          .select(lit("simhash").as("tier"), col("drop_id").as("doc_id")))
        // drop-set-sized rows; the 4-tier union otherwise caches 128
        // near-empty partitions that every consumer re-schedules
        .repartition(4)
        .transform(graft.engine.Barrier.sharedGrain)
    // eager barrier on the 4-row tier sizes (r18 shared-materialization
    // shape): its job populates the drops cache race-free, so the
    // overlap self-join and the final matrix read it warm instead of
    // racing the cold cache and re-running all four tier pipelines
    // (r18 profile: 7.9 stage-seconds for a 3.1 s wall)
    val sizes = graft.engine.Barrier.lineageBarrier(
      drops.groupBy(col("tier")).agg(count(lit(1)).as("n")))
    val both = drops.as("a").join(drops.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.tier") < col("b.tier"))
      .groupBy(col("a.tier").as("tier_a"), col("b.tier").as("tier_b"))
      .agg(count(lit(1)).as("n_both"))
    // every unordered tier pair gets a row even at zero overlap
    val tiers = Seq("bag", "exact", "minhash", "simhash")
    val pairs = (for (a <- tiers; b <- tiers if a < b) yield (a, b))
      .toDF("tier_a", "tier_b")
    pairs
      .join(sizes.select(col("tier").as("tier_a"), col("n").as("n_a")),
        Seq("tier_a"), "left")
      .join(sizes.select(col("tier").as("tier_b"), col("n").as("n_b")),
        Seq("tier_b"), "left")
      .join(both, Seq("tier_a", "tier_b"), "left")
      .select(col("tier_a"), col("tier_b"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
  }

  /** One-call curation pipeline v6 ([[graft.ops.CorpusOps.curateV6]])
    * — the composed production entry point the x128 tier matrix
    * motivated: entropy band (x112's signal, integer-quantized,
    * x106's broadcast percentile cut) → uniform-noise ceiling (exact
    * max=min count test) → CDC ownership dedup (x114's chunk grain,
    * own-at-least-half rule) → α=0.5 temperature mix (x54's integer
    * hash threshold). EVERY doc comes back with the reason that
    * removed it (or 'kept'), so a curation run is auditable as a
    * filter instead of a replay; the whole table — all four gate
    * decisions end-to-end — hash-checks against one composed oracle,
    * and PipelineSpec pins the op's kept set against the gates run
    * individually. */
  private val x130_curate_v6: QFn = (s, d) =>
    // rebalanced: curateV6 tokenizes its input twice (entropy grain +
    // CDC chunk grain) — both explodes must not run on the fixture's
    // single scan split (r17 profile: 2× ~0.8 s single-task stages)
    graft.ops.CorpusOps.curateV6(docsR(s, d))

  /** Language-ID confusion matrix — the gauge for the x03 classifier
    * itself: labeled lang × predicted lang with counts and
    * within-label shares. The matrix every langid swap/retrain is
    * judged on before it gates a corpus. One x03 scoring pass → a
    * matrix-grain groupBy; the share window partitions over the
    * langs²-sized matrix, never the corpus. */
  private val x117_langid_confusion: QFn = (s, d) => {
    val byLang = Window.partitionBy("lang")
    docsR(s, d)
      .select(col("lang"), TF.langId(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share", round(col("n_docs").cast("double") /
        sum(col("n_docs")).over(byLang).cast("double"), 4))
  }

  /** Per-source distribution drift ([[graft.ops.CorpusOps
    * .sourceDrift]]) — KL of each source's unigram distribution from
    * the smoothed corpus mixture: the slice-level freshness/shift
    * metric a corpus dashboard alerts on (x83 scores DOCS against a
    * target; x107 scores SOURCES against the mixture). One tokenize
    * pass, exact-decimal term sums, hash-checked. */
  private val x107_source_drift: QFn = (s, d) =>
    graft.ops.CorpusOps.sourceDrift(docsR(s, d))

  /** Kneser–Ney bigram LM scoring ([[graft.ops.CorpusOps
    * .knBigramScoreFromWords]]) — x59's smoothing generation upgrade:
    * fixed-discount interpolation with continuation-count backoff, the
    * family the real CCNet filter runs (KenLM). D = 0.75 is
    * binary-exact, every probability a fixed correctly-rounded IEEE
    * sequence over integer counts — the whole score table
    * hash-checks. */
  private val x104_kn_bigram: QFn = (s, d) =>
    graft.ops.CorpusOps.knBigramScoreFromWords(
      graft.ops.CorpusOps.tokenized(docsR(s, d)))

  // --------------------------------------------------------------- registry

  val all: Map[String, QFn] = Map(
    "x01_tokens" -> x01_tokens,
    "x02_quality" -> x02_quality,
    "x03_langid" -> x03_langid,
    "x04_dedup_exact" -> x04_dedup_exact,
    "x05_fingerprint" -> x05_fingerprint,
    "x06_minhash_sig" -> x06_minhash_sig,
    "x07_minhash_lsh_pairs" -> x07_minhash_lsh_pairs,
    "x08_simhash" -> x08_simhash,
    "x09_simhash_pairs" -> x09_simhash_pairs,
    "x10_ngram_jaccard" -> x10_ngram_jaccard,
    "x11_cosine_pairs" -> x11_cosine_pairs,
    "x12_ann_topk" -> x12_ann_topk,
    "x13_ann_lsh" -> x13_ann_lsh,
    "x14_media_meta" -> x14_media_meta,
    "x15_events_window" -> x15_events_window,
    "x16_sessionize" -> x16_sessionize,
    "x17_mvcc_snapshot" -> x17_mvcc_snapshot,
    "x18_ann_ivf" -> x18_ann_ivf,
    "x19_embed_dedup" -> x19_embed_dedup,
    "x20_corpus_clean" -> x20_corpus_clean,
    "x21_tfidf" -> x21_tfidf,
    "x22_embed_dedup_bucketed" -> x22_embed_dedup_bucketed,
    "x23_simhash_banded" -> x23_simhash_banded,
    "x24_train_split" -> x24_train_split,
    "x25_pii_redact" -> x25_pii_redact,
    "x26_doc_chunks" -> x26_doc_chunks,
    "x27_stratified_sample" -> x27_stratified_sample,
    "x28_ann_recall" -> x28_ann_recall,
    "x29_embed_quantize" -> x29_embed_quantize,
    "x30_kmeans_step" -> x30_kmeans_step,
    "x31_semantic_search" -> x31_semantic_search,
    "x32_ingest_dedup" -> x32_ingest_dedup,
    "x33_text_dedup_decision" -> x33_text_dedup_decision,
    "x34_simhash_dedup_decision" -> x34_simhash_dedup_decision,
    "x35_chunk_dedup" -> x35_chunk_dedup,
    "x36_dup_clusters" -> x36_dup_clusters,
    "x37_decontaminate" -> x37_decontaminate,
    "x38_pack_sequences" -> x38_pack_sequences,
    "x39_repetition" -> x39_repetition,
    "x40_shuffle_shard" -> x40_shuffle_shard,
    "x41_cluster_decision" -> x41_cluster_decision,
    "x42_bm25" -> x42_bm25,
    "x43_chargram_lsh" -> x43_chargram_lsh,
    "x44_media_binary" -> x44_media_binary,
    "x45_zorder_scan" -> x45_zorder_scan,
    "x46_dup_clusters_star" -> x36_dup_clusters,
    "x47_simhash_pairbanded" -> x47_simhash_pairbanded,
    "x48_ann_trained" -> x48_ann_trained,
    "x49_zorder3_scan" -> x49_zorder3_scan,
    "x50_index_dedup" -> x50_index_dedup,
    "x51_lm_score" -> x51_lm_score,
    "x52_quality_canonical" -> x52_quality_canonical,
    "x53_bloom_decontaminate" -> x53_bloom_decontaminate,
    "x54_mix_sample" -> x54_mix_sample,
    "x55_inverted_search" -> x55_inverted_search,
    "x56_group_sample" -> x56_group_sample,
    "x57_quality_buckets" -> x57_quality_buckets,
    "x58_span_dup" -> x58_span_dup,
    "x59_bigram_lm" -> x59_bigram_lm,
    "x60_excise_spans" -> x60_excise_spans,
    "x61_lm_scores" -> x61_lm_scores,
    "x62_bpe_pack" -> x62_bpe_pack,
    "x62a_bpe_merges" -> x62a_bpe_merges,
    "x68_bpe_encode" -> x68_bpe_encode,
    "x63_skew_join" -> x63_skew_join,
    "x64_curate" -> x64_curate,
    "x65_source_quota" -> x65_source_quota,
    "x66_knn_label" -> x66_knn_label,
    "x67_knn_label_ivf" -> x67_knn_label_ivf,
    "x69_token_mix" -> x69_token_mix,
    "x70_corpus_card" -> x70_corpus_card,
    "x71_semdedup" -> x71_semdedup,
    "x72_nb_classifier" -> x72_nb_classifier,
    "x73_weighted_sample" -> x73_weighted_sample,
    "x74_lm_apply" -> x74_lm_apply,
    "x75_fused_dedup" -> x75_fused_dedup,
    "x76_curate_trained" -> x76_curate_trained,
    "x77_shard_manifest" -> x77_shard_manifest,
    "x78_tokenizer_audit" -> x78_tokenizer_audit,
    "x79_manifest_diff" -> x79_manifest_diff,
    "x80_source_overlap" -> x80_source_overlap,
    "x81_embed_dedup_trained" -> x81_embed_dedup_trained,
    "x82_dedup_applied" -> x82_dedup_applied,
    "x83_dsir_weights" -> x83_dsir_weights,
    "x84_dsir_select" -> x84_dsir_select,
    "x85_mixture_plan" -> x85_mixture_plan,
    "x86_nb_calibration" -> x86_nb_calibration,
    "x87_contamination_frac" -> x87_contamination_frac,
    "x88_threshold_curve" -> x88_threshold_curve,
    "x89_dsir_resample" -> x89_dsir_resample,
    "x90_gopher_rules" -> x90_gopher_rules,
    "x91_mixture_materialize" -> x91_mixture_materialize,
    "x92_boilerplate" -> x92_boilerplate,
    "x93_novelty" -> x93_novelty,
    "x94_hybrid_rrf" -> x94_hybrid_rrf,
    "x95_pca_power" -> x95_pca_power,
    "x96_pca_project" -> x96_pca_project,
    "x97_signal_corr" -> x97_signal_corr,
    "x98_doremi" -> x98_doremi,
    "x99_prototypical" -> x99_prototypical,
    "x100_margin_mine" -> x100_margin_mine,
    "x101_fused_trained" -> x101_fused_trained,
    "x102_sem_decontaminate" -> x102_sem_decontaminate,
    "x103_doremi_mixture" -> x103_doremi_mixture,
    "x104_kn_bigram" -> x104_kn_bigram,
    "x105_pca_top2" -> x105_pca_top2,
    "x106_curriculum" -> x106_curriculum,
    "x107_source_drift" -> x107_source_drift,
    "x108_zipf_slope" -> x108_zipf_slope,
    "x109_kn_apply" -> x109_kn_apply,
    "x110_repetition" -> x110_repetition,
    "x111_ppl_buckets" -> x111_ppl_buckets,
    "x112_entropy" -> x112_entropy,
    "x113_heavy_hitters" -> x113_heavy_hitters,
    "x114_cdc_chunks" -> x114_cdc_chunks,
    "x115_pq_encode" -> x115_pq_encode,
    "x116_pq_ann" -> x116_pq_ann,
    "x117_langid_confusion" -> x117_langid_confusion,
    "x118_ivfpq_ann" -> x118_ivfpq_ann,
    "x119_pq_band_dedup" -> x119_pq_band_dedup,
    "x120_pq_residual" -> x120_pq_residual,
    "x121_pq_recall" -> x121_pq_recall,
    "x122_ivfpq_residual_ann" -> x122_ivfpq_residual_ann,
    "x123_corpus_card_v2" -> x123_corpus_card_v2,
    "x124_sq_ann" -> x124_sq_ann,
    "x125_saturation" -> x125_saturation,
    "x126_matryoshka_recall" -> x126_matryoshka_recall,
    "x127_bag_dedup" -> x127_bag_dedup,
    "x128_dedup_tiers" -> x128_dedup_tiers,
    "x129_imageio_decode" -> x129_imageio_decode,
    "x130_curate_v6" -> x130_curate_v6,
    "x131_jpeg_decode" -> x131_jpeg_decode,
    "x132_postings_append" -> x132_postings_append,
    "x133_exact_substrings" -> x133_exact_substrings,
    "x134_allpairs_sim" -> x134_allpairs_sim,
    "x135_logreg_distill" -> x135_logreg_distill,
    "x136_pack_docs" -> x136_pack_docs,
    "x137_cm_counts" -> x137_cm_counts,
    "x138_indexed_bm25" -> x138_indexed_bm25,
    "x139_indexed_hybrid" -> x139_indexed_hybrid,
    "x140_contrastive_pairs" -> x140_contrastive_pairs,
    "x141_pq_rerank" -> x141_pq_rerank,
    "x142_phrase_search" -> x142_phrase_search,
    "x143_proximity_search" -> x143_proximity_search,
    "x144_bm25_after_delete" -> x144_bm25_after_delete,
    "x145_slop_phrase" -> x145_slop_phrase,
    "x146_phrase_ranked" -> x146_phrase_ranked,
    "x147_ann_after_delete" -> x147_ann_after_delete,
    "x148_bm25_delete_readd" -> x148_bm25_delete_readd,
  )

  // DuckDB mirrors. Shared SQL fragments:
  private val NT = "regexp_replace(lower(trim(text)),'\\s+',' ','g')"

  /** Composite quality in 1e-4 integer units — the DuckDB twin of
    * `qualityQ`: one exact rational, integer divide-half-up (DHU), no
    * round(double) anywhere. Shared by the x02/x57/x64/x65/x70/x97
    * oracles so the grid cannot drift per query. */
  private lazy val QQ: String = {
    val nw = s"len(string_split($NT,' '))"
    val hits = s"""len(list_filter(string_split($NT,' '),
                  |            w -> w IN ('the','and','of','to','in','is','a')))""".stripMargin
    val ac = "len(regexp_extract_all(text,'[A-Za-z]'))"
    DHU(s"4000*$hits*length(text) + 30*least($nw,100)*$nw*length(text) " +
        s"+ 3000*$ac*$nw", s"$nw*length(text)")
  }
  private def H60(expr: String) =
    s"('0x'||substring(md5($expr),1,15))::BIGINT"
  /** Dot product with the exact fold order of cosine_sim / zip_with. */
  private def DOT(a: String, b: String) =
    s"""list_aggregate(list_transform(list_zip($a,$b),
       |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum')""".stripMargin
  private def COS(a: String, b: String) =
    s"""${DOT(a, b)} /
       |         (sqrt(${DOT(a, a)}) * sqrt(${DOT(b, b)}))""".stripMargin

  /** x07's LSH pair generation with the verify threshold as the one
    * parameter — banding is threshold-independent, so x07 (0.8) and
    * x88's curve base (0.7) share every other line by construction. */
  private def lshPairsSql(threshold: Double): String = {
    val mhs = (0 until NumHashes).map(i =>
      s"coalesce(list_min(list_transform(sh, s -> ${H60(s"'mh$i|'||s")})), -1) AS mh$i")
      .mkString(",\n       ")
    val bands = (0 until 4).map(bd =>
      s"SELECT doc_id, sh_set, $bd AS band, mh${2 * bd}||':'||mh${2 * bd + 1} AS key FROM sig")
      .mkString("\n UNION ALL\n")
    s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
       |s AS (SELECT doc_id,
       |             [array_to_string(ws[i:i+${ShingleK - 1}],' ')
       |              for i in range(1, len(ws)-${ShingleK - 2})] AS sh FROM w),
       |sig AS (SELECT doc_id,
       |        list_distinct(list_transform(list_distinct(sh),
       |                                     x -> ${H60("x")})) AS sh_set,
       |        $mhs FROM s),
       |banded AS ($bands)
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |       round(len(list_intersect(a.sh_set,b.sh_set))::DOUBLE /
       |             len(list_distinct(list_concat(a.sh_set,b.sh_set))), 4) AS jac
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       | WHERE round(len(list_intersect(a.sh_set,b.sh_set))::DOUBLE /
       |             len(list_distinct(list_concat(a.sh_set,b.sh_set))), 4) >= $threshold""".stripMargin
  }

  // x33 wraps x07's oracle (same pair semantics) in the decision groupBy
  private lazy val x33Oracle: String =
    s"""SELECT b_id AS drop_id, min(a_id) AS canonical_id, count(*) AS n_dups
       |  FROM (
       |${oracles("x07_minhash_lsh_pairs")}
       |) pairs GROUP BY b_id""".stripMargin

  private lazy val x34Oracle: String =
    s"""SELECT b_id AS drop_id, min(a_id) AS canonical_id, count(*) AS n_dups
       |  FROM (
       |${oracles("x23_simhash_banded")}
       |) pairs GROUP BY b_id""".stripMargin

  // x52: x36's components with the canonical re-picked by quality —
  // first_value over (n_chars DESC, doc_id ASC) per cluster, drop
  // everything else
  private lazy val x52Oracle: String =
    s"""WITH comp AS (
       |${x36Oracle}
       |),
       |q AS (SELECT c.doc_id, c.cluster_id, c.n_members, d.n_chars
       |        FROM comp c JOIN documents d USING (doc_id)),
       |r AS (SELECT doc_id, cluster_id, n_members,
       |             first_value(doc_id) OVER (
       |               PARTITION BY cluster_id
       |               ORDER BY n_chars DESC, doc_id ASC
       |               ROWS BETWEEN UNBOUNDED PRECEDING
       |                        AND UNBOUNDED FOLLOWING) AS canonical_id
       |        FROM q)
       |SELECT doc_id AS drop_id, canonical_id, n_members
       |  FROM r WHERE doc_id <> canonical_id""".stripMargin

  // x50: x07's pair semantics restricted to CROSS-split pairs (one side
  // incoming doc_id % 10 = 0, one side historical), re-oriented so in_id
  // is always the incoming doc, then the index decision groupBy. The
  // banded candidate condition is per-doc (signatures don't depend on
  // what else is in the table), so the full-corpus pair set restricted
  // to cross pairs IS the index-probe result.
  private lazy val x50Oracle: String =
    s"""WITH pairs AS (
       |${oracles("x07_minhash_lsh_pairs")}
       |),
       |m AS (SELECT CASE WHEN a_id % 10 = 0 THEN a_id ELSE b_id END AS in_id,
       |             CASE WHEN a_id % 10 = 0 THEN b_id ELSE a_id END AS match_id
       |        FROM pairs
       |       WHERE (a_id % 10 = 0) <> (b_id % 10 = 0))
       |SELECT in_id, min(match_id) AS canonical_id, count(*) AS n_matches
       |  FROM m GROUP BY in_id""".stripMargin

  // x36: transitive closure of x07's pair graph; min reachable id per
  // node = the component minimum (DuckDB's recursive CTE terminates on
  // the UNION-distinct fixpoint — the closure is exact, so it checks the
  // Spark side's contraction reached ITS fixpoint too).
  private lazy val x36Oracle: String =
    s"""WITH RECURSIVE pairs AS (
       |${oracles("x07_minhash_lsh_pairs")}
       |),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
       |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
       |          FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |       count(*) OVER (PARTITION BY cluster_id) AS n_members
       |  FROM lab""".stripMargin

  private lazy val x41Oracle: String =
    s"""SELECT doc_id AS drop_id, cluster_id AS canonical_id, n_members
       |  FROM (
       |${x36Oracle}
       |) WHERE doc_id <> cluster_id""".stripMargin

  // x80: x07's pair oracle mapped to unordered source pairs and counted.
  private lazy val x80Oracle: String =
    s"""WITH pairs AS (
       |${oracles("x07_minhash_lsh_pairs")}
       |),
       |sp AS (SELECT least(da.source, db.source) AS src_1,
       |              greatest(da.source, db.source) AS src_2
       |         FROM pairs p
       |         JOIN documents da ON p.a_id = da.doc_id
       |         JOIN documents db ON p.b_id = db.doc_id)
       |SELECT src_1, src_2, count(*) AS n_pairs FROM sp GROUP BY 1, 2""".stripMargin

  // x75: x07's text pair set UNION the auto-k IVF embedding pair set
  // (pair grain instead of the decision groupBy), one transitive closure
  // over the fused edges, x41's decision shape. The embedding half is
  // the AUTO-K unrolled Lloyd's chain (seed count = suggestK's
  // greatest/least/sqrt over count(*), data-derived on both engines).
  private lazy val x75Oracle: String =
    s"""WITH RECURSIVE tp AS (
       |${oracles("x07_minhash_lsh_pairs")}
       |),
       |${lloydCtes(seedK = AutoKSql, nprobe = 1)},
       |ec AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |    FROM cells a JOIN cells b
       |      ON a.cell = b.cell AND a.vec_id < b.vec_id
       |   WHERE round(${COS("a.embedding", "b.embedding")}, 6) >= 0.45),
       |pairs AS (SELECT a_id, b_id FROM tp UNION SELECT a_id, b_id FROM ec),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
       |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
       |          FROM reach GROUP BY node)
       |SELECT drop_id, canonical_id, n_members FROM (
       |  SELECT doc_id AS drop_id, cluster_id AS canonical_id,
       |         count(*) OVER (PARTITION BY cluster_id) AS n_members
       |    FROM lab) WHERE drop_id <> canonical_id""".stripMargin

  // x148: delete + full re-add restores exactly the original corpus, so
  // the oracle IS x138's whole-corpus BM25 replay — hash-green proves
  // the generation graves suppress the old rows, serve the new ones,
  // and keep n_docs/sum_dl exact through the delete/re-append cycle.
  private lazy val x148Oracle: String = oracles("x138_indexed_bm25")

  // x101: x75's fusion + transitive closure verbatim, with the
  // embedding edge set from the TRAINED 64-seed / nprobe=2 cells
  // (x81's unrolled-CTE chain) instead of the fixture k=16 stand-ins.
  private lazy val x101Oracle: String =
    s"""WITH RECURSIVE tp AS (
       |${oracles("x07_minhash_lsh_pairs")}
       |),
       |${lloydCtes(seedK = "64", nprobe = 2)},
       |ec AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |    FROM cells a JOIN cells b
       |      ON a.cell = b.cell AND a.vec_id < b.vec_id
       |   WHERE round(${COS("a.embedding", "b.embedding")}, 6) >= 0.45),
       |pairs AS (SELECT a_id, b_id FROM tp UNION SELECT a_id, b_id FROM ec),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION SELECT b_id, a_id FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
       |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
       |          FROM reach GROUP BY node)
       |SELECT drop_id, canonical_id, n_members FROM (
       |  SELECT doc_id AS drop_id, cluster_id AS canonical_id,
       |         count(*) OVER (PARTITION BY cluster_id) AS n_members
       |    FROM lab) WHERE drop_id <> canonical_id""".stripMargin

  // x104: x59's bigram-count CTEs plus the KN statistics (left mass cl,
  // continuation fan-ins n1f/n1p, bigram-type total nb); the probability
  // is the IDENTICAL parenthesized double sequence the Spark column
  // computes (D = 0.75 is binary-exact).
  private lazy val x104Oracle: String =
    s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
       |bg AS (SELECT doc_id,
       |         unnest([ws[i]||' '||ws[i+1] for i in range(1, len(ws))]) AS bg
       |         FROM w),
       |tf AS (SELECT doc_id, bg, count(*) AS tf FROM bg GROUP BY 1, 2),
       |cb AS (SELECT bg, sum(tf) AS cb,
       |         split_part(bg, ' ', 1) AS w1,
       |         split_part(bg, ' ', 2) AS w2
       |         FROM tf GROUP BY bg),
       |l AS (SELECT w1, sum(cb) AS cl, count(*) AS n1f FROM cb GROUP BY 1),
       |c2 AS (SELECT w2, count(*) AS n1p FROM cb GROUP BY 1),
       |nbt AS (SELECT count(*) AS nb FROM cb),
       |lp AS (SELECT t.doc_id, t.tf,
       |       CAST(round(ln(
       |         greatest(k.cb::DOUBLE - 0.75, 0) / l.cl::DOUBLE +
       |         (0.75 * l.n1f::DOUBLE / l.cl::DOUBLE) *
       |         (c2.n1p::DOUBLE / nbt.nb::DOUBLE)) * 1000000)
       |            AS BIGINT) AS lpb_q
       |         FROM tf t JOIN cb k USING (bg)
       |         JOIN l ON k.w1 = l.w1
       |         JOIN c2 ON k.w2 = c2.w2
       |         CROSS JOIN nbt)
       |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       |       (CASE WHEN (sum(tf * lpb_q)) < 0 THEN -CAST((2*(-(sum(tf * lpb_q))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) ELSE CAST((2*(sum(tf * lpb_q)) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) END)
       |         AS avg_logp_kn_q
       |  FROM lp GROUP BY doc_id""".stripMargin

  // x107: (source, word) counts → corpus counts derived → micro-unit
  // logs quantized once → the KL is the EXACT rational
  // Σ cnt_s·(lp_q−lq_q) / n_s, signed half-up back onto the 1e-6 grid.
  private lazy val x107Oracle: String =
    s"""WITH sc AS (
       |  SELECT source, word, count(*) AS cnt_s
       |    FROM (SELECT source, unnest(string_split($NT,' ')) AS word
       |            FROM documents)
       |   GROUP BY 1, 2),
       |cc AS (SELECT word, sum(cnt_s) AS cnt_c FROM sc GROUP BY 1),
       |ns AS (SELECT source, sum(cnt_s) AS n_s FROM sc GROUP BY 1),
       |nc AS (SELECT sum(cnt_c) AS n_c, count(*) AS vocab FROM cc),
       |t AS (SELECT s.source, s.cnt_s, ns.n_s,
       |        s.cnt_s * (CAST(round(ln(s.cnt_s::DOUBLE / ns.n_s::DOUBLE)
       |                         * 1000000) AS BIGINT) -
       |                   CAST(round(ln((k.cnt_c + 1)::DOUBLE /
       |                              (nc.n_c + nc.vocab)::DOUBLE)
       |                         * 1000000) AS BIGINT)) AS term_q
       |        FROM sc s JOIN cc k USING (word)
       |        JOIN ns USING (source) CROSS JOIN nc)
       |SELECT source, sum(cnt_s)::BIGINT AS n_tokens,
       |       (CASE WHEN (sum(term_q)) < 0 THEN -CAST((2*(-(sum(term_q))) + (max(n_s))) // (2*(max(n_s))) AS BIGINT) ELSE CAST((2*(sum(term_q)) + (max(n_s))) // (2*(max(n_s))) AS BIGINT) END) AS kl_q
       |  FROM t GROUP BY source""".stripMargin

  // x108: (lang, word) counts → lang-keyed rank → micro-unit logs →
  // exact-INTEGER OLS sufficient statistics; the slope is an integer
  // rational (1e-6 grids cancel), signed half-up onto the 1e-4 grid.
  private lazy val x108Oracle: String =
    s"""WITH wc AS (
       |  SELECT lang, word, count(*) AS cnt
       |    FROM (SELECT lang, unnest(string_split($NT,' ')) AS word
       |            FROM documents)
       |   GROUP BY 1, 2),
       |r AS (SELECT lang, cnt,
       |        CAST(round(ln(row_number() OVER (PARTITION BY lang
       |              ORDER BY cnt DESC, word)::DOUBLE) * 1000000)
       |             AS BIGINT) AS xq,
       |        CAST(round(ln(cnt::DOUBLE) * 1000000) AS BIGINT) AS yq
       |        FROM wc),
       |a AS (SELECT lang, count(*)::BIGINT AS n_types,
       |             sum(cnt)::BIGINT AS n_tokens,
       |             sum(xq) AS sx, sum(yq) AS sy,
       |             sum(xq*xq) AS sxx, sum(xq*yq) AS sxy
       |        FROM r GROUP BY lang)
       |SELECT lang, n_types, n_tokens,
       |       (CASE WHEN n_types <= 1 THEN 0
       |             WHEN ((n_types*sxy - sx*sy) * 10000) < 0 THEN -CAST((2*(-((n_types*sxy - sx*sy) * 10000)) + (n_types*sxx - sx*sx)) // (2*(n_types*sxx - sx*sx)) AS BIGINT) ELSE CAST((2*((n_types*sxy - sx*sy) * 10000) + (n_types*sxx - sx*sx)) // (2*(n_types*sxx - sx*sx)) AS BIGINT) END)::BIGINT AS slope_q
       |  FROM a""".stripMargin

  // x109/x111 shared chain: the x104 statistics derived from the TRAIN
  // slice's bigram table, applied to `applyWhere`'s doc slice with
  // left joins; seen contexts take the KN formula (coalesce(cb,0)
  // zeroes the unseen-bigram first term), unseen contexts the add-one
  // continuation distribution alone — the identical parenthesized
  // double sequence the Spark column computes. Yields CTEs ending in
  // `kn` = (doc_id, n_bigrams, avg_logp_kn).
  private def knApplyCtes(applyWhere: String): String =
    s"""cbx AS MATERIALIZED (
       |  SELECT bg, count(*) AS cb,
       |         split_part(bg, ' ', 1) AS w1,
       |         split_part(bg, ' ', 2) AS w2
       |    FROM (SELECT unnest([ws[i]||' '||ws[i+1]
       |                         for i in range(1, len(ws))]) AS bg
       |            FROM (SELECT string_split($NT,' ') AS ws
       |                    FROM documents WHERE doc_id % 5 <> 0))
       |   GROUP BY bg),
       |l AS (SELECT w1, sum(cb) AS cl, count(*) AS n1f FROM cbx GROUP BY 1),
       |c2 AS (SELECT w2, count(*) AS n1p FROM cbx GROUP BY 1),
       |scal AS (SELECT count(*) AS nb, count(DISTINCT w2) AS vc FROM cbx),
       |tf AS (SELECT doc_id, bg, count(*) AS tf,
       |         split_part(bg, ' ', 1) AS w1,
       |         split_part(bg, ' ', 2) AS w2
       |         FROM (SELECT doc_id,
       |                 unnest([ws[i]||' '||ws[i+1]
       |                         for i in range(1, len(ws))]) AS bg
       |                 FROM (SELECT doc_id, string_split($NT,' ') AS ws
       |                         FROM documents $applyWhere))
       |        GROUP BY 1, 2),
       |lp AS (SELECT t.doc_id, t.tf,
       |       CAST(round(ln(CASE WHEN l.cl IS NOT NULL THEN
       |         greatest(coalesce(k.cb, 0)::DOUBLE - 0.75, 0) /
       |           l.cl::DOUBLE +
       |         (0.75 * l.n1f::DOUBLE / l.cl::DOUBLE) *
       |         ((coalesce(c2.n1p, 0) + 1)::DOUBLE /
       |          (scal.nb + scal.vc)::DOUBLE)
       |         ELSE (coalesce(c2.n1p, 0) + 1)::DOUBLE /
       |              (scal.nb + scal.vc)::DOUBLE END) * 1000000)
       |            AS BIGINT) AS lpb_q
       |         FROM tf t
       |         LEFT JOIN cbx k USING (bg)
       |         LEFT JOIN l ON t.w1 = l.w1
       |         LEFT JOIN c2 ON t.w2 = c2.w2
       |         CROSS JOIN scal),
       |kn AS (SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       |       (CASE WHEN (sum(tf * lpb_q)) < 0 THEN -CAST((2*(-(sum(tf * lpb_q))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) ELSE CAST((2*(sum(tf * lpb_q)) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) END)
       |         AS avg_logp_kn_q
       |  FROM lp GROUP BY doc_id)""".stripMargin

  private lazy val x109Oracle: String =
    s"""WITH ${knApplyCtes("WHERE doc_id % 5 = 0")}
       |SELECT doc_id, n_bigrams, avg_logp_kn_q FROM kn""".stripMargin

  // x111: the KN chain applied to the WHOLE corpus, then per-lang
  // quartile cuts on the 1e-4-quantized score key (quantile_cont ≡
  // Spark exact percentile — the q27/x106 recipe) and the CCNet-style
  // head/middle/tail split with the same strict-> compares.
  private lazy val x111Oracle: String =
    s"""WITH ${knApplyCtes("")},
       |sc AS (SELECT k.doc_id, d.lang, k.avg_logp_kn_q,
       |              k.avg_logp_kn_q AS pk
       |         FROM kn k JOIN documents d USING (doc_id)),
       |cu AS (SELECT lang, quantile_cont(pk, 0.25) AS c1,
       |              quantile_cont(pk, 0.75) AS c3
       |         FROM sc GROUP BY lang)
       |SELECT s.doc_id, s.lang, s.avg_logp_kn_q,
       |       CASE WHEN s.pk::DOUBLE > cu.c3 THEN 'head'
       |            WHEN s.pk::DOUBLE > cu.c1 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |  FROM sc s JOIN cu USING (lang)""".stripMargin

  // x112: (doc, word) counts → exact-integer Σ c·round(ln c·1e6); the
  // numerator lnw_q·nw − clc_q is exact, norm is a pure integer
  // rational (DHU), entropy has exactly one IEEE division by
  // nw·69.31471805599453 (ln2·100 pinned as a literal — no libm
  // variance) before its single rounding onto the 1e-4 grid.
  private lazy val x112Oracle: String =
    s"""WITH w AS (SELECT doc_id, unnest(string_split($NT,' ')) AS word
       |             FROM documents),
       |c AS (SELECT doc_id, word, count(*)::BIGINT AS c FROM w GROUP BY 1,2),
       |a AS (SELECT doc_id, sum(c)::BIGINT AS n_words,
       |             count(*)::BIGINT AS n_types,
       |             sum(c * CAST(round(ln(c) * 1000000) AS BIGINT))::BIGINT
       |               AS clc_q
       |        FROM c GROUP BY 1),
       |n AS (SELECT doc_id, n_words, n_types,
       |             CAST(round(ln(n_words) * 1000000) AS BIGINT) * n_words
       |               - clc_q AS num,
       |             CAST(round(ln(n_types) * 1000000) AS BIGINT) AS lnt_q
       |        FROM a)
       |SELECT doc_id, n_words, n_types,
       |       CAST(round(num::DOUBLE /
       |            (n_words::DOUBLE * 69.31471805599453)) AS BIGINT)
       |         AS entropy_q,
       |       CASE WHEN n_types > 1 THEN
       |         CAST((2*(num * 10000) + (n_words * lnt_q)) // (2*(n_words * lnt_q)) AS BIGINT)
       |       ELSE 0::BIGINT END AS norm_entropy_q
       |  FROM n""".stripMargin

  // x113: the oracle is the from-scratch exact recount — the MG
  // candidate pass must change nothing. Integer threshold on both sides.
  private lazy val x113Oracle: String =
    s"""WITH w AS (SELECT unnest(string_split($NT,' ')) AS word
       |             FROM documents),
       |n AS (SELECT count(*)::BIGINT AS n_total FROM w),
       |c AS (SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY 1)
       |SELECT c.word, c.cnt,
       |       round(c.cnt::DOUBLE / n.n_total::DOUBLE, 6) AS frac
       |  FROM c CROSS JOIN n
       | WHERE c.cnt * 65 > n.n_total""".stripMargin

  // x115/x116: the PQ train/encode/search chain replayed from scratch —
  // per-subspace Lloyd rounds unrolled (the lloydCtes discipline at
  // (sub, vec) grain), quantized-integer distances, exact-integer ADC
  // sums. Squared L2 with the same fold order as Spark's
  // aggregate(zip_with(...)).
  private def PQL2(a: String, b: String) =
    s"""list_aggregate(list_transform(list_zip($a,$b),
       |           x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))
       |               *(CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))),'sum')""".stripMargin
  /** The PQ train/encode CTE chain over any (vec_id, `vcol`) source
    * CTE/table, names prefixed by `p` so two chains (raw + residual)
    * can share one WITH. Final names: `${p}cent$X48Iters` (the trained
    * codebooks) and `${p}codes`. */
  private def pqCtesFrom(src: String, vcol: String, p: String): String = {
    val m = 4; val dsub = 16; val ksub = 8
    def asg(cent: String, name: String) =
      s"""$name AS (
         |  SELECT vec_id, sub, sv, c_id, qd2,
         |         row_number() OVER (PARTITION BY sub, vec_id
         |             ORDER BY qd2 ASC, c_id ASC) AS rn
         |    FROM (SELECT s.vec_id, s.sub, s.sv, c.c_id,
         |                 CAST(round((${PQL2("s.sv", "c.c_e")}) * 1048576)
         |                      AS BIGINT) AS qd2
         |            FROM ${p}sv s JOIN $cent c ON s.sub = c.sub))""".stripMargin
    def recenter(asgName: String, centName: String) =
      s"""${centName}_q AS (
         |  SELECT sub, c_id AS cell, generate_subscripts(sv, 1) - 1 AS dim,
         |         CAST(round(CAST(unnest(sv) AS DOUBLE) * 1048576) AS BIGINT) AS q
         |    FROM $asgName WHERE rn = 1),
         |$centName AS (
         |  SELECT sub, cell AS c_id, list(CAST(mval AS FLOAT) ORDER BY dim) AS c_e
         |    FROM (SELECT sub, cell, dim,
         |                 (sum(q)::DOUBLE / 1048576.0) / count(*) AS mval
         |            FROM ${centName}_q GROUP BY sub, cell, dim)
         |   GROUP BY sub, cell)""".stripMargin
    val rounds = (1 to X48Iters).map { i =>
      asg(s"${p}cent${i - 1}", s"${p}asg$i") + ",\n" +
        recenter(s"${p}asg$i", s"${p}cent$i")
    }.mkString(",\n")
    s"""${p}sv AS (SELECT t.vec_id, s.sub,
       |              t.$vcol[s.sub*$dsub+1:(s.sub+1)*$dsub] AS sv
       |         FROM $src t,
       |              (SELECT unnest(range(0, $m)) AS sub) s),
       |${p}cent0 AS (SELECT sub, vec_id AS c_id, sv AS c_e FROM ${p}sv
       |            WHERE vec_id < $ksub),
       |$rounds,
       |${asg(s"${p}cent$X48Iters", s"${p}asgf")},
       |${p}codes AS (SELECT vec_id, sub, c_id AS code, qd2
       |            FROM ${p}asgf WHERE rn = 1)""".stripMargin
  }
  private lazy val pqCtes: String =
    pqCtesFrom("embeddings", "embedding", "p")

  private lazy val x115Oracle: String =
    s"""WITH $pqCtes
       |SELECT vec_id, sub::INT AS sub, code, qd2 FROM pcodes""".stripMargin

  private lazy val x116Oracle: String =
    s"""WITH $pqCtes,
       |lut AS (
       |  SELECT q.vec_id AS q_id, c.sub, c.c_id,
       |         CAST(round((${PQL2("q.sv", "c.c_e")}) * 1048576) AS BIGINT) AS pd2
       |    FROM psv q JOIN pcent$X48Iters c ON q.sub = c.sub
       |   WHERE q.vec_id < 10),
       |adc AS (
       |  SELECT l.q_id, co.vec_id AS n_id, sum(l.pd2)::BIGINT AS adc_qd2
       |    FROM pcodes co JOIN lut l ON l.sub = co.sub AND l.c_id = co.code
       |   WHERE co.vec_id <> l.q_id GROUP BY 1, 2)
       |SELECT q_id, n_id, adc_qd2, rnk FROM (
       |  SELECT q_id, n_id, adc_qd2,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adc_qd2 ASC, n_id ASC) AS rnk
       |    FROM adc) WHERE rnk <= 3""".stripMargin

  // x118: the coarse-IVF chain (lloydCtes, nprobe=2) and the PQ chain
  // (pqCtes) share one WITH — CTE names are disjoint by construction.
  // Candidates from the cell equi-join, ADC from codes × LUT, exact
  // integer sums throughout.
  private lazy val x118Oracle: String =
    s"""WITH ${lloydCtes(seedK = "16", nprobe = 2)},
       |$pqCtes,
       |qc AS (SELECT vec_id AS q_id, c_id AS cell FROM asgf
       |        WHERE rn <= 2 AND vec_id < 10),
       |dbc AS (SELECT vec_id AS n_id, c_id AS cell FROM asgf WHERE rn = 1),
       |cand AS (SELECT DISTINCT q.q_id, d.n_id
       |           FROM qc q JOIN dbc d
       |             ON q.cell = d.cell AND q.q_id <> d.n_id),
       |lut AS (
       |  SELECT q.vec_id AS q_id, c.sub, c.c_id,
       |         CAST(round((${PQL2("q.sv", "c.c_e")}) * 1048576) AS BIGINT) AS pd2
       |    FROM psv q JOIN pcent$X48Iters c ON q.sub = c.sub
       |   WHERE q.vec_id < 10),
       |adc AS (
       |  SELECT ca.q_id, ca.n_id, sum(l.pd2)::BIGINT AS adc_qd2
       |    FROM cand ca
       |    JOIN pcodes co ON co.vec_id = ca.n_id
       |    JOIN lut l ON l.q_id = ca.q_id AND l.sub = co.sub
       |                AND l.c_id = co.code
       |   GROUP BY 1, 2)
       |SELECT q_id, n_id, adc_qd2, rnk FROM (
       |  SELECT q_id, n_id, adc_qd2,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adc_qd2 ASC, n_id ASC) AS rnk
       |    FROM adc) WHERE rnk <= 3""".stripMargin

  // x119: band self-join on (sub, code), agreement count >= 2,
  // hydration joins, exact-cosine verify — x07's duplicated-predicate
  // idiom for the threshold.
  private lazy val x119Oracle: String =
    s"""WITH $pqCtes,
       |cand AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |                count(*)::BIGINT AS n_shared
       |           FROM pcodes a JOIN pcodes b
       |             ON a.sub = b.sub AND a.code = b.code
       |            AND a.vec_id < b.vec_id
       |          GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT a_id, b_id, n_shared,
       |       round(${COS("ea.embedding", "eb.embedding")}, 6) AS cos
       |  FROM cand c JOIN embeddings ea ON ea.vec_id = c.a_id
       |              JOIN embeddings eb ON eb.vec_id = c.b_id
       | WHERE round(${COS("ea.embedding", "eb.embedding")}, 6) >= 0.45""".stripMargin

  // x120: the coarse chain (lloydCellCtes) → residual vectors → the
  // SAME PQ generator re-prefixed over the residual source.
  private lazy val x120Oracle: String =
    s"""WITH $lloydCellCtes,
       |resid AS (
       |  SELECT a.vec_id,
       |         list_transform(list_zip(a.embedding, k.c_e),
       |           x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)
       |                     AS FLOAT)) AS r
       |    FROM asgf a JOIN cent$X48Iters k ON a.c_id = k.c_id
       |   WHERE a.rn = 1),
       |${pqCtesFrom("resid", "r", "r")}
       |SELECT vec_id, sub::INT AS sub, code, qd2 FROM rcodes""".stripMargin

  // x121: x116's ADC top-3 vs the exact brute-force top-3 — per-query
  // hit counts, zero-filled for queries the ADC misses entirely.
  private lazy val x121Oracle: String =
    s"""WITH $pqCtes,
       |lut AS (
       |  SELECT q.vec_id AS q_id, c.sub, c.c_id,
       |         CAST(round((${PQL2("q.sv", "c.c_e")}) * 1048576) AS BIGINT) AS pd2
       |    FROM psv q JOIN pcent$X48Iters c ON q.sub = c.sub
       |   WHERE q.vec_id < 10),
       |adc AS (
       |  SELECT l.q_id, co.vec_id AS n_id, sum(l.pd2)::BIGINT AS adc_qd2
       |    FROM pcodes co JOIN lut l ON l.sub = co.sub AND l.c_id = co.code
       |   WHERE co.vec_id <> l.q_id GROUP BY 1, 2),
       |ap AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adc_qd2 ASC, n_id ASC) AS rnk
       |    FROM adc) WHERE rnk <= 3),
       |ex AS (SELECT q_id, n_id FROM (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY round(${COS("q.embedding", "n.embedding")}, 6)
       |                      DESC, n.vec_id ASC) AS rnk
       |    FROM embeddings q JOIN embeddings n
       |      ON q.vec_id < 10 AND q.vec_id <> n.vec_id) WHERE rnk <= 3),
       |hits AS (SELECT e.q_id, count(*)::BIGINT AS n_hits
       |           FROM ex e JOIN ap a ON a.q_id = e.q_id AND a.n_id = e.n_id
       |          GROUP BY 1)
       |SELECT q.vec_id AS q_id,
       |       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       |       round(coalesce(h.n_hits, 0) / 3.0, 4) AS recall_at_3
       |  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
       |  LEFT JOIN hits h ON h.q_id = q.vec_id""".stripMargin

  // x122: lloydCtes at nprobe=2 (asgf serves db at rn=1 and queries at
  // rn<=2), residual chain re-prefixed, per-(q, cell) residual LUT,
  // cell-matched exact integer ADC sums.
  private lazy val x122Oracle: String =
    s"""WITH ${lloydCtes(seedK = "16", nprobe = 2)},
       |resid AS (
       |  SELECT a.vec_id, a.c_id AS cell,
       |         list_transform(list_zip(a.embedding, k.c_e),
       |           x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)
       |                     AS FLOAT)) AS r
       |    FROM asgf a JOIN cent$X48Iters k ON a.c_id = k.c_id
       |   WHERE a.rn = 1),
       |${pqCtesFrom("resid", "r", "r")},
       |qres AS (
       |  SELECT a.vec_id AS q_id, a.c_id AS cell,
       |         list_transform(list_zip(a.embedding, k.c_e),
       |           x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)
       |                     AS FLOAT)) AS qr
       |    FROM asgf a JOIN cent$X48Iters k ON a.c_id = k.c_id
       |   WHERE a.rn <= 2 AND a.vec_id < 10),
       |qsv AS (SELECT q_id, cell, s.sub, qr[s.sub*16+1:(s.sub+1)*16] AS sv
       |          FROM qres, (SELECT unnest(range(0, 4)) AS sub) s),
       |lut AS (
       |  SELECT q.q_id, q.cell, q.sub, c.c_id AS code,
       |         CAST(round((${PQL2("q.sv", "c.c_e")}) * 1048576) AS BIGINT) AS pd2
       |    FROM qsv q JOIN rcent$X48Iters c ON q.sub = c.sub),
       |dbc AS (SELECT co.vec_id, r.cell, co.sub, co.code
       |          FROM rcodes co JOIN resid r USING (vec_id)),
       |adc AS (
       |  SELECT l.q_id, d.vec_id AS n_id, sum(l.pd2)::BIGINT AS adc_qd2
       |    FROM dbc d JOIN lut l ON l.cell = d.cell AND l.sub = d.sub
       |                          AND l.code = d.code
       |   WHERE d.vec_id <> l.q_id GROUP BY 1, 2)
       |SELECT q_id, n_id, adc_qd2, rnk FROM (
       |  SELECT q_id, n_id, adc_qd2,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adc_qd2 ASC, n_id ASC) AS rnk
       |    FROM adc) WHERE rnk <= 3""".stripMargin

  // x123: the three constituent oracles as CTEs (the x82 wrapping
  // idiom), one lang rollup, left-join zero-fill on the hh mass.
  private lazy val x123Oracle: String =
    s"""WITH e AS (
       |$x112Oracle
       |),
       |r AS (
       |$x110Oracle
       |),
       |hh AS (
       |$x113Oracle
       |),
       |w AS (SELECT d.lang, unnest(string_split($NT,' ')) AS word
       |        FROM documents d),
       |hm AS (SELECT lang, count(*)::BIGINT AS hh_tokens
       |         FROM w JOIN hh ON w.word = hh.word GROUP BY 1),
       |agg AS (
       |  SELECT d.lang, count(*)::BIGINT AS n_docs,
       |         sum(e.n_words)::BIGINT AS n_tokens,
       |         CAST((2*(sum(e.entropy_q)) + (count(*))) // (2*(count(*))) AS BIGINT) AS mean_entropy_q,
       |         CAST((2*(sum(r.keep) * 10000) + (count(*))) // (2*(count(*))) AS BIGINT) AS keep_rate_q
       |    FROM documents d JOIN e USING (doc_id) JOIN r USING (doc_id)
       |   GROUP BY 1)
       |SELECT a.lang, a.n_docs, a.n_tokens, a.mean_entropy_q, a.keep_rate_q,
       |       CAST((2*(coalesce(hm.hh_tokens, 0) * 10000) + (a.n_tokens)) // (2*(a.n_tokens)) AS BIGINT)
       |         AS hh_frac_q
       |  FROM agg a LEFT JOIN hm ON hm.lang = a.lang""".stripMargin

  // x124: per-vector max-abs int8 quantization replayed in SQL; the
  // score is a ratio of exact integer sums (scales cancel in cosine).
  private lazy val x124Oracle: String =
    s"""WITH sq AS (
       |  SELECT vec_id,
       |         CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0::BIGINT)
       |              ELSE list_transform(embedding,
       |                x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx)
       |                          AS BIGINT)) END AS qv
       |    FROM (SELECT vec_id, embedding,
       |                 list_max(list_transform(embedding,
       |                   x -> abs(CAST(x AS DOUBLE)))) AS mx
       |            FROM embeddings)),
       |sn AS (SELECT vec_id, qv,
       |              list_aggregate(list_transform(qv, x -> x*x), 'sum')
       |                ::BIGINT AS qn
       |         FROM sq),
       |sc AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |         CASE WHEN q.qn = 0 OR n.qn = 0 THEN 0.0
       |              ELSE round(
       |                list_aggregate(list_transform(list_zip(q.qv, n.qv),
       |                  x -> x[1]*x[2]), 'sum')::DOUBLE
       |                / (sqrt(q.qn::DOUBLE) * sqrt(n.qn::DOUBLE)), 6)
       |         END AS cos_sq
       |    FROM sn q JOIN sn n ON q.vec_id < 10 AND q.vec_id <> n.vec_id)
       |SELECT q_id, n_id, cos_sq, rnk FROM (
       |  SELECT q_id, n_id, cos_sq,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos_sq DESC, n_id ASC) AS rnk
       |    FROM sc) WHERE rnk <= 3""".stripMargin

  // x125: per-doc distinct shingle hashes (x07's set recipe) at wave
  // grain; min-wave first-seen + per-wave exact distinct.
  private lazy val x125Oracle: String =
    s"""WITH w AS (SELECT doc_id % 5 AS batch,
       |                 string_split($NT,' ') AS ws FROM documents),
       |s AS (SELECT batch,
       |             [array_to_string(ws[i:i+${ShingleK - 1}],' ')
       |              for i in range(1, len(ws)-${ShingleK - 2})] AS sh
       |        FROM w WHERE len(ws) >= $ShingleK),
       |sh AS (SELECT batch,
       |              unnest(list_distinct(list_transform(sh,
       |                x -> ${H60("x")}))) AS fp FROM s),
       |nb AS (SELECT batch, count(*)::BIGINT AS n_new FROM (
       |         SELECT fp, min(batch) AS batch FROM sh GROUP BY fp)
       |        GROUP BY 1),
       |db AS (SELECT batch, count(DISTINCT fp)::BIGINT AS n_distinct
       |         FROM sh GROUP BY 1)
       |SELECT d.batch, d.n_distinct,
       |       coalesce(nb.n_new, 0)::BIGINT AS n_new,
       |       round(coalesce(nb.n_new, 0)::DOUBLE
       |             / d.n_distinct::DOUBLE, 4) AS novelty
       |  FROM db d LEFT JOIN nb ON nb.batch = d.batch""".stripMargin

  // x126: the x28 recall recipe with the half-dim prefix as the
  // approximate side — both rankings exact brute force.
  private lazy val x126Oracle: String = {
    def t3(expr: String, name: String) =
      s"""$name AS (SELECT q_id, n_id FROM (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |         row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY round(${COS(s"q.$expr", s"n.$expr")}, 6)
         |                      DESC, n.vec_id ASC) AS rnk
         |    FROM embeddings q JOIN embeddings n
         |      ON q.vec_id < 10 AND q.vec_id <> n.vec_id) WHERE rnk <= 3)""".stripMargin
    s"""WITH ${t3("embedding", "fullt")},
       |${t3("embedding[1:32]", "halft")},
       |hits AS (SELECT f.q_id, count(*)::BIGINT AS n_hits
       |           FROM fullt f JOIN halft h
       |             ON h.q_id = f.q_id AND h.n_id = f.n_id
       |          GROUP BY 1)
       |SELECT q.vec_id AS q_id,
       |       coalesce(hi.n_hits, 0)::BIGINT AS n_hits,
       |       round(coalesce(hi.n_hits, 0) / 3.0, 4) AS recall_at_3
       |  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
       |  LEFT JOIN hits hi ON hi.q_id = q.vec_id""".stripMargin
  }

  // x127: x04's recipe with a sorted word multiset as the key.
  private lazy val x127Oracle: String =
    s"""SELECT md5(array_to_string(list_sort(string_split($NT,' ')),' '))
       |         AS bag_hash,
       |       min(doc_id) AS keep_id, count(*) AS n_copies
       |  FROM documents
       | GROUP BY md5(array_to_string(list_sort(string_split($NT,' ')),' '))""".stripMargin

  // x128: the four drop sets (two hash-group windows + the x33/x34
  // decision oracles nested whole), tagged union, doc-keyed self-join,
  // zero-filled pair spine.
  private lazy val x128Oracle: String = {
    def hdrops(tier: String, key: String) =
      s"""SELECT '$tier' AS tier, doc_id FROM (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY $key) AS k
         |    FROM documents) WHERE doc_id <> k""".stripMargin
    s"""WITH drops AS (
       |${hdrops("exact", s"md5($NT)")}
       |UNION ALL
       |${hdrops("bag", s"md5(array_to_string(list_sort(string_split($NT,' ')),' '))")}
       |UNION ALL
       |SELECT 'minhash' AS tier, drop_id AS doc_id FROM (
       |${x33Oracle}
       |)
       |UNION ALL
       |SELECT 'simhash' AS tier, drop_id AS doc_id FROM (
       |${x34Oracle}
       |)),
       |sizes AS (SELECT tier, count(*)::BIGINT AS n FROM drops GROUP BY 1),
       |bo AS (SELECT a.tier AS ta, b.tier AS tb, count(*)::BIGINT AS n_both
       |         FROM drops a JOIN drops b
       |           ON a.doc_id = b.doc_id AND a.tier < b.tier
       |        GROUP BY 1, 2),
       |pairs AS (SELECT * FROM (VALUES
       |  ('bag','exact'), ('bag','minhash'), ('bag','simhash'),
       |  ('exact','minhash'), ('exact','simhash'),
       |  ('minhash','simhash')) AS t(tier_a, tier_b))
       |SELECT p.tier_a, p.tier_b,
       |       coalesce(sa.n, 0)::BIGINT AS n_a,
       |       coalesce(sb.n, 0)::BIGINT AS n_b,
       |       coalesce(bo.n_both, 0)::BIGINT AS n_both
       |  FROM pairs p
       |  LEFT JOIN sizes sa ON sa.tier = p.tier_a
       |  LEFT JOIN sizes sb ON sb.tier = p.tier_b
       |  LEFT JOIN bo ON bo.ta = p.tier_a AND bo.tb = p.tier_b""".stripMargin
  }

  // x117: x03's prediction CTE verbatim, rolled to the confusion grain;
  // the share window is matrix-sized.
  private lazy val x117Oracle: String =
    s"""WITH p AS (
       |${oracles("x03_langid")}
       |),
       |c AS (SELECT lang, pred_lang, count(*)::BIGINT AS n_docs
       |        FROM p GROUP BY 1, 2)
       |SELECT lang, pred_lang, n_docs,
       |       round(n_docs::DOUBLE /
       |             (sum(n_docs) OVER (PARTITION BY lang))::DOUBLE, 4) AS share
       |  FROM c""".stripMargin

  // x114: boundary positions (word-hash mod 8, doc end appended only
  // when not already a boundary), prev-boundary list via prepend-0 +
  // drop-last — three equal-length unnests proceed in lockstep (the
  // x48 recenter idiom) — then x35's keep-min rollup on the chunk fp.
  private lazy val x114Oracle: String =
    s"""WITH t AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
       |b AS (SELECT doc_id, ws,
       |        list_concat(
       |          list_filter(range(1, len(ws)+1),
       |                      i -> ${H60("'cdc|'||ws[i]")} % 8 = 0),
       |          CASE WHEN ${H60("'cdc|'||ws[len(ws)]")} % 8 = 0 THEN []
       |               ELSE [len(ws)] END) AS bnds FROM t),
       |p AS (SELECT doc_id, ws,
       |        unnest(bnds) AS e,
       |        unnest(list_concat([0], bnds)[1:len(bnds)]) AS s,
       |        generate_subscripts(bnds, 1) - 1 AS chunk_idx
       |        FROM b),
       |c AS (SELECT doc_id, chunk_idx,
       |             md5(array_to_string(ws[s+1:e],' ')) AS chunk_fp FROM p)
       |SELECT chunk_fp, keep_doc, keep_chunk, n_sites FROM (
       |  SELECT chunk_fp, doc_id AS keep_doc, chunk_idx AS keep_chunk,
       |         count(*) OVER (PARTITION BY chunk_fp) AS n_sites,
       |         row_number() OVER (PARTITION BY chunk_fp
       |                            ORDER BY doc_id, chunk_idx) AS rn
       |    FROM c) WHERE rn = 1""".stripMargin

  // x130: curateV6's four gates composed. Entropy/uniform from the
  // x112 CTE shapes (quantized to a 1e-4 BIGINT grid); the 5th-pctile
  // cut via quantile_cont on the integer key (x106's recipe); CDC
  // ownership = x114's boundary CTEs restricted to the gated pool with
  // min-doc keep; the mix threshold is x54's integer round(pow·1e6).
  private lazy val x130Oracle: String =
    s"""WITH w AS (SELECT doc_id, unnest(string_split($NT,' ')) AS word
       |             FROM documents),
       |c AS (SELECT doc_id, word, count(*)::BIGINT AS c FROM w GROUP BY 1,2),
       |e AS (SELECT doc_id, sum(c)::BIGINT AS n_words,
       |             sum(c * CAST(round(ln(c) * 1000000) AS BIGINT))::BIGINT
       |               AS clc_q,
       |             (max(c) = min(c)) AS uni0
       |        FROM c GROUP BY 1),
       |eq AS (SELECT doc_id, uni0,
       |         CAST(round((CAST(round(ln(n_words) * 1000000) AS BIGINT)
       |                     * n_words - clc_q)::DOUBLE /
       |                    (n_words::DOUBLE * 69.31471805599453))
       |              AS BIGINT) AS ent_q
       |        FROM e),
       |cu AS (SELECT quantile_cont(ent_q, 0.05) AS cut FROM eq),
       |g AS (SELECT d.doc_id, d.lang,
       |        coalesce(eq.ent_q < cu.cut, FALSE) AS low,
       |        (NOT coalesce(eq.ent_q < cu.cut, FALSE))
       |          AND coalesce(eq.uni0, FALSE) AS uni
       |        FROM documents d LEFT JOIN eq USING (doc_id) CROSS JOIN cu),
       |t AS (SELECT d.doc_id, string_split($NT,' ') AS ws
       |        FROM documents d JOIN g USING (doc_id)
       |       WHERE NOT g.low AND NOT g.uni),
       |b AS (SELECT doc_id, ws,
       |        list_concat(
       |          list_filter(range(1, len(ws)+1),
       |                      i -> ${H60("'cdc|'||ws[i]")} % 8 = 0),
       |          CASE WHEN ${H60("'cdc|'||ws[len(ws)]")} % 8 = 0 THEN []
       |               ELSE [len(ws)] END) AS bnds FROM t),
       |p AS (SELECT doc_id, ws,
       |        unnest(bnds) AS e2,
       |        unnest(list_concat([0], bnds)[1:len(bnds)]) AS s2
       |        FROM b),
       |ch AS (SELECT doc_id,
       |         md5(array_to_string(ws[s2+1:e2],' ')) AS chunk_fp FROM p),
       |km AS (SELECT chunk_fp, min(doc_id) AS keep_doc FROM ch GROUP BY 1),
       |own AS (SELECT ch.doc_id, count(*)::BIGINT AS n_chunks,
       |          sum(CASE WHEN km.keep_doc = ch.doc_id
       |                   THEN 1 ELSE 0 END)::BIGINT AS n_owned
       |          FROM ch JOIN km USING (chunk_fp) GROUP BY 1),
       |g2 AS (SELECT g.doc_id, g.lang, g.low, g.uni,
       |         (NOT g.low AND NOT g.uni AND
       |          coalesce(own.n_owned*2 < own.n_chunks, FALSE)) AS dup
       |         FROM g LEFT JOIN own USING (doc_id)),
       |mc AS (SELECT lang, count(*)::BIGINT AS n_group FROM g2
       |        WHERE NOT low AND NOT uni AND NOT dup GROUP BY 1),
       |mm AS (SELECT min(n_group) AS n_min FROM mc),
       |r AS (SELECT lang,
       |        round(pow(n_min::DOUBLE / n_group::DOUBLE, 0.5)
       |              * 1000000)::BIGINT AS thr FROM mc, mm)
       |SELECT g2.doc_id, g2.lang,
       |       CASE WHEN low THEN 'low_entropy'
       |            WHEN uni THEN 'uniform'
       |            WHEN dup THEN 'dup_chunks'
       |            WHEN ${H60("'mix|'||g2.doc_id::VARCHAR")} % 1000000
       |                 >= r.thr THEN 'mix_out'
       |            ELSE 'kept' END AS reason,
       |       CASE WHEN NOT low AND NOT uni AND NOT dup AND
       |                 ${H60("'mix|'||g2.doc_id::VARCHAR")} % 1000000 < r.thr
       |            THEN 1 ELSE 0 END::BIGINT AS kept
       |  FROM g2 LEFT JOIN r USING (lang)""".stripMargin

  // x110: the three gram levels unioned at (doc, n, gram) grain; the
  // top gram per level picked by the same (cnt DESC, gram DESC)
  // tie-break Spark's max(struct(cnt, gram)) applies; char fractions
  // exclude separator spaces on both sides of the ratio; dup-5
  // coverage capped at 1 before rounding.
  private lazy val x110Oracle: String =
    s"""WITH t AS (SELECT doc_id, $NT AS nt, string_split($NT,' ') AS ws
       |             FROM documents),
       |b AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
       |             length(replace(nt,' ',''))::BIGINT AS tot FROM t),
       |g AS (
       |  SELECT doc_id, 2 AS n,
       |         unnest([ws[i]||' '||ws[i+1]
       |                 for i in range(1, len(ws))]) AS gram FROM t
       |  UNION ALL
       |  SELECT doc_id, 3,
       |         unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
       |                 for i in range(1, len(ws)-1)]) FROM t
       |  UNION ALL
       |  SELECT doc_id, 5,
       |         unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||
       |                 ws[i+3]||' '||ws[i+4]
       |                 for i in range(1, len(ws)-3)]) FROM t),
       |c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1,2,3),
       |t2 AS (SELECT doc_id, cnt*(length(gram)-1) AS chars FROM c WHERE n=2
       |        QUALIFY row_number() OVER (PARTITION BY doc_id
       |                                   ORDER BY cnt DESC, gram DESC)=1),
       |t3 AS (SELECT doc_id, cnt*(length(gram)-2) AS chars FROM c WHERE n=3
       |        QUALIFY row_number() OVER (PARTITION BY doc_id
       |                                   ORDER BY cnt DESC, gram DESC)=1),
       |d5 AS (SELECT doc_id, sum(cnt*(length(gram)-4)) AS chars
       |         FROM c WHERE n=5 AND cnt>=2 GROUP BY 1),
       |f AS (SELECT b.doc_id, b.n_words,
       |        CASE WHEN b.tot > 0 THEN round(least(
       |          coalesce(t2.chars,0)::DOUBLE / b.tot::DOUBLE, 1.0), 4)
       |          ELSE 0.0 END AS top2_frac,
       |        CASE WHEN b.tot > 0 THEN round(least(
       |          coalesce(t3.chars,0)::DOUBLE / b.tot::DOUBLE, 1.0), 4)
       |          ELSE 0.0 END AS top3_frac,
       |        CASE WHEN b.tot > 0 THEN round(least(
       |          coalesce(d5.chars,0)::DOUBLE / b.tot::DOUBLE, 1.0), 4)
       |          ELSE 0.0 END AS dup5_frac
       |        FROM b LEFT JOIN t2 USING (doc_id)
       |               LEFT JOIN t3 USING (doc_id)
       |               LEFT JOIN d5 USING (doc_id))
       |SELECT doc_id, n_words, top2_frac, top3_frac, dup5_frac,
       |       CASE WHEN top2_frac <= 0.20 AND top3_frac <= 0.18
       |             AND dup5_frac <= 0.15 THEN 1 ELSE 0 END::BIGINT AS keep
       |  FROM f""".stripMargin

  // x102: plain cross join against the %10 held-out slice — the oracle
  // needs no Lloyd's chain because the query deliberately has no index
  // (suite-sized broadcast, exact cosines). Cosines on the BIGINT
  // micro-unit grid (the x99 cq pattern) — max/threshold are integer
  // ops, digit-portable across DuckDB builds.
  private lazy val x102Oracle: String =
    s"""WITH c AS (
       |  SELECT t.vec_id AS train_id,
       |         CAST(round((${COS("t.embedding", "b.embedding")})
       |              * 1000000) AS BIGINT) AS cq
       |    FROM embeddings t, embeddings b
       |   WHERE t.vec_id % 10 <> 0 AND b.vec_id % 10 = 0)
       |SELECT train_id, count(*)::BIGINT AS n_hits, max(cq) AS max_cos_q
       |  FROM c WHERE cq >= 350000 GROUP BY train_id""".stripMargin

  // x48/x71/x81 shared: the SAME two Lloyd's rounds the Spark trainer
  // runs, unrolled as a CTE chain ending in `cells` (vec_id, embedding,
  // cell) with the final centroid table named cent$X48Iters. Centroid
  // math is exact-integer quantized (sum of round(x*2^20) longs,
  // divided back) so both engines derive bit-identical centroids each
  // round — training is hash-checked, not approximated. Generated from
  // X48Iters so queries and oracles can't drift on the round count.
  // `seedK` = first-K-vectors seeding (kmeansTrain's initK) as a SQL
  // expression — a literal ("64") or a scalar subquery (AutoKSql, the
  // k ~ √n rule, so one oracle string serves every SF); `nprobe` =
  // how many nearest trained cells each vector lands in at the end
  // (training assignment itself is always nprobe=1, as in kmeansTrain).
  private def lloydCtes(seedK: String, nprobe: Int): String = {
    def asg(cent: String, name: String) =
      s"""$name AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${COS("e.embedding", "c.c_e")} DESC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN $cent c)""".stripMargin
    def recenter(asgName: String, centName: String) =
      s"""${centName}_q AS (
         |  SELECT c_id AS cell, generate_subscripts(embedding, 1) - 1 AS dim,
         |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS q
         |    FROM $asgName WHERE rn = 1),
         |$centName AS (
         |  SELECT cell AS c_id, list(CAST(mval AS FLOAT) ORDER BY dim) AS c_e
         |    FROM (SELECT cell, dim, (sum(q)::DOUBLE / 1048576.0) / count(*) AS mval
         |            FROM ${centName}_q GROUP BY cell, dim)
         |   GROUP BY cell)""".stripMargin
    val rounds = (1 to X48Iters).map { i =>
      asg(s"cent${i - 1}", s"asg$i") + ",\n" + recenter(s"asg$i", s"cent$i")
    }.mkString(",\n")
    s"""cent0 AS (SELECT vec_id AS c_id, embedding AS c_e
       |                 FROM embeddings WHERE vec_id < $seedK),
       |$rounds,
       |${asg(s"cent$X48Iters", "asgf")},
       |cells AS (SELECT vec_id, embedding, c_id AS cell
       |            FROM asgf WHERE rn <= $nprobe)""".stripMargin
  }

  private lazy val lloydCellCtes: String = lloydCtes(seedK = "16", nprobe = 1)

  /** [[graft.ops.VectorOps.suggestK]] as a DuckDB scalar subquery —
    * greatest(floor, least(cap, round(√n))) over the embeddings table,
    * so an auto-k oracle stays one string across scale factors (k is
    * data-derived on BOTH engines, never baked per-SF). */
  private val AutoKSql: String =
    "(SELECT greatest(16, least(65536, " +
      "CAST(round(sqrt(count(*))) AS BIGINT))) FROM embeddings)"

  private lazy val x48Oracle: String =
    s"""WITH $lloydCellCtes,
       |cand AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |         round(${COS("q.embedding", "n.embedding")}, 6) AS cos
       |    FROM cells q JOIN cells n
       |      ON q.cell = n.cell AND q.vec_id <> n.vec_id
       |   WHERE q.vec_id < 10)
       |SELECT q_id, n_id, cos, rnk FROM (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY cos DESC, n_id ASC) AS rnk
       |    FROM cand) WHERE rnk <= 3""".stripMargin

  // x82: x41's drop set anti-joined off the corpus (tombstone semantics:
  // a committed delete removes the row from the snapshot), rolled up.
  private lazy val x82Oracle: String =
    s"""WITH drops AS (
       |${x41Oracle}
       |)
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |       sum(n_chars)::BIGINT AS n_chars
       |  FROM documents d
       | WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.drop_id = d.doc_id)
       | GROUP BY lang""".stripMargin

  // x81: the same unrolled training with 64 seeds, nprobe=2 cells, then
  // x22's pair-verify + decision shape over the TRAINED assignment.
  private lazy val x81Oracle: String =
    s"""WITH ${lloydCtes(seedK = "64", nprobe = 2)},
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       |         round(${COS("a.embedding", "b.embedding")}, 6) AS cos
       |    FROM cells a JOIN cells b
       |      ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT b_id AS drop_id, min(a_id) AS canonical_id, count(*) AS n_dups
       |  FROM cand WHERE cos >= 0.45 GROUP BY b_id""".stripMargin

  // x71: the same trained cells, scored with the integer-quantized
  // centroid cosine (ivfCellsScored's cq), then the SemDeDup rule —
  // within-cell pairs ≥ τ, canonical = farthest-from-centroid
  // (min (cq, id)).
  private lazy val x71Oracle: String =
    s"""WITH $lloydCellCtes,
       |scored AS (
       |  SELECT c.vec_id, c.embedding, c.cell,
       |         CAST(round((${COS("c.embedding", "k.c_e")}) * 1000000) AS BIGINT) AS cq
       |    FROM cells c JOIN cent$X48Iters k ON c.cell = k.c_id),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, a.cq AS a_cq, b.vec_id AS b_id,
       |         round(${COS("a.embedding", "b.embedding")}, 6) AS cos
       |    FROM scored a JOIN scored b
       |      ON a.cell = b.cell
       |     AND (a.cq < b.cq OR (a.cq = b.cq AND a.vec_id < b.vec_id)))
       |SELECT drop_id, keeper_id, n_dups FROM (
       |  SELECT b_id AS drop_id, a_id AS keeper_id,
       |         count(*) OVER (PARTITION BY b_id) AS n_dups,
       |         row_number() OVER (PARTITION BY b_id
       |                            ORDER BY a_cq ASC, a_id ASC) AS rn
       |    FROM pairs WHERE cos >= 0.35) WHERE rn = 1""".stripMargin

  // x72/x76 shared: the NB model — (label, word) Laplace counts,
  // BIGINT micro-unit quantized log-probs (the ExactMath grid), exact
  // INTEGER score sums, (score desc, label asc) argmax — replayed
  // end-to-end in SQL, ending in `pr` (doc_id, pred_label) over the
  // held-out split.
  private lazy val x72Ctes: String =
    s"""tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
       |te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
       |trw AS (SELECT label, w, count(*) AS cnt
       |          FROM (SELECT lang AS label,
       |                       unnest(string_split($NT,' ')) AS w FROM tr)
       |         WHERE length(w) > 0 GROUP BY 1, 2),
       |tot AS (SELECT label, sum(cnt) AS tot FROM trw GROUP BY 1),
       |vs AS (SELECT count(DISTINCT w) AS v FROM trw),
       |nt AS (SELECT count(*) AS n FROM tr),
       |lab AS (SELECT p.label,
       |               CAST(round(ln(p.ndocs::DOUBLE / nt.n) * 1000000)
       |                    AS BIGINT) AS prior_q,
       |               CAST(round(ln(1.0 / (t.tot + vs.v)) * 1000000)
       |                    AS BIGINT) AS l0
       |          FROM (SELECT lang AS label, count(*) AS ndocs
       |                  FROM tr GROUP BY 1) p
       |          JOIN tot t USING (label) CROSS JOIN vs CROSS JOIN nt),
       |lq AS (SELECT c.w, c.label,
       |              CAST(round(ln((c.cnt + 1)::DOUBLE / (t.tot + vs.v))
       |                         * 1000000) AS BIGINT) AS lq
       |         FROM trw c JOIN tot t USING (label) CROSS JOIN vs),
       |dw AS (SELECT doc_id, w, count(*) AS n
       |         FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w FROM te)
       |        WHERE length(w) > 0 GROUP BY 1, 2),
       |sc AS (SELECT d.doc_id, l.label,
       |              max(l.prior_q) + sum(d.n * coalesce(q.lq, l.l0)) AS score
       |         FROM (SELECT dw.* FROM dw
       |                 JOIN (SELECT DISTINCT w FROM trw) dv USING (w)) d
       |         CROSS JOIN lab l
       |         LEFT JOIN lq q ON q.label = l.label AND q.w = d.w
       |        GROUP BY 1, 2),
       |pr AS (SELECT doc_id, label AS pred_label FROM sc
       |       QUALIFY row_number() OVER (PARTITION BY doc_id
       |                ORDER BY score DESC, label ASC) = 1)""".stripMargin

  private lazy val x72Oracle: String =
    s"""WITH $x72Ctes
       |SELECT te.lang, pr.pred_label, count(*) AS n_docs
       |  FROM pr JOIN te USING (doc_id)
       | GROUP BY 1, 2""".stripMargin

  // x76: x72's prediction CTEs → agree-gate → x73's ES quota draw.
  private lazy val x76Oracle: String =
    s"""WITH $x72Ctes,
       |gated AS (SELECT te.doc_id, te.lang, d.n_chars
       |            FROM pr JOIN te USING (doc_id)
       |            JOIN documents d USING (doc_id)
       |           WHERE pr.pred_label = te.lang),
       |skeys AS (SELECT lang, doc_id, n_chars,
       |                 round(ln(((${H60("'curate76|'||doc_id::VARCHAR")}
       |                            % 1048576) + 1)::DOUBLE / 1048577.0)
       |                       / n_chars::DOUBLE, 6) + 0.0 AS skey
       |            FROM gated)
       |SELECT lang, doc_id, n_chars, skey, rnk FROM (
       |  SELECT lang, doc_id, n_chars, skey,
       |         row_number() OVER (PARTITION BY lang
       |             ORDER BY skey DESC, doc_id ASC) AS rnk
       |    FROM skeys) WHERE rnk <= 10""".stripMargin

  // x83/x84/x89: the DSIR weight table replayed verbatim — target =
  // src0/src1, pool = the rest, both unigram models under EXACTLY
  // unigramCounts' tokenization (NO empty-token filter: tokenized()
  // keeps the "" token an empty doc yields, unlike the x72 NB CTEs),
  // per-word logs quantized round(ln,6)::DECIMAL(18,6) so the doc sums
  // are order-insensitive, mean ratio rounded to 4.
  private lazy val x83Ctes: String =
    s"""tg AS (SELECT text FROM documents WHERE source IN ('src0','src1')),
       |pl AS (SELECT doc_id, text FROM documents
       |        WHERE source NOT IN ('src0','src1')),
       |ct AS (SELECT w, count(*) AS cnt
       |         FROM (SELECT unnest(string_split($NT,' ')) AS w FROM tg)
       |        GROUP BY 1),
       |cs AS (SELECT w, count(*) AS cnt
       |         FROM (SELECT unnest(string_split($NT,' ')) AS w FROM pl)
       |        GROUP BY 1),
       |kt AS (SELECT sum(cnt) AS n_t, count(*) AS v_t FROM ct),
       |ks AS (SELECT sum(cnt) AS n_s, count(*) AS v_s FROM cs),
       |tf AS (SELECT doc_id, w, count(*) AS tf
       |         FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w
       |                 FROM pl)
       |        GROUP BY 1, 2),
       |lp AS (SELECT t.doc_id, t.tf,
       |        CAST(round(ln((coalesce(c1.cnt, 0) + 1)::DOUBLE /
       |                      (kt.n_t + kt.v_t)::DOUBLE) * 1000000)
       |             AS BIGINT) AS lt,
       |        CAST(round(ln((coalesce(c2.cnt, 0) + 1)::DOUBLE /
       |                      (ks.n_s + ks.v_s)::DOUBLE) * 1000000)
       |             AS BIGINT) AS ls
       |         FROM tf t LEFT JOIN ct c1 USING (w)
       |                   LEFT JOIN cs c2 USING (w)
       |         CROSS JOIN kt CROSS JOIN ks),
       |wtab AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
       |        (CASE WHEN (sum(tf * (lt - ls))) < 0 THEN -CAST((2*(-(sum(tf * (lt - ls)))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) ELSE CAST((2*(sum(tf * (lt - ls))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) END)
       |          AS log_ratio_q
       |         FROM lp GROUP BY doc_id)""".stripMargin

  private lazy val x83Oracle: String =
    s"""WITH $x83Ctes
       |SELECT doc_id, n_tokens, log_ratio_q FROM wtab""".stripMargin

  private lazy val x84Oracle: String =
    s"""WITH $x83Ctes
       |SELECT doc_id, n_tokens, log_ratio_q FROM wtab
       | ORDER BY log_ratio_q DESC, doc_id ASC LIMIT 64""".stripMargin

  // x89: Gumbel-top-k over the weight table — gkey_q replays the
  // Spark side's hash-derived u and double-ln digit-for-digit (x73's
  // recipe) quantized ONCE to the 1e-6 grid; skey_q is one exact
  // integer add, so the order (and the top-64 cut) is build-portable.
  private lazy val x89Oracle: String =
    s"""WITH $x83Ctes,
       |g AS (SELECT doc_id, n_tokens, log_ratio_q,
       |        CAST(round(-ln(-ln(((${H60("'dsir|'||doc_id::VARCHAR")}
       |                        % 1048576) + 1)::DOUBLE / 1048577.0))
       |             * 1000000) AS BIGINT) AS gkey_q
       |        FROM wtab)
       |SELECT doc_id, n_tokens, log_ratio_q, gkey_q,
       |       log_ratio_q * 100 + gkey_q AS skey_q
       |  FROM g ORDER BY skey_q DESC, doc_id ASC LIMIT 64""".stripMargin

  // x85/x91: one token-count scan → per-language mass; sqrt quantized
  // to DECIMAL(18,6) (IEEE sqrt is correctly rounded, so both engines
  // agree BEFORE the round), everything after is exact decimal. The
  // CTE chain is shared so plan (x85) and materialization (x91)
  // cannot drift on the allocation arithmetic. Parameterized on the
  // budget fraction (a decimal literal both engines take exactly).
  private def x85Ctes(budget: String): String =
    s"""t AS (SELECT lang, len(string_split($NT,' '))::BIGINT AS n
       |            FROM documents),
       |g AS (SELECT lang, sum(n)::BIGINT AS n_tokens FROM t GROUP BY 1),
       |g2 AS (SELECT lang, n_tokens,
       |         CAST(round(sqrt(n_tokens::DOUBLE) * 1000000) AS BIGINT)
       |           AS s_q
       |         FROM g),
       |tot AS (SELECT sum(s_q) AS s_tot_q, sum(n_tokens)::BIGINT AS tok_tot
       |          FROM g2),
       |w AS (SELECT lang, n_tokens,
       |        CAST((2*(s_q::HUGEINT * 1000000) + (s_tot_q)) // (2*(s_tot_q::HUGEINT)) AS BIGINT) AS weight_q,
       |        tok_tot FROM g2 CROSS JOIN tot),
       |a AS (SELECT lang, n_tokens, weight_q,
       |        CAST((CAST(floor($budget * tok_tot) AS BIGINT)::HUGEINT * weight_q)
       |          // 1000000 AS BIGINT) AS alloc_tokens
       |        FROM w)""".stripMargin

  private lazy val x85Oracle: String =
    s"""WITH ${x85Ctes("0.5")}
       |SELECT lang, n_tokens, weight_q, alloc_tokens,
       |       CAST((2*(alloc_tokens::HUGEINT * 10000) + (n_tokens)) // (2*(n_tokens::HUGEINT)) AS BIGINT) AS epochs_q,
       |       CASE WHEN CAST((2*(alloc_tokens::HUGEINT * 10000) + (n_tokens)) // (2*(n_tokens::HUGEINT)) AS BIGINT)
       |                 > 10000 THEN 1 ELSE 0 END::BIGINT AS oversampled
       |  FROM a""".stripMargin

  // x91: the copy table replayed with ONE per-language window cumsum
  // in (h, doc_id) order — equivalent to the Spark side's two-level
  // per-group prefix sum (the blocks partition the same order).
  private lazy val x91Oracle: String =
    s"""WITH ${x85Ctes("0.5")},
       |d AS (SELECT doc_id, lang, len(string_split($NT,' '))::BIGINT
       |               AS n_tokens,
       |             ${H60("'mix|'||doc_id::VARCHAR")} AS h
       |        FROM documents),
       |r AS (SELECT d.*, coalesce(sum(n_tokens) OVER (PARTITION BY lang
       |               ORDER BY h, doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |             0)::BIGINT AS running FROM d)
       |SELECT r.doc_id, r.lang, r.n_tokens,
       |       (a.alloc_tokens // a.n_tokens +
       |        CASE WHEN r.running + r.n_tokens
       |                  <= a.alloc_tokens % a.n_tokens
       |             THEN 1 ELSE 0 END)::BIGINT AS n_copies
       |  FROM r JOIN a USING (lang)""".stripMargin

  // x86: x72's scoring CTEs verbatim, argmax keeps its (exact-decimal)
  // score, terciles within each predicted label over (score asc,
  // doc_id asc) — a total order, so ntile is deterministic.
  private lazy val x86Oracle: String =
    s"""WITH $x72Ctes,
       |p2 AS (SELECT doc_id, label AS pred_label, score FROM sc
       |       QUALIFY row_number() OVER (PARTITION BY doc_id
       |                ORDER BY score DESC, label ASC) = 1),
       |b AS (SELECT p2.pred_label, te.lang,
       |             ntile(3) OVER (PARTITION BY p2.pred_label
       |                 ORDER BY p2.score ASC, p2.doc_id ASC)::BIGINT
       |               AS bucket
       |        FROM p2 JOIN te USING (doc_id))
       |SELECT pred_label, bucket, count(*)::BIGINT AS n_docs,
       |       sum(CASE WHEN lang = pred_label THEN 1 ELSE 0 END)::BIGINT
       |         AS n_agree,
       |       CAST((2*(sum(CASE WHEN lang = pred_label THEN 1 ELSE 0 END)
       |                * 10000) + count(*)) // (2*count(*)) AS BIGINT) AS acc_q
       |  FROM b GROUP BY 1, 2""".stripMargin

  // x87: x37's shingle CTE (k=8, hashed distinct per-doc sets) with the
  // per-doc set size as denominator — numerator and denominator from
  // the same grain, exactly as contaminationReport computes them.
  private lazy val x87Oracle: String =
    s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
       |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |         [array_to_string(ws[i:i+7],' ') for i in range(1, len(ws)-6)],
       |         x -> ${H60("x")}))) AS sh FROM w),
       |t AS (SELECT doc_id, sh FROM s WHERE doc_id % 5 <> 0),
       |b AS (SELECT DISTINCT sh FROM s WHERE doc_id % 5 = 0),
       |j AS (SELECT t.doc_id, count(*)::BIGINT AS n_shingles,
       |             sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |               AS n_shared
       |        FROM t LEFT JOIN b ON t.sh = b.sh GROUP BY 1)
       |SELECT doc_id, n_shingles, n_shared,
       |       (2*(n_shared*10000) + n_shingles) // (2*n_shingles)
       |         AS frac_q,
       |       CASE WHEN (2*(n_shared*10000) + n_shingles)
       |                 // (2*n_shingles) >= 2000
       |            THEN 1 ELSE 0 END::BIGINT AS flagged
       |  FROM j WHERE n_shared > 0""".stripMargin

  // x88: x07's pair oracle at the loosest threshold (lshPairsSql —
  // banding is threshold-independent), three filters over it; LEFT
  // joins from the candidate list so an all-killing threshold still
  // reports (threshold, 0, 0), matching the Spark side's zero-fill.
  private lazy val x88Oracle: String =
    s"""WITH pairs AS (${lshPairsSql(0.7)}),
       |th AS (SELECT unnest([0.7, 0.8, 0.9])::DOUBLE AS threshold),
       |pc AS (SELECT threshold, count(*)::BIGINT AS n_pairs
       |         FROM th JOIN pairs ON jac >= threshold GROUP BY 1),
       |dm AS (SELECT b_id, max(jac) AS mj FROM pairs GROUP BY 1),
       |dc AS (SELECT threshold, count(*)::BIGINT AS n_docs_dropped
       |         FROM th JOIN dm ON mj >= threshold GROUP BY 1)
       |SELECT th.threshold,
       |       coalesce(pc.n_pairs, 0)::BIGINT AS n_pairs,
       |       coalesce(dc.n_docs_dropped, 0)::BIGINT AS n_docs_dropped
       |  FROM th LEFT JOIN pc USING (threshold)
       |          LEFT JOIN dc USING (threshold)""".stripMargin

  // x90: the rule table replayed with DuckDB string/list functions —
  // occurrence counts via the same replace-length deltas, ratios
  // rounded to 4 BEFORE thresholding in both engines.
  // Gopher rule-gate fragments shared by the x90 and x135 oracles (one
  // definition — the distillation label cannot drift from the gate):
  private lazy val gopherMCte: String =
    s"""t AS (SELECT doc_id, $NT AS nt, string_split($NT,' ') AS ws
       |             FROM documents),
       |m AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
       |        round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE /
       |              len(ws)::DOUBLE, 4) AS mean_word_len,
       |        round(((length(nt) - length(replace(nt,'#',''))) +
       |               (length(nt) - length(replace(nt,'...','')))//3)::DOUBLE /
       |              len(ws)::DOUBLE, 4) AS symbol_ratio,
       |        round(len(list_filter(ws, w -> regexp_matches(w,'[a-z]')))::DOUBLE /
       |              len(ws)::DOUBLE, 4) AS alpha_frac,
       |        len(list_distinct(list_filter(ws,
       |            w -> w IN ('the','and','of','to','in','is','a'))))::BIGINT
       |          AS n_stop
       |        FROM t)""".stripMargin
  private val gopherKeepExpr: String =
    """CASE WHEN n_words BETWEEN 50 AND 100000
      |             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |             AND symbol_ratio < 0.1 AND alpha_frac >= 0.8
      |             AND n_stop >= 2
      |            THEN 1 ELSE 0 END::BIGINT""".stripMargin

  private lazy val x90Oracle: String =
    s"""WITH $gopherMCte
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       |       n_stop,
       |       $gopherKeepExpr AS keep
       |  FROM m""".stripMargin

  // x135: the whole hard-sigmoid GD trajectory unrolled as a CTE chain
  // generated from X135Steps — features, label, every gradient step,
  // and the held-out scoring all exact integer arithmetic (HUGEINT
  // sums, divide-half-up), digit-identical to the Spark driver fold.
  private lazy val x135Oracle: String = {
    val zExpr = DHUS("w0*1000000 + w1*x1q + w2*x2q + w3*x3q", "1000000")
    val pExpr = s"greatest(0, least(1000000, 500000 + ${DHUS(zExpr, "4")}))"
    val steps = (1 to X135Steps).map { i =>
      s"""g$i AS (SELECT w0, w1, w2, w3,
         |        count(*)::HUGEINT * 1000000 AS nm,
         |        sum((y*1000000 - $pExpr)::HUGEINT * 1000000) AS s0,
         |        sum((y*1000000 - $pExpr)::HUGEINT * x1q) AS s1,
         |        sum((y*1000000 - $pExpr)::HUGEINT * x2q) AS s2,
         |        sum((y*1000000 - $pExpr)::HUGEINT * x3q) AS s3
         |        FROM tr CROSS JOIN r${i - 1} GROUP BY 1, 2, 3, 4),
         |r$i AS (SELECT w0 + ${DHUS(DHUS("s0", "nm"), "2")} AS w0,
         |        w1 + ${DHUS(DHUS("s1", "nm"), "2")} AS w1,
         |        w2 + ${DHUS(DHUS("s2", "nm"), "2")} AS w2,
         |        w3 + ${DHUS(DHUS("s3", "nm"), "2")} AS w3 FROM g$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $gopherMCte,
       |lab AS (SELECT doc_id, $gopherKeepExpr AS y FROM m),
       |e AS (SELECT doc_id, unnest(ws) AS w FROM t),
       |wc AS (SELECT doc_id, w, count(*)::BIGINT AS c,
       |        max(length(w))::BIGINT AS len FROM e GROUP BY 1, 2),
       |fx AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
       |        count(*)::BIGINT AS n_distinct, max(c)::BIGINT AS maxc,
       |        sum(c*len)::BIGINT AS sumlen FROM wc GROUP BY 1),
       |ftr AS (SELECT fx.doc_id, lab.y,
       |        ${DHU("n_distinct*1000000", "n_tokens")} AS x1q,
       |        ${DHU("maxc*1000000", "n_tokens")} AS x2q,
       |        ${DHU("sumlen*1000000", "n_tokens*10")} AS x3q
       |        FROM fx JOIN lab USING (doc_id)),
       |tr AS (SELECT * FROM ftr WHERE doc_id % 5 <> 0),
       |r0 AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1,
       |              0::BIGINT AS w2, 0::BIGINT AS w3),
       |$steps
       |SELECT doc_id, y, $zExpr AS z_q, $pExpr AS p_q,
       |       CASE WHEN $pExpr >= 500000 THEN 1 ELSE 0 END::BIGINT AS pred
       |  FROM ftr CROSS JOIN r$X135Steps WHERE doc_id % 5 = 0""".stripMargin
  }

  // x92: block starts 1 + i·4 for the floor(n/4) full blocks (the
  // Spark side's stride-4 sequence with the full-block filter), df
  // over DISTINCT docs, every occurrence of a boilerplate block cut at
  // token grain (anti join), text reassembled in token order. The
  // string_agg of a fully-cut doc is NULL → coalesced to '' to match
  // Spark's concat_ws over an empty array.
  private lazy val x92Oracle: String =
    s"""WITH t AS (SELECT doc_id, string_split($NT,' ') AS ws,
       |                  len(string_split($NT,' ')) AS n FROM documents),
       |blk AS (SELECT doc_id, n, ws,
       |               unnest([1 + i*4 for i in range(0, n//4)]) AS st
       |          FROM t),
       |fps AS (SELECT doc_id, st,
       |               ${H60("'bp|' || array_to_string(ws[st:st+3],' ')")} AS fp
       |          FROM blk),
       |bp AS (SELECT fp FROM fps GROUP BY fp
       |        HAVING count(DISTINCT doc_id) >= 3),
       |cuti AS (SELECT f.doc_id, unnest([f.st + k for k in range(0, 4)]) AS i
       |           FROM fps f JOIN bp USING (fp)),
       |tok AS (SELECT doc_id, i, ws[i] AS tk
       |          FROM t, unnest(range(1, n+1)) AS r(i)),
       |kept AS (SELECT tok.doc_id, tok.i, tok.tk FROM tok
       |          ANTI JOIN cuti
       |            ON tok.doc_id = cuti.doc_id AND tok.i = cuti.i),
       |re AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS text,
       |              count(*) AS n_kept FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(re.text, '') AS text,
       |       t.n::BIGINT AS n_tokens,
       |       coalesce(re.n_kept, 0)::BIGINT AS n_kept,
       |       (t.n - coalesce(re.n_kept, 0))::BIGINT AS n_cut
       |  FROM t LEFT JOIN re USING (doc_id)""".stripMargin

  // x93: distinct 3-shingles per doc (x07's shingle CTE + list_distinct),
  // min-doc attribution per fingerprint, per-doc novelty rollup. Docs
  // with < 3 words have no shingles → 0/0/NULL via the left join.
  private lazy val x93Oracle: String =
    s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
       |s AS (SELECT doc_id,
       |             list_distinct([array_to_string(ws[i:i+2],' ')
       |                            for i in range(1, len(ws)-1)]) AS sh
       |        FROM w),
       |e AS (SELECT doc_id, ${H60("'nov|' || unnest(sh)")} AS fp FROM s),
       |f AS (SELECT fp, min(doc_id) AS first_id FROM e GROUP BY fp),
       |p AS (SELECT e.doc_id, count(*) AS n_shingles,
       |             sum(CASE WHEN f.first_id = e.doc_id
       |                      THEN 1 ELSE 0 END) AS n_novel
       |        FROM e JOIN f USING (fp) GROUP BY e.doc_id)
       |SELECT d.doc_id, coalesce(p.n_shingles, 0)::BIGINT AS n_shingles,
       |       coalesce(p.n_novel, 0)::BIGINT AS n_novel,
       |       round(p.n_novel::DOUBLE / p.n_shingles, 4) AS novel_frac
       |  FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin

  // x94: x42's per-term BM25 weight quantized to DECIMAL(18,6) and
  // summed exactly per (query, doc); cosine per x11/x12's exact fold;
  // top-20 per modality, RRF k=60 fusion (1.0::DOUBLE — a bare 1.0 is
  // DECIMAL in DuckDB and would fuse in decimal arithmetic), top-10.
  private lazy val x94Oracle: String =
    s"""WITH tf AS (
       |  SELECT doc_id, w AS word, count(*)::BIGINT AS tf
       |    FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w
       |            FROM documents) GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
       |df AS (SELECT word, count(*)::BIGINT AS dfreq FROM tf GROUP BY word),
       |c AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |term AS (
       |  SELECT tf.doc_id, tf.word,
       |         CAST(round(ln(1.0 + (c.n_docs - df.dfreq + 0.5) /
       |                        (df.dfreq + 0.5)) *
       |               (tf.tf * 2.2 /
       |                (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl)))
       |               * 1000000) AS BIGINT) AS t_q
       |    FROM tf JOIN dl USING (doc_id) JOIN df USING (word) CROSS JOIN c),
       |q AS (SELECT doc_id AS q_id, word FROM tf WHERE doc_id < 3),
       |ts AS (SELECT q.q_id, term.doc_id, sum(t_q) AS score
       |         FROM q JOIN term USING (word)
       |        WHERE term.doc_id <> q.q_id GROUP BY 1, 2),
       |tr AS (SELECT q_id, doc_id,
       |              row_number() OVER (PARTITION BY q_id
       |                  ORDER BY score DESC, doc_id ASC)::BIGINT AS r_text
       |         FROM ts QUALIFY r_text <= 20),
       |vs AS (SELECT a.vec_id AS q_id, b.vec_id AS doc_id,
       |              CAST(round((${COS("a.embedding", "b.embedding")})
       |                   * 1000000) AS BIGINT) AS cos
       |         FROM embeddings a JOIN embeddings b
       |           ON a.vec_id < 3 AND a.vec_id <> b.vec_id),
       |vr AS (SELECT q_id, doc_id,
       |              row_number() OVER (PARTITION BY q_id
       |                  ORDER BY cos DESC, doc_id ASC)::BIGINT AS r_vec
       |         FROM vs QUALIFY r_vec <= 20),
       |f AS (SELECT coalesce(tr.q_id, vr.q_id) AS q_id,
       |             coalesce(tr.doc_id, vr.doc_id) AS doc_id,
       |             tr.r_text, vr.r_vec,
       |             CASE
       |               WHEN tr.r_text IS NOT NULL AND vr.r_vec IS NOT NULL
       |               THEN CAST((2*(1000000 * (120 + tr.r_text + vr.r_vec)) + ((60 + tr.r_text) * (60 + vr.r_vec))) // (2*((60 + tr.r_text) * (60 + vr.r_vec))) AS BIGINT)
       |               WHEN tr.r_text IS NOT NULL
       |               THEN CAST((2*(1000000) + (60 + tr.r_text)) // (2*(60 + tr.r_text)) AS BIGINT)
       |               ELSE CAST((2*(1000000) + (60 + vr.r_vec)) // (2*(60 + vr.r_vec)) AS BIGINT)
       |             END AS rrf_q
       |        FROM tr FULL JOIN vr
       |          ON tr.q_id = vr.q_id AND tr.doc_id = vr.doc_id)
       |SELECT q_id, doc_id, r_text, r_vec, rrf_q
       |  FROM f QUALIFY row_number() OVER (PARTITION BY q_id
       |         ORDER BY rrf_q DESC, doc_id ASC) <= 10""".stripMargin

  // x95: the SAME X95Iters power-method rounds, unrolled. Gram products
  // quantized round(xi·xj, 9)::DECIMAL(28,9) and summed exactly; each
  // round's M·v is exact decimal (DECIMAL(20,9)×DECIMAL(8,6)); only the
  // ∞-norm ratio passes through doubles, re-quantized to DECIMAL(8,6)
  // with the −0.0 guard. Dims 1-based on both sides.
  // MATERIALIZED on every CTE in the chain (the x105 lesson applied to
  // the shared prefix itself): without it each w$k reference re-expands
  // v$(k-1) which re-expands w$(k-1)… — an exponentially-inlined plan
  // that recomputes the n·d² Gram join per unrolled round. Measured on
  // the r17 compare: x95 343 s → ~2 s, and the four oracles sharing
  // this prefix (x95/x96/x105/x106) were the ENTIRE long pole of the
  // driver's DuckDB gate.
  private lazy val x95Ctes: String = {
    val rounds = (1 to X95Iters).map { k =>
      s"""w$k AS MATERIALIZED (SELECT g.i, sum(g.m * v.v) AS w
         |  FROM g JOIN v${k - 1} v ON g.j = v.j GROUP BY g.i),
         |m$k AS MATERIALIZED (SELECT max(abs(w)) AS mx FROM w$k),
         |v$k AS MATERIALIZED (SELECT i AS j,
         |  (round((w::DOUBLE) / (mx::DOUBLE), 6) + 0.0)::DECIMAL(8,6) AS v
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""x AS MATERIALIZED (SELECT vec_id, i, embedding[i]::DOUBLE AS xi
       |  FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i)),
       |g AS MATERIALIZED (SELECT a.i, b.i AS j,
       |             CAST(sum(round(a.xi * b.xi, 9)::DECIMAL(28,9))
       |                  AS DECIMAL(20,9)) AS m
       |        FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
       |v0 AS MATERIALIZED (SELECT DISTINCT i AS j,
       |              (CASE WHEN i = 1 THEN 1 ELSE 0 END)::DECIMAL(8,6) AS v
       |         FROM g),
       |$rounds""".stripMargin
  }

  private lazy val x95Oracle: String =
    s"""WITH $x95Ctes
       |SELECT v.j AS dim, (v.v)::DOUBLE AS loading,
       |       round(m$X95Iters.mx::DOUBLE, 4) AS lambda
       |  FROM v$X95Iters v, m$X95Iters""".stripMargin

  // x96: x95's trained component (same unrolled chain) applied back to
  // the corpus — per-term quantized DECIMAL(28,9) products, exact sum.
  private lazy val x96Oracle: String =
    s"""WITH $x95Ctes,
       |comp AS (SELECT j AS dim, v FROM v$X95Iters),
       |pr AS (SELECT x.vec_id,
       |              sum(CAST(round((c.v::DOUBLE) * x.xi * 1000000000)
       |                       AS BIGINT))::BIGINT AS proj_q
       |         FROM x JOIN comp c ON x.i = c.dim GROUP BY 1)
       |SELECT vec_id, proj_q FROM pr""".stripMargin

  // x105: x95's chain (component 1 verbatim) + the orthogonal-iteration
  // rounds for component 2 — each round: M·u, the Gram–Schmidt scalar c
  // (one double division, re-quantized at 1e-9), the projection
  // subtract (exact decimals of equal scale), then x95's normalize.
  // Generated from the same X95Iters constant.
  private lazy val x105Oracle: String = {
    // MATERIALIZED everywhere (the x62 lesson, one order worse here):
    // v1m is referenced 3× PER ROUND — inlined, each reference would
    // re-expand the whole component-1 chain, and each uw round would
    // re-expand all previous rounds: exponential plan, thousands of
    // parquet re-opens (observed: "Too many open files").
    val rounds2 = (1 to X95Iters).map { k =>
      s"""uw$k AS MATERIALIZED (SELECT g2.i, sum(g2.m * u.v) AS w
         |  FROM g2 JOIN u${k - 1} u ON g2.j = u.j GROUP BY g2.i),
         |uc$k AS MATERIALIZED (SELECT CAST(round(
         |    (SELECT sum(w.w * v.v) FROM uw$k w
         |       JOIN v1m v ON w.i = v.j)::DOUBLE /
         |    (SELECT n2 FROM n2)::DOUBLE, 9) AS DECIMAL(20,9)) AS c),
         |uo$k AS MATERIALIZED (SELECT w.i, w.w - uc$k.c * v.v AS o
         |  FROM uw$k w JOIN v1m v ON w.i = v.j, uc$k),
         |um$k AS MATERIALIZED (SELECT max(abs(o)) AS mx FROM uo$k),
         |u$k AS MATERIALIZED (SELECT i AS j,
         |  (round((o::DOUBLE) / (mx::DOUBLE), 6) + 0.0)::DECIMAL(8,6) AS v
         |  FROM uo$k, um$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $x95Ctes,
       |v1m AS MATERIALIZED (SELECT j, v FROM v$X95Iters),
       |m1m AS MATERIALIZED (SELECT mx FROM m$X95Iters),
       |g2 AS MATERIALIZED (SELECT i, j, m FROM g),
       |n2 AS MATERIALIZED (SELECT sum(v * v) AS n2 FROM v1m),
       |u0 AS MATERIALIZED (SELECT DISTINCT j,
       |              (CASE WHEN j = 2 THEN 1 ELSE 0 END)::DECIMAL(8,6) AS v
       |         FROM (SELECT i AS j FROM g2)),
       |$rounds2
       |SELECT 1::BIGINT AS component, v.j AS dim, (v.v)::DOUBLE AS loading,
       |       round(m1m.mx::DOUBLE, 4) AS lambda
       |  FROM v1m v, m1m
       |UNION ALL
       |SELECT 2::BIGINT, u.j, (u.v)::DOUBLE,
       |       round(um$X95Iters.mx::DOUBLE, 4)
       |  FROM u$X95Iters u, um$X95Iters""".stripMargin
  }

  // x106: x96's projection chain (materialized — pr is read twice) →
  // integer-quantized key → q27's quantile_cont cuts → stage by
  // broadcast compare → epochShuffle's (h, id) order per (stage, shard).
  private lazy val x106Oracle: String =
    s"""WITH $x95Ctes,
       |comp AS MATERIALIZED (SELECT j AS dim, v FROM v$X95Iters),
       |pr AS MATERIALIZED (SELECT x.vec_id,
       |              sum(CAST(round((c.v::DOUBLE) * x.xi * 1000000000)
       |                       AS BIGINT))::BIGINT AS proj_q
       |         FROM x JOIN comp c ON x.i = c.dim GROUP BY 1),
       |pk AS MATERIALIZED (SELECT vec_id,
       |        (CASE WHEN proj_q < 0
       |              THEN -CAST((2*(-proj_q) + 1000) // 2000 AS BIGINT)
       |              ELSE CAST((2*proj_q + 1000) // 2000 AS BIGINT)
       |         END) AS pk FROM pr),
       |c AS (SELECT quantile_cont(pk, 0.25) AS c1,
       |             quantile_cont(pk, 0.5) AS c2,
       |             quantile_cont(pk, 0.75) AS c3 FROM pk),
       |st AS (SELECT vec_id, pk,
       |        (1 + (CASE WHEN pk::DOUBLE > c1 THEN 1 ELSE 0 END)
       |           + (CASE WHEN pk::DOUBLE > c2 THEN 1 ELSE 0 END)
       |           + (CASE WHEN pk::DOUBLE > c3 THEN 1 ELSE 0 END))::BIGINT
       |          AS stage,
       |        ${H60("'curr|'||vec_id::VARCHAR")} AS h
       |         FROM pk, c)
       |SELECT vec_id, stage, (h % 8)::BIGINT AS shard,
       |       row_number() OVER (PARTITION BY stage, h % 8
       |                          ORDER BY h, vec_id)::BIGINT AS pos
       |  FROM st""".stripMargin

  // x97: the three signal oracles composed verbatim (x02 quality, x90
  // gopher keep, x93 novelty), each cast onto its exact 1e-4 grid;
  // sufficient statistics as exact decimal sums with the same
  // (14,4)/(18,8) downcasts as the Spark side, ratio through doubles.
  private lazy val x97Oracle: String =
    s"""WITH s AS (
       |  SELECT (q.quality_q * 0.0001)::DECIMAL(18,4) AS q,
       |         g.keep::DECIMAL(18,4) AS g,
       |         v.novel_frac::DECIMAL(18,4) AS v
       |    FROM (SELECT doc_id, quality_q FROM (
       |${oracles("x02_quality")}
       |         )) q
       |    JOIN (SELECT doc_id, keep FROM (
       |$x90Oracle
       |         )) g USING (doc_id)
       |    JOIN (SELECT doc_id, novel_frac FROM (
       |$x93Oracle
       |         )) v USING (doc_id)
       |   WHERE q.quality_q IS NOT NULL AND v.novel_frac IS NOT NULL),
       |a AS (SELECT count(*)::BIGINT AS n,
       |             count(*)::DECIMAL(10,0) AS n10,
       |             CAST(sum(q) AS DECIMAL(14,4)) AS sq,
       |             CAST(sum(q*q) AS DECIMAL(18,8)) AS sqq,
       |             CAST(sum(g) AS DECIMAL(14,4)) AS sg,
       |             CAST(sum(g*g) AS DECIMAL(18,8)) AS sgg,
       |             CAST(sum(v) AS DECIMAL(14,4)) AS sv,
       |             CAST(sum(v*v) AS DECIMAL(18,8)) AS svv,
       |             CAST(sum(q*g) AS DECIMAL(18,8)) AS sqg,
       |             CAST(sum(q*v) AS DECIMAL(18,8)) AS sqv,
       |             CAST(sum(g*v) AS DECIMAL(18,8)) AS sgv
       |        FROM s)
       |SELECT 'quality~gopher' AS pair, n,
       |       round((n10*sqg - sq*sg)::DOUBLE /
       |             sqrt(((n10*sqq - sq*sq)::DOUBLE) *
       |                  ((n10*sgg - sg*sg)::DOUBLE)), 4) + 0.0 AS r
       |  FROM a
       |UNION ALL
       |SELECT 'quality~novelty' AS pair, n,
       |       round((n10*sqv - sq*sv)::DOUBLE /
       |             sqrt(((n10*sqq - sq*sq)::DOUBLE) *
       |                  ((n10*svv - sv*sv)::DOUBLE)), 4) + 0.0 AS r
       |  FROM a
       |UNION ALL
       |SELECT 'gopher~novelty' AS pair, n,
       |       round((n10*sgv - sg*sv)::DOUBLE /
       |             sqrt(((n10*sgg - sg*sg)::DOUBLE) *
       |                  ((n10*svv - sv*sv)::DOUBLE)), 4) + 0.0 AS r
       |  FROM a""".stripMargin

  /** DuckDB twin of [[graft.functions.ExactMath.divHalfUp]]:
    * round-half-up(num/den) for non-negative num, positive den, as
    * pure BIGINT arithmetic — `//` is DuckDB's integral division, the
    * `div` IntegralDivide twin. The whole r13 determinism discipline
    * rests on this pair being bit-identical by construction. */
  private def DHU(num: String, den: String): String =
    // CAST: DuckDB's sum() promotes to HUGEINT, which pandas reads as
    // float64 — pin the output (and so the driver's hash repr) to the
    // same int64 the Spark side emits
    s"CAST((2*($num) + ($den)) // (2*($den)) AS BIGINT)"

  /** DuckDB twin of [[graft.functions.ExactMath.divHalfUpSigned]]:
    * [[DHU]] extended to signed numerators (den > 0), rounding half
    * away from zero — the same CASE the signed in-oracle folds above
    * inline, centralized for the generated CTE chains. */
  private def DHUS(num: String, den: String): String =
    s"""(CASE WHEN ($num) < 0
       | THEN -CAST((-2*($num) + ($den)) // (2*($den)) AS BIGINT)
       | ELSE CAST((2*($num) + ($den)) // (2*($den)) AS BIGINT) END)""".stripMargin

  private lazy val X98EtaQ: Long =
    new java.math.BigDecimal(X98Eta).movePointRight(6).longValueExact
  private lazy val X98SmoothQ: Long =
    new java.math.BigDecimal(X98Smooth).movePointRight(6).longValueExact

  // x98: x74's train/eval LM shape aggregated straight onto the domain
  // grain, then the SAME X98Steps multiplicative-weights rounds the
  // Spark fold runs, unrolled as a CTE chain (generated from X98Steps/
  // X98EtaQ/X98SmoothQ — one constant set, both engines). The per-word
  // log-prob is the chain's ONLY IEEE op, quantized once to BIGINT
  // micro-units (the x99 grid); every later step is exact integer
  // multiply / divide-half-up both engines replay digit for digit.
  private lazy val x98Ctes: String = {
    val steps = (1 to X98Steps).map { i =>
      s"""s$i AS (SELECT lang, n_tokens, loss_q, excess_q, m_q, n_dom,
         |        ${DHU("w_q * m_q", "1000000")} AS w_q
         |        FROM s${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT doc_id, unnest(string_split($NT,' ')) AS word
       |             FROM documents WHERE doc_id % 5 <> 0),
       |cnts AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
       |c AS (SELECT sum(cnt) AS n_total, count(*) AS vocab FROM cnts),
       |dt AS (SELECT lang, word, count(*) AS tf
       |         FROM (SELECT lang, unnest(string_split($NT,' ')) AS word
       |                 FROM documents WHERE doc_id % 5 = 0)
       |        GROUP BY 1, 2),
       |lp AS (SELECT d.lang, d.tf,
       |       CAST(round(ln((coalesce(k.cnt, 0) + 1)::DOUBLE /
       |                     (c.n_total + c.vocab)::DOUBLE) * 1000000)
       |            AS BIGINT) AS lpw_q
       |         FROM dt d LEFT JOIN cnts k USING (word) CROSS JOIN c),
       |dl AS (SELECT lang, sum(tf)::BIGINT AS n_tokens,
       |       ${DHU("-sum(tf * lpw_q)", "sum(tf)")} AS loss_q
       |         FROM lp GROUP BY lang),
       |b AS (SELECT min(loss_q) AS loss_min_q, count(*)::BIGINT AS n_dom
       |        FROM dl),
       |s0 AS (SELECT lang, n_tokens, loss_q,
       |         loss_q - loss_min_q AS excess_q,
       |         1000000 + ${DHU(s"$X98EtaQ * (loss_q - loss_min_q)",
                                 "1000000")} AS m_q,
       |         n_dom, CAST(1000000 AS BIGINT) AS w_q
       |         FROM dl CROSS JOIN b),
       |$steps,
       |t AS (SELECT sum(w_q) AS w_tot_q FROM s$X98Steps),
       |fr AS (SELECT lang, n_tokens, loss_q, excess_q, n_dom,
       |         ${DHU("w_q * 1000000", "w_tot_q")} AS frac_q
       |         FROM s$X98Steps CROSS JOIN t)""".stripMargin
  }

  /** The final weight expression over the x98 CTE chain — shared by the
    * x98 report and x103's plan so the two cannot drift on the law.
    * (1−s)·frac + s/n_dom on the common denominator 1e6·n_dom, rounded
    * half-up back to micro-units — integer arithmetic end to end. */
  private lazy val x98WeightSql: String =
    // the smooth·1e12 addend is pre-multiplied in Scala: as an SQL
    // literal product it would overflow DuckDB's INT32 literals
    DHU(s"(${1000000L - X98SmoothQ} * frac_q) * n_dom + " +
        s"${X98SmoothQ * 1000000L}", "1000000 * n_dom")

  private lazy val x98Oracle: String =
    s"""WITH $x98Ctes
       |SELECT lang, n_tokens, loss_q, excess_q,
       |       $x98WeightSql AS weight_q
       |  FROM fr""".stripMargin

  // x103: the x98 weight law feeding the allocation arithmetic —
  // the learned-mixture twin of the sqrt plan, now exact end to end:
  // alloc = ⌊budget_tokens·w_q/1e6⌋ as integer floor-division, epochs
  // on the 1e-4 half-up grid. The token-count grain is over ALL
  // documents (plan side), the weights over the 4/5-1/5 split (model
  // side).
  private lazy val x103Oracle: String =
    s"""WITH $x98Ctes,
       |wts AS (SELECT lang, $x98WeightSql AS weight_q FROM fr),
       |tc AS (SELECT lang, len(string_split($NT,' '))::BIGINT AS n
       |         FROM documents),
       |g AS (SELECT lang, sum(n)::BIGINT AS n_tokens FROM tc GROUP BY 1),
       |tt AS (SELECT sum(n_tokens)::BIGINT AS tok_tot FROM g),
       |p AS (SELECT g.lang, g.n_tokens, wts.weight_q,
       |        CAST((CAST(floor(0.5 * tok_tot) AS BIGINT)::HUGEINT * weight_q)
       |          // 1000000 AS BIGINT) AS alloc_tokens
       |        FROM g JOIN wts USING (lang) CROSS JOIN tt)
       |SELECT lang, n_tokens, weight_q, alloc_tokens,
       |       ${DHU("alloc_tokens::HUGEINT * 10000", "n_tokens")} AS epochs_q,
       |       CASE WHEN ${DHU("alloc_tokens::HUGEINT * 10000", "n_tokens")}
       |                 > 10000 THEN 1 ELSE 0 END::BIGINT AS oversampled
       |  FROM p""".stripMargin

  // x99: the shared unrolled-Lloyd's cells, scored with the
  // integer-quantized centroid cosine (x71's scored CTE), ranked
  // within cell; the drop cut is pure integer arithmetic.
  private lazy val x99Oracle: String =
    s"""WITH $lloydCellCtes,
       |scored AS (
       |  SELECT c.vec_id, c.cell,
       |         CAST(round((${COS("c.embedding", "k.c_e")}) * 1000000) AS BIGINT) AS cq
       |    FROM cells c JOIN cent$X48Iters k ON c.cell = k.c_id),
       |r AS (SELECT vec_id, cell, cq,
       |        row_number() OVER (PARTITION BY cell
       |                           ORDER BY cq DESC, vec_id ASC) AS rn,
       |        count(*) OVER (PARTITION BY cell) AS n_cell
       |        FROM scored)
       |SELECT vec_id, cell, cq, rn, n_cell,
       |       (CASE WHEN rn > (n_cell + 9) // 10 THEN 1 ELSE 0 END)::BIGINT
       |         AS kept
       |  FROM r""".stripMargin

  // x100: the same cells; candidates are even×odd in-cell pairs with
  // the micro-quantized cosine (cq — the chain's only IEEE op);
  // neighborhood sums/counts as window aggregates over the rank
  // columns; the margin is the identical integer divide-half-up;
  // best-per-x with the identical tie-break. No DECIMAL, no double
  // division — digit-portable across DuckDB builds.
  private lazy val x100Oracle: String =
    s"""WITH $lloydCellCtes,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS x_id, b.vec_id AS y_id,
       |         CAST(round((${COS("a.embedding", "b.embedding")})
       |              * 1000000) AS BIGINT) AS cq
       |    FROM cells a JOIN cells b ON a.cell = b.cell
       |   WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |f AS (SELECT * FROM cand WHERE cq >= 100000),
       |r AS (SELECT x_id, y_id, cq,
       |        row_number() OVER (PARTITION BY x_id
       |                           ORDER BY cq DESC, y_id ASC) AS rx,
       |        row_number() OVER (PARTITION BY y_id
       |                           ORDER BY cq DESC, x_id ASC) AS ry
       |        FROM f),
       |agg AS (SELECT x_id, y_id, cq,
       |        sum(CASE WHEN rx <= 4 THEN cq END)
       |          OVER (PARTITION BY x_id) AS sx,
       |        sum(CASE WHEN rx <= 4 THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY x_id) AS kx,
       |        sum(CASE WHEN ry <= 4 THEN cq END)
       |          OVER (PARTITION BY y_id) AS sy,
       |        sum(CASE WHEN ry <= 4 THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY y_id) AS ky
       |        FROM r),
       |mg AS (SELECT x_id, y_id, cq,
       |        ${DHU("2 * cq * kx * ky * 10000",
                      "sx * ky + sy * kx")} AS margin_q
       |        FROM agg)
       |SELECT x_id, y_id, cos_q, margin_q FROM (
       |  SELECT x_id, y_id, cq AS cos_q, margin_q,
       |         row_number() OVER (PARTITION BY x_id
       |                            ORDER BY margin_q DESC, cq DESC,
       |                                     y_id ASC) AS rnk
       |    FROM mg WHERE margin_q >= 10500) WHERE rnk = 1""".stripMargin

  // x62: the SAME X62Merges training rounds the Spark side runs,
  // unrolled as a MATERIALIZED-CTE chain (inlining would re-expand the
  // previous round TWICE per round — 2^16 scans). Each round: adjacent
  // symbol pairs weighted by word count → argmax with the total
  // (count DESC, left ASC, right ASC) tie-break → greedy left-to-right
  // non-overlapping merge, expressed as the identical list fold the
  // Spark `applyMerge` runs (list-of-lists accumulator so list_reduce's
  // element-typed seed works). Generated from X62Merges so query and
  // oracle can't drift on the round count.
  private lazy val x62Ctes: String = {
    def roundCtes(k: Int): String = {
      val prev = s"w${k - 1}"
      s"""m$k AS MATERIALIZED (
         |  SELECT l, r FROM (
         |    SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS c
         |      FROM $prev, unnest(range(1, len(syms))) AS t(i)
         |     GROUP BY 1, 2)
         |   ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT w, cnt, list_reduce(list_transform(syms, x -> [x]),
         |           (acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r
         |                       THEN list_append(acc[:-2], m.l || m.r)
         |                       ELSE list_concat(acc, x) END) AS syms
         |    FROM $prev, m$k m)""".stripMargin
    }
    s"""w0 AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS cnt, string_split(w, '') AS syms
       |    FROM (SELECT unnest(string_split($NT,' ')) AS w FROM documents)
       |   WHERE length(w) > 0 GROUP BY w),
       |${(1 to X62Merges).map(roundCtes).mkString(",\n")}""".stripMargin
  }

  private lazy val x62aOracle: String = {
    val rows = (1 to X62Merges).map(k =>
      s"SELECT ${k - 1}::BIGINT AS merge_rank, l AS lhs, r AS rhs FROM m$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $x62Ctes
       |$rows""".stripMargin
  }

  // full pipeline: trained merges → tokenized vocab (len of the final
  // symbol list per distinct word) → per-doc n_bpe via the (doc, word)
  // grain join → x38's pack replay with n_bpe as the token count
  private lazy val x62Oracle: String =
    s"""WITH $x62Ctes,
       |pdw AS MATERIALIZED (
       |  SELECT doc_id, w, count(*)::BIGINT AS n
       |    FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w
       |            FROM documents)
       |   WHERE length(w) > 0 GROUP BY 1, 2),
       |counts AS (
       |  SELECT doc_id, sum(n * len(f.syms))::BIGINT AS n_bpe
       |    FROM pdw JOIN w$X62Merges f USING (w) GROUP BY doc_id),
       |c AS (SELECT doc_id, n_bpe AS nt,
       |        coalesce(sum(n_bpe) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          0)::BIGINT AS start_tok
       |        FROM counts)
       |SELECT doc_id, nt AS n_tokens, start_tok,
       |       start_tok // 256 AS seq_id,
       |       (start_tok + nt - 1) // 256 - start_tok // 256 + 1 AS n_seqs
       |  FROM c""".stripMargin

  // x78: the same unrolled training rounds + x62's per-doc replay join,
  // rolled up per (lang, source) with the documents metadata.
  private lazy val x78Oracle: String =
    s"""WITH $x62Ctes,
       |pdw AS MATERIALIZED (
       |  SELECT doc_id, w, count(*)::BIGINT AS n
       |    FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w
       |            FROM documents)
       |   WHERE length(w) > 0 GROUP BY 1, 2),
       |dc AS (
       |  SELECT doc_id, sum(n)::BIGINT AS n_words,
       |         sum(n * len(f.syms))::BIGINT AS n_bpe
       |    FROM pdw JOIN w$X62Merges f USING (w) GROUP BY doc_id),
       |j AS (SELECT d.lang, d.source, d.n_chars, c.n_words, c.n_bpe
       |        FROM dc c JOIN documents d USING (doc_id))
       |SELECT lang, source, count(*)::BIGINT AS n_docs,
       |       sum(n_chars)::BIGINT AS n_chars,
       |       sum(n_words)::BIGINT AS n_words,
       |       sum(n_bpe)::BIGINT AS n_bpe,
       |       round(sum(n_chars)::DOUBLE / sum(n_bpe)::DOUBLE, 4)
       |         AS chars_per_token
       |  FROM j GROUP BY ROLLUP(lang, source)""".stripMargin

  // x68: the same unrolled training rounds, then the FULL encode —
  // vocabulary ids rebuilt from scratch (base = distinct code points of
  // the training vocab in binary order == the Spark side's code-point
  // order; merge outputs at nBase+rank; duplicate surface forms keep
  // min id), every word's symbol list mapped to ids in order, and each
  // doc's id lists flattened in word order. Hash-checks the complete
  // token-id sequence, not just counts.
  private lazy val x68Oracle: String = {
    val mergeRows = (1 to X62Merges)
      .map(k => s"SELECT ${k - 1} AS merge_rank, l || r AS tok FROM m$k")
      .mkString(" UNION ALL ")
    s"""WITH $x62Ctes,
       |base AS (SELECT DISTINCT unnest(syms) AS tok FROM w0),
       |basei AS (SELECT tok,
       |    (row_number() OVER (ORDER BY tok) - 1)::INTEGER AS id FROM base),
       |mergedi AS (SELECT ms.tok,
       |    ((SELECT count(*) FROM base) + ms.merge_rank)::INTEGER AS id
       |  FROM ($mergeRows) ms),
       |idmap AS (SELECT tok, min(id) AS id
       |  FROM (SELECT * FROM basei UNION ALL SELECT * FROM mergedi)
       | GROUP BY tok),
       |wtp AS (SELECT w, syms[i] AS tok, i
       |  FROM w$X62Merges, unnest(range(1, len(syms)+1)) AS t(i)),
       |wids AS (SELECT w, list(m.id ORDER BY p.i) AS ids
       |  FROM wtp p JOIN idmap m ON m.tok = p.tok GROUP BY w),
       |docw AS (SELECT doc_id, ws[i] AS w, i
       |  FROM (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
       |       unnest(range(1, len(ws)+1)) AS t(i)
       | WHERE length(ws[i]) > 0),
       |enc AS (SELECT doc_id, flatten(list(wi.ids ORDER BY d.i)) AS token_ids
       |  FROM docw d JOIN wids wi ON wi.w = d.w GROUP BY doc_id)
       |SELECT doc_id, len(token_ids)::BIGINT AS n_bpe,
       |       array_to_string(token_ids::VARCHAR[], ',') AS token_ids
       |  FROM enc""".stripMargin
  }

  // x67: x18's probed-cell assignment (rn <= nprobe) + x66's vote,
  // verbatim — the IVF candidate set is deterministic, so the whole
  // composition hash-checks
  private lazy val x67Oracle: String =
    s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_e
       |                FROM embeddings WHERE vec_id < 16),
       |asg AS (
       |  SELECT e.vec_id, e.embedding, c.c_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${COS("e.embedding", "c.c_e")} DESC, c.c_id ASC) AS rn
       |    FROM embeddings e CROSS JOIN cent c),
       |cells AS (SELECT vec_id, embedding, c_id AS cell FROM asg WHERE rn <= 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id,
       |         round(${COS("q.embedding", "n.embedding")}, 6) AS cos
       |    FROM cells q JOIN cells n
       |      ON q.cell = n.cell AND q.vec_id <> n.vec_id
       |   WHERE q.vec_id < 20),
       |k AS (SELECT q_id, n_id FROM (
       |        SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |                   ORDER BY cos DESC, n_id) AS rnk FROM cand)
       |        WHERE rnk <= 10),
       |v AS (SELECT k.q_id, ql.label::BIGINT AS q_label,
       |        nl.label::BIGINT AS knn_label, count(*)::BIGINT AS n_votes
       |        FROM k JOIN embeddings nl ON k.n_id = nl.vec_id
       |               JOIN embeddings ql ON k.q_id = ql.vec_id
       |       GROUP BY 1, 2, 3)
       |SELECT q_id, q_label, knn_label, n_votes,
       |       CASE WHEN knn_label = q_label THEN 1 ELSE 0 END::BIGINT
       |         AS agree
       |  FROM v QUALIFY row_number() OVER (PARTITION BY q_id
       |         ORDER BY n_votes DESC, knn_label) = 1""".stripMargin

  lazy val oraclesAll: Map[String, String] =
    oracles ++ Map(
      "x48_ann_trained" -> x48Oracle,
      "x71_semdedup" -> x71Oracle,
      "x72_nb_classifier" -> x72Oracle,
      "x75_fused_dedup" -> x75Oracle,
      "x81_embed_dedup_trained" -> x81Oracle,
      "x82_dedup_applied" -> x82Oracle,
      "x76_curate_trained" -> x76Oracle,
      "x62_bpe_pack" -> x62Oracle,
      "x62a_bpe_merges" -> x62aOracle,
      "x68_bpe_encode" -> x68Oracle,
      "x78_tokenizer_audit" -> x78Oracle,
      "x67_knn_label_ivf" -> x67Oracle,
      "x33_text_dedup_decision" -> x33Oracle,
      "x34_simhash_dedup_decision" -> x34Oracle,
      "x36_dup_clusters" -> x36Oracle,
      // x46 runs x36's body: same components, same canonical labels
      "x46_dup_clusters_star" -> x36Oracle,
      // both bandings are pigeonhole-exact ⇒ both must equal the
      // brute-force all-pairs oracle
      "x47_simhash_pairbanded" -> oracles("x23_simhash_banded"),
      "x41_cluster_decision" -> x41Oracle,
      "x80_source_overlap" -> x80Oracle,
      "x50_index_dedup" -> x50Oracle,
      "x52_quality_canonical" -> x52Oracle,
      // the Bloom prefilter is lossless (no false negatives; false
      // positives removed by the exact confirm join) ⇒ x53 must equal
      // the exact decontamination oracle verbatim
      "x53_bloom_decontaminate" -> oracles("x37_decontaminate"),
      "x83_dsir_weights" -> x83Oracle,
      "x84_dsir_select" -> x84Oracle,
      "x85_mixture_plan" -> x85Oracle,
      "x86_nb_calibration" -> x86Oracle,
      "x87_contamination_frac" -> x87Oracle,
      "x88_threshold_curve" -> x88Oracle,
      "x89_dsir_resample" -> x89Oracle,
      "x90_gopher_rules" -> x90Oracle,
      "x135_logreg_distill" -> x135Oracle,
      "x91_mixture_materialize" -> x91Oracle,
      "x92_boilerplate" -> x92Oracle,
      "x93_novelty" -> x93Oracle,
      "x94_hybrid_rrf" -> x94Oracle,
      "x95_pca_power" -> x95Oracle,
      "x96_pca_project" -> x96Oracle,
      "x97_signal_corr" -> x97Oracle,
      "x98_doremi" -> x98Oracle,
      "x99_prototypical" -> x99Oracle,
      "x100_margin_mine" -> x100Oracle,
      "x101_fused_trained" -> x101Oracle,
      "x148_bm25_delete_readd" -> x148Oracle,
      "x102_sem_decontaminate" -> x102Oracle,
      "x103_doremi_mixture" -> x103Oracle,
      "x104_kn_bigram" -> x104Oracle,
      "x105_pca_top2" -> x105Oracle,
      "x106_curriculum" -> x106Oracle,
      "x107_source_drift" -> x107Oracle,
      "x108_zipf_slope" -> x108Oracle,
      "x109_kn_apply" -> x109Oracle,
      "x110_repetition" -> x110Oracle,
      "x111_ppl_buckets" -> x111Oracle,
      "x112_entropy" -> x112Oracle,
      "x113_heavy_hitters" -> x113Oracle,
      "x114_cdc_chunks" -> x114Oracle,
      "x115_pq_encode" -> x115Oracle,
      "x116_pq_ann" -> x116Oracle,
      "x117_langid_confusion" -> x117Oracle,
      "x118_ivfpq_ann" -> x118Oracle,
      "x119_pq_band_dedup" -> x119Oracle,
      "x120_pq_residual" -> x120Oracle,
      "x121_pq_recall" -> x121Oracle,
      "x122_ivfpq_residual_ann" -> x122Oracle,
      "x123_corpus_card_v2" -> x123Oracle,
      "x124_sq_ann" -> x124Oracle,
      "x125_saturation" -> x125Oracle,
      "x126_matryoshka_recall" -> x126Oracle,
      "x127_bag_dedup" -> x127Oracle,
      "x128_dedup_tiers" -> x128Oracle,
      // x130: the four v6 gates replayed end-to-end — x112's entropy
      // arithmetic on the 1e-4 integer grid, the x106 percentile cut,
      // the exact uniform test, x114's CDC boundary CTEs over the
      // gated pool with min-doc ownership, and x54's pow/threshold mix
      "x130_curate_v6" -> x130Oracle,
      // x129: dimensions recomputed arithmetically — only a REAL PNG
      // decode on the Spark side can hash-match
      "x129_imageio_decode" ->
        """SELECT doc_id, 'png' AS format,
          |       (16 + doc_id % 32)::BIGINT AS width,
          |       (16 + (doc_id // 32) % 32)::BIGINT AS height,
          |       1::BIGINT AS n_frames
          |  FROM documents""".stripMargin,
      // x131: BOTH real decoder branches — format follows the planted
      // parity, dimensions recomputed arithmetically; only a real
      // decode of each format can hash-match
      "x131_jpeg_decode" ->
        """SELECT doc_id,
          |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END
          |         AS format,
          |       (16 + doc_id % 32)::BIGINT AS width,
          |       (16 + (doc_id // 32) % 32)::BIGINT AS height,
          |       1::BIGINT AS n_frames
          |  FROM documents""".stripMargin)

  val oracles: Map[String, String] = Map(
    "x01_tokens" ->
      s"""SELECT doc_id, n_chars,
         |       len(string_split($NT,' ')) AS n_tokens,
         |       len(regexp_extract_all(text,'[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe
         |  FROM documents""".stripMargin,
    "x02_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $NT AS nt,
         |         len(string_split($NT,' ')) AS nw,
         |         len(list_filter(string_split($NT,' '),
         |             w -> w IN ('the','and','of','to','in','is','a'))) AS hits,
         |         len(regexp_extract_all(text,'[A-Za-z]')) AS ac,
         |         $QQ AS quality_q
         |    FROM documents)
         |SELECT doc_id, nw AS n_words,
         |       ${DHU("(length(nt) - (nw - 1)) * 10000", "nw")} AS avg_wlen_q,
         |       ${DHU("hits * 10000", "nw")} AS stop_ratio_q,
         |       ${DHU("ac * 10000", "length(text)")} AS alpha_ratio_q,
         |       quality_q
         |  FROM t""".stripMargin,
    "x03_langid" -> {
      val hits = graft.functions.TextFunctions.langStops.map { case (lang, stops) =>
        s"len(list_filter(ws, w -> w IN (${stops.map("'" + _ + "'").mkString(",")}))) AS h_$lang"
      }.mkString(",\n         ")
      val langs = graft.functions.TextFunctions.langStops.map(_._1)
      val maxh = s"greatest(${langs.map("h_" + _).mkString(",")})"
      val cases = langs.map(l => s"WHEN h_$l = $maxh THEN '$l'").mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, lang, $hits
         |    FROM (SELECT doc_id, lang, string_split($NT,' ') AS ws FROM documents))
         |SELECT doc_id, lang,
         |       CASE WHEN $maxh = 0 THEN 'und' $cases ELSE 'und' END AS pred_lang
         |  FROM t""".stripMargin
    },
    "x04_dedup_exact" ->
      s"""SELECT md5($NT) AS content_hash, min(doc_id) AS keep_id,
         |       count(*) AS n_copies
         |  FROM documents GROUP BY md5($NT)""".stripMargin,
    "x05_fingerprint" ->
      s"""SELECT doc_id, md5($NT) AS fp, ${H60(NT)} AS fp60 FROM documents""",
    "x06_minhash_sig" -> {
      val mhs = (0 until NumHashes).map(i =>
        s"coalesce(list_min(list_transform(sh, s -> ${H60(s"'mh$i|'||s")})), -1) AS mh$i")
        .mkString(",\n       ")
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |s AS (SELECT doc_id,
         |             [array_to_string(ws[i:i+${ShingleK - 1}],' ')
         |              for i in range(1, len(ws)-${ShingleK - 2})] AS sh FROM w)
         |SELECT doc_id, $mhs FROM s""".stripMargin
    },
    "x07_minhash_lsh_pairs" -> lshPairsSql(0.8),
    "x08_simhash" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_transform(string_split($NT,' '), w -> ${H60("'sh|'||w")}) AS hs
         |    FROM documents)
         |SELECT doc_id,
         |       list_sum([CASE WHEN 2*len(list_filter(hs, h -> ((h >> i) & 1) = 1)) - len(hs) > 0
         |                      THEN 1::BIGINT << i ELSE 0::BIGINT END
         |                 for i in range(0, 60)])::BIGINT AS sh
         |  FROM t""".stripMargin,
    "x09_simhash_pairs" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |         list_transform(string_split($NT,' '), w -> ${H60("'sh|'||w")}) AS hs
         |    FROM documents),
         |sh AS (SELECT doc_id, lang,
         |       list_sum([CASE WHEN 2*len(list_filter(hs, h -> ((h >> i) & 1) = 1)) - len(hs) > 0
         |                      THEN 1::BIGINT << i ELSE 0::BIGINT END
         |                 for i in range(0, 60)]) AS sh FROM t)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
         |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.sh, b.sh)) <= 6""".stripMargin,
    "x10_ngram_jaccard" ->
      s"""WITH g AS (
         |  SELECT doc_id, lang, n_chars // 64 AS len_band,
         |         list_distinct(list_transform(
         |           list_distinct([substring(nt, i, 4)
         |                          for i in range(1, length(nt)-2)]),
         |           s -> ${H60("s")})) AS grams
         |    FROM (SELECT doc_id, lang, n_chars, $NT AS nt FROM documents))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       round(len(list_intersect(a.grams,b.grams))::DOUBLE /
         |             len(list_distinct(list_concat(a.grams,b.grams))), 4) AS jac
         |  FROM g a JOIN g b
         |    ON a.lang = b.lang AND a.len_band = b.len_band AND a.doc_id < b.doc_id
         | WHERE round(len(list_intersect(a.grams,b.grams))::DOUBLE /
         |             len(list_distinct(list_concat(a.grams,b.grams))), 4) >= 0.8""".stripMargin,
    "x43_chargram_lsh" -> {
      // the affine-permutation coefficients and the b×r curve are
      // generated from the SAME code/constants the Catalyst expression
      // and the Spark query use — the mirror is exact
      val (pa, pb) = graft.plans.MinHashPerms.coeffs(X43Hashes)
      val mhM = graft.plans.MinHashPerms.M
      val rpb = X43Hashes / X43Bands
      val mhs = (0 until X43Hashes).map(i =>
        s"coalesce(list_min(list_transform(grams, x -> (${pa(i)}*(x%$mhM)+${pb(i)})%$mhM)), -1) AS mh$i")
        .mkString(",\n       ")
      val bands = (0 until X43Bands).map(bd =>
        s"SELECT doc_id, grams, $bd AS band, " +
          (0 until rpb).map(r => s"mh${rpb * bd + r}").mkString("||':'||") +
          " AS key FROM sig")
        .mkString("\n UNION ALL\n")
      s"""WITH g AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |           list_distinct([substring(nt, i, 4)
         |                          for i in range(1, length(nt)-2)]),
         |           s -> ${H60("s")})) AS grams
         |    FROM (SELECT doc_id, $NT AS nt FROM documents)),
         |sig AS (SELECT doc_id, grams, $mhs
         |          FROM g WHERE len(grams) > 0),
         |banded AS ($bands)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |       round(len(list_intersect(a.grams,b.grams))::DOUBLE /
         |             len(list_distinct(list_concat(a.grams,b.grams))), 4) AS jac
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         | WHERE round(len(list_intersect(a.grams,b.grams))::DOUBLE /
         |             len(list_distinct(list_concat(a.grams,b.grams))), 4) >= 0.8""".stripMargin
    },
    "x11_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(
        |         list_aggregate(list_transform(list_zip(a.embedding,b.embedding),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum') /
        |         (sqrt(list_aggregate(list_transform(list_zip(a.embedding,a.embedding),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum')) *
        |          sqrt(list_aggregate(list_transform(list_zip(b.embedding,b.embedding),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum'))), 6) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, cos FROM c WHERE cos >= 0.45""".stripMargin,
    "x12_ann_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_e FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT q.q_id, n.vec_id AS n_id,
        |       round(
        |         list_aggregate(list_transform(list_zip(q.q_e,n.embedding),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum') /
        |         (sqrt(list_aggregate(list_transform(list_zip(q.q_e,q.q_e),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum')) *
        |          sqrt(list_aggregate(list_transform(list_zip(n.embedding,n.embedding),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum'))), 6) AS cos
        |  FROM q CROSS JOIN embeddings n WHERE q.q_id <> n.vec_id)
        |SELECT q_id, n_id, cos, rnk FROM (
        |  SELECT q_id, n_id, cos,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
        |    FROM c) WHERE rnk <= 5""".stripMargin,
    "x13_ann_lsh" ->
      """WITH e AS (SELECT vec_id, embedding,
        |       array_to_string(list_transform(embedding[1:8],
        |         x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
        |  FROM embeddings),
        |c AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |       round(
        |         list_aggregate(list_transform(list_zip(a.embedding,b.embedding),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum') /
        |         (sqrt(list_aggregate(list_transform(list_zip(a.embedding,a.embedding),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum')) *
        |          sqrt(list_aggregate(list_transform(list_zip(b.embedding,b.embedding),
        |           x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)),'sum'))), 6) AS cos
        |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
        |SELECT q_id, n_id, cos, rnk FROM (
        |  SELECT q_id, n_id, cos,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
        |    FROM c) WHERE rnk <= 3""".stripMargin,
    "x14_media_meta" ->
      s"""SELECT doc_id,
         |       256 + ${H60("'media|'||text")} % 1024 AS width,
         |       256 + (${H60("'media|'||text")} // 1024) % 1024 AS height,
         |       1 + ${H60("'media|'||text")} % 30 AS n_frames
         |  FROM documents""".stripMargin,
    "x44_media_binary" ->
      """WITH p AS (SELECT doc_id, unhex(md5(text)) AS payload FROM documents),
        |b AS (SELECT doc_id, octet_length(payload)::BIGINT AS n_bytes,
        |             hex(payload) AS hx
        |        FROM p)
        |SELECT doc_id, n_bytes,
        |       CASE WHEN ('0x'||substring(hx,1,2))::INT % 2 = 0
        |            THEN 'img' ELSE 'vid' END AS format,
        |       (256 + ('0x'||substring(hx,3,2))::INT * 4)::BIGINT AS width,
        |       (256 + ('0x'||substring(hx,5,2))::INT * 4)::BIGINT AS height,
        |       (1 + ('0x'||substring(hx,7,2))::INT % 30)::BIGINT AS n_frames
        |  FROM b""".stripMargin,
    // content equality of the z-ordered box query: the oracle answers
    // the same box from the RAW table — clustering must never change
    // answers. Bounds recompute the identical IEEE arithmetic from the
    // same exact min/max aggregates ('//' = BIGINT div, as Scala Long /).
    // 3-dim box content equality from the raw table (clustering must
    // never change answers); '//' = BIGINT div ≡ Scala Long '/', and ts
    // surfaces as epoch ns on both sides.
    "x49_zorder3_scan" ->
      """WITH r AS (SELECT min(value) AS lo, max(value) AS hi,
        |                  min(user_id) AS ulo, max(user_id) AS uhi,
        |                  min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi
        |             FROM events)
        |SELECT event_id, user_id, value, epoch_us(ts) AS ts_us
        |  FROM events, r
        | WHERE value >= lo + (hi-lo)*0.3 AND value < lo + (hi-lo)*0.45
        |   AND user_id >= ulo + (uhi-ulo)//4 AND user_id < ulo + (uhi-ulo)//2
        |   AND epoch_us(ts) >= tlo + (thi-tlo)//4
        |   AND epoch_us(ts) < tlo + (thi-tlo)//2""".stripMargin,
    "x45_zorder_scan" ->
      """WITH r AS (SELECT min(value) AS lo, max(value) AS hi,
        |                  min(user_id) AS ulo, max(user_id) AS uhi FROM events)
        |SELECT event_id, user_id, value
        |  FROM events, r
        | WHERE value >= lo + (hi-lo)*0.45 AND value < lo + (hi-lo)*0.55
        |   AND user_id >= ulo + (uhi-ulo)//4 AND user_id < ulo + (uhi-ulo)//2""".stripMargin,
    "x15_events_window" ->
      s"""SELECT epoch_ns(ts)//3600000000000 AS hour_bucket, event_type,
         |       count(*) AS n,
         |       ${DHU("sum(CAST(round(value*1000000) AS BIGINT))",
                       "10000")} AS sum_value_c,
         |       ${DHU("sum(CAST(round(value*1000000) AS BIGINT))",
                       "count(*)*100")} AS avg_value_q
         |  FROM events GROUP BY 1, 2""".stripMargin,
    "x16_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
        |         lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_ns(ts), event_id) AS prev
        |    FROM events)
        |SELECT user_id, count(*) AS n_events,
        |       sum(CASE WHEN prev IS NULL OR tns - prev > 1800000000000
        |                THEN 1::BIGINT ELSE 0::BIGINT END)::BIGINT AS n_sessions
        |  FROM t GROUP BY user_id""".stripMargin,
    "x18_ann_ivf" ->
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_e
         |                FROM embeddings WHERE vec_id < 16),
         |asg AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${COS("e.embedding", "c.c_e")} DESC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cent c),
         |cells AS (SELECT vec_id, embedding, c_id AS cell FROM asg WHERE rn = 1),
         |cand AS (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |         round(${COS("q.embedding", "n.embedding")}, 6) AS cos
         |    FROM cells q JOIN cells n
         |      ON q.cell = n.cell AND q.vec_id <> n.vec_id
         |   WHERE q.vec_id < 10)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY cos DESC, n_id ASC) AS rnk
         |    FROM cand) WHERE rnk <= 3""".stripMargin,
    "x19_embed_dedup" ->
      s"""WITH c AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         round(${COS("a.embedding", "b.embedding")}, 6) AS cos
         |    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |SELECT b_id AS drop_id, min(a_id) AS canonical_id, count(*) AS n_dups
         |  FROM c WHERE cos >= 0.45 GROUP BY b_id""".stripMargin,
    "x20_corpus_clean" -> {
      val hits = graft.functions.TextFunctions.langStops.map { case (lang, stops) =>
        s"len(list_filter(ws, w -> w IN (${stops.map("'" + _ + "'").mkString(",")}))) AS h_$lang"
      }.mkString(",\n         ")
      val langs = graft.functions.TextFunctions.langStops.map(_._1)
      val maxh = s"greatest(${langs.map("h_" + _).mkString(",")})"
      val cases = langs.map(l => s"WHEN h_$l = $maxh THEN '$l'").mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, lang, text, string_split($NT,' ') AS ws, $NT AS nt
         |    FROM documents),
         |scored AS (
         |  SELECT doc_id, lang, len(ws) AS n_tokens,
         |         (SELECT CASE WHEN $maxh = 0 THEN 'und' $cases ELSE 'und' END
         |            FROM (SELECT $hits)) AS pred_lang,
         |         len(regexp_extract_all(text,'[A-Za-z]'))::DOUBLE / length(text) AS alpha,
         |         md5(nt) AS chash
         |    FROM t),
         |canon AS (SELECT chash, min(doc_id) AS doc_id FROM scored GROUP BY chash)
         |SELECT s.doc_id, s.lang, s.n_tokens
         |  FROM scored s JOIN canon c ON s.chash = c.chash AND s.doc_id = c.doc_id
         | WHERE s.n_tokens >= 20 AND s.alpha >= 0.5 AND s.pred_lang = s.lang""".stripMargin
    },
    "x42_bm25" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split($NT,' ')) AS word
         |             FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT word, count(*) AS dfreq FROM tf GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)
         |SELECT t.doc_id, t.word, t.tf, f.dfreq,
         |       round(ln(1.0 + (c.n_docs - f.dfreq + 0.5) / (f.dfreq + 0.5)) *
         |             (t.tf * 2.2 /
         |              (t.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))), 4)
         |         AS bm25
         |  FROM tf t JOIN dl d USING (doc_id) JOIN dfq f USING (word)
         |       CROSS JOIN corpus c
         | WHERE t.tf >= 4""".stripMargin,
    "x21_tfidf" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split($NT,' ')) AS word
         |             FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         |dfq AS (SELECT word, count(*) AS dfreq FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT t.doc_id, t.word, t.tf, d.dfreq,
         |       round(t.tf * ln(n.n_docs::DOUBLE / d.dfreq), 4) AS tfidf
         |  FROM tf t JOIN dfq d USING (word) CROSS JOIN n
         | WHERE t.tf >= 4""".stripMargin,
    "x51_lm_score" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split($NT,' ')) AS word
         |             FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         |cnts AS (SELECT word, sum(tf) AS cnt FROM tf GROUP BY 1),
         |c AS (SELECT sum(cnt) AS n_total, count(*) AS vocab FROM cnts),
         |lp AS (SELECT t.doc_id, t.tf,
         |       CAST(round(ln((k.cnt + 1)::DOUBLE /
         |                     (c.n_total + c.vocab)::DOUBLE) * 1000000)
         |            AS BIGINT) AS lpw_q
         |         FROM tf t JOIN cnts k USING (word) CROSS JOIN c)
         |SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
         |       (CASE WHEN (sum(tf * lpw_q)) < 0 THEN -CAST((2*(-(sum(tf * lpw_q))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) ELSE CAST((2*(sum(tf * lpw_q)) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) END) AS avg_logp_q
         |  FROM lp GROUP BY doc_id""".stripMargin,
    "x31_semantic_search" ->
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_e
         |                FROM embeddings WHERE vec_id < 16),
         |asg AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${COS("e.embedding", "c.c_e")} DESC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cent c),
         |cells AS (SELECT vec_id, embedding, c_id AS cell FROM asg WHERE rn <= 2),
         |q AS (SELECT embedding AS q_e, cell FROM cells WHERE vec_id = 0),
         |hits AS (
         |  SELECT DISTINCT n.vec_id AS n_id,
         |         round(${COS("q.q_e", "n.embedding")}, 6) AS cos
         |    FROM q JOIN cells n ON q.cell = n.cell AND n.vec_id <> 0),
         |ranked AS (
         |  SELECT n_id, cos,
         |         row_number() OVER (ORDER BY cos DESC, n_id ASC) AS rnk
         |    FROM hits)
         |SELECT r.rnk, d.doc_id, r.cos, d.lang, d.n_chars
         |  FROM ranked r JOIN documents d ON r.n_id = d.doc_id
         | WHERE r.rnk <= 5""".stripMargin,
    "x32_ingest_dedup" ->
      s"""WITH existing AS (SELECT md5($NT) AS fp FROM documents),
         |inc AS (
         |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 7 = 3
         |  UNION ALL
         |  SELECT doc_id + 20000, text || ' updated content' FROM documents
         |   WHERE doc_id % 11 = 5)
         |SELECT doc_id, md5($NT) AS fp FROM inc
         | WHERE md5($NT) NOT IN (SELECT fp FROM existing)""".stripMargin,
    "x30_kmeans_step" ->
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_e
         |                FROM embeddings WHERE vec_id < 16),
         |asg AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${COS("e.embedding", "c.c_e")} DESC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cent c),
         |cells AS (SELECT embedding, c_id AS cell FROM asg WHERE rn = 1),
         |un AS (SELECT cell, unnest(embedding) AS x,
         |              generate_subscripts(embedding, 1) - 1 AS dim
         |         FROM cells)
         |SELECT cell, dim, round(avg(CAST(x AS DOUBLE)), 6) AS mean_x,
         |       count(*) AS n
         |  FROM un GROUP BY cell, dim""".stripMargin,
    "x28_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_e
         |             FROM embeddings WHERE vec_id < 10),
         |exact AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.q_id, n.vec_id AS n_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |               ORDER BY round(${COS("q.q_e", "n.embedding")}, 6) DESC,
         |                        n.vec_id ASC) AS rnk
         |      FROM q CROSS JOIN embeddings n WHERE q.q_id <> n.vec_id)
         |   WHERE rnk <= 3),
         |eb AS (SELECT vec_id, embedding,
         |       array_to_string(list_transform(embedding[1:8],
         |         x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
         |  FROM embeddings),
         |approx AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |           row_number() OVER (PARTITION BY a.vec_id
         |               ORDER BY round(${COS("a.embedding", "b.embedding")}, 6) DESC,
         |                        b.vec_id ASC) AS rnk
         |      FROM eb a JOIN eb b
         |        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |     WHERE a.vec_id < 10)
         |   WHERE rnk <= 3),
         |hits AS (
         |  SELECT e.q_id, count(*) AS n_hits
         |    FROM exact e SEMI JOIN approx a
         |      ON e.q_id = a.q_id AND e.n_id = a.n_id
         |   GROUP BY e.q_id)
         |SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
         |       round(coalesce(h.n_hits, 0) / 3.0, 4) AS recall_at_3
         |  FROM q LEFT JOIN hits h ON q.q_id = h.q_id""".stripMargin,
    "x29_embed_quantize" ->
      """WITH t AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) AS mx
        |    FROM embeddings)
        |SELECT vec_id, round(mx, 6) AS scale,
        |       CASE WHEN mx = 0 THEN 0
        |            ELSE CAST(list_aggregate(list_transform(embedding,
        |              x -> CAST(round(CAST(x AS DOUBLE)*127/mx) AS BIGINT)
        |                 * CAST(round(CAST(x AS DOUBLE)*127/mx) AS BIGINT)),
        |              'sum') AS BIGINT) END AS qnorm2
        |  FROM t""".stripMargin,
    "x35_chunk_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |s AS (SELECT doc_id, ws, unnest(range(1, len(ws)+1, 48)) AS st FROM w),
         |c AS (SELECT doc_id, (st-1)//48 AS chunk_idx,
         |             md5(array_to_string(ws[st:st+63],' ')) AS chunk_fp FROM s)
         |SELECT chunk_fp, keep_doc, keep_chunk, n_sites FROM (
         |  SELECT chunk_fp, doc_id AS keep_doc, chunk_idx AS keep_chunk,
         |         count(*) OVER (PARTITION BY chunk_fp) AS n_sites,
         |         row_number() OVER (PARTITION BY chunk_fp
         |                            ORDER BY doc_id, chunk_idx) AS rn
         |    FROM c) WHERE rn = 1""".stripMargin,
    "x73_weighted_sample" ->
      s"""SELECT lang, doc_id, n_chars, skey, rnk FROM (
         |  SELECT lang, doc_id, n_chars, skey,
         |         row_number() OVER (PARTITION BY lang
         |             ORDER BY skey DESC, doc_id ASC) AS rnk
         |    FROM (SELECT lang, doc_id, n_chars,
         |                 round(ln(((${H60("'wsample|'||doc_id::VARCHAR")}
         |                            % 1048576) + 1)::DOUBLE / 1048577.0)
         |                       / n_chars::DOUBLE, 6) + 0.0 AS skey
         |            FROM documents))
         | WHERE rnk <= 25""".stripMargin,
    "x74_lm_apply" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split($NT,' ')) AS word
         |             FROM documents WHERE doc_id % 5 <> 0),
         |cnts AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         |c AS (SELECT sum(cnt) AS n_total, count(*) AS vocab FROM cnts),
         |tf AS (SELECT doc_id, word, count(*) AS tf
         |         FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS word
         |                 FROM documents WHERE doc_id % 5 = 0)
         |        GROUP BY 1, 2),
         |lp AS (SELECT t.doc_id, t.tf,
         |       CAST(round(ln((coalesce(k.cnt, 0) + 1)::DOUBLE /
         |                     (c.n_total + c.vocab)::DOUBLE) * 1000000)
         |            AS BIGINT) AS lpw_q
         |         FROM tf t LEFT JOIN cnts k USING (word) CROSS JOIN c)
         |SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
         |       (CASE WHEN (sum(tf * lpw_q)) < 0 THEN -CAST((2*(-(sum(tf * lpw_q))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) ELSE CAST((2*(sum(tf * lpw_q)) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) END) AS avg_logp_q
         |  FROM lp GROUP BY doc_id""".stripMargin,
    "x27_stratified_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, ${H60("'sample|'||doc_id::VARCHAR")} % 100 AS h,
         |         CASE WHEN lang = 'en' THEN 20
         |              WHEN lang IN ('de','fr') THEN 50
         |              ELSE 100 END AS rate
         |    FROM documents)
         |SELECT lang, count(*) AS n_kept, min(doc_id) AS first_kept
         |  FROM t WHERE h < rate GROUP BY lang""".stripMargin,
    "x24_train_split" ->
      s"""SELECT doc_id,
         |       ${H60("'split|'||doc_id::VARCHAR")} % 100 AS bucket,
         |       CASE WHEN ${H60("'split|'||doc_id::VARCHAR")} % 100 < 90 THEN 'train'
         |            WHEN ${H60("'split|'||doc_id::VARCHAR")} % 100 < 95 THEN 'val'
         |            ELSE 'test' END AS split
         |  FROM documents""".stripMargin,
    "x25_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id::VARCHAR ||
        |         '@example.com or 555-123-4567 now' AS aug
        |    FROM documents)
        |SELECT doc_id,
        |       len(regexp_extract_all(aug,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |       len(regexp_extract_all(aug,
        |           '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phones,
        |       md5(regexp_replace(regexp_replace(aug,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')) AS redacted_fp
        |  FROM t""".stripMargin,
    "x26_doc_chunks" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |s AS (SELECT doc_id, ws, unnest(range(1, len(ws)+1, 48)) AS st FROM w)
         |SELECT doc_id, (st-1)//48 AS chunk_idx,
         |       md5(array_to_string(ws[st:st+63],' ')) AS chunk_fp,
         |       least(len(ws)-st+1, 64)::BIGINT AS n_chunk_tokens
         |  FROM s""".stripMargin,
    // Same algorithm expressed in SQL (nprobe=6 assignment, distinct
    // candidates, verify, groupBy-drop) — hash-exact, not rows-only.
    "x22_embed_dedup_bucketed" ->
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_e
         |                FROM embeddings WHERE vec_id < 16),
         |asg AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${COS("e.embedding", "c.c_e")} DESC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cent c),
         |cells AS (SELECT vec_id, embedding, c_id AS cell FROM asg WHERE rn <= 6),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
         |         round(${COS("a.embedding", "b.embedding")}, 6) AS cos
         |    FROM cells a JOIN cells b
         |      ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT b_id AS drop_id, min(a_id) AS canonical_id, count(*) AS n_dups
         |  FROM cand WHERE cos >= 0.45 GROUP BY b_id""".stripMargin,
    // Brute-force all-pairs oracle: banding is pigeonhole-exact, so the
    // banded plan must produce exactly these pairs.
    "x23_simhash_banded" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_transform(string_split($NT,' '), w -> ${H60("'sh|'||w")}) AS hs
         |    FROM documents),
         |sh AS (SELECT doc_id,
         |       list_sum([CASE WHEN 2*len(list_filter(hs, h -> ((h >> i) & 1) = 1)) - len(hs) > 0
         |                      THEN 1::BIGINT << i ELSE 0::BIGINT END
         |                 for i in range(0, 60)]) AS sh FROM t)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.sh, b.sh)) <= 6""".stripMargin,
    "x37_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |s AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         [array_to_string(ws[i:i+7],' ') for i in range(1, len(ws)-6)],
         |         x -> ${H60("x")}))) AS sh FROM w),
         |e AS (SELECT doc_id AS eval_id, sh FROM s WHERE doc_id % 5 = 0),
         |t AS (SELECT doc_id, sh FROM s WHERE doc_id % 5 <> 0)
         |SELECT t.doc_id, count(DISTINCT t.sh)::BIGINT AS n_shared,
         |       count(DISTINCT e.eval_id)::BIGINT AS n_eval_docs
         |  FROM t JOIN e ON t.sh = e.sh GROUP BY t.doc_id""".stripMargin,
    "x38_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, len(string_split($NT,' '))::BIGINT AS nt
         |             FROM documents),
         |c AS (SELECT doc_id, nt,
         |        coalesce(sum(nt) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0)::BIGINT AS start_tok
         |        FROM t)
         |SELECT doc_id, nt AS n_tokens, start_tok,
         |       start_tok // 256 AS seq_id,
         |       (start_tok + nt - 1) // 256 - start_tok // 256 + 1 AS n_seqs
         |  FROM c""".stripMargin,
    "x39_repetition" ->
      s"""WITH wc AS (
         |  SELECT doc_id, w AS word, count(*) AS cnt
         |    FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w
         |            FROM documents)
         |   GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                 ORDER BY cnt DESC, word ASC) AS rn FROM wc)
         |SELECT doc_id, sum(cnt)::BIGINT AS n_words,
         |       count(*)::BIGINT AS n_distinct,
         |       round(1.0 - count(*)::DOUBLE / sum(cnt), 4) AS dup_frac,
         |       max(CASE WHEN rn = 1 THEN word END) AS top_word,
         |       round(max(CASE WHEN rn = 1 THEN cnt END)::DOUBLE / sum(cnt), 4)
         |         AS top_frac
         |  FROM r GROUP BY doc_id""".stripMargin,
    "x77_shard_manifest" ->
      s"""WITH t AS (SELECT ${H60("'shuf|ep1|'||doc_id::VARCHAR")} % 16 AS shard,
         |             ${H60(s"'manifest|'||doc_id::VARCHAR||'|'||$NT")} AS fp
         |             FROM documents)
         |SELECT shard, count(*)::BIGINT AS n_docs,
         |       sum(fp)::DECIMAL(38,0)::VARCHAR AS fp_sum,
         |       bit_xor(fp) AS fp_xor
         |  FROM t GROUP BY shard""".stripMargin,
    "x79_manifest_diff" ->
      s"""WITH v1 AS (SELECT ${H60("'shuf|ep1|'||doc_id::VARCHAR")} % 16 AS shard,
         |             ${H60(s"'manifest|'||doc_id::VARCHAR||'|'||$NT")} AS fp
         |             FROM documents),
         |m1 AS (SELECT shard, count(*)::BIGINT AS n_docs,
         |              sum(fp)::DECIMAL(38,0) AS s, bit_xor(fp) AS x
         |         FROM v1 GROUP BY shard),
         |d2 AS (SELECT doc_id,
         |              CASE WHEN doc_id % 89 = 0 THEN text || ' v2'
         |                   ELSE text END AS text
         |         FROM documents WHERE doc_id % 97 <> 0),
         |v2 AS (SELECT ${H60("'shuf|ep1|'||doc_id::VARCHAR")} % 16 AS shard,
         |             ${H60(s"'manifest|'||doc_id::VARCHAR||'|'||$NT")} AS fp
         |             FROM d2),
         |m2 AS (SELECT shard, count(*)::BIGINT AS n_docs,
         |              sum(fp)::DECIMAL(38,0) AS s, bit_xor(fp) AS x
         |         FROM v2 GROUP BY shard)
         |SELECT coalesce(m1.shard, m2.shard) AS shard,
         |       coalesce(m1.n_docs, 0)::BIGINT AS n_docs_a,
         |       coalesce(m2.n_docs, 0)::BIGINT AS n_docs_b
         |  FROM m1 FULL OUTER JOIN m2 ON m1.shard = m2.shard
         | WHERE NOT (m1.n_docs IS NOT DISTINCT FROM m2.n_docs
         |        AND m1.s IS NOT DISTINCT FROM m2.s
         |        AND m1.x IS NOT DISTINCT FROM m2.x)""".stripMargin,
    "x40_shuffle_shard" ->
      s"""WITH t AS (SELECT doc_id,
         |             ${H60("'shuf|ep1|'||doc_id::VARCHAR")} AS h
         |             FROM documents)
         |SELECT doc_id, h % 8 AS shard,
         |       row_number() OVER (PARTITION BY h % 8
         |                          ORDER BY h, doc_id)::BIGINT AS pos
         |  FROM t""".stripMargin,
    "x54_mix_sample" ->
      s"""WITH c AS (SELECT lang, count(*)::BIGINT AS n_group
         |             FROM documents GROUP BY lang),
         |m AS (SELECT min(n_group) AS n_min FROM c),
         |r AS (SELECT lang, pow(n_min::DOUBLE / n_group, 0.5) AS rate
         |        FROM c, m)
         |SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate
         |  FROM documents d JOIN r USING (lang)
         | WHERE ${H60("'mix|'||d.doc_id::VARCHAR")} % 1000000
         |       < round(r.rate * 1000000)::BIGINT""".stripMargin,
    "x69_token_mix" ->
      s"""WITH tc AS (SELECT doc_id, lang,
         |              len(string_split($NT,' '))::BIGINT AS n_tokens
         |              FROM documents),
         |c AS (SELECT lang, sum(n_tokens)::BIGINT AS n_group
         |        FROM tc GROUP BY lang),
         |m AS (SELECT min(n_group) AS n_min FROM c),
         |r AS (SELECT lang, pow(n_min::DOUBLE / n_group, 0.5) AS rate
         |        FROM c, m)
         |SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate
         |  FROM documents d JOIN r USING (lang)
         | WHERE ${H60("'tokmix|'||d.doc_id::VARCHAR")} % 1000000
         |       < round(r.rate * 1000000)::BIGINT""".stripMargin,
    "x70_corpus_card" ->
      s"""WITH t AS (SELECT doc_id, lang, source, n_chars,
         |        len(string_split($NT,' '))::BIGINT AS n_tokens,
         |        $QQ AS quality_q,
         |        md5($NT) AS h
         |        FROM documents),
         |k AS (SELECT min(doc_id) AS doc_id, 1 AS kept FROM t GROUP BY h),
         |f AS (SELECT t.*, CASE WHEN k.kept IS NULL THEN 1 ELSE 0 END AS is_dup
         |        FROM t LEFT JOIN k USING (doc_id))
         |SELECT lang, source, count(*)::BIGINT AS n_docs,
         |       sum(n_tokens)::BIGINT AS n_tokens,
         |       sum(n_chars)::BIGINT AS n_chars,
         |       sum(is_dup)::BIGINT AS n_dup_docs,
         |       ${DHU("sum(quality_q)", "count(*)")} AS mean_quality_q
         |  FROM f GROUP BY ROLLUP(lang, source)""".stripMargin,
    "x55_inverted_search" ->
      s"""WITH w AS (SELECT doc_id,
         |             unnest(list_distinct(string_split($NT,' '))) AS word
         |             FROM documents)
         |SELECT doc_id, count(*)::BIGINT AS n_hit
         |  FROM w WHERE word IN ('spark','join','window')
         | GROUP BY doc_id HAVING count(*) = 3""".stripMargin,
    // x132: the oracle is the UNION-corpus intersection — identical to
    // x55's — so a hash match proves search-after-append ≡ rebuild
    "x132_postings_append" ->
      s"""WITH w AS (SELECT doc_id,
         |             unnest(list_distinct(string_split($NT,' '))) AS word
         |             FROM documents)
         |SELECT doc_id, count(*)::BIGINT AS n_hit
         |  FROM w WHERE word IN ('spark','join','window')
         | GROUP BY doc_id HAVING count(*) = 3""".stripMargin,
    "x56_group_sample" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |             ${H60("'val|'||doc_id::VARCHAR")} AS h
         |             FROM documents)
         |SELECT doc_id, lang,
         |       row_number() OVER (PARTITION BY lang
         |                          ORDER BY h, doc_id)::BIGINT AS rn
         |  FROM t QUALIFY rn <= 100""".stripMargin,
    "x59_bigram_lm" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |bg AS (SELECT doc_id,
         |         unnest([ws[i]||' '||ws[i+1] for i in range(1, len(ws))]) AS bg
         |         FROM w),
         |tf AS (SELECT doc_id, bg, count(*) AS tf FROM bg GROUP BY 1, 2),
         |cb AS (SELECT bg, sum(tf) AS cb FROM tf GROUP BY 1),
         |cl AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cb) AS cl
         |         FROM cb GROUP BY 1),
         |v AS (SELECT count(DISTINCT word) AS vocab
         |        FROM (SELECT unnest(ws) AS word FROM w)),
         |lp AS (SELECT t.doc_id, t.tf,
         |       CAST(round(ln((k.cb + 1)::DOUBLE /
         |                     (l.cl + v.vocab)::DOUBLE) * 1000000)
         |            AS BIGINT) AS lpb_q
         |         FROM tf t JOIN cb k USING (bg)
         |         JOIN cl l ON split_part(t.bg, ' ', 1) = l.w1
         |         CROSS JOIN v)
         |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
         |       (CASE WHEN (sum(tf * lpb_q)) < 0 THEN -CAST((2*(-(sum(tf * lpb_q))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) ELSE CAST((2*(sum(tf * lpb_q)) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) END)
         |         AS avg_logp2_q
         |  FROM lp GROUP BY doc_id""".stripMargin,
    "x65_source_quota" ->
      s"""WITH t AS (SELECT doc_id, source, $QQ AS quality_q
         |        FROM documents)
         |SELECT doc_id, source, quality_q,
         |       row_number() OVER (PARTITION BY source
         |                          ORDER BY quality_q DESC, doc_id)::BIGINT AS rn
         |  FROM t QUALIFY rn <= 10""".stripMargin,
    "x66_knn_label" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_e,
         |             label::BIGINT AS q_label
         |             FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT q.q_id, q.q_label, n.vec_id AS n_id,
         |        n.label::BIGINT AS n_label,
         |        round(${COS("q.q_e", "n.embedding")}, 6) AS cos
         |        FROM q CROSS JOIN embeddings n WHERE q.q_id <> n.vec_id),
         |k AS (SELECT q_id, q_label, n_label FROM (
         |        SELECT *, row_number() OVER (PARTITION BY q_id
         |                   ORDER BY cos DESC, n_id) AS rnk FROM c)
         |        WHERE rnk <= 10),
         |v AS (SELECT q_id, q_label, n_label AS knn_label,
         |        count(*)::BIGINT AS n_votes
         |        FROM k GROUP BY 1, 2, 3)
         |SELECT q_id, q_label, knn_label, n_votes,
         |       CASE WHEN knn_label = q_label THEN 1 ELSE 0 END::BIGINT
         |         AS agree
         |  FROM v QUALIFY row_number() OVER (PARTITION BY q_id
         |         ORDER BY n_votes DESC, knn_label) = 1""".stripMargin,
    "x64_curate" ->
      s"""WITH k AS (SELECT min(doc_id) AS doc_id
         |             FROM documents GROUP BY md5($NT)),
         |p AS (SELECT d.* FROM documents d JOIN k USING (doc_id)),
         |q AS (SELECT doc_id, lang, $QQ AS quality_q
         |        FROM p),
         |g AS (SELECT doc_id, lang, quality_q,
         |        ntile(3) OVER (PARTITION BY lang
         |                       ORDER BY quality_q, doc_id) AS b FROM q),
         |gg AS (SELECT doc_id, lang, quality_q FROM g WHERE b = 3),
         |c AS (SELECT lang, count(*)::BIGINT AS n_group FROM gg GROUP BY lang),
         |m AS (SELECT min(n_group) AS n_min FROM c),
         |r AS (SELECT lang, pow(n_min::DOUBLE / n_group, 0.5) AS rate
         |        FROM c, m)
         |SELECT gg.doc_id, gg.lang, gg.quality_q, round(r.rate, 6) AS rate
         |  FROM gg JOIN r USING (lang)
         | WHERE ${H60("'curate|'||gg.doc_id::VARCHAR")} % 1000000
         |       < round(r.rate * 1000000)::BIGINT""".stripMargin,
    "x63_skew_join" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split($NT,' ')) AS word
         |             FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS n FROM w
         |         WHERE length(word) > 0 GROUP BY 1, 2),
         |c AS (SELECT word, sum(n) AS cnt FROM tf GROUP BY 1),
         |hot AS (SELECT word FROM c ORDER BY cnt DESC, word LIMIT 16)
         |SELECT t.doc_id, sum(t.n)::BIGINT AS n_tokens,
         |       sum(CASE WHEN t.word IN (SELECT word FROM hot)
         |                THEN t.n ELSE 0 END)::BIGINT AS n_hot,
         |       sum(t.n * c.cnt)::BIGINT AS wsum,
         |       round(sum(CASE WHEN t.word IN (SELECT word FROM hot)
         |                      THEN t.n ELSE 0 END)::DOUBLE / sum(t.n), 4)
         |         AS hot_frac
         |  FROM tf t JOIN c USING (word)
         | GROUP BY t.doc_id""".stripMargin,
    "x61_lm_scores" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |u AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM u GROUP BY 1, 2),
         |cnts AS (SELECT word, sum(tf) AS cnt FROM tf GROUP BY 1),
         |c AS (SELECT sum(cnt) AS n_total, count(*) AS vocab FROM cnts),
         |ulp AS (SELECT t.doc_id, t.tf,
         |       CAST(round(ln((k.cnt + 1)::DOUBLE /
         |                     (c.n_total + c.vocab)::DOUBLE) * 1000000)
         |            AS BIGINT) AS lpw_q
         |         FROM tf t JOIN cnts k USING (word) CROSS JOIN c),
         |uni AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
         |          (CASE WHEN (sum(tf * lpw_q)) < 0 THEN -CAST((2*(-(sum(tf * lpw_q))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) ELSE CAST((2*(sum(tf * lpw_q)) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) END)
         |            AS avg_logp_q
         |          FROM ulp GROUP BY doc_id),
         |bgx AS (SELECT doc_id,
         |         unnest([ws[i]||' '||ws[i+1] for i in range(1, len(ws))]) AS bg
         |         FROM w),
         |tf2 AS (SELECT doc_id, bg, count(*) AS tf FROM bgx GROUP BY 1, 2),
         |cb AS (SELECT bg, sum(tf) AS cb FROM tf2 GROUP BY 1),
         |cl AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cb) AS cl
         |         FROM cb GROUP BY 1),
         |blp AS (SELECT t.doc_id, t.tf,
         |       CAST(round(ln((k.cb + 1)::DOUBLE /
         |                     (l.cl + c.vocab)::DOUBLE) * 1000000)
         |            AS BIGINT) AS lpb_q
         |         FROM tf2 t JOIN cb k USING (bg)
         |         JOIN cl l ON split_part(t.bg, ' ', 1) = l.w1
         |         CROSS JOIN c),
         |big AS (SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
         |          (CASE WHEN (sum(tf * lpb_q)) < 0 THEN -CAST((2*(-(sum(tf * lpb_q))) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) ELSE CAST((2*(sum(tf * lpb_q)) + (sum(tf) * 100)) // (2*(sum(tf) * 100)) AS BIGINT) END)
         |            AS avg_logp2_q
         |          FROM blp GROUP BY doc_id)
         |SELECT uni.doc_id, uni.n_tokens, uni.avg_logp_q,
         |       big.n_bigrams, big.avg_logp2_q
         |  FROM uni LEFT JOIN big USING (doc_id)""".stripMargin,
    "x58_span_dup" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |s AS (SELECT doc_id, ws,
         |        unnest(range(1, greatest(len(ws)-31, 1)+1, 8)) AS st FROM w),
         |f AS (SELECT doc_id,
         |        ${H60("'span|'||array_to_string(ws[st:st+31],' ')")} AS fp
         |        FROM s),
         |g AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > 1)
         |SELECT doc_id, count(*)::BIGINT AS n_win,
         |       sum(CASE WHEN fp IN (SELECT fp FROM g) THEN 1 ELSE 0 END)::BIGINT
         |         AS n_dup_win,
         |       round(sum(CASE WHEN fp IN (SELECT fp FROM g) THEN 1 ELSE 0 END)::DOUBLE
         |         / count(*), 4) AS dup_frac
         |  FROM f GROUP BY doc_id""".stripMargin,
    "x60_excise_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |t AS (SELECT doc_id, ws, len(ws) AS n FROM w),
         |s AS (SELECT doc_id, ws, n,
         |        unnest(range(1, greatest(n-31, 1)+1, 8)) AS st FROM t),
         |f AS (SELECT doc_id, n, st,
         |        ${H60("'span|'||array_to_string(ws[st:st+31],' ')")} AS fp
         |        FROM s),
         |r AS (SELECT doc_id, n, st,
         |        count(*) OVER (PARTITION BY fp) AS n_occ,
         |        row_number() OVER (PARTITION BY fp
         |                           ORDER BY doc_id, st) AS rk FROM f),
         |e AS (SELECT doc_id, st, least(st+31, n) AS en
         |        FROM r WHERE n_occ > 1 AND rk > 1),
         |g AS (SELECT doc_id, list(struct_pack(st := st, en := en)) AS rs
         |        FROM e GROUP BY doc_id),
         |k AS (SELECT t.doc_id, t.ws, t.n,
         |        coalesce(g.rs, []) AS rs
         |        FROM t LEFT JOIN g ON t.doc_id = g.doc_id),
         |p AS (SELECT doc_id, ws, n,
         |        list_filter(range(1, n+1),
         |          i -> len(list_filter(rs,
         |                 rr -> i >= rr.st AND i <= rr.en)) = 0) AS kept
         |        FROM k)
         |SELECT doc_id,
         |       coalesce(array_to_string(list_transform(kept, i -> ws[i]),
         |                ' '), '') AS text,
         |       n::BIGINT AS n_tokens,
         |       len(kept)::BIGINT AS n_kept,
         |       (n - len(kept))::BIGINT AS n_cut
         |  FROM p""".stripMargin,
    // x133: the EXACT form — stride-1 windows grouped by true content
    // (no fingerprint in the oracle at all); same reassembly as x60
    "x133_exact_substrings" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |t AS (SELECT doc_id, ws, len(ws) AS n FROM w),
         |s AS (SELECT doc_id, ws, n, unnest(range(1, n-30)) AS st
         |        FROM t WHERE n >= 32),
         |f AS (SELECT doc_id, n, st,
         |        array_to_string(ws[st:st+31],' ') AS win FROM s),
         |r AS (SELECT doc_id, n, st,
         |        count(*) OVER (PARTITION BY win) AS n_occ,
         |        row_number() OVER (PARTITION BY win
         |                           ORDER BY doc_id, st) AS rk FROM f),
         |e AS (SELECT doc_id, st, st+31 AS en
         |        FROM r WHERE n_occ > 1 AND rk > 1),
         |g AS (SELECT doc_id, list(struct_pack(st := st, en := en)) AS rs
         |        FROM e GROUP BY doc_id),
         |k AS (SELECT t.doc_id, t.ws, t.n,
         |        coalesce(g.rs, []) AS rs
         |        FROM t LEFT JOIN g ON t.doc_id = g.doc_id),
         |p AS (SELECT doc_id, ws, n,
         |        list_filter(range(1, n+1),
         |          i -> len(list_filter(rs,
         |                 rr -> i >= rr.st AND i <= rr.en)) = 0) AS kept
         |        FROM k)
         |SELECT doc_id,
         |       coalesce(array_to_string(list_transform(kept, i -> ws[i]),
         |                ' '), '') AS text,
         |       n::BIGINT AS n_tokens,
         |       len(kept)::BIGINT AS n_kept,
         |       (n - len(kept))::BIGINT AS n_cut
         |  FROM p""".stripMargin,
    // x134: BRUTE-FORCE all-pairs with the same exact integer τ² test —
    // hash-green against the prefix-filtered Spark plan proves the
    // pruning lossless (the x53 pattern for similarity search)
    "x134_allpairs_sim" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws FROM documents),
         |s AS (SELECT doc_id,
         |        unnest([array_to_string(ws[i:i+3],' ')
         |                for i in range(1, len(ws)-2)]) AS g FROM w),
         |tf AS (SELECT doc_id, ${H60("'aps|' || g")} AS fp,
         |        count(*)::BIGINT AS w FROM s GROUP BY 1, 2),
         |ss AS (SELECT doc_id, sum(w*w)::BIGINT AS ss FROM tf GROUP BY 1),
         |d AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        sum(a.w*b.w)::BIGINT AS dot
         |        FROM tf a JOIN tf b
         |          ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT d.doc_a, d.doc_b, d.dot, sa.ss AS ss_a, sb.ss AS ss_b,
         |       round(d.dot::DOUBLE /
         |             sqrt(sa.ss::DOUBLE * sb.ss::DOUBLE), 4) AS cos
         |  FROM d JOIN ss sa ON sa.doc_id = d.doc_a
         |         JOIN ss sb ON sb.doc_id = d.doc_b
         | WHERE d.dot::HUGEINT * d.dot * 100000000 >=
         |       sa.ss::HUGEINT * sb.ss * $X134Tau2E8""".stripMargin,
    // x136: the literal SEQUENTIAL next-fit fold, replayed as a
    // recursive CTE advancing every shard in rank lockstep — the
    // single-node packing a loader would compute one doc at a time
    "x136_pack_docs" ->
      s"""WITH RECURSIVE
         |w AS (SELECT doc_id, len(string_split($NT,' '))::BIGINT AS n,
         |        ${H60("'pack|' || doc_id::VARCHAR")} % 8 AS shard
         |        FROM documents),
         |r AS (SELECT doc_id, n, shard,
         |        row_number() OVER (PARTITION BY shard
         |                           ORDER BY n DESC, doc_id) AS rk FROM w),
         |st AS (
         |  SELECT shard, rk, doc_id, n, 0::BIGINT AS bin, 0::BIGINT AS off,
         |         n AS used FROM r WHERE rk = 1
         |  UNION ALL
         |  SELECT r.shard, r.rk, r.doc_id, r.n,
         |         CASE WHEN st.used + r.n <= 128 OR st.used = 0
         |              THEN st.bin ELSE st.bin + 1 END,
         |         CASE WHEN st.used + r.n <= 128 OR st.used = 0
         |              THEN st.used ELSE 0 END,
         |         CASE WHEN st.used + r.n <= 128 OR st.used = 0
         |              THEN st.used + r.n ELSE r.n END
         |    FROM st JOIN r ON r.shard = st.shard AND r.rk = st.rk + 1)
         |SELECT doc_id, n AS n_tokens, shard, bin, off FROM st""".stripMargin,
    // x138: BM25 over the probed terms replayed from the WHOLE corpus
    // (df/dl/avgdl/n_docs from first principles) — hash-green proves
    // the index-served ranking, including post-append statistics,
    // equals a full corpus-scan BM25
    "x138_indexed_bm25" ->
      s"""WITH tf AS (
         |  SELECT doc_id, w AS word, count(*)::BIGINT AS tf
         |    FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w
         |            FROM documents) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
         |c AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
         |        FROM dl),
         |p AS (SELECT tf.doc_id, tf.word, tf.tf, dl.dl
         |        FROM tf JOIN dl USING (doc_id)
         |       WHERE tf.word IN ('spark', 'join', 'window')),
         |df AS (SELECT word, count(*)::BIGINT AS dfreq FROM p GROUP BY word),
         |t AS (SELECT p.doc_id,
         |        CAST(round(ln(1.0 + (c.n_docs - df.dfreq + 0.5) /
         |                        (df.dfreq + 0.5)) *
         |              (p.tf * 2.2 /
         |               (p.tf + 1.2 * (0.25 + 0.75 * p.dl /
         |                (c.sum_dl::DOUBLE / c.n_docs::DOUBLE))))
         |              * 1000000) AS BIGINT) AS t_q
         |        FROM p JOIN df USING (word) CROSS JOIN c),
         |s AS (SELECT doc_id, sum(t_q)::BIGINT AS score_q,
         |        count(*)::BIGINT AS n_hit FROM t GROUP BY doc_id)
         |SELECT doc_id, score_q, n_hit FROM s
         | ORDER BY score_q DESC, doc_id ASC LIMIT 10""".stripMargin,
    // x146: proximity gate recomputed from RAW text positions + BM25
    // replayed from first principles, fused on the same exact integer
    // grids — neither index enters the oracle
    "x146_phrase_ranked" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws
         |             FROM documents),
         |p AS (SELECT doc_id, ws[i] AS word, i::BIGINT AS pos FROM w,
         |        unnest(range(1, len(ws)+1)) AS t(i)),
         |pa AS (SELECT doc_id, pos AS p0 FROM p WHERE word = 'dup'),
         |pb AS (SELECT doc_id, pos AS p1 FROM p WHERE word = 'vector'),
         |pc AS (SELECT doc_id, pos AS p2 FROM p WHERE word = 'merge'),
         |pj AS (SELECT pa.doc_id,
         |              greatest(p0,p1,p2) - least(p0,p1,p2) + 1 AS span
         |         FROM pa JOIN pb USING (doc_id) JOIN pc USING (doc_id)),
         |sp AS (SELECT doc_id, min(span)::BIGINT AS min_span
         |         FROM pj WHERE span <= 8 GROUP BY doc_id),
         |tf AS (SELECT doc_id, w AS word, count(*)::BIGINT AS tf
         |         FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w
         |                 FROM documents) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
         |c AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
         |        FROM dl),
         |pp AS (SELECT tf.doc_id, tf.word, tf.tf, dl.dl
         |         FROM tf JOIN dl USING (doc_id)
         |        WHERE tf.word IN ('dup', 'vector', 'merge')),
         |dfq AS (SELECT word, count(*)::BIGINT AS dfreq FROM pp GROUP BY word),
         |t AS (SELECT pp.doc_id,
         |        CAST(round(ln(1.0 + (c.n_docs - dfq.dfreq + 0.5) /
         |                        (dfq.dfreq + 0.5)) *
         |              (pp.tf * 2.2 /
         |               (pp.tf + 1.2 * (0.25 + 0.75 * pp.dl /
         |                (c.sum_dl::DOUBLE / c.n_docs::DOUBLE))))
         |              * 1000000) AS BIGINT) AS t_q
         |        FROM pp JOIN dfq USING (word) CROSS JOIN c),
         |s AS (SELECT doc_id, sum(t_q)::BIGINT AS score_q FROM t
         |       GROUP BY doc_id)
         |SELECT sp.doc_id, s.score_q, sp.min_span,
         |       s.score_q + (2*1000000 + sp.min_span) // (2*sp.min_span)
         |         AS rank_q
         |  FROM sp JOIN s USING (doc_id)
         | ORDER BY rank_q DESC, sp.doc_id ASC LIMIT 10""".stripMargin,
    // x145: ordered slop-2 anchors recounted from RAW text positions —
    // hash-green proves index-served sloppy phrase ≡ a full-corpus scan
    "x145_slop_phrase" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws
         |             FROM documents),
         |p AS (SELECT doc_id, ws[i] AS word, i::BIGINT AS pos FROM w,
         |        unnest(range(1, len(ws)+1)) AS t(i)),
         |a AS (SELECT doc_id, pos AS p0 FROM p WHERE word = 'table'),
         |b AS (SELECT doc_id, pos AS p1 FROM p WHERE word = 'hash'),
         |j AS (SELECT DISTINCT a.doc_id, p0 FROM a JOIN b USING (doc_id)
         |       WHERE p1 > p0 AND p1 <= p0 + 3)
         |SELECT doc_id, count(*)::BIGINT AS n_anchors
         |  FROM j GROUP BY doc_id""".stripMargin,
    // x144: x138's first-principles BM25 replay, over the corpus MINUS
    // the exact-dedup-dropped docs — the index never enters the oracle,
    // so hash-green proves tombstoned delete ≡ rebuild on the deduped
    // corpus, including n_docs/avgdl/df
    "x144_bm25_after_delete" ->
      s"""WITH k AS (SELECT doc_id, $NT AS nt,
         |             min(doc_id) OVER (PARTITION BY md5($NT)) AS mk
         |        FROM documents),
         |d2 AS (SELECT doc_id, nt FROM k WHERE doc_id = mk),
         |tf AS (
         |  SELECT doc_id, w AS word, count(*)::BIGINT AS tf
         |    FROM (SELECT doc_id, unnest(string_split(nt,' ')) AS w
         |            FROM d2) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
         |c AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
         |        FROM dl),
         |p AS (SELECT tf.doc_id, tf.word, tf.tf, dl.dl
         |        FROM tf JOIN dl USING (doc_id)
         |       WHERE tf.word IN ('spark', 'join', 'window')),
         |df AS (SELECT word, count(*)::BIGINT AS dfreq FROM p GROUP BY word),
         |t AS (SELECT p.doc_id,
         |        CAST(round(ln(1.0 + (c.n_docs - df.dfreq + 0.5) /
         |                        (df.dfreq + 0.5)) *
         |              (p.tf * 2.2 /
         |               (p.tf + 1.2 * (0.25 + 0.75 * p.dl /
         |                (c.sum_dl::DOUBLE / c.n_docs::DOUBLE))))
         |              * 1000000) AS BIGINT) AS t_q
         |        FROM p JOIN df USING (word) CROSS JOIN c),
         |s AS (SELECT doc_id, sum(t_q)::BIGINT AS score_q,
         |        count(*)::BIGINT AS n_hit FROM t GROUP BY doc_id)
         |SELECT doc_id, score_q, n_hit FROM s
         | ORDER BY score_q DESC, doc_id ASC LIMIT 10""".stripMargin,
    // x147: x18's assignment replayed from first principles, searched
    // over ONLY the surviving vectors (vec_id % 7 <> 0 filtered in the
    // cells CTE — off both the query and neighbor sides, exactly what
    // the probe's tombstone anti-join does) — hash-green proves
    // delete ≡ rebuild-on-survivors under the frozen quantizer
    "x147_ann_after_delete" ->
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_e
         |                FROM embeddings WHERE vec_id < 16),
         |asg AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${COS("e.embedding", "c.c_e")} DESC, c.c_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cent c),
         |cells AS (SELECT vec_id, embedding, c_id AS cell FROM asg
         |           WHERE rn = 1 AND vec_id % 7 <> 0),
         |cand AS (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |         round(${COS("q.embedding", "n.embedding")}, 6) AS cos
         |    FROM cells q JOIN cells n
         |      ON q.cell = n.cell AND q.vec_id <> n.vec_id
         |   WHERE q.vec_id < 10)
         |SELECT q_id, n_id, cos, rnk FROM (
         |  SELECT q_id, n_id, cos,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY cos DESC, n_id ASC) AS rnk
         |    FROM cand) WHERE rnk <= 3""".stripMargin,
    // x142: consecutive-word occurrences counted straight off the raw
    // text windows — the index never enters the oracle, so hash-green
    // proves index-served phrase search ≡ a full corpus scan
    "x142_phrase_search" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws
         |             FROM documents),
         |o AS (SELECT doc_id, i FROM w,
         |        unnest(range(1, len(ws))) AS t(i)
         |       WHERE ws[i] = 'table' AND ws[i+1] = 'hash')
         |SELECT doc_id, count(*)::BIGINT AS n_occ FROM o GROUP BY doc_id""".stripMargin,
    // x143: min proximity spans recomputed from RAW text positions —
    // the index never enters the oracle, so hash-green proves
    // index-served within-k proximity ≡ a full-corpus window scan
    "x143_proximity_search" ->
      s"""WITH w AS (SELECT doc_id, string_split($NT,' ') AS ws
         |             FROM documents),
         |p AS (SELECT doc_id, ws[i] AS word, i::BIGINT AS pos FROM w,
         |        unnest(range(1, len(ws)+1)) AS t(i)),
         |a AS (SELECT doc_id, pos AS p0 FROM p WHERE word = 'dup'),
         |b AS (SELECT doc_id, pos AS p1 FROM p WHERE word = 'vector'),
         |c AS (SELECT doc_id, pos AS p2 FROM p WHERE word = 'merge'),
         |j AS (SELECT a.doc_id,
         |             greatest(p0,p1,p2) - least(p0,p1,p2) + 1 AS span
         |        FROM a JOIN b USING (doc_id) JOIN c USING (doc_id))
         |SELECT doc_id, min(span)::BIGINT AS min_span
         |  FROM j WHERE span <= 8 GROUP BY doc_id""".stripMargin,
    // x141: the full PQ chain proposes top-50 (x116's ADC replay),
    // exact cosine re-ranks ONLY those candidates to top-10
    "x141_pq_rerank" ->
      s"""WITH $pqCtes,
         |rlut AS (
         |  SELECT q.vec_id AS q_id, c.sub, c.c_id,
         |         CAST(round((${PQL2("q.sv", "c.c_e")}) * 1048576) AS BIGINT)
         |           AS pd2
         |    FROM psv q JOIN pcent$X48Iters c ON q.sub = c.sub
         |   WHERE q.vec_id < 3),
         |radc AS (
         |  SELECT l.q_id, co.vec_id AS n_id, sum(l.pd2)::BIGINT AS adc_qd2
         |    FROM pcodes co JOIN rlut l ON l.sub = co.sub AND l.c_id = co.code
         |   WHERE co.vec_id <> l.q_id GROUP BY 1, 2),
         |rcand AS (SELECT q_id, n_id FROM radc
         |           QUALIFY row_number() OVER (PARTITION BY q_id
         |               ORDER BY adc_qd2 ASC, n_id ASC) <= 50),
         |rex AS (
         |  SELECT rc.q_id, rc.n_id,
         |         CAST(round((${COS("a.embedding", "b.embedding")})
         |              * 1000000) AS BIGINT) AS cos
         |    FROM rcand rc
         |    JOIN embeddings a ON a.vec_id = rc.q_id
         |    JOIN embeddings b ON b.vec_id = rc.n_id)
         |SELECT q_id, n_id, cos,
         |       row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, n_id ASC)::BIGINT AS rnk
         |  FROM rex
         | QUALIFY rnk <= 10""".stripMargin,
    // x140: positives = the x07 oracle nested whole (both pair
    // orientations, anchor-filtered); negatives = exact-cosine top-3
    // among different-label docs, anti-joined against the positives
    "x140_contrastive_pairs" ->
      s"""WITH pr AS (
         |${lshPairsSql(0.8)}
         |),
         |an AS (SELECT doc_id FROM documents WHERE doc_id % 17 = 0),
         |posu AS (SELECT a_id AS anchor_id, b_id AS cand_id, jac FROM pr
         |         UNION ALL
         |         SELECT b_id AS anchor_id, a_id AS cand_id, jac FROM pr),
         |pos AS (SELECT anchor_id, cand_id, 'pos' AS kind,
         |          row_number() OVER (PARTITION BY anchor_id
         |              ORDER BY jac DESC, cand_id ASC)::BIGINT AS rnk
         |          FROM posu JOIN an ON an.doc_id = posu.anchor_id),
         |lv AS (SELECT doc_id, lang FROM documents),
         |cosj AS (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         |         CAST(round((${COS("a.embedding", "b.embedding")})
         |              * 1000000) AS BIGINT) AS cos
         |    FROM embeddings a
         |    JOIN an ON an.doc_id = a.vec_id
         |    JOIN lv la ON la.doc_id = a.vec_id
         |    JOIN embeddings b ON b.vec_id <> a.vec_id
         |    JOIN lv lb ON lb.doc_id = b.vec_id AND lb.lang <> la.lang),
         |negc AS (SELECT c.* FROM cosj c
         |          ANTI JOIN pos p ON p.anchor_id = c.anchor_id
         |                         AND p.cand_id = c.cand_id),
         |neg AS (SELECT anchor_id, cand_id, 'neg' AS kind,
         |          row_number() OVER (PARTITION BY anchor_id
         |              ORDER BY cos DESC, cand_id ASC)::BIGINT AS rnk
         |          FROM negc QUALIFY rnk <= 3)
         |SELECT * FROM pos UNION ALL SELECT * FROM neg""".stripMargin,
    // x139: BOTH serving artifacts replayed from first principles —
    // BM25 from the raw corpus (the x138 replay, per-query term sets)
    // and the full unrolled PQ train/encode/ADC chain (the x116
    // replay, top-20) — fused with x94's exact-rational RRF
    "x139_indexed_hybrid" ->
      s"""WITH $pqCtes,
         |btf AS (
         |  SELECT doc_id, w AS word, count(*)::BIGINT AS tf
         |    FROM (SELECT doc_id, unnest(string_split($NT,' ')) AS w
         |            FROM documents) GROUP BY 1, 2),
         |bdl AS (SELECT doc_id, sum(tf)::BIGINT AS dl
         |          FROM btf GROUP BY doc_id),
         |bc AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
         |         FROM bdl),
         |bq AS (SELECT doc_id AS q_id, word FROM btf WHERE doc_id < 3),
         |bdf AS (SELECT word, count(*)::BIGINT AS dfreq FROM btf
         |         WHERE word IN (SELECT word FROM bq) GROUP BY word),
         |bterm AS (
         |  SELECT btf.doc_id, btf.word,
         |         CAST(round(ln(1.0 + (bc.n_docs - bdf.dfreq + 0.5) /
         |                         (bdf.dfreq + 0.5)) *
         |               (btf.tf * 2.2 /
         |                (btf.tf + 1.2 * (0.25 + 0.75 * bdl.dl /
         |                 (bc.sum_dl::DOUBLE / bc.n_docs::DOUBLE))))
         |               * 1000000) AS BIGINT) AS t_q
         |    FROM btf JOIN bdl USING (doc_id) JOIN bdf USING (word)
         |         CROSS JOIN bc),
         |bts AS (SELECT bq.q_id, bterm.doc_id, sum(t_q) AS score
         |          FROM bq JOIN bterm USING (word)
         |         WHERE bterm.doc_id <> bq.q_id GROUP BY 1, 2),
         |tr AS (SELECT q_id, doc_id,
         |              row_number() OVER (PARTITION BY q_id
         |                  ORDER BY score DESC, doc_id ASC)::BIGINT AS r_text
         |         FROM bts QUALIFY r_text <= 20),
         |hlut AS (
         |  SELECT q.vec_id AS q_id, c.sub, c.c_id,
         |         CAST(round((${PQL2("q.sv", "c.c_e")}) * 1048576) AS BIGINT)
         |           AS pd2
         |    FROM psv q JOIN pcent$X48Iters c ON q.sub = c.sub
         |   WHERE q.vec_id < 3),
         |hadc AS (
         |  SELECT l.q_id, co.vec_id AS doc_id, sum(l.pd2)::BIGINT AS adc_qd2
         |    FROM pcodes co JOIN hlut l ON l.sub = co.sub AND l.c_id = co.code
         |   WHERE co.vec_id <> l.q_id GROUP BY 1, 2),
         |vr AS (SELECT q_id, doc_id,
         |              row_number() OVER (PARTITION BY q_id
         |                  ORDER BY adc_qd2 ASC, doc_id ASC)::BIGINT AS r_vec
         |         FROM hadc QUALIFY r_vec <= 20),
         |f AS (SELECT coalesce(tr.q_id, vr.q_id) AS q_id,
         |             coalesce(tr.doc_id, vr.doc_id) AS doc_id,
         |             tr.r_text, vr.r_vec,
         |             CASE
         |               WHEN tr.r_text IS NOT NULL AND vr.r_vec IS NOT NULL
         |               THEN CAST((2*(1000000 * (120 + tr.r_text + vr.r_vec)) + ((60 + tr.r_text) * (60 + vr.r_vec))) // (2*((60 + tr.r_text) * (60 + vr.r_vec))) AS BIGINT)
         |               WHEN tr.r_text IS NOT NULL
         |               THEN CAST((2*(1000000) + (60 + tr.r_text)) // (2*(60 + tr.r_text)) AS BIGINT)
         |               ELSE CAST((2*(1000000) + (60 + vr.r_vec)) // (2*(60 + vr.r_vec)) AS BIGINT)
         |             END AS rrf_q
         |        FROM tr FULL JOIN vr
         |          ON tr.q_id = vr.q_id AND tr.doc_id = vr.doc_id)
         |SELECT q_id, doc_id, r_text, r_vec, rrf_q
         |  FROM f QUALIFY row_number() OVER (PARTITION BY q_id
         |         ORDER BY rrf_q DESC, doc_id ASC) <= 10""".stripMargin,
    // x137: the full depth×width hash grid replayed — bucket sums from
    // exact counts, estimate = min over rows, overcount vs exact
    "x137_cm_counts" ->
      s"""WITH e AS (SELECT unnest(string_split($NT,' ')) AS w
         |             FROM documents),
         |c AS (SELECT w, count(*)::BIGINT AS cnt FROM e GROUP BY w),
         |h AS (SELECT w, cnt, i,
         |        ${H60("'cm' || i::VARCHAR || '|' || w")} % 64 AS bucket
         |        FROM c, unnest([0, 1, 2, 3]) AS t(i)),
         |sk AS (SELECT i, bucket, sum(cnt)::BIGINT AS bcnt
         |         FROM h GROUP BY 1, 2),
         |est AS (SELECT h.w, min(sk.bcnt)::BIGINT AS est
         |          FROM h JOIN sk ON sk.i = h.i AND sk.bucket = h.bucket
         |         GROUP BY h.w)
         |SELECT c.w AS word, c.cnt, est.est,
         |       (est.est - c.cnt)::BIGINT AS overcount
         |  FROM c JOIN est ON est.w = c.w""".stripMargin,
    "x57_quality_buckets" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, $QQ AS quality_q
         |    FROM documents)
         |SELECT doc_id, lang, quality_q,
         |       ntile(3) OVER (PARTITION BY lang
         |                      ORDER BY quality_q, doc_id)::BIGINT AS bucket
         |  FROM t""".stripMargin,
    "x17_mvcc_snapshot" ->
      """WITH log AS (
        |  SELECT 1::BIGINT AS txn, 'U' AS op, o_orderkey AS rid, o_totalprice AS price FROM orders
        |  UNION ALL
        |  SELECT 2, 'U', o_orderkey, o_totalprice + 1000.0 FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 3, 'D', o_orderkey, NULL FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 4, 'U', o_orderkey, o_totalprice * 2.0 FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL SELECT 1, 'C', NULL, NULL
        |  UNION ALL SELECT 2, 'C', NULL, NULL
        |  UNION ALL SELECT 3, 'C', NULL, NULL),
        |vis AS (
        |  SELECT * FROM log
        |   WHERE op IN ('U','D') AND txn <= 3
        |     AND txn IN (SELECT txn FROM log WHERE op = 'C' AND txn <= 3)),
        |snap AS (
        |  SELECT * FROM vis
        |  QUALIFY row_number() OVER (PARTITION BY rid ORDER BY txn DESC) = 1)
        |SELECT rid, round(price, 2) AS price FROM snap WHERE op = 'U'""".stripMargin,
  )
}
