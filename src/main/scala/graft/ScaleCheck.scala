package graft

import org.apache.spark.sql.functions._

/** Scale-amortization experiment main: replicates the sf0.1
  * lineitem/orders tables K× into /tmp with disjoint order keys (join
  * selectivity per replica unchanged, so work scales linearly) and
  * times the core queries at both sizes.
  *
  * Purpose: the sf0.1 bench wall-times are dominated by a fixed
  * ~0.1-0.3 s planning/session cost per query; this main measures how
  * far from linear the scale-up actually is — the evidence behind
  * BENCH_NOTES' "fixed overhead amortizes at scale" claim. A
  * scaleFactor column far below K means per-row throughput RISES with
  * data size, which is the property that matters at 100 TB.
  *
  *   sbt "runMain graft.ScaleCheck [K]"   (default K=16)
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val K = args.headOption.map(_.toInt).getOrElse(16)
    val spark = graft.engine.GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = s"/tmp/graft_scale$K"

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val maxKey = ord.agg(max("o_orderkey")).head.getLong(0) + 1
    val rep = spark.range(K).select(col("id").as("__r"))
    li.crossJoin(rep).withColumn("l_orderkey", col("l_orderkey") + col("__r") * maxKey)
      .drop("__r").write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    ord.crossJoin(rep).withColumn("o_orderkey", col("o_orderkey") + col("__r") * maxKey)
      .drop("__r").write.mode("overwrite").parquet(s"$dst/orders.parquet")
    println(s"replicated rows: ${spark.read.parquet(s"$dst/lineitem.parquet").count()}")

    // Every timed run starts from EMPTY storage state (Bench's sweep
    // discipline): queries that persist internally (x64's gated pool,
    // the x51/x59/x61 tf tables) otherwise get their base timing
    // silently served from the WARM run's blocks — CacheManager
    // dedups logically-equal plans across runs — while the replicated
    // dir (a different plan) runs cold, inflating the scale factor
    // with a cache artifact. (Observed: x64 read 5.25x at x4 before
    // this sweep; the honest cold/cold ratio is what this reports.)
    def sweepState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    def time(name: String, dir: String): Double = {
      sweepState()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    for (n <- Seq("q01_scan", "q02_filter", "q08_hash_join", "q14_pipeline", "q04_agg")) {
      time(n, src) // warm
      val tSmall = time(n, src)
      val tBig = time(n, dst)
      println(f"$n%-14s base=$tSmall%5.2f s  x$K%d=$tBig%6.2f s  " +
        f"scaleFactor=${tBig / tSmall}%5.2f (ideal $K%d; lower = overhead amortized)")
    }

    // Dup-heavy corpus: replicate documents D× with NEW ids but IDENTICAL
    // text — every doc gains D-1 exact twins. The stress case for dedup:
    // LSH buckets grow D×, candidate pairs grow ~D² per original — but
    // per-bucket, bounded by D, never corpus-sized. Measures that the
    // dedup queries degrade with OUTPUT size (real duplicate pairs), not
    // quadratically with corpus size.
    val D = math.max(2, K / 4)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    docs.crossJoin(spark.range(D).select(col("id").as("__r")))
      .withColumn("doc_id", col("doc_id") + col("__r") * maxDoc)
      .drop("__r").write.mode("overwrite").parquet(s"$dst/documents.parquet")
    for (n <- Seq("x04_dedup_exact", "x07_minhash_lsh_pairs", "x23_simhash_banded",
        "x47_simhash_pairbanded", "x36_dup_clusters", "x38_pack_sequences",
        "x39_repetition", "x43_chargram_lsh", "x10_ngram_jaccard",
        // decontamination both ways: the Bloom-prefiltered path must
        // track the exact-broadcast path (same output, same linearity) —
        // its advantage is broadcast SIZE at large benchmark suites,
        // which this corpus-replication can't surface, so equality is
        // the pass criterion here
        "x37_decontaminate", "x53_bloom_decontaminate",
        // span fingerprints: on the D-replicated corpus EVERY window is
        // duplicated (D-1 exact twins), so this measures the worst-case
        // dup-join fan-out, not the fingerprint pass
        "x58_span_dup",
        // sampling pair: x54 is map-only after a languages-sized agg
        // (expect ~flat), x56's rank-limit must stay WindowGroupLimit-
        // pruned as per-language row counts grow D×; x69 is x54's
        // token-budget twin (same shape, weighted agg)
        "x54_mix_sample", "x56_group_sample", "x69_token_mix",
        // LM scoring joins key on word/bigram — the Zipfian-stopword
        // skew case: replication grows every tf table D× while the
        // vocab is UNCHANGED (identical texts), so per-key join fan-in
        // grows D× on exactly the hot keys. Near-linear scaleFactor
        // here is the evidence the (doc,word)-grain join + AQE skew
        // split absorb stopword skew; quadratic would mean a hot-key
        // bottleneck needing a salt.
        "x51_lm_score", "x59_bigram_lm", "x61_lm_scores",
        // quality-canonical: x36's component pipeline + quality join +
        // per-cluster window on D-clique-merged clusters
        "x52_quality_canonical",
        // span excision acts on a corpus where EVERY window is
        // duplicated — worst-case cut-range fan-out and reassembly
        "x60_excise_spans",
        // hot-key split join on the same word grain as x51: the top-16
        // broadcast slice is size-invariant under replication, so the
        // split's cost must track the cold remainder (~linear)
        "x63_skew_join",
        // source cardinality is replication-invariant (same 20 sources,
        // 4x docs each): the quota output stays constant while the
        // WindowGroupLimit prune sees 4x input — cost must track the
        // scan, not the output
        "x65_source_quota",
        // NB classifier: train counts grow D× on an UNCHANGED vocab
        // (identical texts), so the word-key model join sees D× fan-in
        // on exactly the hot keys — x51's Zipfian-skew story at the
        // (label, word) grain; near-linear is the pass criterion
        "x72_nb_classifier",
        // exact-quota weighted sample: output is k·groups = CONSTANT
        // under replication; WindowGroupLimit prune sees D× input —
        // cost must track the scan, not the output (x65's shape)
        "x73_weighted_sample",
        // DSIR weights: x51's Zipfian word-join story on TWO unigram
        // models at once — replication grows every tf table D× on an
        // UNCHANGED vocab, so both equi word joins see D× fan-in on
        // exactly the hot keys; near-linear = the (doc,word) grain +
        // broadcast smoothing constants absorb it. (x84/x89 add only
        // a TakeOrderedAndProject on this, so x83 is the cost proxy
        // for the whole selection family.)
        "x83_dsir_weights",
        // mixture plan: one map-side token-count scan into a
        // languages-sized agg + 1-row broadcast — x54's ~flat
        // expectation; growth here would mean the groups-sized
        // arithmetic somehow acquired a corpus-sized term
        "x85_mixture_plan",
        // contamination fraction: x37's broadcast shingle-join shape
        // with the per-doc set-size denominator riding the SAME
        // aggregate — must track decontaminate's linearity (the
        // benchmark set is replication-invariant in size per doc)
        "x87_contamination_frac",
        // threshold curve: pair-grain rollups over ONE persisted LSH
        // pass — must track x07's pair growth (~D² per original
        // near-dup cluster, bounded per band bucket), never add a
        // corpus-sized term of its own
        "x88_threshold_curve",
        // Gopher rule gate: map-only per-row array arithmetic, no
        // shuffle — the scan-bound floor any rule filter should sit at
        "x90_gopher_rules",
        // boilerplate excision: block-fingerprint volume grows D× and
        // replication turns EVERY full block into a ≥minDf boilerplate
        // block (each doc has D-1 exact twins), so the cut-range join
        // and the reassembly see the worst case — near-linear means
        // the df groupBy + equi join + per-row array work absorb it
        "x92_boilerplate",
        // novelty: x58's fingerprint-groupBy shape at shingle grain;
        // replication multiplies occurrences of an UNCHANGED distinct-
        // shingle set, so the min-doc agg sees D× fan-in on the same
        // keys (partial-agg absorption is exactly what's measured)
        "x93_novelty",
        // signal agreement: three map-side signal passes (novelty adds
        // its shingle groupBy) joined at doc grain, collapsed into ONE
        // global partial-agg statistics row — must track the slowest
        // constituent signal (x93); growth beyond that would mean the
        // doc-grain joins or the final agg acquired a corpus-sized
        // non-parallel term
        "x97_signal_corr",
        // materialized mixture: the two-level per-group prefix sum —
        // replication grows each (group, block) window's rows D× while
        // the block count stays 128, so the level-1 windows must absorb
        // the growth in parallel (x38's discipline, per group)
        "x91_mixture_materialize",
        // DoReMi reweighting: two x74-shaped LM passes (train + eval)
        // on word-key equi joins with broadcast scalars; the MWU chain
        // lives on the domains-sized grain — must track x74's
        // sub-linearity (vocab unchanged under replication), never
        // acquire a doc-grain term
        "x98_doremi",
        // learned-mixture allocation: x98's passes + one token-count
        // scan into a groups-sized agg — must track x98 plus a scan
        "x103_doremi_mixture",
        // KN bigram: x59's one-pass bigram-grain shape with three
        // extra bigram-vocab-sized derived tables — must track x59's
        // near-flatness (vocab unchanged under replication)
        "x104_kn_bigram",
        // source drift: one tokenize pass to the (source, word) grain;
        // the corpus table DERIVES from it — must be near-flat (vocab
        // and source set unchanged under replication)
        "x107_source_drift",
        // zipf slope: same (group, word)-grain pass + a lang-keyed
        // vocab-sized rank window — near-flat for the same reason
        "x108_zipf_slope",
        // KN apply: train pass + apply pass, both bigram-vocab joins
        // with broadcast type totals — must track x104/x74
        "x109_kn_apply",
        // repetition signals: one doc-keyed exploded gram count +
        // doc rollup — must scale with the x01/x90 map-side family
        "x110_repetition",
        // word entropy: one tokenize pass to (doc, word) counts + doc
        // rollup — same map-side family as x110, no corpus-wide term
        "x112_entropy",
        // heavy hitters: MG candidate pass is map-only O(k) state; the
        // recount shuffle is candidate-pruned — must be near-flat
        // under replication (same vocab, same candidate set)
        "x113_heavy_hitters",
        // CDC chunks: map-side boundary scan + slice, one chunk-fp
        // groupBy — must track x35's fixed-window chunker
        "x114_cdc_chunks",
        // langid confusion: one x03 scoring pass + matrix-grain rollup
        // — map-side family; the share window is matrix-sized
        "x117_langid_confusion",
        // corpus card v2: three measured signal passes + lang rollup —
        // must track the sum of its constituents (x112+x110+x113)
        "x123_corpus_card_v2",
        // saturation curve: one persisted shingle pass + shingle-grain
        // min/distinct aggs — must track the x07 map-side family (the
        // dup-replicated corpus collapses novelty, not the plan)
        "x125_saturation",
        // bag dedup: x04's one-groupBy plan with a per-row sort in the
        // key — must track x04
        "x127_bag_dedup",
        // ppl buckets: x109's scoring passes + a langs-sized cut
        // broadcast — must track x109, the cut step is noise
        "x111_ppl_buckets",
        // dedup applied through the MVCC write path: x41's decision
        // (measured via x36) + tombstone snapshot (one per-rid window)
        // — the applied form must track the decision, not add a
        // corpus-sized term
        "x82_dedup_applied",
        // end-to-end curation composes three individually-measured
        // stages (exact dedup → quality gate → temperature sample);
        // composition is where cache scopes and shuffle reuse break,
        // so the COMPOSED factor gets its own row — it must track the
        // dedup stage (the only corpus-sized shuffle; the gate is
        // map-side, the sample per-group bounded)
        "x64_curate")) {
      time(n, src) // warm
      val tSmall = time(n, src)
      val tBig = time(n, dst)
      println(f"$n%-22s base=$tSmall%5.2f s  x$D%d-dups=$tBig%6.2f s  " +
        f"scaleFactor=${tBig / tSmall}%5.2f (corpus x$D%d, every doc has ${D - 1}%d exact twins)")
    }
    // x36 on the dup-heavy corpus is the interesting one: the pair graph
    // gains D-cliques per original near-dup cluster (components MERGE
    // across replicas through the exact twins), so the edge volume the
    // contraction (and any star rounds after it) must absorb grows
    // faster than the corpus.

    // Span-dedup stride sweep (Lee et al. fidelity vs cost): stride 1
    // is the suffix-array-grade mode — every window fingerprinted, the
    // exact span cover at window granularity; stride s samples 1/s of
    // the windows. Two measurements: COST on the x$D corpus (the
    // fingerprint volume term — wall should scale ~1/stride), and
    // RECALL on the NATURAL corpus, where real partial overlaps exist:
    // of the docs stride 1 flags (dup_frac > 0), how many does stride
    // s still flag? (On the replicated corpus every window is a dup —
    // agreement there is trivially 100%, so recall is measured on src.)
    {
      val docsBig = spark.read.parquet(s"$dst/documents.parquet")
      val docsSrc = spark.read.parquet(s"$src/documents.parquet")
      def flagged(d: org.apache.spark.sql.DataFrame, s: Int): Set[Long] =
        graft.ops.CorpusOps.spanDupStats(d, window = 32, stride = s)
          .filter(col("dup_frac") > 0).select("doc_id")
          .collect().map(_.getLong(0)).toSet
      def cost(d: org.apache.spark.sql.DataFrame, s: Int): Double = {
        sweepState()
        val t0 = System.nanoTime()
        graft.ops.CorpusOps.spanDupStats(d, window = 32, stride = s)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      cost(docsBig, 8) // warm
      val base = flagged(docsSrc, 1)
      for (s <- Seq(1, 4, 8)) {
        val t = cost(docsBig, s)
        val f = flagged(docsSrc, s)
        val rec = if (base.isEmpty) 1.0
          else (base intersect f).size.toDouble / base.size
        println(f"x58 stride=$s%d  cost(x$D%d corpus)=$t%6.2f s  " +
          f"flagged(src)=${f.size}%4d  recall-vs-stride1=$rec%5.3f")
      }
    }

    // Incremental dedup: the signature index (x50) amortizes the corpus
    // pass — per-batch probe cost must be a fraction of the full-corpus
    // pair recompute at BOTH sizes, and the gap must widen with the
    // corpus (the build is untimed here: it's paid once per corpus
    // generation, the probe is paid per batch).
    def incremental(dir: String, tag: String): (Double, Double) = {
      sweepState()
      val dd = spark.read.parquet(s"$dir/documents.parquet")
      val cat = graft.catalog.Catalog(spark, s"$dst/sigidx_$tag")
      graft.ops.TextDedup.writeSignatureIndex(cat, "hist",
        dd.filter(col("doc_id") % 10 =!= 0))
      val t0 = System.nanoTime()
      graft.ops.TextDedup.dedupAgainstIndex(cat, "hist",
        dd.filter(col("doc_id") % 10 === 0))
        .queryExecution.toRdd.count()
      val tProbe = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.ops.TextDedup.minhashLshPairs(dd).queryExecution.toRdd.count()
      val tFull = (System.nanoTime() - t1) / 1e9
      (tProbe, tFull)
    }
    incremental(src, "warm") // warm
    val (pS, fS) = incremental(src, "base")
    val (pB, fB) = incremental(dst, "big")
    println(f"x50 incremental probe vs full recompute: base $pS%5.2f vs $fS%5.2f s, " +
      f"x$D%d-dups $pB%5.2f vs $fB%5.2f s (probe/full ${pB / fB}%4.2f at x$D%d)")

    // Embedding corpus D×: new vec_ids, identical vectors — every vector
    // gains D-1 exact twins. Queries (vec_id < 10) and the centroid seed
    // (vec_id < 16) keep their original rows, so only the SEARCHED/
    // TRAINED corpus grows: x13/x18/x48 should track corpus size (cells
    // grow D×), x22's verify tracks true-pair output (D² per original
    // near-dup, same story as the text side).
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = embs.agg(max("vec_id")).head.getLong(0) + 1
    embs.crossJoin(spark.range(D).select(col("id").as("__r")))
      .withColumn("vec_id", col("vec_id") + col("__r") * maxVec)
      .drop("__r").write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    for (n <- Seq("x13_ann_lsh", "x18_ann_ivf", "x22_embed_dedup_bucketed",
        // x67: the IVF kNN vote — query side fixed (20 vectors), the
        // searched corpus grows Dx, so candidates (and the vote input)
        // must track cell size, not corpus^2
        "x48_ann_trained", "x67_knn_label_ivf",
        // x71: SemDeDup — training + Σ cell² candidate work both grow
        // with the corpus (fixture-pinned k=16, same caveat as x22;
        // the library rule is k ~ sqrt(n) via suggestK)
        "x71_semdedup",
        // x75: fused text+embedding dedup at the library DEFAULT
        // (auto-k since r16; the fixed-k=16/nprobe=6 escape hatch it
        // used to pin measured 4.9x at x4 — the quadratic fixture
        // class, now OpsSpec-covered instead of bench-weighted) — BOTH
        // corpora are D× here; edge volume grows like its generators
        // (x07 ~linear, auto-k in-cell pairs ~n^1.5/√n-bounded), and
        // cluster merges across replicas stress the component rounds
        "x75_fused_dedup",
        // x81: the k=64 TRAINED regime of the same decision — must sit
        // far below x22's fixed-k-16 growth on the same corpus (the
        // oracle-checked face of the k ~ sqrt(n) rule)
        "x81_embed_dedup_trained",
        // x115: PQ train+encode — m·ksub broadcast codebooks,
        // (sub, vec)-keyed assignment windows; must track the x48
        // trained-kmeans family (linear in the corpus)
        "x115_pq_encode",
        // x116: flat ADC — one codes scan against a broadcast LUT +
        // exact integer sums at (query, vector) grain — linear in n
        "x116_pq_ann",
        // x118: IVF+PQ — x116's ADC restricted to probed cells;
        // candidate volume (query × cell size) must grow BELOW the
        // flat ADC scan's as the corpus replicates
        "x118_ivfpq_ann",
        // x119: PQ-code banding — replicas encode identically, so
        // bands gain D-cliques: candidate volume tracks TRUE code
        // agreements (D² per original pair), never corpus²
        "x119_pq_band_dedup",
        // x120: residual PQ — x115's passes + the coarse assignment
        // and one broadcast-centroid subtraction; must track x115
        "x120_pq_residual",
        // x121: recall audit — the deliberate exact cross join term
        // (queries fixed at 10) + x116's linear ADC side
        "x121_pq_recall",
        // x122: residual IVFPQ — x120's passes + the probed-cell ADC;
        // must track x118 (candidates grow with cell size)
        "x122_ivfpq_residual_ann",
        // x124: int8 SQ scan — deliberately linear in n (the
        // memory-bandwidth tier; IVF composes on top as for PQ)
        "x124_sq_ann",
        // x126: two deliberate exact rankings (queries fixed at 10) —
        // the audit pays the x28-class linear term twice
        "x126_matryoshka_recall",
        // x94: hybrid RRF — BOTH corpora are D× here; the query set
        // stays 3 while both modality candidate sides grow, so
        // near-linear means the WindowGroupLimit prunes keep the
        // per-query exchanges at ≤ k rows and the cost tracks the
        // corpus-grain tf work (x42's shape)
        "x94_hybrid_rrf",
        // x95: PCA — the n·d² map-side product volume grows D× while
        // the shuffle stays d²-keyed and the iteration d²-sized; the
        // gram pass must scale like a scan (partial agg absorbs the
        // fan-in, everything after the first aggregate is constant)
        "x95_pca_power",
        // x96: PCA projection — train (gram) + apply (broadcast
        // component, id-grain partial sum); both passes scale with
        // the corpus, nothing else does — must track x95 plus one
        // map-side pass
        "x96_pca_project",
        // x105: top-2 PCA — the SAME single gram pass as x95; the
        // second component is pure driver d²-math, so the factor must
        // equal x95's
        "x105_pca_top2",
        // x106: curriculum ordering — x96's projection passes + one
        // percentile agg (broadcast cuts) + (stage, shard)-keyed rank
        // windows; must track x96, never acquire a global sort
        "x106_curriculum",
        // x99: prototypicality — trained assignment (broadcast
        // centroids) + ONE per-cell rank window; growth beyond the
        // assignment's own factor would mean the window acquired a
        // corpus-wide partition
        "x99_prototypical",
        // x101: fused dedup at the TRAINED k=64 operating point — must
        // sit far below the fixed-k growth on the same corpus (the
        // pre-r16 x75 pin measured 4.9x at x4; the embedding half here
        // is x81's regime, the text half x07's banding). r13: the quantizer is
        // train-once (persisted centroid layout, read back per
        // execution) — the growth factor now measures assignment +
        // pair generation + closure only, the production per-run cost
        "x101_fused_trained",
        // x102: semantic decontamination — suite-sized broadcast, one
        // corpus scan of map-side cosines; replication grows the scan
        // side D× and the broadcast side D× too (the %10 slice of the
        // replicated corpus), so expect ~D×·D× = super-linear HERE —
        // in production the benchmark suite is FIXED-size and the
        // growth is the scan's alone
        "x102_sem_decontaminate",
        // x100: margin mining — in-cell even×odd candidates under the
        // FIXED oracle-pinned k=16 (x22's quadratic fixture class:
        // expect super-linear here; k ~ sqrt(n) is the scale rule) +
        // four keyed window passes over the one candidate frame
        "x100_margin_mine",
        // x134: prefix-filtered all-pairs — replicas duplicate every
        // shingle vector D×, so each qualifying pair becomes a
        // D-clique (D² per original pair, the x119 banding argument);
        // the PREFIX volume itself grows linearly — sub-D² growth
        // means the filter, not the verify, stays the bottleneck
        "x134_allpairs_sim",
        // x136: whole-doc NFD packing — collect+fold per shard; the
        // shard count is fixed (8) so per-task state grows D× here;
        // in production nShards scales with the corpus (the
        // epochShuffle rule) — the measurement shows the fold's
        // in-task cost is linear, the safe regime for that scaling
        "x136_pack_docs",
        // x137: CM sketch — the (row, bucket) key space is FIXED
        // (d·w) whatever the corpus: growth must track the map-side
        // scan alone (the whole point of the sketch tier)
        "x137_cm_counts",
        // x138/x139: index-SERVED retrieval — the ratio here is
        // build-vs-probe ASYMMETRIC, not a scale signal: the base dir
        // reads its already-built persisted layout (probe-only, the
        // production steady state) while the replicated dir is fresh
        // and pays the full index BUILD + probe; the row therefore
        // MEASURES the build's one-time cost next to the probe's
        // steady-state cost (r14: probe 0.3/1.4 s, build+probe
        // 4.1/5.7 s at 2×sf0.1) — the amortization argument itself
        "x138_indexed_bm25",
        "x139_indexed_hybrid",
        // x143/x144: positional-proximity and delete-lifecycle probes
        // — same build-vs-probe asymmetry note as x138/x139; at probe
        // steady state x143's cost is the probed terms' posting lists
        // (band-joined rarest-first) and x144's is x138's plus a
        // deletes-sized broadcast anti-join, both corpus-independent
        "x143_proximity_search",
        "x144_bm25_after_delete",
        "x145_slop_phrase",
        "x146_phrase_ranked")) {
      time(n, src) // warm
      val tSmall = time(n, src)
      val tBig = time(n, dst)
      println(f"$n%-24s base=$tSmall%5.2f s  x$D%d-dups=$tBig%6.2f s  " +
        f"scaleFactor=${tBig / tSmall}%5.2f (embedding corpus x$D%d)")
    }

    // x22's fixture form pins k=16 centroids (oracle-coupled), so its
    // candidate volume sum(cell²) grows quadratically with corpus size —
    // the measurement above shows it. The library op's documented scale
    // rule is k ~ sqrt(n): re-time the SAME op on the big corpus with k
    // scaled up, holding nprobe — candidate volume per cell falls k×,
    // pulling the cost back toward output-bound growth.
    def ivfDedup(dir: String, k: Int): Double = {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val cent = e.filter(col("vec_id") < k)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_e"))
      val t0 = System.nanoTime()
      graft.ops.VectorOps.ivfDedupDecision(
        graft.ops.VectorOps.ivfCells(e, cent, nprobe = 6), threshold = 0.45)
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    ivfDedup(dst, 16) // warm
    val tK16 = ivfDedup(dst, 16)
    val tK64 = ivfDedup(dst, 64)
    println(f"ivfDedupDecision on x$D%d corpus: k=16 $tK16%6.2f s -> k=64 $tK64%6.2f s " +
      f"(${tK16 / tK64}%4.1fx back from fixed-k quadratic growth; rule: k ~ sqrt(n))")
    // The executable form of that rule: suggestK derives k from the
    // corpus count, so no caller has to know it. Timed on the same big
    // corpus — auto-k must track the hand-scaled k=64 row, not the
    // quadratic k=16 one.
    val nBig = spark.read.parquet(s"$dst/embeddings.parquet").count()
    val kAuto = graft.ops.VectorOps.suggestK(nBig)
    val tAuto = ivfDedup(dst, kAuto)
    println(f"ivfDedupDecision on x$D%d corpus: auto-k (suggestK($nBig%d)=$kAuto%d) " +
      f"$tAuto%6.2f s (${tK16 / tAuto}%4.1fx vs fixed k=16)")
    // The one-call library entry (CorpusOps.fusedDedup) DEFAULTS to
    // auto-k — this row pins that a caller who names no quantizer gets
    // the scale path (since r16 the x75 oracle query pins this same
    // default; the fixed-k escape hatch is OpsSpec-covered).
    def fused(dir: String): Double = {
      sweepState()
      val dd = spark.read.parquet(s"$dir/documents.parquet")
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val t0 = System.nanoTime()
      graft.ops.CorpusOps.fusedDedup(dd, e)
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    fused(src) // warm
    val tFusedSmall = fused(src)
    val tFusedBig = fused(dst)
    println(f"fusedDedup (library default, auto-k): base=$tFusedSmall%5.2f s  " +
      f"x$D%d-dups=$tFusedBig%6.2f s  scaleFactor=${tFusedBig / tFusedSmall}%5.2f")
    spark.stop()
  }
}
