package graft

import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.functions.{TextFunctions => TF}
import graft.ops.{CorpusOps, GraphOps, TextDedup}

/** End-to-end training-data preparation pipeline — the composition a
  * real corpus build runs, chained through the graft.ops library API on
  * the fixture corpus:
  *
  *   near-dup pairs → components → cluster dedup decision →
  *   benchmark decontamination → sequence packing → epoch shuffle
  *
  * Each stage is individually oracle-checked (x07/x36/x41/x37/x38/x40);
  * this spec checks the stages COMPOSE: ids flow through, drop sets
  * apply cleanly, and conservation invariants hold end to end.
  */
class PipelineSpec extends SparkTestBase {

  /** Bytes read from local files while `act` runs, from a cold start
    * (every persisted RDD dropped first). Hadoop's global "file"-scheme
    * statistics count REAL file I/O only (task-metric bytesRead also
    * counts cached-block reads, which a shared persist legitimately
    * produces in volume); local[4] runs executors in-process, so the
    * counter is complete and synchronous once an action returns. */
  private def bytesOf(act: => Unit): Long = {
    def fileBytes(): Long = {
      val s = org.apache.hadoop.fs.FileSystem
        .getGlobalStorageStatistics.get("file")
      if (s == null) 0L else s.getLong("bytesRead")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = fileBytes(); act; fileBytes() - before
  }

  test("corpus prep pipeline: dedup -> decontaminate -> pack -> shuffle composes with conserved rows") {
    val docs = Catalog(spark, sf).table("documents")
    val nDocs = docs.count()

    // 1. near-dup clusters -> transitive drop set
    val pairs = TextDedup.minhashLshPairs(docs)
    val drops = CorpusOps.clusterDedupDecision(
      GraphOps.connectedComponents(pairs))
    val deduped = docs.join(drops.select(col("drop_id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    val nDropped = drops.count()
    assert(deduped.count() == nDocs - nDropped, "dedup conserves rows")
    // every canonical survives its own decision
    assert(drops.join(deduped, drops("canonical_id") === deduped("doc_id"),
      "left_anti").isEmpty, "no canonical may be dropped")

    // 2. decontaminate vs the benchmark slice, then drop the benchmark
    //    docs themselves from the training pool
    val bench = deduped.filter(col("doc_id") % 5 === 0)
    val train = deduped.filter(col("doc_id") % 5 =!= 0)
    val contaminated = CorpusOps.decontaminate(train, bench, shingleK = 8)
    val clean = train.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
    assert(clean.count() == train.count() - contaminated.count())

    // 3. pack into 128-token sequences: token mass is conserved and
    //    offsets are gapless in id order
    val packed = CorpusOps.packSequences(clean, seqLen = 128)
    val totTokens = clean.select(sum(TF.tokenCount(col("text"))))
      .head.getLong(0)
    assert(packed.select(sum(col("n_tokens"))).head.getLong(0) == totTokens)
    val gapless = packed
      .withColumn("end", col("start_tok") + col("n_tokens"))
      .withColumn("next_start",
        lead(col("start_tok"), 1).over(
          org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      .filter(col("next_start").isNotNull && col("next_start") =!= col("end"))
    assert(gapless.isEmpty, "token stream must be gapless in id order")

    // 4. epoch shuffle: a permutation (every clean doc exactly once)
    val shuffled = CorpusOps.epochShuffle(clean, nShards = 4, epoch = 1)
    assert(shuffled.count() == clean.count())
    assert(shuffled.select("doc_id").distinct().count() == clean.count())
    // downstream loader order: (shard, pos) is a dense unique key
    assert(shuffled.groupBy("shard", "pos").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("curation pipeline v2: quality gate -> temperature mix -> bloom decontaminate composes deterministically") {
    val docs = Catalog(spark, sf).table("documents")

    // 1. quality gate: drop each language's worst tercile (x57 shape —
    //    inline ntile here to keep the spec self-contained)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("q"), col("doc_id"))
    val scored = docs
      .withColumn("q", length(col("text")))
      .withColumn("bucket", ntile(3).over(w))
    val gated = scored.filter(col("bucket") >= 2).drop("q", "bucket")
    val perLang = scored.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gatedPerLang = gated.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      // ntile(3): bucket 1 holds n/3 rows plus one of the remainder
      val b1 = n / 3 + (if (n % 3 >= 1) 1 else 0)
      assert(gatedPerLang(lang) == n - b1,
        s"$lang: ${gatedPerLang(lang)} of $n survive a 1-tercile gate")
    }

    // 2. temperature mix over the gated pool: deterministic — re-running
    //    on the same pool returns the identical sample
    val mixed = CorpusOps.temperatureSample(gated, alpha = 0.5)
    val ids = mixed.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = CorpusOps.temperatureSample(gated, alpha = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == again, "sample must be a pure function of the pool")
    // the sample respects the gate (no resurrected docs)
    val gatedIds = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(gatedIds))

    // 3. bloom decontamination of the mixed pool vs the held-out slice:
    //    identical to the exact path on the composed (non-fixture) pool
    val pool = docs.join(mixed.select("doc_id"), Seq("doc_id"))
    val bench = docs.filter(col("doc_id") % 5 === 0)
      .join(mixed.select("doc_id"), Seq("doc_id"), "left_anti")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(keys(CorpusOps.decontaminateBloom(pool, bench, shingleK = 8)) ==
      keys(CorpusOps.decontaminate(pool, bench, shingleK = 8)),
      "bloom and exact decontamination must agree on a composed pool")
  }

  test("curation pipeline v3: trained NB gate -> held-out LM floor -> exact-quota weighted sample composes deterministically") {
    val docs = Catalog(spark, sf).table("documents")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val cand = docs.filter(col("doc_id") % 5 === 0)

    // 1. trained-classifier gate (x72's model): keep candidates whose
    //    predicted label agrees with the declared one — the trained
    //    upgrade of x20's heuristic-langid gate
    val pred = graft.ops.ClassifierOps.nbPredict(train, cand)
    val gated = cand.join(pred, Seq("doc_id"))
      .filter(col("pred_label") === col("lang"))
    val candIds = cand.select("doc_id").collect().map(_.getLong(0)).toSet
    val gatedIds = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gatedIds.nonEmpty && gatedIds.subsetOf(candIds))
    assert(gatedIds.size < candIds.size, "gate must reject something")

    // 2. held-out LM floor (x74's op): score the gated pool under the
    //    TRAIN corpus's LM, keep docs at or above the pool mean —
    //    relative floor, so the stage is corpus-independent
    val scored = CorpusOps.lmScoreApply(gated, CorpusOps.unigramCounts(train))
    val mean = scored.agg(avg(col("avg_logp_q"))).head.getDouble(0)
    val kept = scored.filter(col("avg_logp_q") >= mean)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty && keptIds.subsetOf(gatedIds))
    assert(keptIds.size < gatedIds.size, "floor must reject something")

    // 3. exact per-language quota over the kept pool (x73's op):
    //    exactly min(k, available) per language, and a re-run is
    //    identical (the whole pipeline is a pure function of the corpus)
    val pool = docs.join(kept.select("doc_id"), Seq("doc_id"))
    def sampleIds() = CorpusOps.weightedSample(pool, k = 5,
      weightCol = "n_chars").select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val s1 = sampleIds()
    assert(s1 == sampleIds(), "pipeline must be deterministic end to end")
    val avail = pool.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = s1.groupBy(_._1).view.mapValues(_.size).toMap
    avail.foreach { case (lang, n) =>
      assert(got.getOrElse(lang, 0) == math.min(5L, n),
        s"$lang: quota ${got.get(lang)} vs available $n")
    }
    assert(s1.map(_._2).subsetOf(keptIds), "no resurrected docs")
  }

  test("curation pipeline v4: gopher rule gate -> DSIR target selection -> materialized mixture composes deterministically") {
    val docs = Catalog(spark, sf).table("documents")
    val nDocs = docs.count()

    // 1. rule tier (x90): the hand-written gate runs FIRST — cheapest
    //    signal, no model, map-only
    val kept = CorpusOps.gopherRules(docs).filter(col("keep") === 1L)
    val pool0 = docs.join(kept.select("doc_id"), Seq("doc_id"))
    val n0 = pool0.count()
    assert(n0 > 0 && n0 < nDocs, s"gate must discriminate: $n0 of $nDocs")

    // 2. DSIR selection toward the src0/src1 target domain (x83/x84
    //    shape) over the GATED pool — gate and selector compose
    val inTarget = col("source").isin("src0", "src1")
    val pool = pool0.filter(!inTarget)
    val wts = CorpusOps.dsirWeights(pool,
      CorpusOps.unigramCounts(pool0.filter(inTarget)),
      CorpusOps.unigramCounts(pool))
    val sel = wts.orderBy(col("log_ratio_q").desc, col("doc_id").asc)
      .limit(64)
    val selIds = sel.select("doc_id").collect().map(_.getLong(0)).toSet
    val wmap = wts.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(selIds.size == math.min(64L, pool.count()).toInt)
    assert(selIds.subsetOf(wmap.keySet), "no resurrected docs")
    // top-k actually selects by weight (ties at the boundary allowed)
    val unsel = wmap.keySet -- selIds
    if (unsel.nonEmpty)
      assert(selIds.map(wmap).min >= unsel.map(wmap).max,
        "every selected weight must dominate every unselected one")

    // 3. materialized mixture over the selected slice: the copy table
    //    agrees with its OWN plan's allocation — per group, delivered
    //    token mass lands in [alloc - g_tokens, alloc] (whole epochs
    //    always delivered; the greedy remainder never overshoots)
    val selected = docs.join(sel.select("doc_id"), Seq("doc_id"))
    val budget = new java.math.BigDecimal("0.5")
    val mat = CorpusOps.mixtureMaterialize(selected, budget)
    assert(mat.count() == selIds.size, "one copy-count row per doc")
    val delivered = mat.groupBy("lang")
      .agg(sum(col("n_copies") * col("n_tokens")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    CorpusOps.mixturePlan(selected, budget).collect().foreach { r =>
      val (lang, gTokens, alloc) =
        (r.getString(0), r.getLong(1), r.getLong(3))
      val d = delivered(lang)
      assert(d <= alloc && d >= alloc - gTokens,
        s"$lang: delivered $d outside [${alloc - gTokens}, $alloc]")
    }
    // the whole chain is a pure function of the corpus
    val again = CorpusOps.mixtureMaterialize(selected, budget)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(mat.collect().map(r => (r.getLong(0), r.getLong(3))).toSet == again)
  }

  test("curation pipeline v5: rule gate -> KN fluency floor -> DoReMi learned weights -> budget allocation composes deterministically") {
    val docs = Catalog(spark, sf).table("documents")

    // 1. rule tier (x90) — cheapest signal first
    val kept = CorpusOps.gopherRules(docs).filter(col("keep") === 1L)
    val pool0 = docs.join(kept.select("doc_id"), Seq("doc_id"))
    val n0 = pool0.count()
    assert(n0 > 0, "rule gate emptied the corpus")

    // 2. KN fluency floor (x104): drop the worst-quartile bigram
    //    perplexity — the smoothing family the production filter uses
    val kn = CorpusOps.knBigramScoreFromWords(CorpusOps.tokenized(pool0))
    val cut = kn.agg(percentile(col("avg_logp_kn_q"), lit(0.25))).head.getDouble(0)
    val fluent = pool0.join(
      kn.filter(col("avg_logp_kn_q") >= cut).select("doc_id"), Seq("doc_id"))
    val n1 = fluent.count()
    assert(n1 > 0 && n1 < n0, s"KN floor must discriminate: $n1 of $n0")

    // 3. DoReMi weights (x98) learned ON THE GATED SLICE: the per-lang
    //    mixture law from held-out excess loss
    val w = CorpusOps.doremiWeights(
      fluent.filter(col("doc_id") % 5 =!= 0),
      fluent.filter(col("doc_id") % 5 === 0),
      eta = new java.math.BigDecimal("0.5"), steps = 4,
      smooth = new java.math.BigDecimal("0.2"))
    val wmap = w.collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    // micro-unit weights sum to 1e6 up to per-domain half-up rounding
    assert(math.abs(wmap.values.sum - 1000000L) <= wmap.size,
      s"weights must sum to ~1e6: $wmap")

    // 4. the learned law spends the budget (x103): allocation follows
    //    the weights, total stays within the budget
    val budget = new java.math.BigDecimal("0.5")
    val plan = CorpusOps.mixturePlanWeightedMicro(fluent,
      w.select(col("lang"), col("weight_q")), budget)
    val rows = plan.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == wmap.keySet, "a language vanished in allocation")
    val tokTot = rows.values.map(_._1).sum
    val allocTot = rows.values.map(_._3).sum
    assert(allocTot <= budget.doubleValue * tokTot * (1 + 1e-6 * rows.size),
      s"allocated $allocTot over budget ${budget.doubleValue * tokTot}")
    // floor() per group undershoots by < 1 token per group
    assert(allocTot > budget.doubleValue * tokTot - 1 - rows.size,
      s"allocation lost more than rounding: $allocTot")
    val budgetTokens = math.floor(budget.doubleValue * tokTot).toLong
    rows.foreach { case (lang, (_, wq, alloc)) =>
      assert(alloc == budgetTokens * wq / 1000000L,
        s"$lang allocation does not follow its learned weight")
    }

    // the whole chain is a pure function of the corpus
    val again = CorpusOps.mixturePlanWeightedMicro(fluent.repartition(7),
      w.select(col("lang"), col("weight_q")), budget)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(rows.map { case (l, v) => (l, v._3) }.toSet == again,
      "partitioning moved the allocation")
  }

  test("curation pipeline v6: entropy band gate -> CDC ownership dedup -> temperature mix composes deterministically") {
    val docs = Catalog(spark, sf).table("documents")
    val n0 = docs.count()

    // 1. entropy band (x112): reject BOTH tails — sub-p05 (templated/
    //    repetitive) and the ceiling (norm_entropy = 1 exactly: every
    //    type equally likely, shuffled-vocabulary noise has no
    //    structure to keep)
    val ent = CorpusOps.entropySignal(docs)
    val lo = ent.agg(percentile(col("entropy_q"), lit(0.05))).head.getDouble(0)
    val banded = docs.join(
      ent.filter(col("entropy_q") >= lo && col("norm_entropy_q") < 10000L)
        .select("doc_id"), Seq("doc_id"))
    val n1 = banded.count()
    assert(n1 > 0 && n1 < n0, s"entropy band must discriminate: $n1 of $n0")

    // 2. CDC ownership dedup (x114's grain as a doc rule): a doc
    //    survives iff it OWNS at least half its chunks (keep-min
    //    within the gated pool) — exact duplicates own none of theirs
    //    (the lower-id copy owns them all), so the planted dups drop
    val chunks = graft.ops.TextDedup.cdcChunkFps(
      banded.select(col("doc_id"),
        graft.functions.TextFunctions.words(col("text")).as("ws")), 8)
    val keepMin = chunks.groupBy(col("chunk_fp"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      .select(col("chunk_fp"), col("k.doc_id").as("keep_doc"))
    val owned = chunks.join(keepMin, Seq("chunk_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_owned"))
      .filter(col("n_owned") * 2 >= col("n_chunks"))
    val deduped = banded.join(owned.select("doc_id"), Seq("doc_id"))
    val n2 = deduped.count()
    assert(n2 > 0 && n2 < n1,
      s"CDC ownership must drop the planted dups: $n2 of $n1")

    // 3. temperature mix (x54) over the curated pool — and the whole
    //    chain is a pure function of its inputs: a second run is
    //    row-identical
    def mix() = CorpusOps.temperatureSample(deduped, alpha = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val first = mix()
    assert(first.nonEmpty && first.size < n2,
      s"mix must sample a strict subset: ${first.size} of $n2")
    assert(mix() == first, "pipeline must be deterministic end to end")
  }

  test("curateV6 one-call op: reasons partition the corpus; kept set equals the gates run independently") {
    val docs = Catalog(spark, sf).table("documents")
    val n0 = docs.count()
    val out = CorpusOps.curateV6(docs)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // total function: every doc decided exactly once, kept <=> 'kept'
    assert(rows.length == n0 && rows.map(_._1).distinct.length == n0)
    assert(rows.forall { case (_, _, rs, k) => (rs == "kept") == (k == 1L) })
    val byReason = rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byReason.getOrElse("kept", 0) > 0, byReason.toString)
    assert(byReason.size >= 3, s"fixture must exercise several gates: $byReason")

    // independent replay of the op's advertised contracts, stage by
    // stage through the PUBLIC component ops
    val ent = docs
      .select(col("doc_id"), explode(TF.words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("nw"),
        sum(col("c") * round(log(col("c").cast("double")) * 1000000d)
          .cast("long")).cast("long").as("clc_q"),
        (max(col("c")) === min(col("c"))).as("uni"))
      .select(col("doc_id"), col("uni"),
        round((round(log(col("nw").cast("double")) * 1000000d)
          .cast("long") * col("nw") - col("clc_q")).cast("double") /
          (col("nw").cast("double") * lit(69.31471805599453)))
          .cast("long").as("ent_q"))
    val cutV = ent.agg(percentile(col("ent_q"), lit(0.05))).head.getDouble(0)
    val pool = ent.filter(col("ent_q") >= cutV && !col("uni"))
      .select("doc_id")
    val chunks = TextDedup.cdcChunkFps(
      docs.select(col("doc_id"), TF.words(col("text")).as("ws"))
        .join(pool, Seq("doc_id")), 8)
    val owned = chunks
      .join(chunks.groupBy("chunk_fp").agg(min(col("doc_id")).as("kd")),
        Seq("chunk_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nc"),
        sum(when(col("kd") === col("doc_id"), 1L).otherwise(0L)).as("no"))
      .filter(col("no") * 2 >= col("nc")).select("doc_id")
    val keptInd = CorpusOps.temperatureSample(
        docs.join(owned, Seq("doc_id")), alpha = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptOp = rows.filter(_._4 == 1L).map(_._1).toSet
    assert(keptOp == keptInd,
      s"op kept ${keptOp.size} != gates kept ${keptInd.size}; " +
        s"diff=${(keptOp -- keptInd) ++ (keptInd -- keptOp)}")
  }

  test("serving follows the log: MVCC deletes drive index tombstones, search equals the new snapshot") {
    // The maintenance loop a served corpus runs: the MVCC log is the
    // source of truth (upserts @txn1, deletes @txn2 — the x82 flow);
    // the serving index is built ONCE from the txn1 snapshot and then
    // FOLLOWS the log: the txn2 tombstones feed
    // deleteFromScoredPostings, and the served BM25 ranking must equal
    // an index rebuilt from the txn2 snapshot — the log and the index
    // can never disagree about which documents exist.
    import graft.mvcc.LogTable
    val docs = Catalog(spark, sf).table("documents")
      .select(col("doc_id").as("rid"), col("text"))
    val gone = docs.filter(col("rid") % 9 === 0).select(col("rid"))
    val log = LogTable.upserts(docs, 1L, col("rid"))
      .unionByName(LogTable.deletes(
        docs.join(gone, Seq("rid")), 2L, col("rid")),
        allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(spark, 1L),
        allowMissingColumns = true)
      .unionByName(LogTable.commitMarker(spark, 2L),
        allowMissingColumns = true)
      .localCheckpoint(true)
    val terms = Seq("spark", "join", "window")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // index built from the txn1 snapshot, then maintained by the
    // txn2 tombstones (rid -> doc_id at the index boundary)
    val dirA = java.nio.file.Files
      .createTempDirectory("graft_logidx_a").toString
    val catA = Catalog(spark, dirA)
    CorpusOps.writeScoredPostings(catA, "spost",
      LogTable.snapshot(log, asOf = 1L)
        .select(col("rid").as("doc_id"), col("text")))
    CorpusOps.deleteFromScoredPostings(catA, "spost",
      gone.select(col("rid").as("doc_id")))
    // the oracle: an index built fresh from the txn2 snapshot
    val dirB = java.nio.file.Files
      .createTempDirectory("graft_logidx_b").toString
    CorpusOps.writeScoredPostings(Catalog(spark, dirB), "spost",
      LogTable.snapshot(log, asOf = 2L)
        .select(col("rid").as("doc_id"), col("text")))
    val followed = rows(CorpusOps.searchScoredPostings(
      catA, "spost", terms, k = 25))
    val rebuilt = rows(CorpusOps.searchScoredPostings(
      Catalog(spark, dirB), "spost", terms, k = 25))
    assert(followed == rebuilt,
      "log-following index diverged from the new-snapshot rebuild")
    // and compaction of the followed index preserves the parity
    CorpusOps.compactScoredPostings(catA, "spost")
    assert(rows(CorpusOps.searchScoredPostings(
      catA, "spost", terms, k = 25)) == rebuilt,
      "compaction broke log-following parity")
  }

  test("x123 scan-amplification audit: the card's word-grain consumers share one persisted explode") {
    val docs = Catalog(spark, sf).table("documents")
    // yardstick = ONE pass through the same rebalanced reader the card
    // uses (tableRebalanced's under-split guard adds a constant extra
    // file read, so the raw-table scan would undercount the unit)
    val single = bytesOf(
      Catalog(spark, sf).tableRebalanced("documents")
        .select(length(col("text")).as("n")).agg(sum(col("n"))).collect())
    // entropy + hh set + hh mass ride the persisted explode; repetition
    // is the one other full-text pass (itself one-pass since its toks
    // persist) — the card must stay ≤ ~2 passes; without the shared
    // caches it reads the corpus 4×
    val card = bytesOf(
      graft.ExtensionQueries.all("x123_corpus_card_v2")(spark, sf).collect())
    assert(single > 0, "yardstick scan measured zero file bytes")
    assert(card < single * 5 / 2,
      s"corpus card read ${card}B from disk vs one rebalanced corpus " +
        s"scan ${single}B — the shared word explode is not shared")
  }

  test("lmScores scan-amplification audit: composed unigram+bigram scoring reads the corpus once") {
    val docs = Catalog(spark, sf).table("documents")
    // one full-text corpus scan as the yardstick (text dominates bytes)
    val single = bytesOf(
      docs.select(length(col("text")).as("n")).agg(sum(col("n"))).collect())
    // the composed pipeline: tokenize once into the shared lazy cache,
    // fan out to unigram tf + bigram tf + vocab — file reads stay ~1×
    val composed = bytesOf(CorpusOps.lmScores(docs).collect())
    assert(single > 0, "yardstick scan measured zero file bytes")
    assert(composed < single * 3 / 2,
      s"composed lmScores read ${composed}B from disk vs one corpus " +
        s"scan ${single}B — the shared tokenize cache is not shared " +
        "(a second corpus pass is back)")
  }

  test("knBigramScoreFromWords scan-amplification audit: KN scoring reads the corpus once") {
    val docs = Catalog(spark, sf).table("documents")
    val single = bytesOf(
      docs.select(length(col("text")).as("n")).agg(sum(col("n"))).collect())
    // KN derives cb/cl/continuation/nb ALL from the persisted bigram tf
    // grain — four derived tables, still one corpus read
    val kn = bytesOf(CorpusOps
      .knBigramScoreFromWords(CorpusOps.tokenized(docs)).collect())
    assert(single > 0, "yardstick scan measured zero file bytes")
    assert(kn < single * 3 / 2,
      s"KN scoring read ${kn}B from disk vs one corpus scan ${single}B " +
        "— a KN statistics table is rescanning the corpus")
  }

  test("encodeDocs scan-amplification audit: BPE encode reads the corpus once") {
    // encodeDocs has THREE consumers of the (doc, pos, word) grain —
    // the alphabet collect, the distinct-word encode branch, and the
    // final join-back — which without the shared persisted view would
    // each re-scan the corpus (column pruning specializes the scans,
    // defeating exchange reuse).
    val docs = Catalog(spark, sf).table("documents")
    val merges = graft.ops.BpeOps.train(docs, numMerges = 4)
    val single = bytesOf(
      docs.select(length(col("text")).as("n")).agg(sum(col("n"))).collect())
    val encoded = bytesOf(
      graft.ops.BpeOps.encodeDocs(docs, merges).collect())
    assert(single > 0, "yardstick scan measured zero file bytes")
    assert(encoded < single * 3 / 2,
      s"encodeDocs read ${encoded}B from disk vs one corpus scan " +
        s"${single}B — the shared word-grain cache is not shared")
  }

  test("x63/x91 scan-amplification audit: the persisted shared grain reads the corpus once") {
    // both queries fan one tokenized frame out to multiple consumers —
    // x63: hot-key rank (eager collect) + build side + probe side of
    // the split join; x91: plan aggregate + doc-grain window — and
    // both persist it. Without the cache, column pruning specializes
    // each consumer's scan and the corpus tokenizes once per consumer
    // (x63 read 3x before the round-12 fix).
    val docs = Catalog(spark, sf).table("documents")
    val single = bytesOf(
      docs.select(length(col("text")).as("n")).agg(sum(col("n"))).collect())
    assert(single > 0, "yardstick scan measured zero file bytes")
    // query construction included: x63's hotKeys collect scans during
    // construction and must populate the cache the plan then reads.
    // Threshold 2.5×, not 1.5×: at fixture size the parquet footer
    // pass costs as much as the data pass (the file is a few KB), and
    // docsR's partition probe adds one more metadata read — ~2× is the
    // honest single-scan floor here, while the pre-fix x63 (three
    // tokenize passes) measures ≥3× and any re-introduced double scan
    // lands above the bar.
    for (q <- Seq("x63_skew_join", "x91_mixture_materialize")) {
      val b = bytesOf(
        SparkEntry.queries(q)(spark, sf).queryExecution.toRdd.count())
      assert(b < single * 5 / 2,
        s"$q read ${b}B from disk vs one corpus scan ${single}B — " +
          "the shared tokenize persist is not being reused")
    }
  }
}
