package graft

/** Physical-plan regressions: the scale properties that make these
  * queries survive 100× data are asserted here so a refactor can't
  * silently lose them (pushdown reaching the scan, broadcast vs shuffle
  * choice, TakeOrdered for top-k, single window exchange for as-of).
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("sweep: executed-plan scan amplification bounded for EVERY query (no silently unshared grains)") {
    // The verify skill's global plan-quality audit, pinned: execute each
    // query (so lazy persists materialize and AQE finalizes — the
    // pre-execution plan over-counts cached subtrees 5-10x) and count
    // parquet scans PER SOURCE TABLE in the final plan. Current honest
    // maximum is 5 (the deliberate exact-recall baselines x28/x121/x126/
    // x67, the 4-signal tier matrices x103/x128); a refactor that
    // un-shares a derived grain (tokenize/explode recomputed per
    // consumer branch) pushes a query past the bound and fails here
    // with the offending table named. Dims/set-ops/self-joins sit at
    // 2-3 by construction and stay far under the bound.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      qe.toRdd.count()
      val body = qe.executedPlan.toString.split("== Initial Plan ==")(0)
      val over = "file:[^\\],\\s]*".r.findAllIn(body).toSeq
        .map(_.split('/').takeRight(2).mkString("/").stripSuffix("]"))
        .groupBy(identity).map { case (k, v) => k -> v.size }
        .filter(_._2 > 5)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      if (over.isEmpty) Nil else Seq(name -> over)
    }
    assert(offenders.isEmpty,
      s"queries re-scanning one table > 5x in the EXECUTED plan " +
        s"(unshared grain — persist/localCheckpoint the shared frame " +
        s"or justify and raise the bound): $offenders")
  }

  test("q02: both predicates pushed into the parquet scan") {
    val p = plan("q02_filter")
    assert(p.contains("GreaterThan(l_quantity,25.0)"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
  }

  test("q01: scan reads only the projected columns") {
    val p = plan("q01_scan")
    assert(p.contains("l_extendedprice#") && p.contains("l_returnflag#"), p)
    assert(!p.contains("l_tax#") && !p.contains("l_shipdate#"), p)
  }

  test("q09: dimension join broadcasts (no shuffle)") {
    val p = plan("q09_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q08: fact-fact join hashes, not nested-loop") {
    val p = plan("q08_hash_join")
    assert(p.contains("HashJoin"), p)
  }

  test("q07: non-equi condition plans BroadcastNestedLoopJoin") {
    val p = plan("q07_loop_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q05: sorted limit plans TakeOrderedAndProject (no full sort materialization)") {
    val p = plan("q05_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q17: star join = broadcasts + exactly one pre-aggregation shuffle pair") {
    val p = plan("q17_nation_revenue")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3, p)
    // exchanges: 2 feeding the fact-fact ShuffledHashJoin + 1 for the final groupBy
    val exchanges = p.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"unexpected extra shuffles ($exchanges):\n$p")
  }

  test("bucketed tables join with zero shuffle (write-once co-location)") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val cat = graft.catalog.Catalog(spark, dir)
    try {
      cat.writeBucketed("li_b", cat2.table("lineitem"), buckets = 4,
        bucketCols = Seq("l_orderkey"), sortCols = Seq("l_orderkey"))
      cat.writeBucketed("ord_b", cat2.table("orders"), buckets = 4,
        bucketCols = Seq("o_orderkey"), sortCols = Seq("o_orderkey"))
      val joined = cat.bucketedTable("li_b")
        .join(cat.bucketedTable("ord_b").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      // assert on the plan that actually executed (same QueryExecution)
      assert(joined.collect().length > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
    } finally {
      cat.dropBucketed("li_b")
      cat.dropBucketed("ord_b")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("bucket registration survives sessions: restored from the on-disk sidecar, still zero-shuffle") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed-restore").toString
    val cat = graft.catalog.Catalog(spark, dir)
    try {
      cat.writeBucketed("li_b", cat2.table("lineitem"), buckets = 4,
        bucketCols = Seq("l_orderkey"), sortCols = Seq("l_orderkey"))
      cat.writeBucketed("ord_b", cat2.table("orders"), buckets = 4,
        bucketCols = Seq("o_orderkey"), sortCols = Seq("o_orderkey"))
      // simulate a LATER session: the in-memory registrations are gone,
      // only the data directory (with its _graft_buckets.json sidecar)
      // remains — exactly what a fresh SparkSession would see.
      cat.dropBucketed("li_b")
      cat.dropBucketed("ord_b")
      assert(!spark.catalog.tableExists(cat.bucketedName("li_b")))
      assert(cat.bucketedExists("li_b"), "sidecar must make the layout discoverable")
      val joined = cat.bucketedTable("li_b")
        .join(cat.bucketedTable("ord_b").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      assert(joined.collect().length > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"restored bucketed join must not shuffle:\n$p")
    } finally {
      cat.dropBucketed("li_b")
      cat.dropBucketed("ord_b")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("runtime bloom-filter semi-join reduction: the dim filter prunes fact rows before the shuffle") {
    import org.apache.spark.sql.functions._
    // At 100 TB the defaults fire on their own (application side ≥ 10 GB
    // scan, creation side ≤ 10 MB after its filter); the fixture is far
    // below both, so lower the thresholds to demonstrate the same plan.
    // Broadcast is disabled to force the fact-fact shuffle-join shape —
    // exactly the case where pre-shuffle row pruning pays.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = cat2.table("lineitem")
      val ord = cat2.table("orders").filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
      assert(j.collect().nonEmpty)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"fact side must carry the runtime bloom filter:\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("dynamic partition pruning: partitioned fact scan pruned by the dim filter at runtime") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val cat = graft.catalog.Catalog(spark, dir)
    try {
      cat.writePartitioned("li_p", cat2.table("lineitem"), "l_returnflag")
      // scan-backed dim with a selective filter; the fact side must not
      // scan all partitions — DPP turns the dim filter into a runtime
      // partition filter on the fact scan (at 100 TB: a slice, not the
      // table). LocalRelation dims don't qualify — DPP wants a real scan.
      spark.createDataFrame(Seq(("A", "keep"), ("N", "drop"), ("R", "drop")))
        .toDF("flag", "tag").write.mode("overwrite").parquet(cat.path("flags"))
      val dim = cat.table("flags").filter(col("tag") === "keep")
      val j = cat.table("li_p")
        .join(dim.hint("broadcast"), col("l_returnflag") === col("flag"))
        .groupBy(col("flag")).agg(sum(col("l_quantity")).as("q"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
        s"fact scan must carry a dynamic pruning filter:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("x23: banded simhash pair-gen is equi-join only — no cartesian, no nested loop") {
    val p = plan("x23_simhash_banded")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("x43: banded char-gram LSH pair-gen is equi-join only — no cartesian, no nested loop") {
    val p = plan("x43_chargram_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("x22: bucketed embed-dedup joins equi on the cell key; only the tiny centroid side is nested-loop") {
    val p = plan("x22_embed_dedup_bucketed")
    assert(!p.contains("CartesianProduct"), p)
    // the only BroadcastNestedLoopJoins are the 16-row broadcast centroid
    // assignment (O(16n) map work), re-derived once per self-join side;
    // the candidate self-join itself must be equi on the cell key.
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 2, s"unexpected nested-loop joins ($bnl):\n$p")
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("HashJoin")) && l.contains("cell#")), p)
  }

  test("x73: weighted sample plans WindowGroupLimit (partial+final) — map tasks forward k rows per group, not the corpus") {
    val p = plan("x73_weighted_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial") && p.contains("Final"), p)
  }

  test("x72: NB classifier joins are equi (word key, doc key) — no cartesian beyond the scalar/label broadcasts") {
    val p = plan("x72_nb_classifier")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("HashJoin")) && l.contains("w#")), p)
  }

  test("x71: SemDeDup candidate join is equi on the cell key; only the centroid assignment is nested-loop") {
    val p = plan("x71_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    // same budget as x22: the 16-row broadcast centroid assignment per
    // self-join side; the within-cell pair join must be equi on cell#
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 2, s"unexpected nested-loop joins ($bnl):\n$p")
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("HashJoin")) && l.contains("cell#")), p)
  }

  private def cat2 = graft.catalog.Catalog(spark, sf)

  test("x22: self-join reuses the assignment exchange (map work computed once)") {
    val df = SparkEntry.queries("x22_embed_dedup_bucketed")(spark, sf)
    df.collect() // AQE finalizes during execution; inspect the same QueryExecution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"aliased self-join must reuse the centroid-assignment exchange:\n$p")
  }

  test("x13: per-key top-k plans WindowGroupLimit (partial+final), never full per-group sort-all") {
    val p = plan("x13_ann_lsh")
    // rank()<=k filters must become group-limits BEFORE the shuffle
    // (partial) and after (final) — at scale this is the difference
    // between carrying k rows per key and carrying every candidate.
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial") && p.contains("Final"), p)
  }

  test("x94: hybrid fusion — every ranking stage plans WindowGroupLimit, fusion join equi on (q_id, doc_id)") {
    // three rank()<=k windows (text top-20, vector top-20, fused
    // top-10) must ALL become group-limits so map tasks forward ≤ k
    // rows per query — the corpus never rides a per-query exchange
    val p = plan("x94_hybrid_rrf")
    val wgl = p.linesIterator.count(_.contains("WindowGroupLimit"))
    // partial+final per window ⇒ ≥ 2 nodes each; at least the three
    // finals plus partials on the corpus-sized text/vector sides
    assert(wgl >= 5, s"expected ≥5 WindowGroupLimit nodes, got $wgl:\n$p")
    val fuse = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")).toSeq
    assert(fuse.exists(l => l.contains("FullOuter") || l.contains("full")),
      s"fusion must be an equi full-outer join:\n$p")
  }

  test("x48: trained-centroid search join is equi (hash) with WindowGroupLimit top-k") {
    // training swaps the centroid VALUES, never the plan: the search must
    // keep x18's shape — equi join on the cell id, rank pruned to k rows
    // per query before the exchange
    val p = plan("x48_ann_trained")
    assert(p.contains("WindowGroupLimit"), p)
    val searchJoins = p.linesIterator.filter(l =>
      l.contains("HashJoin") && l.contains("cell")).toSeq
    assert(searchJoins.nonEmpty, s"no equi cell join found:\n$p")
  }

  test("x67: IVF-path kNN vote — candidate join equi on cell, top-k WindowGroupLimit-pruned, no cartesian beyond the centroid broadcast") {
    // x66's vote with the brute-force cross join swapped for the IVF
    // probe: the ONLY non-equi join allowed is the 16-row centroid
    // assignment (the same one x18/x48 carry); candidates and labels
    // must join equi, and the per-query top-10 must prune to k rows
    // per query before the exchange.
    val p = plan("x67_knn_label_ivf")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
    val cellJoins = p.linesIterator.filter(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) &&
        l.contains("cell")).toSeq
    assert(cellJoins.nonEmpty, s"no equi cell join found:\n$p")
    // every BNLJ line is the centroid assignment (≤16-row build side),
    // never the candidate set
    val bnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty, "centroid assignment should broadcast")
  }

  test("x50: the persisted signature index never re-shuffles — exchanges only above joins or on the batch side") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // AQE off for a plain traversable tree (the property is about
    // EnsureRequirements' static placement, which AQE only refines)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("x50_index_dedup")(spark, sf)
      assert(df.collect().nonEmpty)
      val root = df.queryExecution.executedPlan
      def isIndexScan(p: SparkPlan): Boolean = p match {
        case s: FileSourceScanExec => s.metadata.get("Location")
          .exists(l => l.contains("hist_bands") || l.contains("hist_sets"))
        case _ => false
      }
      assert(root.collect { case s if isIndexScan(s) => s }.size == 2,
        "both index tables must be scanned")
      // an index scan reached through an Exchange WITHOUT an intervening
      // join means the stored layout was re-shuffled before use — the
      // exact cost writeBucketed paid once to avoid
      def indexScanBelowNoJoin(p: SparkPlan): Boolean = p match {
        case s if isIndexScan(s) => true
        case _: BaseJoinExec => false
        case other => other.children.exists(indexScanBelowNoJoin)
      }
      val offending = root.collect {
        case e: ShuffleExchangeExec if e.children.exists(indexScanBelowNoJoin) => e
      }
      assert(offending.isEmpty,
        s"index side re-shuffled before its join:\n${offending.mkString("\n")}")
      // non-vacuous: the batch side and the decision groupBy do shuffle
      assert(root.collect { case e: ShuffleExchangeExec => e }.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("x49: the 3-dim box reaches the z3 parquet scan as pushed filters on ALL dims") {
    // the µs-bounds-times-1000 trick must keep the raw ts column (and the
    // other two dims) in PushedFilters — a cast on any column would turn
    // the layout's row-group skipping off. Read the scan node's metadata
    // directly: the rendered plan string truncates the filter list.
    val exec = SparkEntry.queries("x49_zorder3_scan")(spark, sf)
      .queryExecution.executedPlan
    val pushed = exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("ev_z3")) =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString
    for (c <- Seq("user_id", "value", "ts")) {
      assert(pushed.contains(s"GreaterThanOrEqual($c,"),
        s"$c lower bound not pushed: $pushed")
      assert(pushed.contains(s"LessThan($c,"),
        s"$c upper bound not pushed: $pushed")
    }
  }

  test("sweep: no unintended cartesian/nested-loop join in ANY query plan") {
    // queries whose plans legitimately contain a cross/non-equi join:
    // declared brute-force baselines, broadcast-centroid assignment,
    // deliberately non-equi joins, and 1-row broadcast scalars.
    val intendedNonEqui = Set(
      "q07_loop_join",          // non-equi join surface itself
      "q31_range_join",         // irregular-interval range join (broadcast bands)
      "q32_scalar_sub",         // scalar subquery broadcast compare
      "x11_cosine_pairs",       // brute-force baseline (labeled)
      "x12_ann_topk",           // brute-force baseline (labeled)
      "x66_knn_label",          // brute-force labeled baseline (as x12)
      "x18_ann_ivf",            // 16-row broadcast centroid assignment
      "x19_embed_dedup",        // brute-force baseline (labeled)
      "x21_tfidf",              // 1-row corpus-size broadcast
      "x42_bm25",               // 1-row corpus-scalars (N, avgdl) broadcast
      "x94_hybrid_rrf",         // x42's 1-row corpus-scalar broadcast + the
                                // 3-row broadcast query-vector probe (x12's
                                // declared scoring shape); fusion join is
                                // equi on (q_id, doc_id)
      "x96_pca_project",        // the d-row trained component is a
                                // broadcast local relation; the projection
                                // join is equi on dim (x95 itself plans no
                                // non-equi join — its iteration is a
                                // driver constant-fold over the d²-bounded
                                // gram, the RowMatrix split)
      "x51_lm_score",           // 1-row corpus-scalars (N, vocab) broadcast
      "x59_bigram_lm",          // 1-row vocab scalar broadcast (as x51)
      "x61_lm_scores",          // composed x51+x59: same 1-row scalar broadcasts
      "x74_lm_apply",           // same 1-row (N, vocab) smoothing-constants
                                // broadcast as x51, over the trained counts
      "x22_embed_dedup_bucketed", // 16-row broadcast centroid assignment
      "x28_ann_recall",         // exact evaluation side is brute force
      "x30_kmeans_step",        // 16-row broadcast centroid assignment
      "x31_semantic_search",    // 16-row broadcast centroid assignment
      "x48_ann_trained",        // 16-row broadcast centroid assignment
                                // (trained centroids; search join is equi)
      "x71_semdedup",           // 16-row broadcast centroid assignment
                                // (trained centroids; pair join is equi)
      "x75_fused_dedup",        // 16-row broadcast centroid assignment
                                // (embedding edge gen; band/cell joins equi)
      "x81_embed_dedup_trained", // 64-row broadcast trained-centroid
                                // assignment; pair join is equi on cell
      "x67_knn_label_ivf",      // 16-row broadcast centroid assignment
                                // (candidate + label joins are equi)
      "x32_ingest_dedup",       // MVCC committed-set semi-join through the
                                // union, as x17
      "x82_dedup_applied",      // same MVCC committed-set semi-join (x17's
                                // machinery; decision + rollup joins equi)
      "x72_nb_classifier",      // labels-/1-row-scalar broadcasts (priors,
                                // vocab size); word+doc joins are equi
      "x76_curate_trained",     // same broadcasts via the x72 model; gate
                                // and quota stages are equi/window-only
      "x54_mix_sample",         // 1-row n_min broadcast scalar
      "x69_token_mix",          // same 1-row scalar (weighted n_min)
      "x64_curate",             // same 1-row n_min scalar via temperatureSample
      "x83_dsir_weights",       // two 1-row smoothing-constant pairs (N, V
                                // per model) ride broadcast crossJoins, as
                                // x51/x74; both model joins are equi on word
      "x84_dsir_select",        // x83's weight table + TakeOrderedAndProject
                                // (inherits the scalar broadcasts)
      "x89_dsir_resample",      // x83's weight table + Gumbel key + top-k
                                // (inherits the scalar broadcasts)
      "x85_mixture_plan",       // 1-row (s_tot, tok_tot) broadcast over the
                                // groups-sized frame, as x42's corpus scalars
      "x91_mixture_materialize", // x85's allocation arithmetic (same 1-row
                                // broadcast); doc-grain joins are equi on
                                // (group, blk) / group
      "x86_nb_calibration",     // x72's model broadcasts (labels-sized
                                // priors + 1-row vocab scalar); the word,
                                // doc, and lang joins are all equi
      "x98_doremi",             // x74's 1-row (N, vocab) smoothing scalars
                                // plus the domains-grain (loss_min, n_dom)
                                // and w_tot 1-row broadcasts; the model
                                // join is equi on word
      "x99_prototypical",       // 16-row broadcast trained-centroid
                                // assignment (x48's shape); the rank is a
                                // per-cell window, no join after
      "x100_margin_mine",       // 16-row broadcast trained-centroid
                                // assignment; the candidate join is equi
                                // on cell, margins are keyed windows
      "x101_fused_trained",     // 64-row broadcast trained-centroid
                                // assignment (x81's regime) feeding x75's
                                // fusion; band/cell/closure joins all equi
      "x102_sem_decontaminate", // suite-sized benchmark broadcast with
                                // map-side exact cosines — x37's scale
                                // shape, deliberately index-free
      "x103_doremi_mixture",    // x98's scalar broadcasts + the plan
                                // side's 1-row tok_tot; the weight and
                                // group joins are equi on lang
      "x104_kn_bigram",         // 1-row bigram-type-total scalar
                                // broadcast (x59's vocab-scalar class);
                                // all count joins are word-key equi
      "x130_curate_v6",         // 1-row entropy-percentile cut broadcast
                                // (x106's scalar recipe); the CDC
                                // ownership and mix-rate joins are equi
                                // on chunk_fp / doc_id / lang
      "x106_curriculum",        // 1-row quartile-cuts broadcast (the
                                // deliberate alternative to a
                                // corpus-wide ntile sort); projection
                                // join is equi on dim
      "x107_source_drift",      // 1-row corpus-scalars (N, vocab)
                                // broadcast (x51's class); word and
                                // source joins are equi
      "x109_kn_apply",          // 1-row (nb, vc) type-total broadcast
                                // (x104's class); model joins are
                                // bigram/word-key equi
      "x111_ppl_buckets",       // inherits x109's type-total broadcast;
                                // the cut table itself joins equi on
                                // lang
      "x113_heavy_hitters",     // 1-row total-count scalar broadcast for
                                // the integer threshold (x85's class);
                                // the candidate recount join is equi on
                                // the value
      "x123_corpus_card_v2",    // inherits x113's 1-row total broadcast
                                // (the hh constituent); every card join
                                // is equi on doc_id/lang/word
      "x118_ivfpq_ann",         // 16-row broadcast coarse-centroid
                                // assignment (x48's shape, twice: db +
                                // query probes); candidate/code/LUT
                                // joins are all equi
      "x120_pq_residual",       // 16-row broadcast coarse assignment
                                // (x48's shape) feeding the residuals;
                                // PQ assignment joins are equi on sub
      "x122_ivfpq_residual_ann", // the same coarse broadcasts (db +
                                // query probes + residual LUT);
                                // code/LUT joins equi on (cell,sub,code)
      "x121_pq_recall",         // the exact-top-k baseline is the x28
                                // deliberate 10-query × corpus cross
                                // join; ADC side is all equi
      "x124_sq_ann",            // the deliberate 10-query broadcast ×
                                // corpus int8 scan (x12's brute-force
                                // class at the SQ tier)
      "x126_matryoshka_recall", // two deliberate 10-query × corpus
                                // exact rankings (x28's audit class);
                                // the hits join is equi
      "x140_contrastive_pairs", // the deliberate bounded-anchor-sample
                                // broadcast × corpus exact-cosine scan
                                // (x12's allowlisted class; the IVF/PQ
                                // probe is the documented scale swap);
                                // positives ride x07's equi band joins
      "x138_indexed_bm25",      // 1-row summed index-stats scalar
                                // broadcast (x85's class); the posting
                                // probe and df joins are equi on word
      "x139_indexed_hybrid",    // inherits x138's 1-row stats scalar;
                                // posting/LUT/code/fusion joins are all
                                // equi ((word), (sub, code),
                                // (q_id, doc_id))
      "x144_bm25_after_delete", // x138's 1-row stats scalar broadcast;
                                // the tombstone anti-join is equi on
                                // doc_id, posting probes equi on word
      "x148_bm25_delete_readd", // same shape as x144: 1-row stats
                                // scalar broadcast; gen-grave filter is
                                // equi on doc_id, probes equi on word
      "x146_phrase_ranked",     // inherits x138's 1-row stats scalar;
                                // the proximity gate and fusion joins
                                // are equi on doc_id
      "x17_mvcc_snapshot")      // committed-set semi-join pushed through the
                                // union: per-branch txn is a literal, so each
                                // branch degenerates to a conditionless check
                                // against the ≤4-row broadcast marker set
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(intendedNonEqui)
      .filter { name =>
        val p = plan(name)
        p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      }
    assert(offenders.isEmpty, s"unintended cartesian/BNLJ in: $offenders")
  }

  test("x144: bucket pruning survives the tombstone filter; deletes ride broadcast joins") {
    // the load-bearing property of the index delete design: recording
    // deletes in a sidecar must not cost the probe its layout — the
    // IN-list still prunes buckets below the tombstone join, and the
    // (deletes-sized) grave side broadcasts. Since r16 the scored tier
    // uses GENERATION graves (grave kills only gens <= its own), so the
    // filter is a broadcast LEFT OUTER hash join on doc_id plus the gen
    // predicate instead of a key anti-join — same broadcast, same
    // preserved partitioning.
    val p = plan("x144_bm25_after_delete")
    assert(p.contains("SelectedBucketsCount: 3 out of 16"),
      s"posting probe lost bucket pruning under the tombstone join:\n$p")
    assert(p.contains("In(word, [join,spark,window])"),
      s"IN-list not pushed into the bucketed scan:\n$p")
    assert("""BroadcastHashJoin \[doc_id#\d+L?\], \[doc_id#\d+L?\], LeftOuter, BuildRight"""
      .r.findFirstIn(p).isDefined,
      s"tombstone filter is not a broadcast LEFT OUTER hash join:\n$p")
    assert(p.contains("__grave_gen"),
      s"generation predicate missing from the tombstone filter:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x143/x146: per-term positional probes each prune to their word's bucket") {
    for (q <- Seq("x143_proximity_search", "x146_phrase_ranked")) {
      val p = plan(q)
      // three single-term probes -> three 1-of-16 pruned scans
      assert(p.linesIterator
        .count(_.contains("SelectedBucketsCount: 1 out of 16")) >= 3,
        s"$q: positional probes not bucket-pruned:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("x84/x89: DSIR selection plans TakeOrderedAndProject — per-partition top-k, no global sort of the weight table") {
    // the selector must forward ≤64 rows per partition and merge on the
    // driver; a global Sort/Exchange of the doc-grain weight table is
    // the way this plan degrades at corpus scale
    for (q <- Seq("x84_dsir_select", "x89_dsir_resample")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
      // a range-partitioning exchange is how a global sort of the
      // doc-grain table would appear (SMJ's partition-local sorts are
      // not the degradation this guards against)
      assert(!p.contains("rangepartitioning"),
        s"$q must not globally sort the weight table:\n$p")
    }
  }

  test("x87: benchmark shingle set broadcast — the training corpus is never shuffled for the contamination join") {
    // x37's discipline on the fraction report: the suite-sized
    // benchmark set rides a broadcast; a sort-merge/shuffled-hash join
    // here would shuffle the corpus-sized shingle grain for a
    // suite-sized lookup
    val p = plan("x87_contamination_frac")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("x102: benchmark embeddings broadcast — the corpus is never shuffled for the semantic contamination join") {
    // x37's discipline in the embedding space: the suite-sized side
    // rides a BroadcastNestedLoopJoin (deliberately index-free); the
    // only keyed exchange is the flagged-id rollup AFTER the filter
    val p = plan("x102_sem_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("x90: rule gate is map-only — no keyed shuffle, no join, one scan") {
    // the rule tier must sit at the scan-bound floor: per-row array
    // arithmetic only. The single round-robin rebalance (docsR's
    // under-split guard for regex/array-heavy map work) is allowed;
    // a hash or range exchange — or any join — means a quality filter
    // acquired a corpus-keyed shuffle it cannot justify.
    val p = plan("x90_gopher_rules")
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"map-only plan must not shuffle on a key:\n$p")
    assert(!p.contains("Join"), s"map-only plan must not join:\n$p")
    assert("Scan parquet".r.findAllIn(
      p.split("== Initial Plan ==").head).length == 1,
      s"exactly one corpus scan expected:\n$p")
  }

  test("x91: materialized mixture — doc-grain window is (group, block)-keyed, offsets and plan broadcast back") {
    // the per-group running sum must be the two-level form: the
    // doc-grain window partitions by (lang, blk) — no task ever sees a
    // whole group — and the blocks-sized offset table + groups-sized
    // plan ride broadcasts. A doc-grain window keyed by lang ALONE
    // would serialize each language through one task at corpus scale.
    val p = plan("x91_mixture_materialize")
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, p)
    // every window: either the doc-grain (lang, blk) one or the
    // blocks-table (lang ordered by blk) one — both carry blk#
    assert(winLines.forall(_.contains("blk#")),
      s"un-blocked window found:\n${winLines.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("x69: token-budget mixture — rates broadcast back, the corpus is never shuffled for the join") {
    // x54's shape with a weighted agg: the languages-sized rate table
    // must ride a broadcast; a sort-merge/shuffled-hash join here means
    // the whole corpus shuffles for a hundred-row lookup
    val p = plan("x69_token_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("x70: corpus card — dup window partitioned by content hash, rollup via Expand, no join") {
    // the one corpus shuffle is the content-hash window (hash IS the
    // partition key — never corpus-wide); the rollup is grouping-sets
    // (Expand + hash agg). A join or an unpartitioned window would be
    // the two ways this plan degrades.
    val p = plan("x70_corpus_card")
    assert(p.contains("Expand"), s"rollup should plan Expand:\n$p")
    assert(!p.contains("Join"), s"dup flag must not join back:\n$p")
    // the window is keyed (no corpus-wide single-partition window)
    val winLines = p.linesIterator
      .filter(l => l.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("h#")),
      s"dup window must partition by the content hash:\n$p")
  }

  test("x37: benchmark side is broadcast — the corpus is scanned once, never shuffled for the join") {
    val p = plan("x37_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("x53: bloom prefilter runs map-side off a subquery scalar; confirm join stays equi") {
    val p = plan("x53_bloom_decontaminate")
    // the sketch rides a scalar subquery (one broadcast value), so the
    // corpus-side filter is inside the scan stage, before any join
    assert(p.contains("might_contain"), p)
    assert(p.contains("Subquery") || p.contains("subquery"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x54: rates ride broadcasts — the corpus is never shuffled for sampling") {
    val p = plan("x54_mix_sample")
    // lang->rate join must broadcast (languages-sized dim)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // hash exchanges only feed the languages-sized count aggregate (it
    // has two consumers — rates and the n_min reduction — so it may
    // plan twice unless reuse fires); the corpus itself never shuffles
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"corpus must not shuffle ($exchanges):\n$p")
  }

  test("x55: the term IN-list is pushed into the postings scan; the corpus is never read") {
    // (string-form check: AQE wraps the plan, hiding scan nodes from
    // collect(); the rendered tree still shows scan metadata)
    val p = plan("x55_inverted_search")
    assert(p.contains("PushedFilters: [In(word,"), p)
    // only the inverted index is scanned (the documents table feeds the
    // one-time layout BUILD, not the query plan). Read the scan nodes'
    // root paths: the rendered plan truncates long `Location:` strings.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val h = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def roots(plan: SparkPlan): Seq[String] =
      h.collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
        case m: InMemoryTableScanExec => roots(m.relation.cachedPlan)
      }.flatten
    val scanned = roots(SparkEntry.queries("x55_inverted_search")(spark, sf)
      .queryExecution.executedPlan)
    assert(scanned.exists(_.contains("postings.parquet")), scanned)
    assert(!scanned.exists(_.contains("documents.parquet")), scanned)
  }

  test("x56: per-group k-sample plans WindowGroupLimit (map-side top-k pruning)") {
    val p = plan("x56_group_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("windowspecdefinition(lang#"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("x65: per-source quota plans WindowGroupLimit on a per-source window") {
    val p = plan("x65_source_quota")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("windowspecdefinition(source#"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("x57: tercile window is partitioned by language — never corpus-wide") {
    val p = plan("x57_quality_buckets")
    assert(p.contains("windowspecdefinition(lang#"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("x38: two-level prefix sum — no unpartitioned window over the full corpus") {
    val p = plan("x38_pack_sequences")
    // the in-block window is partitioned by blk; only the tiny per-block
    // totals frame (n/blockSize rows) may pass through a single partition
    val single = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 1, s"at most the totals table may single-partition:\n$p")
    assert(p.contains("windowspecdefinition(blk#"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x40: epoch-shuffle window is partitioned by shard (distributed, no global row_number)") {
    val p = plan("x40_shuffle_shard")
    assert(p.contains("windowspecdefinition(shard#"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition exchange allowed:\n$p")
  }

  test("persisted IVF index: in-cell search joins with zero cell-shuffle, results match the ad-hoc plan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    val cat = graft.catalog.Catalog(spark, dir)
    val e = cat2.table("embeddings")
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_e"))
    val cells = graft.ops.VectorOps.ivfCells(e, cent, nprobe = 1)
    try {
      graft.ops.VectorOps.writeIndex(cat, "emb_idx", cells, buckets = 4)
      val s = graft.ops.VectorOps.searchIndex(cat, "emb_idx", k = 3,
        queryPred = col("q_id") < 10)
      val fromIndex = s.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      // the cell-key join must be satisfied by the bucketed layout —
      // only the top-k window may exchange (on q_id)
      val p = s.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(cell"),
        s"bucketed index join must not shuffle on cell:\n$p")
      // identical results to the ad-hoc (unbucketed) assignment
      val adHoc = graft.ops.VectorOps.inCellTopK(cells, k = 3,
        queryPred = col("q_id") < 10).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(fromIndex == adHoc)
    } finally {
      cat.dropBucketed("emb_idx")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("persisted IVF index: appendToIndex folds new vectors in; compactBucketed shrinks files; both keep the plan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfappend").toString
    val cat = graft.catalog.Catalog(spark, dir)
    val e = cat2.table("embeddings")
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_e"))
    def results(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    try {
      // build from the even half, append the odd half: same centroid
      // frame ⇒ assignment is per-vector, so the union must equal the
      // all-at-once index
      graft.ops.VectorOps.writeIndex(cat, "emb_idx",
        graft.ops.VectorOps.ivfCells(
          e.filter(col("vec_id") % 2 === 0), cent, nprobe = 1), buckets = 4)
      graft.ops.VectorOps.appendToIndex(cat, "emb_idx",
        graft.ops.VectorOps.ivfCells(
          e.filter(col("vec_id") % 2 === 1), cent, nprobe = 1))
      val s = graft.ops.VectorOps.searchIndex(cat, "emb_idx", k = 3,
        queryPred = col("q_id") < 10)
      val expected = results(graft.ops.VectorOps.inCellTopK(
        graft.ops.VectorOps.ivfCells(e, cent, nprobe = 1), k = 3,
        queryPred = col("q_id") < 10))
      assert(results(s) == expected)
      assert(!s.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning(cell"),
        "append degraded the bucketed cell join")
      // compaction: fewer files, same rows, same plan — and since
      // compactBucketed drops the session registration, this search also
      // exercises the sidecar restore of the swapped-in directory
      val saved = cat.compactBucketed("emb_idx")
      assert(saved > 0, "append then compact must remove files")
      val s2 = graft.ops.VectorOps.searchIndex(cat, "emb_idx", k = 3,
        queryPred = col("q_id") < 10)
      assert(results(s2) == expected)
      assert(!s2.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning(cell"),
        "compaction degraded the bucketed cell join")
    } finally {
      cat.dropBucketed("emb_idx")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("persisted IVF index: deleteFromIndex hides vectors at probe time (≡ rebuild on survivors), compactIndex makes it physical, plan stays zero-shuffle") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfdel").toString
    val cat = graft.catalog.Catalog(spark, dir)
    val e = cat2.table("embeddings")
    val cent = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_e"))
    def results(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    try {
      graft.ops.VectorOps.writeIndex(cat, "emb_idx",
        graft.ops.VectorOps.ivfCells(e, cent, nprobe = 1), buckets = 4)
      graft.ops.VectorOps.deleteFromIndex(cat, "emb_idx",
        e.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
      // assignment is per-vector under the frozen centroids, so the
      // tombstoned probe must equal a REBUILD over the survivors
      val expected = results(graft.ops.VectorOps.inCellTopK(
        graft.ops.VectorOps.ivfCells(
          e.filter(col("vec_id") % 7 =!= 0), cent, nprobe = 1),
        k = 3, queryPred = col("q_id") < 10))
      val s = graft.ops.VectorOps.searchIndex(cat, "emb_idx", k = 3,
        queryPred = col("q_id") < 10)
      val got = results(s)
      assert(got == expected, "tombstoned probe diverged from rebuild")
      // deleted ids surface neither as queries nor as neighbors
      assert(got.forall { case (q, n, _, _) => q % 7 != 0 && n % 7 != 0 })
      // the deletes-sized generation filter must broadcast and must NOT
      // cost the bucketed layout its zero-shuffle cell join
      val p = s.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(cell"),
        s"tombstone filter degraded the bucketed cell join:\n$p")
      assert(p.contains("BroadcastHashJoin") && p.contains("__grave_gen"),
        s"tombstone filter should be a broadcast join with the gen " +
          s"predicate:\n$p")
      // purge-sized mode (broadcastMaxRows=0 drops the FORCED broadcast
      // hint — the driver-OOM guard for GDPR-scale sidecars): at this
      // deletes-sized scale AQE still picks a broadcast at RUNTIME, so
      // the bucketed cell join stays shuffle-free; a genuinely huge
      // sidecar is now free to shuffle instead of OOM-ing the driver.
      val su = graft.ops.VectorOps.inCellTopK(
        cat.minusTombstones("emb_idx", cat.bucketedTable("emb_idx"),
          broadcastMaxRows = 0L),
        k = 3, queryPred = col("q_id") < 10, dedupProbes = true)
      assert(results(su) == expected,
        "unhinted tombstone mode diverged from rebuild")
      // FINAL adaptive plan only (the initial plan legitimately plans a
      // shuffle before AQE's runtime broadcast conversion)
      val pu = su.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!pu.contains("Exchange hashpartitioning(cell"),
        s"unhinted tombstone filter degraded the bucketed cell join:\n$pu")
      // physical delete: sidecar dropped, same results, same plan shape
      graft.ops.VectorOps.compactIndex(cat, "emb_idx")
      assert(!cat.hasTombstones("emb_idx"), "compact left the sidecar")
      val s2 = graft.ops.VectorOps.searchIndex(cat, "emb_idx", k = 3,
        queryPred = col("q_id") < 10)
      assert(results(s2) == expected, "compacted index diverged")
      val p2 = s2.queryExecution.executedPlan.toString
      assert(!p2.contains("Exchange hashpartitioning(cell"),
        s"compaction degraded the bucketed cell join:\n$p2")
      assert(!p2.contains("__grave_gen"),
        "compacted probe still pays the tombstone filter")
    } finally {
      cat.dropBucketed("emb_idx")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the executed plan)") {
    import org.apache.spark.sql.functions._
    // plant skew: 150k of 160k left rows share one join key; thresholds
    // lowered so fixture-scale partitions qualify as skewed
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val left = spark.range(160000).select(
        when(col("id") < 150000, 7L).otherwise(col("id")).as("k"),
        col("id").as("payload"))
      val right = spark.range(200).select(col("id").as("k"), lit("dim").as("tag"))
      val j = left.join(right, "k").select(sum(col("payload")))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must mark and split the skewed partition:\n$p")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q26: as-of join is one window exchange, not a range join") {
    val p = plan("q26_asof_join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.contains("NestedLoop"), p)
    val exchanges = p.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"as-of join must shuffle exactly once:\n$p")
  }
}
