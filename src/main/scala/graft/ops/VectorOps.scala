package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** Parameterized embedding-space operations — the library API behind
  * the `x13`/`x18`/`x22`/`x30` demo queries: IVF assignment, bucketed
  * ANN, the dedup keep/drop decision, and the k-means training step.
  * Callers bring (id, vector) columns; `centroids` is any
  * (c_id, c_e)-shaped frame — trained centroids in production,
  * [[kmeansStep]] (iterated) to produce them.
  *
  * Scale shape shared by all: the centroid set is tiny and broadcast
  * (assignment scoring is map-side; the rank step's exchange carries at
  * most nprobe rows per vector — WindowGroupLimit prunes before the
  * shuffle); every join is equi on the cell/bucket key; per-key top-k
  * likewise plans WindowGroupLimit.
  */
object VectorOps {

  /** Centroid count for an n-vector corpus: k ≈ √n, clamped. This is
    * the executable form of the scale rule the fixed-k counter-examples
    * (x22's oracle-pinned k=16, ScaleCheck's quadratic-growth row)
    * document: IVF candidate volume is Σ cell² ≈ n²/k, so holding k
    * fixed while n grows is quadratic, while k ~ √n keeps both the
    * per-cell candidate work (n²/k = n^1.5) and the assignment cost
    * (n·k = n^1.5) balanced — the standard IVF sizing (Johnson et al.,
    * "Billion-scale similarity search with GPUs", IEEE Big Data 2019,
    * recommends 4√n..16√n probes-adjusted; √n is the balance point when
    * assignment is broadcast map-side as here). The floor keeps tiny
    * corpora from degenerating to one bucket; the cap keeps the
    * broadcast centroid table broadcast-sized (65536 × 128 floats
    * ≈ 34 MB — about the practical broadcast ceiling; beyond that,
    * shard the corpus and train per shard). */
  def suggestK(n: Long, floor: Int = 16, cap: Int = 65536): Int = {
    require(floor >= 1 && cap >= floor, s"need 1 <= floor <= cap, got $floor/$cap")
    math.max(floor, math.min(cap, math.round(math.sqrt(n.toDouble)).toInt))
  }

  /** [[kmeansTrain]] with k derived from the corpus by [[suggestK]] —
    * the auto-scaled entry point, so callers don't have to know the
    * k ~ √n rule. Costs one count job up front (training is an offline
    * job that already runs `iters` corpus passes; the count is noise). */
  def kmeansTrainAuto(e: DataFrame, iters: Int, tol: Double = 0.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    kmeansTrain(e, suggestK(e.count()), iters, tol, idCol, vecCol)

  /** Multi-probe IVF assignment: each vector mapped to its `nprobe`
    * nearest centroids. Output: (vec_id, embedding, cell). */
  def ivfCells(e: DataFrame, centroids: DataFrame, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("c_cos").desc, col("c_id").asc)
    e.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        VF.cosineFast(col("embedding"), col("c_e")).as("c_cos"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("c_id").as("cell"))
  }

  /** [[ivfCells]] keeping the assignment score: (vec_id, embedding,
    * cell, cq), where `cq` is the cosine to the assigned centroid
    * QUANTIZED to an exact integer (round(cos·10⁶) as long) — the form
    * downstream keep/drop rules can ORDER BY deterministically across
    * engines and partitionings (double comparisons at a rule boundary
    * would otherwise hash-flip; same discipline as [[kmeansStep]]'s
    * exact-integer re-centering). Same plan as [[ivfCells]]: broadcast
    * centroids, map-side scoring, one nprobe-row rank exchange. */
  def ivfCellsScored(e: DataFrame, centroids: DataFrame, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val byVec = Window.partitionBy("vec_id")
      .orderBy(col("c_cos").desc, col("c_id").asc)
    e.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        VF.cosineFast(col("embedding"), col("c_e")).as("c_cos"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("c_id").as("cell"),
        round(col("c_cos") * 1000000).cast("long").as("cq"))
  }

  /** SemDeDup keep/drop decision (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", arXiv
    * 2303.09540): within each trained k-means cluster, vectors whose
    * pairwise cosine clears `threshold` are semantic duplicates, and the
    * kept representative is the one FARTHEST from the cluster centroid
    * (lowest centroid-cosine — the paper's "keep low-similarity-to-
    * centroid" rule, which preserves cluster-edge diversity instead of
    * piling density at the center; id breaks exact ties). Input is an
    * [[ivfCellsScored]] assignment so "farther from the centroid" is the
    * integer `cq` order — deterministic across engines. Output:
    * (drop_id, keeper_id, n_dups), keeper = the MOST canonical
    * (min (cq, id)) qualifying partner.
    *
    * Contrast with [[ivfDedupDecision]]: same candidate shape (equi
    * self-join on the cell key over one aliased subtree), different
    * canonical rule — min-id there (cheap, arbitrary), centroid-distance
    * here (the semantic-diversity objective). 100 TB shape: identical to
    * ivfDedupDecision — broadcast centroids upstream, Σ cell² candidate
    * work under k ~ √n ([[suggestK]]), one groupBy on the dropped id. */
  def semDedupDecision(cells: DataFrame, threshold: Double,
      dedupProbes: Boolean = false): DataFrame = {
    val raw = cells.as("a").join(cells.as("b").hint("shuffle_hash"),
      col("a.cell") === col("b.cell") &&
        (col("a.cq") < col("b.cq") ||
          (col("a.cq") === col("b.cq") && col("a.vec_id") < col("b.vec_id"))))
      .select(col("a.vec_id").as("a_id"), col("a.cq").as("a_cq"),
        col("b.vec_id").as("b_id"),
        round(VF.cosineFast(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .filter(col("cos") >= threshold)
    val pairs = if (dedupProbes) raw.distinct() else raw
    pairs.groupBy(col("b_id").as("drop_id"))
      .agg(min(struct(col("a_cq"), col("a_id"))).as("k"),
        count(lit(1)).as("n_dups"))
      .select(col("drop_id"), col("k.a_id").as("keeper_id"), col("n_dups"))
  }

  /** Bucketed near-dup keep/drop decision: IVF candidates (shared-cell
    * pairs over ONE aliased subtree — assignment computed once) →
    * exact-cosine verify ≥ `threshold` → drop any vector with a
    * lower-id verified near-dup. Output: (drop_id, canonical_id,
    * n_dups). */
  def ivfDedupDecision(cells: DataFrame, threshold: Double): DataFrame =
    ivfPairs(cells, threshold)
      .groupBy(col("b_id").as("drop_id"))
      .agg(min(col("a_id")).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** The candidate-generation + verify half of [[ivfDedupDecision]] as
    * its own op: verified near-dup PAIRS (a_id < b_id, exact cosine ≥
    * `threshold`) from an [[ivfCells]] assignment — the edge set that
    * feeds graph-based canonicalization ([[GraphOps
    * .connectedComponents]]) or multi-signal fusion (union with the
    * text-LSH pair set). Output: (a_id, b_id, cos). */
  def ivfPairs(cells: DataFrame, threshold: Double): DataFrame =
    cells.as("a").join(cells.as("b").hint("shuffle_hash"),
      col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        round(VF.cosineFast(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct() // a pair can share several probed cells

  /** In-cell cosine top-k per query vector over an assignment (from
    * [[ivfCells]] or any bucketing). `queryPred` restricts which
    * vectors act as queries, written over the OUTPUT `q_id` column —
    * Catalyst pushes it below the join; with no predicate the aliased
    * single-subtree self-join gets ReusedExchange (bucketing computed
    * once). Set `dedupProbes = true` for MULTI-probe assignments
    * (nprobe ≥ 2): a pair sharing several probed cells would otherwise
    * appear once per shared cell and burn top-k rank slots on
    * duplicates (single-probe assignments can't produce duplicates —
    * skip the extra distinct shuffle there). Output:
    * (q_id, n_id, cos, rnk). */
  def inCellTopK(cells: DataFrame, k: Int,
      queryPred: org.apache.spark.sql.Column = lit(true),
      dedupProbes: Boolean = false): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    val pairs = cells.as("a").join(cells.as("b").hint("shuffle_hash"),
      col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        round(VF.cosineFast(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .filter(queryPred)
    (if (dedupProbes) pairs.distinct() else pairs)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** One Lloyd's iteration: per-cell per-dimension means over an
    * nprobe=1 assignment — feed the output back as the next round's
    * centroids. Output: (cell, dim, mean_x, n), long form. */
  def kmeansStep(cells: DataFrame): DataFrame =
    cells
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim").cast("long").as("dim"))
      .agg(round(avg(col("x").cast("double")), 6).as("mean_x"),
        count(lit(1)).as("n"))

  /** One Lloyd's iteration returning a CENTROID FRAME (c_id, c_e) ready
    * to feed straight back into [[ivfCells]] — the composable form of
    * [[kmeansStep]]'s long-form output.
    *
    * The per-dimension mean is computed over QUANTIZED values: each
    * element is rounded to 1/2^20 (≈1e-6, far below float precision of
    * any normalized embedding), summed as exact integers, and divided
    * back. Integer sums are associative — unlike float sums — so the
    * centroid is bit-identical regardless of partitioning, engine, or
    * aggregation order: any two runs (or engines) training on the same
    * vectors produce the SAME centroids, which keeps multi-round
    * training deterministic end-to-end (a last-ulp difference in round
    * k would cascade into different assignments in round k+1). The
    * division (qsum / 2^20) is exact (power-of-two divisor), leaving
    * one rounding per dim; the result is cast to float to match the
    * embedding element type ([[graft.plans.CosineSimilarity]] contract).
    *
    * Output: (c_id, c_e) — cells that lost all members simply disappear
    * (k may shrink; deterministic). */
  def kmeansStepCentroids(cells: DataFrame): DataFrame =
    cells
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg((sum(round(col("x").cast("double") * 1048576).cast("long"))
        .cast("double") / 1048576.0 / count(lit(1))).as("mval"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mval")))).as("dm"))
      .select(col("cell").as("c_id"),
        transform(col("dm"), s => s.getField("mval").cast("float")).as("c_e"))

  /** Train IVF centroids by iterating Lloyd's steps at corpus scale:
    * seed with the first `initK` vectors (the same deterministic seed
    * rule the stand-in queries use), then `iters` rounds of
    * assign ([[ivfCells]], broadcast centroids, map-side scoring) →
    * quantized re-center ([[kmeansStepCentroids]]). Each round's
    * centroid frame is localCheckpointed — it is centroid-sized (k
    * rows), and without the checkpoint the logical plan doubles per
    * round; a superseded barrier is released once its last reader (the
    * shift probe) has run. Nothing corpus-sized ever reaches the
    * driver; with `tol > 0` the driver additionally holds ONE scalar
    * per round (the max centroid L2 shift — the convergence witness,
    * same pattern as [[graft.ops.GraphOps.connectedComponents]]) and
    * stops early once it drops below `tol`. With `tol = 0` the loop runs exactly `iters`
    * rounds — the deterministic form an unrolled SQL oracle can mirror.
    */
  def kmeansTrain(e: DataFrame, initK: Int, iters: Int, tol: Double = 0.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    var cent = e.filter(col(idCol) < initK)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_e"))
    // the newest barriered round; every later round reads only it
    var held: Option[DataFrame] = None
    var round = 0
    var shifted = true
    while (round < iters && shifted) {
      // Checkpoint policy: with tol > 0 every round must materialize
      // (the driver reads the shift scalar off it); with tol = 0 the
      // rounds are a fixed-length pure chain, so checkpoint only every
      // 3rd round — plan growth stays bounded (≤ 8× between cuts)
      // while a short train (the fusedDedup default's 2 rounds)
      // collapses into the consumer's ONE job instead of paying an
      // eager job per round. Values are unchanged either way: the
      // centroid math is exact-integer quantized, so materialization
      // points cannot shift a digit.
      val step = kmeansStepCentroids(
        ivfCells(e, cent, nprobe = 1, idCol = idCol, vecCol = vecCol))
      val barriered = tol > 0 || round % 3 == 2
      val next =
        if (barriered) step.transform(graft.engine.Barrier.lineageBarrier) else step
      if (tol > 0) {
        // max L2 shift over surviving cells — one scalar to the driver
        val shift = next.as("n")
          .join(cent.as("p"), col("n.c_id") === col("p.c_id"))
          .select(sqrt(aggregate(
            zip_with(col("n.c_e"), col("p.c_e"),
              (a, b) => (a.cast("double") - b.cast("double")) *
                (a.cast("double") - b.cast("double"))),
            lit(0.0), (acc, v) => acc + v)).as("d"))
          .agg(max(col("d"))).head.getDouble(0)
        shifted = shift >= tol
      }
      // the shift probe was the superseded barrier's last reader
      if (barriered) {
        held.foreach(graft.engine.Barrier.release)
        held = Some(next)
      }
      cent = next
      round += 1
    }
    cent
  }

  /** Persist an IVF index: the cell assignment written BUCKETED BY the
    * cell key ([[graft.catalog.Catalog.writeBucketed]]). This is what
    * "building a vector index" means in a lake engine — a storage
    * layout, not a data structure: every later in-cell search or dedup
    * self-join on the indexed table needs NO shuffle at all (the scan's
    * output partitioning already satisfies the join; PlanAuditSpec
    * pins it), and a `cell = <literal>` / `cell IN (...)` probe filter
    * prunes to those buckets' files (bucket pruning applies to literal
    * filters, NOT to join keys — a join-side lookup still scans all
    * buckets, shuffle-free). Pay the assignment + one shuffle at build
    * time, never per query — the reference's index stubs
    * (src/collection/indexes/hash.rs:10-18) express exactly this
    * intent. No within-bucket sort: the hash-join read path is
    * order-insensitive, so a build-time sort would be paid and never
    * used. The layout is self-describing ([[graft.catalog.Catalog
    * .writeBucketed]] drops a bucket-spec sidecar next to the data), so
    * a LATER session's [[searchIndex]] re-attaches the bucket metadata
    * and keeps the zero-shuffle plan — no metastore required; the
    * registration is namespaced per catalog dir, so concurrent catalogs
    * can't collide. */
  def writeIndex(cat: graft.catalog.Catalog, name: String,
      cells: DataFrame, buckets: Int = 64): Unit = {
    // saveAsTable parses the name as a SQL identifier — dotted names
    // would resolve as db.table and hyphens fail the parser; reject
    // loudly rather than landing data in a surprise namespace
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"index name must be a plain SQL identifier, got '$name'")
    // rows carry their write generation — deleteFromIndex's graves kill
    // only gens <= their own, so delete -> re-append needs no compaction
    cat.writeBucketed(name, cells.withColumn("gen", lit(cat.nextGen(name))),
      buckets, bucketCols = Seq("cell"))
  }

  /** Fold newly-arrived vectors into a persisted index — the vector
    * twin of the text side's incremental signature index
    * ([[graft.ops.TextDedup.appendToSignatureIndex]]): assign the new
    * vectors against the SAME centroid frame the index was built with
    * ([[ivfCells]] / [[kmeansTrain]] output), then append the
    * assignment rows with the bucket layout preserved
    * ([[graft.catalog.Catalog.appendBucketed]] — new per-bucket files,
    * nothing rewritten, [[searchIndex]]'s zero-shuffle plan intact).
    * Per-batch files accumulate; fold them back periodically with
    * [[graft.catalog.Catalog.compactBucketed]] (the small-file
    * maintenance job). Re-train + [[writeIndex]] when drift makes the
    * frozen centroids a bad partition of the data. */
  def appendToIndex(cat: graft.catalog.Catalog, name: String,
      newCells: DataFrame): Unit =
    cat.appendBucketed(name,
      newCells.withColumn("gen", lit(cat.nextGen(name))))

  /** Search a persisted index by cell-key equi-join — [[inCellTopK]]
    * with the bucketed table on both sides and probe-dedup ON (a
    * persisted index is commonly multi-probe). A later session
    * re-reading the index dir restores the bucket registration from the
    * on-disk sidecar automatically (zero-shuffle plan preserved); the
    * plain-parquet fallback only fires for a directory that was never
    * [[writeIndex]]-written (results identical, bucketing absent). */
  def searchIndex(cat: graft.catalog.Catalog, name: String, k: Int,
      queryPred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val t =
      if (cat.bucketedExists(name)) cat.bucketedTable(name)
      else cat.table(name)
    // tombstone-aware: deleted vectors stop appearing as queries AND as
    // neighbors at the next probe (one anti-join on the shared subtree
    // covers both aliased sides of the in-cell self-join). The sidecar
    // broadcast anti-join preserves the bucketed scan's output
    // partitioning on `cell`, so the self-join stays zero-shuffle
    // (PlanAuditSpec pins it).
    inCellTopK(cat.minusTombstones(name, t), k, queryPred,
      dedupProbes = true)
  }

  /** Delete vectors from a persisted IVF cell index — the last index
    * tier to gain the r15 delete lifecycle (plain/scored/positional
    * postings, PQ codes, and signatures all have it): ids land in the
    * index table's tombstone sidecar ([[graft.catalog.Catalog
    * .addTombstones]]), [[searchIndex]] anti-joins it (deleted vectors
    * stop appearing as neighbors immediately), and [[compactIndex]]
    * makes the delete physical. The centroid assignment of SURVIVING
    * vectors is per-vector (broadcast argmax against frozen centroids),
    * so delete ≡ rebuild-on-survivors under the same quantizer — the
    * FAISS remove_ids contract, oracle-proven by x147.
    *
    * Gen stamping: when `ids` carries a `gen` column, the graves use it
    * VERBATIM — the enqueue-time-capture discipline that makes a
    * replayed delete idempotent even when an interleaved re-ingest of
    * the same id has minted newer generations in between (the replay
    * re-stamps the ORIGINAL gen, so the re-added rows stay above the
    * grave; see [[graft.streaming.EventStreams.vectorDeleteStream]]).
    * A gen-less feed falls back to stamping the counter read at apply
    * time — correct single-writer, with the documented interleave
    * caveat. */
  def deleteFromIndex(cat: graft.catalog.Catalog, name: String,
      ids: DataFrame, idCol: String = "vec_id"): Unit =
    cat.addTombstones(name,
      if (ids.columns.contains("gen"))
        ids.select(col(idCol).cast("long").as("vec_id"),
          col("gen").cast("long").as("gen")).distinct()
      else
        ids.select(col(idCol).cast("long").as("vec_id")).distinct()
          .withColumn("gen", lit(cat.currentGen(name))))

  /** Physical delete + small-file fold for an IVF cell index:
    * [[graft.catalog.Catalog.compactBucketed]] rewrites the bucketed
    * layout without tombstoned rows (staged-directory swap — readers
    * never see a partial index) and drops the sidecar, so probes stop
    * paying the anti-join; a streaming ingest's per-batch hwm markers
    * collapse to one row (the [[graft.catalog.Catalog.collapseHwm]]
    * fold every index compaction performs). Returns files-before −
    * files-after. */
  def compactIndex(cat: graft.catalog.Catalog, name: String): Int = {
    val saved = cat.compactBucketed(name)
    cat.collapseHwm(s"${name}_hwm")
    saved
  }

  // ---------------------------------------------------------------
  // Product quantization (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011) — the memory side of
  // billion-scale ANN: split each vector into `m` subvectors, train an
  // independent `ksub`-centroid codebook per subspace, and store each
  // vector as m small codes (m·log2(ksub) bits instead of d·32). ADC
  // search then scores a query against CODES via a per-query lookup
  // table — no full vectors ever touched at scan time. At 100 TB this
  // is the difference between an embedding store that fits in cluster
  // memory and one that doesn't; IVF (ivfCells) composes on top by
  // restricting the ADC scan to probed cells.
  //
  // Determinism discipline (same as the kmeans family): centroid
  // recentering uses the 1/2^20-quantized exact-integer mean
  // (kmeansStepCentroids' recipe); assignment distances are
  // 1/2^20-quantized squared L2 compared as INTEGERS with (qd2 asc,
  // c_id asc) tie-break; ADC scores are exact integer SUMS of those
  // quantized partials — so codes, codebooks, and search results are
  // digit-identical across engines and partitionings, and all of it is
  // hash-checkable against an unrolled SQL oracle.
  // ---------------------------------------------------------------

  /** The PQ family's subspace width dim/m, with the divisibility
    * contract enforced at runtime: a vector whose dimension is not a
    * multiple of `m` raises instead of silently truncating the tail
    * dimensions out of every code and ADC score (a fractional dsub
    * used to be cast away by slice). The assert_true rides the row —
    * it costs one pmod per vector and fails the job with the offending
    * dimension in the message. */
  private[graft] def pqDsub(vec: org.apache.spark.sql.Column,
      m: Int): org.apache.spark.sql.Column = {
    val chk = assert_true(pmod(size(vec), lit(m)) === 0,
      concat(lit("PQ requires dim % m == 0; got dim="),
        size(vec).cast("string"), lit(s", m=$m")))
    (size(vec) / m).cast("int") + coalesce(chk.cast("int"), lit(0))
  }

  /** Subvector view: one row per (vector, subspace), sv = the
    * subspace's dim/m contiguous elements (dim must be divisible by m
    * — [[pqDsub]] raises otherwise). Map-side explode; grain n·m. */
  def pqSubvectors(e: DataFrame, m: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val dsub = pqDsub(col(vecCol), m)
    e.select(col(idCol).as("vec_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), mi =>
          struct(mi.cast("int").as("sub"),
            slice(col(vecCol), mi * dsub + 1, dsub).as("sv")))).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.sv").as("sv"))
  }

  /** The PQ distance kernel: squared L2 between a subvector and a
    * codebook entry, quantized to 1/2^20 integer units — one definition
    * for the batch encode ([[pqAssign]]), every ADC lookup table and
    * the stream encode ([[graft.streaming.EventStreams.pqEncodeStream]]),
    * so codes and distances agree digit for digit. */
  private[graft] def pqQd2(sv: Column, ce: Column): Column =
    round(aggregate(
      zip_with(sv, ce, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v) * 1048576).cast("long")

  /** ADC lookup table: every query subvector's [[pqQd2]] to every
    * codebook entry of its subspace — (q_id, sub, c_id, pd2). */
  private def pqLut(queries: DataFrame, cents: DataFrame, m: Int,
      idCol: String, vecCol: String): DataFrame =
    pqSubvectors(queries, m, idCol, vecCol)
      .withColumnRenamed("vec_id", "q_id")
      .join(cents, Seq("sub"))
      .select(col("q_id"), col("sub"), col("c_id"),
        pqQd2(col("sv"), col("c_e")).as("pd2"))

  /** Nearest-codebook-entry assignment per (vector, subspace):
    * (vec_id, sub, sv, code, qd2 — the 1/2^20-quantized squared L2 to
    * the winning entry). `cents` is (sub, c_id, c_e); it is
    * m·ksub-sized and broadcast, scoring is map-side, and the rank
    * window is keyed by (sub, vec_id) — never corpus-wide. */
  def pqAssign(svs: DataFrame, cents: DataFrame): DataFrame = {
    val byVec = Window.partitionBy("sub", "vec_id")
      .orderBy(col("qd2").asc, col("c_id").asc)
    svs.join(broadcast(cents), Seq("sub"))
      .withColumn("qd2", pqQd2(col("sv"), col("c_e")))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("sv"),
        col("c_id").as("code"), col("qd2"))
  }

  /** Quantized-integer-mean recenter per (sub, code) —
    * [[kmeansStepCentroids]]' exact recipe keyed by subspace. */
  private def pqRecenter(asg: DataFrame): DataFrame =
    asg.select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy(col("sub"), col("code"), col("dim"))
      .agg((sum(round(col("x").cast("double") * 1048576).cast("long"))
        .cast("double") / 1048576.0 / count(lit(1))).as("mval"))
      .groupBy(col("sub"), col("code"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mval")))).as("dm"))
      .select(col("sub"), col("code").as("c_id"),
        transform(col("dm"), s => s.getField("mval").cast("float")).as("c_e"))

  /** Train the m per-subspace codebooks: seed each with the first
    * `ksub` vectors' subvectors (c_id = vec_id, the deterministic seed
    * rule the kmeans family uses), then exactly `iters` Lloyd rounds —
    * the unrolled-oracle form. Output: (sub, c_id, c_e). Each round's
    * codebook is m·ksub rows, localCheckpointed to stop plan growth and
    * released once the next round is materialized; the subvector frame
    * is persisted once, scanned per round and unpersisted at the end. */
  def pqTrain(e: DataFrame, m: Int = 4, ksub: Int = 8, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val svs = pqSubvectors(e, m, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cent = svs.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").as("c_id"), col("sv").as("c_e"))
      .transform(graft.engine.Barrier.lineageBarrier)
    for (_ <- 1 to iters) {
      val next = pqRecenter(
        pqAssign(svs, cent).select(col("sub"), col("code"), col("sv")))
        .transform(graft.engine.Barrier.lineageBarrier)
      graft.engine.Barrier.release(cent)
      cent = next
    }
    svs.unpersist()
    cent
  }

  /** Encode the corpus against a trained codebook: (vec_id, sub, code,
    * qd2 — the per-subspace quantization error, an exact integer).
    * This is the stored form: m codes per vector. */
  def pqEncode(e: DataFrame, cents: DataFrame, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqAssign(pqSubvectors(e, m, idCol, vecCol), cents)
      .select(col("vec_id"), col("sub"), col("code"), col("qd2"))

  /** ADC top-k: score every encoded vector against each query WITHOUT
    * touching stored vectors — per query, a lookup table of quantized
    * partial distances to every codebook entry (queries·m·ksub rows,
    * broadcast), then one equi join on (sub, code) and an exact
    * integer SUM per (query, vector). Output: (q_id, n_id, adc_qd2,
    * rnk ≤ k), rank by (adc_qd2 asc, n_id asc), self excluded.
    *
    * 100 TB shape: the codes table (the only corpus-sized input) is
    * scanned once, joined map-side against the broadcast LUT, and
    * aggregated at (query, vector) grain with map-side partial sums;
    * the top-k is a keyed window (WindowGroupLimit prunes map-side).
    * Composing with IVF (filter codes to probed cells first) drops the
    * scanned fraction to nprobe/k_ivf. */
  def pqAdcTopK(queries: DataFrame, codes: DataFrame, cents: DataFrame,
      k: Int, m: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val lut = pqLut(queries, cents, m, idCol, vecCol)
    val byQ = Window.partitionBy("q_id")
      .orderBy(col("adc_qd2").asc, col("n_id").asc)
    codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("c_id"))
      .filter(codes("vec_id") =!= lut("q_id"))
      .groupBy(lut("q_id"), codes("vec_id").as("n_id"))
      .agg(sum(col("pd2")).as("adc_qd2"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** PQ-code banded dedup — multi-index hashing over the codes
    * [[pqEncode]] already stores: each (subspace, code) pair is a
    * band key (the MinHash-band idea transplanted to the embedding
    * space); vector pairs sharing the code in ≥ `minShared` of the m
    * subspaces become candidates, and only those pay the exact-cosine
    * verify ≥ `threshold`. `minShared = m` is the strict
    * identical-quantization block (precision tier, exact-copy grade);
    * lowering it trades candidate volume for recall exactly like
    * adding LSH bands. Complements [[ivfPairs]]' cell-grain
    * candidates: the bands come FREE with the stored codes — no extra
    * index, no Σ cell² term. Output: (a_id, b_id, n_shared, cos).
    *
    * 100 TB shape: one encode pass (broadcast codebooks); the band
    * self-join is equi on (sub, code) over ONE aliased subtree
    * (encode computed once), per-band block size n/ksub (production
    * ksub = 256+ keeps blocks sharded; skewed/dead codebook regions
    * get the standard AQE skew-split answer); the agreement count is
    * a pair-grain agg and hydration is two id-key equi joins. */
  def pqBandPairs(e: DataFrame, cents: DataFrame, m: Int,
      minShared: Int, threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(minShared >= 1 && minShared <= m,
      s"need 1 <= minShared <= m, got $minShared/$m")
    val codes = pqEncode(e, cents, m, idCol, vecCol)
    val cand = codes.as("a").join(codes.as("b").hint("shuffle_hash"),
        col("a.sub") === col("b.sub") && col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val v = e.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    cand
      .join(v.as("ea"), col("a_id") === col("ea.vec_id"))
      .join(v.as("eb"), col("b_id") === col("eb.vec_id"))
      .select(col("a_id"), col("b_id"), col("n_shared"),
        round(VF.cosineFast(col("ea.embedding"), col("eb.embedding")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Symmetric int8 scalar quantization — the middle memory tier of
    * the embedding store (fp32 exact / int8 SQ at 4× compression / PQ
    * codes at ~40×): per-vector max-abs scale (x29's exact
    * definition), q_i = round(x_i · 127 / maxabs) ∈ [−127, 127].
    * Cosine over quantized vectors needs NO scales at all — they
    * cancel — so similarity is a ratio of EXACT integer sums
    * (Σ qa·qb / √(Σ qa²)·√(Σ qb²)): deterministic across engines and
    * partitionings with no quantized-double discipline needed at all.
    * All-zero vectors quantize to zeros (the x29 guard) and score 0
    * against everything. Output: (vec_id, qv — int array, qn — the
    * exact Σ q², for reuse by the searcher). Pure map work. */
  def sqQuantize(e: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val qv = when(mx === 0.0,
      transform(col(vecCol), _ => lit(0L)))
      .otherwise(transform(col(vecCol),
        x => round(x.cast("double") * 127.0 / mx).cast("long")))
    e.select(col(idCol).as("vec_id"), qv.as("qv"))
      .withColumn("qn", aggregate(col("qv"),
        lit(0L), (acc, v) => acc + v * v))
  }

  /** Brute-force int8 cosine top-k — the SQ tier's searcher: every
    * (query, vector) score is an exact-integer-dot ratio (scales
    * cancel, see [[sqQuantize]]), rounded to 6 for output; rank
    * (cos_sq desc, n_id asc), self excluded. The scan is linear in n
    * (the memory-bandwidth tier; IVF composes on top exactly as for
    * PQ); the query side is broadcast. Output: (q_id, n_id, cos_sq,
    * rnk ≤ k). */
  def sqTopK(queries: DataFrame, db: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = sqQuantize(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("qn").as("q_qn"))
    val n = sqQuantize(db, idCol, vecCol)
      .select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
        col("qn").as("n_qn"))
    val idot = aggregate(zip_with(col("q_qv"), col("n_qv"),
      (a, b) => a * b), lit(0L), (acc, v) => acc + v)
    val byQ = Window.partitionBy("q_id")
      .orderBy(col("cos_sq").desc, col("n_id").asc)
    n.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        when(col("q_qn") === 0L || col("n_qn") === 0L, lit(0.0))
          .otherwise(round(idot.cast("double") /
            (sqrt(col("q_qn").cast("double")) *
              sqrt(col("n_qn").cast("double"))), 6)).as("cos_sq"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Persist a PQ index: the trained codebooks and the corpus codes as
    * two catalog tables (`<name>_cents`, m·ksub rows; `<name>_codes`,
    * n·m rows — the ~40×-compressed form that replaces the fp32
    * vectors at query time). Train-once / search-forever: a LATER
    * session reads both tables back and [[searchPqIndex]] returns
    * results digit-identical to the in-memory chain (OpsSpec pins the
    * round trip). No bucketing — ADC scans the whole codes table by
    * design; compose IVF cells on top for pruning ([[ivfPqTopK]]). */
  def writePqIndex(cat: graft.catalog.Catalog, name: String,
      e: DataFrame, m: Int = 4, ksub: Int = 8, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"index name must be a plain SQL identifier, got '$name'")
    val cents = pqTrain(e, m, ksub, iters, idCol, vecCol)
    val codes = pqEncode(e, cents, m, idCol, vecCol)
      .withColumn("gen", lit(cat.nextGen(s"${name}_codes")))
    cat.create(s"${name}_cents", cents.schema)
    cat.append(s"${name}_cents", cents)
    cat.create(s"${name}_codes", codes.schema)
    cat.append(s"${name}_codes", codes)
  }

  /** Fold newly-arrived vectors into a persisted PQ index: encode
    * against the FROZEN stored codebook (the same train-once contract
    * as [[graft.streaming.EventStreams.pqEncodeStream]] — new codes
    * are a pure function of the new vectors and the stored codebook)
    * and append the code rows. Re-train + [[writePqIndex]] when drift
    * makes the frozen codebooks a bad quantizer of the data. */
  def appendToPqIndex(cat: graft.catalog.Catalog, name: String,
      newVecs: DataFrame, m: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    cat.append(s"${name}_codes",
      pqEncode(newVecs, cat.table(s"${name}_cents"), m, idCol, vecCol)
        .withColumn("gen", lit(cat.nextGen(s"${name}_codes"))))

  /** ADC top-k over a persisted PQ index — [[pqAdcTopK]] with both
    * halves read back from the catalog; any session that can see the
    * directory gets the identical searcher. */
  def searchPqIndex(cat: graft.catalog.Catalog, name: String,
      queries: DataFrame, k: Int, m: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqAdcTopK(queries,
      cat.minusTombstones(s"${name}_codes", cat.table(s"${name}_codes")),
      cat.table(s"${name}_cents"), k, m, idCol, vecCol)

  /** Delete vectors from a persisted PQ index: their ids land in the
    * codes table's tombstone sidecar ([[graft.catalog.Catalog
    * .addTombstones]]) — [[searchPqIndex]] anti-joins it, so deleted
    * vectors stop appearing as neighbors immediately, and
    * [[compactPqIndex]] makes the delete physical. The codebook is
    * untouched (train-once contract: a quantizer trained on data that
    * included since-deleted vectors is still a valid quantizer —
    * FAISS's remove_ids does exactly this). */
  def deleteFromPqIndex(cat: graft.catalog.Catalog, name: String,
      ids: DataFrame, idCol: String = "vec_id"): Unit =
    cat.addTombstones(s"${name}_codes",
      ids.select(col(idCol).cast("long").as("vec_id")).distinct()
        .withColumn("gen", lit(cat.currentGen(s"${name}_codes"))))

  /** Physical delete for a PQ index: rewrite the codes table without
    * tombstoned rows and clear the sidecar
    * ([[graft.catalog.Catalog.rewriteExcludingTombstones]] — staged
    * swap, readers never see a partial table). Returns rows removed. */
  def compactPqIndex(cat: graft.catalog.Catalog, name: String): Long =
    cat.rewriteExcludingTombstones(s"${name}_codes")

  /** Residuals w.r.t. a coarse assignment — the input of FAISS-faithful
    * residual PQ (IVFPQ encodes x − centroid(x), not x: residuals are
    * concentrated around zero, so the same codebook budget spends its
    * resolution where the data actually is; measured on the fixture
    * the residual chain's total quantization error is ~0.90× the
    * raw-vector chain's, OpsSpec-pinned). Each residual element is one
    * double subtraction cast back to FLOAT — bit-identical across
    * engines. Output: (vec_id, cell, resid).
    *
    * 100 TB shape: [[ivfCells]]' broadcast assignment + one broadcast
    * centroid join — map-only, no shuffle beyond the assignment's
    * keyed rank. */
  def pqResiduals(e: DataFrame, coarse: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfCells(e, coarse, nprobe = 1, idCol, vecCol)
      .join(broadcast(coarse), col("cell") === col("c_id"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("c_e"), (a, b) =>
          (a.cast("double") - b.cast("double")).cast("float")).as("resid"))

  /** IVF + PQ composed search — the standard billion-scale ANN layout
    * (FAISS's IVFPQ): the coarse quantizer (cosine IVF, [[ivfCells]])
    * restricts each query's scan to its `nprobe` probed cells
    * (scanned fraction ≈ nprobe/k_coarse), and within them distance
    * is evaluated over PQ CODES via the broadcast LUT + exact integer
    * sums ([[pqAdcTopK]]'s scoring) — stored vectors are touched by
    * NEITHER stage at query time. Inputs: `qCells` = the queries'
    * multi-probe assignment (vec_id, cell — [[ivfCells]] nprobe ≥ 1),
    * `dbCells` = the corpus' nprobe=1 assignment, `codes`/`cents`
    * from [[pqEncode]]/[[pqTrain]]. Output: (q_id, n_id, adc_qd2,
    * rnk ≤ k), self excluded, rank (adc_qd2 asc, n_id asc).
    *
    * 100 TB shape: the cell equi-join generates candidates at
    * (query × cell-size) grain — never corpus × queries; codes join
    * candidates equi on the vector id; the LUT join is broadcast equi
    * on (q_id, sub, code); the final agg is exact integer map-side
    * partial sums and the top-k a keyed window. */
  def ivfPqTopK(qCells: DataFrame, dbCells: DataFrame, queries: DataFrame,
      codes: DataFrame, cents: DataFrame, k: Int, m: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val lut = pqLut(queries, cents, m, idCol, vecCol)
    val cand = qCells.select(col("vec_id").as("q_id"), col("cell"))
      .join(dbCells.select(col("vec_id").as("n_id"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()
    val byQ = Window.partitionBy("q_id")
      .orderBy(col("adc_qd2").asc, col("n_id").asc)
    cand
      .join(codes.withColumnRenamed("vec_id", "n_id"), Seq("n_id"))
      .join(broadcast(lut.withColumnRenamed("c_id", "code")),
        Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("pd2")).as("adc_qd2"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Residual IVF+PQ search — the COMPLETE faithful IVFPQ query path
    * (coarse probe + residual codes + per-(query, cell) ADC): because
    * x120's codes quantize residuals, a query's lookup table must be
    * built against ITS residual in each probed cell — q − centroid(cell)
    * — so the LUT is (queries · nprobe · m · ksub) rows, still
    * broadcast-sized. Candidates are the probed cells' members, scored
    * by exact integer sums of the cell-matched partials; a db vector
    * lives in exactly one cell, so the (q, n) sum is well-defined.
    * Output: (q_id, n_id, adc_qd2, rnk ≤ k).
    *
    * 100 TB shape: identical to [[ivfPqTopK]] — the codes scan joins
    * the broadcast LUT equi on (cell, sub, code), nothing touches
    * stored vectors; the residual twist only grows the LUT by the
    * nprobe factor. */
  def ivfPqResidualTopK(queries: DataFrame, coarse: DataFrame,
      nprobe: Int, resid: DataFrame, codes: DataFrame, cents: DataFrame,
      k: Int, m: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qr = ivfCells(queries, coarse, nprobe, idCol, vecCol)
      .join(broadcast(coarse), col("cell") === col("c_id"))
      .select(col("vec_id").as("q_id"), col("cell"),
        zip_with(col("embedding"), col("c_e"), (a, b) =>
          (a.cast("double") - b.cast("double")).cast("float")).as("qr"))
    val dsub = pqDsub(col("qr"), m)
    val qsv = qr.select(col("q_id"), col("cell"),
        explode(transform(sequence(lit(0), lit(m - 1)), mi =>
          struct(mi.cast("int").as("sub"),
            slice(col("qr"), mi * dsub + 1, dsub).as("sv")))).as("s"))
      .select(col("q_id"), col("cell"), col("s.sub").as("sub"),
        col("s.sv").as("sv"))
    val lut = qsv.join(cents, Seq("sub"))
      .select(col("q_id"), col("cell"), col("sub"),
        col("c_id").as("code"),
        pqQd2(col("sv"), col("c_e")).as("pd2"))
    val dbCodes = codes
      .join(resid.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val byQ = Window.partitionBy("q_id")
      .orderBy(col("adc_qd2").asc, col("n_id").asc)
    dbCodes.join(broadcast(lut), Seq("cell", "sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("pd2")).as("adc_qd2"))
      .withColumn("rnk", row_number().over(byQ).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Exact Gram (second-moment) matrix Σ x xᵀ over the vector column —
    * the first step of distributed PCA and the only corpus-sized pass of
    * [[pcaPower]]/[[pcaPower2]]. Cell (i, j) is defined as the SQL
    * composition
    * {{{
    *   sum(cast(round(double(x_i) * double(x_j), 9) as decimal(28,9)))
    *     cast as decimal(20,9)
    * }}}
    * over every vector (two chained `posexplode`s and a (i, j)
    * aggregate), and is computed here in ONE fused pass that never
    * materializes the n·d² product rows: each task folds its rows into a
    * d×d table of scaled integers (1e-9 units), and one `treeAggregate`
    * sums the per-task tables into the returned matrix. Exactness:
    *  - only the upper triangle is accumulated and then mirrored:
    *    float→double products commute, so the two halves of the SQL
    *    matrix are bitwise equal;
    *  - a term's units are `floor(|p|·1e9 + 0.5)` (sign restored) when
    *    |p| < 4 and the fraction of |p|·1e9 is not within 1e-6 of .5.
    *    There the double error of |p|·1e9 and of Spark's shortest-decimal
    *    rendering of p together stay below 1e-6 units, so the HALF_UP
    *    decision is the one Spark's `round` makes, and the rounded value
    *    survives the cast back unchanged. Every other term (near-ties,
    *    large or non-finite products) is evaluated by Spark's own `Cast`
    *    and `Round` expressions under the session's ANSI mode, so it
    *    rounds, returns NULL or fails exactly as the builtin does;
    *  - sums use `Math.addExact` and spill to `BigInteger` on overflow,
    *    so they are exact in any order — the matrix is independent of
    *    partitioning;
    *  - the final DECIMAL(20,9) cast is Spark's own `Cast`: NULL or the
    *    same overflow error as the builtin. (The intermediate
    *    DECIMAL(38,9) sum cannot overflow below 10¹⁰ terms.)
    * Ragged vectors contribute their own (i, j) pairs, null elements
    * contribute nothing, and null or empty vectors nothing at all; a
    * cell with no non-null term is null, as the SQL sum. The matrix is
    * d×d for the longest vector's d (0×0 when there is none).
    *
    * 100 TB shape: one map-only corpus pass; each task ships one d²
    * table, merged in a tree — constant in n. */
  private[graft] def gram(e: DataFrame,
      vecCol: String = "embedding"): Array[Array[java.math.BigDecimal]] = {
    val ansi = e.sparkSession.sessionState.conf.ansiEnabled
    e.select(col(vecCol).cast("array<double>")).queryExecution.toRdd
      .mapPartitions { rows =>
        var acc = new GramAcc(0, ansi)
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val a = r.getArray(0)
            val n = a.numElements()
            if (n > acc.d) acc = acc.grown(n)
            for (i <- 0 until n if !a.isNullAt(i)) {
              val xi = a.getDouble(i)
              for (j <- i until n if !a.isNullAt(j))
                acc.add(i, j, xi * a.getDouble(j))
            }
          }
        }
        Iterator.single(acc)
      }
      .treeAggregate(new GramAcc(0, ansi))(_ merge _, _ merge _)
      .matrix
  }

  /** One task's (or one merge's) share of [[gram]]: per cell of the
    * upper triangle, the exact sum of its 1e-9-unit terms as a `Long`
    * plus a lazily allocated `BigInteger` overflow part, and whether any
    * non-null term arrived. Row-major d×d, only i ≤ j used. */
  private final class GramAcc(val d: Int, ansi: Boolean) extends Serializable {
    import java.math.{BigDecimal => JBD, BigInteger}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
      EvalMode, Literal, Round}
    import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

    private val units = new Array[Long](d * d)
    private val seen = new Array[Boolean](d * d)
    private var spill: Array[BigInteger] = null

    /** The builtin per-term expression, for the terms the fast path
      * does not decide. */
    @transient private lazy val term = Cast(
      Round(BoundReference(0, DoubleType, nullable = false), Literal(9), ansi),
      DecimalType(28, 9), None, EvalMode.fromBoolean(ansi))

    def add(i: Int, j: Int, p: Double): Unit = {
      val k = i * d + j
      val t = math.abs(p) * 1e9
      val f = t - math.floor(t)
      if (t < 4e9 && math.abs(f - 0.5) > 1e-6) {
        val u = math.floor(t + 0.5).toLong
        addUnits(k, if (p < 0) -u else u)
        seen(k) = true
      } else term.eval(InternalRow(p)) match {
        case v: Decimal =>
          addUnits(k, v.toJavaBigDecimal.setScale(9).unscaledValue)
          seen(k) = true
        case _ => () // NULL term: non-ANSI cast of NaN/∞ or an overflow
      }
    }

    private def addUnits(k: Int, u: Long): Unit =
      try units(k) = Math.addExact(units(k), u)
      catch { case _: ArithmeticException => spillUnits(k, BigInteger.valueOf(u)) }

    private def addUnits(k: Int, u: BigInteger): Unit =
      if (u.bitLength < 64) addUnits(k, u.longValue) else spillUnits(k, u)

    private def spillUnits(k: Int, u: BigInteger): Unit = {
      if (spill == null) spill = Array.fill(d * d)(BigInteger.ZERO)
      spill(k) = spill(k).add(u)
    }

    private def total(k: Int): BigInteger = {
      val u = BigInteger.valueOf(units(k))
      if (spill == null) u else u.add(spill(k))
    }

    /** A copy sized for vectors of length `n` > d. */
    def grown(n: Int): GramAcc = new GramAcc(n, ansi).merge(this)

    /** Fold `o` into the larger of the two; returns it. */
    def merge(o: GramAcc): GramAcc =
      if (o.d > d) o.merge(this)
      else {
        for (i <- 0 until o.d; j <- i until o.d) {
          val k = i * o.d + j
          if (o.seen(k)) {
            addUnits(i * d + j, o.total(k))
            seen(i * d + j) = true
          }
        }
        this
      }

    /** The symmetric DECIMAL(20,9) matrix (null = SQL NULL cell). */
    def matrix: Array[Array[JBD]] = {
      val narrow = Cast(BoundReference(0, DecimalType(38, 9), nullable = false),
        DecimalType(20, 9), None, EvalMode.fromBoolean(ansi))
      val m = Array.ofDim[JBD](d, d)
      for (i <- 0 until d; j <- i until d) {
        val k = i * d + j
        val v =
          if (!seen(k)) null
          else narrow.eval(InternalRow(Decimal(new JBD(total(k), 9)))) match {
            case c: Decimal => c.toJavaBigDecimal
            case _ => null
          }
        m(i)(j) = v
        m(j)(i) = v
      }
      m
    }
  }

  /** Dominant principal component by UNROLLED power iteration — the
    * distributed-PCA core (top eigenvector of the second-moment
    * matrix), fully deterministic: [[gram]]'s exact-decimal M,
    * v₀ = e₁, and `iters` rounds of v ← round((M v)/‖M v‖∞, 6). Every
    * round's matrix-vector product is exact decimal arithmetic
    * (DECIMAL(20,9) × DECIMAL(8,6) summed without precision loss), the
    * ∞-norm is an exact decimal max, and only the normalization ratio
    * passes through IEEE doubles (both engines divide the same two
    * doubles) — so after quantization the iterate is digit-identical
    * across engines and partitionings, and the whole loading vector is
    * hash-checkable. The result is the 8-round ITERATE by definition —
    * convergence is a property of the spectrum, determinism of the
    * construction (v₀ = e₁ only stalls if dim 1 is exactly invariant —
    * measure-zero on real data). ‖M v‖∞ of the last round is the
    * eigenvalue estimate (‖v‖∞ = 1 by construction). Output:
    * (dim — 1-based, loading ∈ [−1,1] with ‖·‖∞ = 1, lambda).
    * This is [[pcaPower2]]'s component 1.
    *
    * 100 TB shape: one distributed corpus pass ([[gram]]); everything
    * after is d²-sized and runs as a local constant-fold (Spark's own
    * `RowMatrix.computePrincipalComponents` split — distribute the
    * Gramian, centralize the eigenwork). Nothing data-sized is ever
    * collected. */
  def pcaPower(e: DataFrame, iters: Int = 8,
      vecCol: String = "embedding"): DataFrame = {
    val (loadings, lambdas) = powerIterate(e, iters, vecCol, components = 1)
    val sp = e.sparkSession
    import sp.implicits._
    loadings.head.zipWithIndex.toSeq
      .map { case (vi, i) => (i + 1L, vi.doubleValue, lambdas.head) }
      .toDF("dim", "loading", "lambda")
  }

  /** Top-TWO principal components — [[pcaPower]] extended by
    * ORTHOGONAL ITERATION (Hotelling deflation in its numerically
    * robust per-round form): component 1 is pcaPower's iterate (x105's
    * component-1 rows equal x95's output digit for digit, spec-pinned);
    * component 2 starts at e₂ and each round Gram–Schmidt-projects the
    * matrix-vector product against v₁ before normalizing
    * (w ← Mv; w ← w − c·v₁ with c = round((w·v₁)/(v₁·v₁), 9); then the
    * ∞-norm normalize). Re-orthogonalizing EVERY round — rather than
    * deflating M once — prevents the quantized-v₁ residual from being
    * re-amplified by the dominant eigenvalue across rounds. All dot
    * products are exact decimal sums; c and the normalizer are the only
    * IEEE divisions, each re-quantized HALF_UP — the whole two-component
    * table is hash-checked against the unrolled-CTE oracle.
    *
    * 100 TB shape: identical to [[pcaPower]] — ONE distributed gram
    * pass; both iterations are d²-bounded driver constant-folds.
    * Output: (component ∈ {1,2}, dim, loading, lambda). */
  def pcaPower2(e: DataFrame, iters: Int = 8,
      vecCol: String = "embedding"): DataFrame = {
    val (loadings, lambdas) = powerIterate(e, iters, vecCol, components = 2)
    val sp = e.sparkSession
    import sp.implicits._
    loadings.zip(lambdas).zipWithIndex.flatMap { case ((v, lam), c) =>
      v.zipWithIndex.map { case (vi, i) =>
        (c + 1L, i + 1L, vi.doubleValue, lam) }
    }.toDF("component", "dim", "loading", "lambda")
  }

  /** The power-iteration core of [[pcaPower]] and [[pcaPower2]]: the
    * first `components` (1 or 2) loading vectors and their lambdas.
    * The split of labor is Spark's own PCA design (mllib
    * RowMatrix.computePrincipalComponents): the Gramian is the
    * data-sized pass and runs DISTRIBUTED; the iteration is d²-sized
    * and runs as a local constant-fold — scheduling d²-row rounds
    * across a cluster is pure overhead (measured: 8 DataFrame rounds
    * cost ~25 s of job latency at d=64 vs milliseconds here, on an
    * identical result). The arithmetic replays the SQL semantics
    * EXACTLY, so the unrolled-CTE oracle matches digit for digit: M·v,
    * dot products and the ∞-norm are exact decimal ops (order-free);
    * only the ratios pass through IEEE doubles, re-quantized HALF_UP
    * (Spark's round()) with the −0.0 guard. */
  private def powerIterate(e: DataFrame, iters: Int, vecCol: String,
      components: Int): (Seq[Array[java.math.BigDecimal]], Seq[Double]) = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    require(iters >= 1, s"need iters >= 1, got $iters")
    val M = gram(e, vecCol)
    val d = M.length
    require(components == 1 || d >= 2,
      s"need >= 2 dims for a second component, got $d")
    def mv(v: Array[JBD]): Array[JBD] = Array.tabulate(d) { i =>
      (0 until d).foldLeft(JBD.ZERO)((a, j) => a.add(M(i)(j).multiply(v(j))))
    }
    def dot(a: Array[JBD], b: Array[JBD]): JBD =
      (0 until d).foldLeft(JBD.ZERO)((s, i) => s.add(a(i).multiply(b(i))))
    def normalize(w: Array[JBD]): (Array[JBD], JBD) = {
      val mx = w.map(_.abs).reduce((a, b) => if (a.compareTo(b) >= 0) a else b)
      (w.map { wi =>
        val q = JBD.valueOf(wi.doubleValue / mx.doubleValue)
          .setScale(6, RoundingMode.HALF_UP).doubleValue + 0.0
        JBD.valueOf(q).setScale(6)
      }, mx)
    }
    def unit(c: Int): Array[JBD] = Array.tabulate(d)(i =>
      (if (i == c) JBD.ONE else JBD.ZERO).setScale(6))
    def lam(mx: JBD): Double = JBD.valueOf(mx.doubleValue)
      .setScale(4, RoundingMode.HALF_UP).doubleValue
    // component c: v ← normalize(M v minus its projection on the earlier
    // component), from v₀ = e_c
    (0 until components).foldLeft((Seq.empty[Array[JBD]], Seq.empty[Double])) {
      case ((vs, ls), c) =>
        var v = unit(c)
        var mx = JBD.ZERO
        val prev = vs.lastOption.map(p => (p, dot(p, p)))
        for (_ <- 1 to iters) {
          val w = prev.fold(mv(v)) { case (p, pp) =>
            val w0 = mv(v)
            val k = JBD.valueOf(dot(w0, p).doubleValue / pp.doubleValue)
              .setScale(9, RoundingMode.HALF_UP)
            Array.tabulate(d)(i => w0(i).subtract(k.multiply(p(i))))
          }
          val (nv, nm) = normalize(w); v = nv; mx = nm
        }
        (vs :+ v, ls :+ lam(mx))
    }
  }

  /** Projection of every vector onto a trained component — the acting
    * twin of [[pcaPower]] (whitening / 1-d feature extraction /
    * curriculum keys): proj(x) = Σⱼ vⱼ·xⱼ with each term quantized to
    * DECIMAL(28,9) and summed exactly, so the score is independent of
    * partitioning and fold order and hash-checks across engines.
    * `component` is [[pcaPower]]'s output shape — (dim 1-based,
    * loading on the 1e-6 grid); the cast back to DECIMAL(8,6) is
    * exact by construction.
    *
    * 100 TB shape: the component is d rows and BROADCAST — the
    * corpus-sized side is one posexplode feeding a map-side equi join
    * and a per-id partial sum; one pass, no corpus shuffle beyond the
    * id-grain aggregate. */
  def pcaProject(e: DataFrame, component: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val comp = broadcast(component.select(col("dim"),
      col("loading").cast("decimal(8,6)").as("__v")))
    e.select(col(idCol), posexplode(col(vecCol)).as(Seq("__i", "__xi")))
      .select(col(idCol), (col("__i") + 1).cast("long").as("dim"),
        col("__xi"))
      .join(comp, Seq("dim"))
      .groupBy(col(idCol))
      // per-term products quantized ONCE to 1e-9 integer units (one
      // rounding of an identical double), then an exact integer sum —
      // proj_q is engine/build-portable at every SF
      .agg(sum(
        round(col("__v").cast("double") * col("__xi").cast("double") *
          lit(1000000000d)).cast("long")).cast("long").as("proj_q"))
      .select(col(idCol), col("proj_q"))
  }

  /** D4-style prototypicality decision (Tirumala et al., "D4: Improving
    * LLM Pretraining via Document De-Duplication and Diversification",
    * arXiv 2308.12284): after SemDeDup ([[semDedupDecision]]) D4 ranks
    * each example by cosine to its cluster centroid and DROPS the most
    * prototypical fraction — cluster cores are over-represented, easy
    * examples; keeping the band away from the center diversifies the
    * corpus. Input is an [[ivfCellsScored]] assignment (cq =
    * round(cos·1e6) as BIGINT — a deterministic total order); rank
    * within cell by (cq DESC, id ASC) and drop
    * rn ≤ ⌈n_cell·dropNum/dropDen⌉. The cut is PURE INTEGER arithmetic
    * ((n·num + den − 1) div den), so the keep set has no floating cut
    * boundary to drift on. Output: (vec_id, cell, cq, rn, n_cell,
    * kept 0/1) — decision-grain, like [[ivfDedupDecision]].
    *
    * 100 TB shape: centroids ride the broadcast upstream
    * ([[ivfCells]]); the rank is per-CELL (k ~ √n via [[suggestK]]
    * bounds cells — never a corpus-wide window); output is one row per
    * vector with no join back to the payload. */
  def prototypicality(cells: DataFrame, dropNum: Int,
      dropDen: Int): DataFrame = {
    val w = Window.partitionBy("cell")
      .orderBy(col("cq").desc, col("vec_id").asc)
    cells.select(col("vec_id"), col("cell"), col("cq"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy("cell")))
      .withColumn("kept", when(col("rn") >
        expr(s"(n_cell * $dropNum + ${dropDen - 1}) div $dropDen"),
        1L).otherwise(0L))
  }

  /** Margin-based cross-corpus candidate mining (Artetxe & Schwenk,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL 2019 — the LASER/CCMatrix criterion): raw cosine
    * over-fires in dense neighborhoods, so a candidate pair (x, y) is
    * scored by its cosine RELATIVE to both sides' average top-k
    * neighborhood cosine — ratio margin
    * cos(x,y) / ((avgTopK(x) + avgTopK(y)) / 2). Candidates are
    * in-cell pairs of an IVF assignment between the two sides (the
    * mining approximation: neighborhoods are over in-cell candidates
    * clearing `minCos`, not the exact k-NN — the same recall tradeoff
    * x28 measures for ANN); per x the single best y by
    * (margin DESC, cos DESC, y ASC) survives if margin ≥ `minMargin`.
    * `xSide` splits the corpus (x where true, y where false), written
    * over the vec_id column.
    *
    * Determinism: cos is quantized ONCE to BIGINT micro-units (cq,
    * the x99 grid via [[graft.functions.ExactMath.microQ]]); the
    * top-k neighborhood sums are exact integer sums of those; the
    * margin is pure integer arithmetic — margin_q (1e-4 grid,
    * half-up) = divHalfUp(2·cq·kx·ky·10^4, sx·ky + sy·kx), every
    * product far under 2^63. No IEEE division anywhere downstream of
    * the one quantization, so every build of every engine replays the
    * identical digits (r12's round(double,4) margin hash-flipped
    * across DuckDB builds). `minCos > 0` also makes the denominator
    * strictly positive. Output: (x_id, y_id, cos_q, margin_q).
    *
    * 100 TB shape: candidates are equi cell joins over ONE aliased
    * assignment subtree (broadcast centroids upstream, k ~ √n bounds
    * cells); the neighborhood aggregates and the final cut are windows
    * keyed by x_id or y_id — never corpus-wide; all four window passes
    * read one candidate frame. */
  /** Semantic decontamination — the benchmark-overlap gate lifted from
    * lexical shingles ([[CorpusOps.decontaminate]]) to the embedding
    * space: a training vector is contaminated if any benchmark vector
    * sits within cosine ≥ `threshold`. Benchmark suites are tiny next
    * to a training corpus, so the scale-right plan is x37's exactly:
    * the WHOLE benchmark side rides a broadcast and the corpus is
    * scanned ONCE with map-side cosines — no shuffle at all until the
    * flagged-id rollup (which partial-aggregates map-side). No ANN
    * index, no k-means: at n·|suite| map work the exact answer is
    * cheaper than building candidates (contrast [[ivfPairs]], whose
    * n²/k candidate economics only pay off when BOTH sides are
    * corpus-sized). Output per contaminated training vector:
    * (train_id, n_hits, max_cos_q) — n_hits for severity triage,
    * max_cos_q for threshold audits (x88's curve discipline), in
    * BIGINT cosine micro-units ([[graft.functions.ExactMath.microQ]]
    * — the driver-portable x99 `cq` grid; r12's DECIMAL round() form
    * hash-flipped across DuckDB builds). */
  def semDecontaminate(train: DataFrame, bench: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val thrQ = Math.round(threshold * 1e6)
    val b = broadcast(bench.select(col(idCol).as("bench_id"),
      col(vecCol).as("b_e")))
    train.select(col(idCol).as("train_id"), col(vecCol).as("t_e"))
      .crossJoin(b)
      .withColumn("cq",
        graft.functions.ExactMath.microQ(
          VF.cosineFast(col("t_e"), col("b_e"))))
      .filter(col("cq") >= thrQ)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("cq")).as("max_cos_q"))
  }

  def marginMine(cells: DataFrame,
      xSide: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      k: Int, minCos: Double, minMargin: Double,
      dedupProbes: Boolean = true): DataFrame = {
    val EM = graft.functions.ExactMath
    val minCosQ = Math.round(minCos * 1e6)
    val minMarginQ = Math.round(minMargin * 1e4)
    val raw = cells.as("a").join(cells.as("b").hint("shuffle_hash"),
        col("a.cell") === col("b.cell") &&
          xSide(col("a.vec_id")) && !xSide(col("b.vec_id")))
      .select(col("a.vec_id").as("x_id"), col("b.vec_id").as("y_id"),
        EM.microQ(VF.cosineFast(col("a.embedding"), col("b.embedding")))
          .as("cq"))
      .filter(col("cq") >= minCosQ)
    // multi-probe assignments repeat a pair per shared cell; a
    // single-probe assignment cannot, so callers skip the distinct's
    // full extra exchange there (the inCellTopK contract)
    val cand = if (dedupProbes) raw.distinct() else raw
    val wx = Window.partitionBy("x_id").orderBy(col("cq").desc,
      col("y_id").asc)
    val wy = Window.partitionBy("y_id").orderBy(col("cq").desc,
      col("x_id").asc)
    val wxa = Window.partitionBy("x_id")
    val wya = Window.partitionBy("y_id")
    val best = Window.partitionBy("x_id").orderBy(col("margin_q").desc,
      col("cq").desc, col("y_id").asc)
    // window passes GROUPED BY partition key (r18; guide §2.4): the
    // x-keyed rank and neighborhood aggregates run back-to-back on one
    // x_id exchange, then the y-keyed pair on one y_id exchange —
    // 3 exchanges total where the interleaved order paid 5. Column
    // definitions are unchanged, so the output is identical.
    cand
      .withColumn("rx", row_number().over(wx))
      .withColumn("sx", sum(when(col("rx") <= k, col("cq"))).over(wxa))
      .withColumn("kx", sum(when(col("rx") <= k, 1L).otherwise(0L)).over(wxa))
      .withColumn("ry", row_number().over(wy))
      .withColumn("sy", sum(when(col("ry") <= k, col("cq"))).over(wya))
      .withColumn("ky", sum(when(col("ry") <= k, 1L).otherwise(0L)).over(wya))
      .withColumn("margin_q", EM.divHalfUp(
        lit(2L) * col("cq") * col("kx") * col("ky") * lit(10000L),
        col("sx") * col("ky") + col("sy") * col("kx")))
      .filter(col("margin_q") >= minMarginQ)
      .withColumn("rnk", row_number().over(best))
      .filter(col("rnk") === 1)
      .select(col("x_id"), col("y_id"), col("cq").as("cos_q"),
        col("margin_q"))
  }
}
