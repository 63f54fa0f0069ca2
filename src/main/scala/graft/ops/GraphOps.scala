package graft.ops

import graft.engine.Barrier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup-cluster resolution.
  *
  * The near-dup pair queries (MinHash-LSH x07, SimHash banding x23, IVF
  * cosine x22) emit *edges*; a dedup pipeline ultimately needs the
  * *components* — "these 17 documents are all the same article" — so the
  * keep/drop decision can pick one canonical per cluster instead of
  * per-pair (pairwise min-id dropping over-keeps on transitive chains:
  * a~b, b~c with a≁c keeps a AND c even though all three are one
  * cluster).
  */
object GraphOps {

  /** Connected components by local union-find contraction followed,
    * when needed, by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — diameter-independent: O(log² n) rounds on ANY graph.
    *
    *  1. One eager barrier on the projected (src, dst) pairs: the pair
    *     plan runs once; the node set (lazy) and the canonical (lo < hi)
    *     edges both read that barrier.
    *  2. [[contract]] runs union-find over each partition's edges and
    *     emits every local non-root → local-minimum link.
    *  3. Exact exit: when the edges [[contract]] reads sit in ONE
    *     partition, that one task saw every edge, so its output already
    *     is the component forest and no round runs. The test reads only
    *     the partition count Spark's own sizing produced (the barrier's
    *     blocks); it is applied to the pair barrier and to every round's
    *     output, which AQE coalesces into one partition once it is small.
    *  4. Otherwise, per round on the contracted edge set:
    *     - large-star: every node u links each STRICTLY-GREATER neighbor
    *       to m(u) = min(N(u) ∪ {u}) — one groupBy-min + one equi-join;
    *     - small-star: orient edges at their larger endpoint (hi → lo);
    *       every center u links its smaller neighbors AND ITSELF to
    *       m(u) = min — same shape.
    *     Both preserve connectivity; the combined fixpoint is the star
    *     forest where every node points at its component minimum (the
    *     canonical doc id). Each round's edge set is an eager barrier:
    *     it truncates the lineage, without which the logical plan grows
    *     with every round and planning itself blows up. The round it
    *     supersedes is released once its last reader has run.
    *
    * Convergence detection: a (count, Σlo, Σhi) witness gates an exact
    * set-equality confirm (one left-anti probe, only run when the
    * witness matches — distinct sets of equal size are equal iff the
    * difference is empty). All shuffles are on uniform node-id keys; the
    * driver holds the 3-field witness per round.
    *
    * Hitting `maxRounds` rounds without reaching the fixpoint RAISES
    * (IllegalStateException) — un-converged labels are silently wrong
    * cluster ids, never a value a dedup decision may act on. The exact
    * exit runs no round, so it never raises.
    *
    * @param pairs edge list, one row per undirected edge
    * @param maxRounds hard cap on large-star/small-star rounds
    * @return (node, cluster_id) — one row per node that appears in any
    *         edge; cluster_id = min node id of the component
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", maxRounds: Int = 50): DataFrame = {
    val raw = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst")).transform(Barrier.lineageBarrier)
    // every endpoint is a node (self-loop-only nodes included: they are
    // their own singleton component)
    val nodes = raw.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
    val canonical = raw.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
    def oneTask(e: DataFrame): Boolean = Barrier.partitions(e).exists(_ <= 1)

    // large-star: m(u) ≤ u < v for every emitted (v, m(u)) pair, so the
    // canonical orientation is immediate and self-loops are impossible
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("lo").as("src"), col("hi").as("dst"))
        .unionByName(e.select(col("hi").as("src"), col("lo").as("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("mnd"))
        .select(col("src"), least(col("mnd"), col("src")).as("m"))
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("m").as("lo"), col("dst").as("hi"))
        .distinct()
    }
    // small-star: center = hi endpoint; all its neighbors here are
    // strictly smaller, so m = min(N(u)) ≤ every emitted node
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("hi").as("src"), col("lo").as("dst"))
      val mins = dir.groupBy("src").agg(min(col("dst")).as("m"))
      dir.join(mins, "src")
        .select(col("dst"), col("m"))
        .unionByName(mins.select(col("src").as("dst"), col("m")))
        .filter(col("dst") =!= col("m"))
        .select(col("m").as("lo"), col("dst").as("hi"))
        .distinct()
    }
    def witness(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(col("lo").cast("decimal(38,0)")),
        sum(col("hi").cast("decimal(38,0)"))).head
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }

    val forest =
      if (oneTask(raw)) contract(canonical)
      else {
        var edges = contract(canonical).transform(Barrier.lineageBarrier)
        var w = witness(edges)
        var converged = w._1 == 0L // no non-loop edges: all singletons
        var round = 0
        while (!converged && round < maxRounds) {
          val next = smallStar(largeStar(edges)).transform(Barrier.lineageBarrier)
          val superseded = edges
          if (oneTask(next)) {
            edges = contract(next)
            converged = true
          } else {
            val nw = witness(next)
            // distinct sets of equal witness are equal iff the one-sided
            // difference is empty; the anti probe runs only on witness match
            converged = nw == w && next.exceptAll(edges).head(1).isEmpty
            edges = next
            w = nw
          }
          Barrier.release(superseded)
          round += 1
        }
        if (!converged) {
          Seq(edges, raw).foreach(Barrier.release)
          throw new IllegalStateException(
            s"connectedComponents did not converge within $maxRounds rounds " +
              "— raise maxRounds (O(log^2 n) rounds suffice for n nodes).")
        }
        edges
      }
    // the forest: every non-root appears exactly once as hi, pointing at
    // its component min; roots (and singletons) label themselves
    nodes.join(forest.select(col("hi").as("node"), col("lo").as("cid")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("cid"), col("node")).as("cluster_id"))
  }

  /** Local contraction: union-find over each partition's edge rows in
    * one `mapPartitions` pass, emitting (lo = root, hi = x) for every
    * node x of the partition that is not its local root; the root is
    * the minimum id of x's local component, so every row has lo < hi
    * (never a self-loop, whatever the input rows hold). Connectivity
    * is preserved both ways — each input edge's endpoints share a
    * local root, and each output row joins two nodes one input
    * component holds — and so is the node set of the non-loop edges
    * (a root of two or more nodes is emitted as lo). Over one
    * partition holding every edge, the output is exactly the component
    * forest.
    *
    * Memory per task is linear in that partition's DISTINCT node ids,
    * not in its edge count: rows are folded as they stream past, into
    * primitive arrays (an open-addressing id → index table, the ids and
    * an `int` parent array: at most 40 bytes per node), no boxed map.
    */
  private[graft] def contract(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("lo"), col("hi")).as[(Long, Long)]
      .mapPartitions { rows =>
        val uf = new LocalUnionFind
        rows.foreach { case (a, b) => uf.union(a, b) }
        uf.links
      }
      .toDF("lo", "hi")
  }
}

/** Union-find over the node ids one task sees, in primitive arrays:
  * `slots` is an open-addressing table (linear probing, load ≤ 1/2)
  * holding dense index + 1 (0 = empty); `ids` and `parent` are indexed
  * by dense index. Union links the larger-id root under the smaller, so
  * every root is its set's minimum id. */
private final class LocalUnionFind {
  private var slots = new Array[Int](64)
  private var ids = new Array[Long](32)
  private var parent = new Array[Int](32)
  private var n = 0

  private def slotOf(id: Long): Int = {
    val mask = slots.length - 1
    val h = java.lang.Long.hashCode(id) * -0x61c88647 // golden-ratio mix
    var s = (h ^ (h >>> 16)) & mask
    while (slots(s) != 0 && ids(slots(s) - 1) != id) s = (s + 1) & mask
    s
  }

  private def index(id: Long): Int = {
    val s = slotOf(id)
    if (slots(s) != 0) slots(s) - 1
    else {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        parent = java.util.Arrays.copyOf(parent, 2 * n)
      }
      ids(n) = id
      parent(n) = n
      slots(s) = n + 1
      n += 1
      if (2 * n > slots.length) {
        slots = new Array[Int](2 * slots.length)
        var i = 0
        while (i < n) { slots(slotOf(ids(i))) = i + 1; i += 1 }
      }
      n - 1
    }
  }

  // path halving
  private def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
    i
  }

  def union(a: Long, b: Long): Unit = {
    val ia = index(a)
    val ib = index(b)
    val ra = find(ia)
    val rb = find(ib)
    if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
  }

  /** (root id, node id) for every node that is not its set's root. */
  def links: Iterator[(Long, Long)] =
    Iterator.range(0, n).map(i => (ids(find(i)), ids(i)))
      .filter { case (r, x) => r != x }
}
