package graft

/** Property-style check of distributed connected components: over
  * randomized graphs (seeded, reproducible),
  * [[graft.ops.GraphOps.connectedComponents]] must produce exactly the
  * components of a trivially-correct in-memory union-find. Graph shapes
  * are drawn to stress the contraction: sparse edges over a node range
  * produce long path fragments, dense ranges produce near-cliques (wide
  * fan-in).
  */
class GraphOpsPropertySpec extends SparkTestBase {

  import spark.implicits._

  private final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    /** min node id of x's component (parents always point to smaller
      * ids, so the root IS the minimum). */
    def canonical(x: Int): Int = find(x)
  }

  test("connectedComponents matches brute-force union-find on randomized graphs") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 30 + rnd.nextInt(40)
      val nEdges = 10 + rnd.nextInt(50)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      val uf = new UnionFind(nNodes)
      edges.foreach { case (a, b) => uf.union(a.toInt, b.toInt) }
      val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(n => n -> uf.canonical(n.toInt).toLong).toMap

      val got = graft.ops.GraphOps
        .connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed nodes=$nNodes edges=$nEdges")
    }
  }

  // The name keeps the algorithm's former name, connectedComponentsStar:
  // the star contraction is what connectedComponents runs now.
  test("connectedComponentsStar matches union-find on randomized graphs (self-loops included)") {
    for (seed <- 11 to 16) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 30 + rnd.nextInt(40)
      val nEdges = 10 + rnd.nextInt(50)
      // keep self-loops: singleton components must surface as themselves
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      val uf = new UnionFind(nNodes)
      edges.foreach { case (a, b) => uf.union(a.toInt, b.toInt) }
      val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(n => n -> uf.canonical(n.toInt).toLong).toMap

      val got = graft.ops.GraphOps
        .connectedComponents(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed nodes=$nNodes edges=$nEdges")
    }
  }

  test("star contraction converges on a long path in O(log n) rounds") {
    // 300-node chain: diameter 299. Spread over 4 partitions with AQE
    // coalescing off, the one-task exit never fires and the star rounds
    // must converge: they are diameter-independent, so 12 rounds ≪ 299.
    val chain = (0L until 299L).map(i => (i, i + 1))
    val df = chain.toDF("a_id", "b_id").repartition(4)
    val labels = withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      graft.ops.GraphOps.connectedComponents(df, maxRounds = 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    assert(labels.length == 300 && labels.forall(_._2 == 0L))
  }
}
