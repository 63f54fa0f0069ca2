package graft

import org.apache.spark.sql.DataFrame

import graft.ops.GraphOps

/** [[graft.ops.GraphOps.connectedComponents]]: the exact one-partition
  * exit, the multi-partition star rounds behind it (with AQE coalescing
  * off, so the witness loop itself is what converges), its `maxRounds`
  * raise, its job budget and the [[graft.ops.GraphOps.contract]] step
  * on its own. Every result is compared with a driver-side union-find.
  */
class GraphOpsStarSpec extends SparkTestBase {

  import spark.implicits._

  /** node → component minimum over every endpoint of `edges`. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def components(df: DataFrame, maxRounds: Int = 50): Map[Long, Long] =
    GraphOps.connectedComponents(df, maxRounds = maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val nNodes = 30 + rnd.nextInt(60)
    // self-loops kept: a loop-only node is its own singleton component
    Seq.fill(20 + rnd.nextInt(80))(
      (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
  }

  /** A path whose node ids are a random permutation, so id order says
    * nothing about path order (the shape that needs the most rounds). */
  private def shuffledChain(n: Int, seed: Int): Seq[(Long, Long)] = {
    val ids = new scala.util.Random(seed).shuffle((0L until n.toLong).toVector)
    ids.zip(ids.tail)
  }

  /** Every shape on its own id range, so one graph (one call) covers
    * them all: two random graphs with self-loops, a shuffled 200-node
    * chain, two 8-cliques joined by a bridge, and loop-only nodes. */
  private val graph: Seq[(Long, Long)] = {
    def shift(es: Seq[(Long, Long)], by: Long) = es.map { case (a, b) => (a + by, b + by) }
    val cliques = (for {
      base <- Seq(0L, 100L); a <- 0L until 8L; b <- a + 1 until 8L
    } yield (base + a, base + b)) :+ ((7L, 100L))
    shift(randomGraph(1), 1000) ++ shift(randomGraph(2), 2000) ++
      shift(shuffledChain(200, 7), 3000) ++ shift(cliques, 4000) ++
      Seq((5000L, 5000L), (5001L, 5001L))
  }

  /** Checks the components of `edges` over `parts` partitions against
    * union-find; returns how many persisted RDDs the call left behind
    * (counted while its result is still reachable). */
  private def check(edges: Seq[(Long, Long)], parts: Int): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = GraphOps.connectedComponents(
      edges.toDF("a_id", "b_id").repartition(parts))
    val held = (sc.getPersistentRDDs.keySet -- before).size
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == unionFind(edges),
      s"${edges.size} edges over $parts partition(s)")
    held
  }

  test("star path equals union-find over 1, 3 and 7 input partitions (self-loops and empty edge sets included)") {
    for (parts <- Seq(1, 3, 7)) check(graph, parts)
    for (parts <- Seq(1, 7)) check(Seq.empty, parts)
  }

  test("without AQE coalescing the multi-partition witness loop equals union-find, releases superseded rounds, and maxRounds raises") {
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      // no round at all (empty) and several: superseded rounds are
      // released, so each call leaves only the pair barrier and the
      // final edge set behind
      val held = Seq(check(Seq.empty, 7), check(graph, 7))
      assert(held == Seq(2, 2), held.toString)
      // spread over 7 partitions, each task contracts only scattered
      // fragments of the chain, and no round output is ever one
      // partition: the fixpoint needs at least two rounds to confirm
      val df = graph.toDF("a_id", "b_id").repartition(7)
      val ex = intercept[IllegalStateException](components(df, maxRounds = 1))
      assert(ex.getMessage.contains("did not converge"), ex.getMessage)
    }
  }

  test("one-partition 300-node chain: connectedComponents plus collect runs at most 10 jobs") {
    val chain = (0L until 299L).map(i => (i, i + 1))
    val df = chain.toDF("a_id", "b_id").repartition(1)
    val (got, jobs) = jobsOf(components(df))
    assert(got.size == 300 && got.values.forall(_ == 0L))
    assert(jobs <= 10, s"$jobs jobs for a graph one task holds")
  }

  test("contract never emits a self-loop or a row with lo >= hi, and keeps every component") {
    for (seed <- 1 to 6; parts <- Seq(1, 4)) {
      // raw endpoints in either order, self-loops and duplicates kept
      val edges = randomGraph(seed) ++ randomGraph(seed).take(5).map(_.swap)
      val out = GraphOps.contract(
          edges.toDF("lo", "hi").repartition(parts))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(out.forall { case (lo, hi) => lo < hi },
        s"seed=$seed parts=$parts: ${out.filter { case (lo, hi) => lo >= hi }}")
      val nonLoop = edges.filter { case (a, b) => a != b }
      assert(unionFind(out) == unionFind(nonLoop), s"seed=$seed parts=$parts")
    }
  }
}
