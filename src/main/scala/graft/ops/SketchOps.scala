package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Bounded-state frequency sketching — the mergeable-summary tier of
  * the corpus-analytics stack (WIMBD-style "what's in my big data"
  * token audits run exactly this shape at web scale).
  *
  * The exact heavy-hitter pipeline here is the classic two-pass form:
  * a per-partition Misra–Gries summary (capacity `k`, O(k) state per
  * task regardless of input size) proposes a candidate set that
  * PROVABLY contains every item with true count > N/(k+1) — by
  * pigeonhole some partition holds more than its share n_p/(k+1) of a
  * global heavy hitter, and MG's undercount bound (≤ n_p/(k+1))
  * guarantees a positive residual there — then a broadcast-pruned
  * exact recount replaces the sketch estimates with true counts and an
  * INTEGER threshold comparison (cnt·(k+1) > N, no float boundary)
  * emits exactly the true heavy hitters. The result is therefore
  * partition-order and partition-count INVARIANT even though each MG
  * summary individually is not.
  */
object SketchOps {

  /** Per-partition Misra–Gries: ≤ `k` (item, residual) rows out,
    * residual undercounts the partition-local true count by at most
    * n_p/(k+1). Package-visible for the property spec. */
  private[graft] def mgSummary(k: Int)(
      it: Iterator[String]): Iterator[(String, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val w = it.next()
      m.get(w) match {
        case Some(c) => m.update(w, c + 1)
        case None if m.size < k => m.update(w, 1L)
        case None =>
          // decrement-all step: k+1 distinct items each lose one count
          val dead = List.newBuilder[String]
          m.foreach { case (key, c) =>
            if (c == 1L) dead += key else m.update(key, c - 1)
          }
          dead.result().foreach(m.remove)
      }
    }
    m.iterator.map { case (w, c) => (w, c) }
  }

  /** EXACT heavy hitters of `valueCol` in `rows`: every value whose
    * count satisfies cnt·(k+1) > N (strictly more than an N/(k+1)
    * share), with its exact count and 6-decimal corpus fraction.
    *
    * 100 TB shape: pass 1 is map-only (O(k) task state) into a
    * summary union of ≤ k·partitions rows — never a corpus-sized
    * shuffle; the candidate set (≤ k·partitions values) broadcasts
    * back and PRUNES pass 2's recount shuffle to candidate-matched
    * rows only, so the one groupBy moves a candidates-grain volume,
    * not the corpus' value-grain. The 1-row total-count frame rides a
    * broadcast (allowlisted scalar BNLJ, the x85 shape). Contrast with
    * the naive `groupBy(value).count.filter`: that shuffles the FULL
    * value-grain — at heavy skew exactly the grain AQE has to split —
    * to keep mostly rows the filter then discards. */
  def heavyHitters(rows: DataFrame, valueCol: String,
      k: Int = 64): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val vals = rows.select(col(valueCol).cast("string").as("v"))
      .transform(graft.engine.Barrier.sharedGrain)
    val ds: Dataset[String] = vals.as[String]
    // EAGER barrier on the candidate set (≤ k·partitions rows): its job
    // populates the vals cache race-free, so the total count and the
    // recount join read the warm columnar cache instead of racing the
    // cold one and re-running the upstream explode per consumer (the
    // r18 shared-materialization shape).
    val cand = graft.engine.Barrier.lineageBarrier(
      ds.mapPartitions(mgSummary(k))
        .toDF("v", "residual")
        .select(col("v")).distinct())
    val total = vals.groupBy().agg(count(lit(1)).as("n_total"))
    vals.join(broadcast(cand), Seq("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * (k + 1) > col("n_total"))
      .select(col("v").as(valueCol), col("cnt"),
        round(col("cnt").cast("double") /
          col("n_total").cast("double"), 6).as("frac"))
  }

  /** Count-Min sketch of `valueCol` (Cormode & Muthukrishnan,
    * J. Algorithms 2005): `depth` independent hash rows × `width`
    * buckets of exact counts — the OTHER bounded-state frequency tier
    * next to [[heavyHitters]]' Misra–Gries (MG answers "which values
    * are heavy"; CM answers point queries "how often did THIS value
    * occur" for any value, within +N/width, never under). With the
    * seeds fixed, the sketch is a pure function of the value multiset:
    * deterministic, partitioning-invariant, and replayable by any
    * engine — so CM estimates are hash-checkable, not just
    * bound-checkable. The bucket aggregate is ALGEBRAIC (bucketwise
    * sums), so the same op runs unchanged over a stream in Complete
    * mode (the x77 shardManifest property): d·w rows of state keep the
    * sketch current at ingest.
    *
    * 100 TB shape: one map-side explode (d rows per value) into a
    * groupBy whose key space is d·w — bounded regardless of corpus or
    * vocabulary size, with map-side partial combine absorbing all
    * skew; this is precisely the regime where exact value-grain counts
    * stop fitting and CM is the production answer. Output:
    * (row, bucket, cnt, width) — width rides every row as SELF-
    * DESCRIBING metadata, so a probe ([[cmEstimate]]) derives the
    * sketch's true geometry instead of trusting caller-supplied
    * parameters (a probe hashed with a different width lands in the
    * wrong buckets, misses the join, and min() returns a silent
    * UNDERCOUNT — the one failure mode CM promises can't happen).
    * Mergers must carry width through (e.g. `first`/`min` in the
    * bucketwise-sum groupBy). */
  def cmSketch(rows: DataFrame, valueCol: String, depth: Int = 4,
      width: Int = 64): DataFrame = {
    val TF = graft.functions.TextFunctions
    rows.select(explode(array((0 until depth).map(i => struct(
        lit(i.toLong).as("row"),
        pmod(TF.hash60(col(valueCol).cast("string"), s"cm$i|"),
          lit(width.toLong)).as("bucket"))): _*)).as("h"))
      .groupBy(col("h.row").as("row"), col("h.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("width", lit(width.toLong))
  }

  /** Point-query estimates from a [[cmSketch]]: for each distinct
    * value in `items`, est = min over the sketch's rows of its bucket
    * count — ≥ the true count always (every occurrence landed in all
    * of its buckets), ≤ true + N/width in expectation per row. Items
    * absent from the sketched multiset still get their (collision-
    * driven) estimate via the left join's zero fill.
    *
    * Geometry (depth, width) is DERIVED from the sketch frame itself
    * — depth as max(row)+1 (every sketched value populates all rows),
    * width from the metadata column every sketch row carries — and a
    * mixed-width frame fails fast, so a probe can never hash against
    * the wrong grid (which would silently undercount). One bounded
    * action: the sketch is ≤ d·w rows by construction. Output:
    * (value, est). */
  def cmEstimate(sketch: DataFrame, items: DataFrame,
      valueCol: String): DataFrame = {
    val TF = graft.functions.TextFunctions
    val meta = sketch.groupBy(col("row"))
      .agg(sum(col("cnt")).as("tot"),
        min(col("width")).as("w1"), max(col("width")).as("w2"))
      .agg(max(col("row")).as("maxrow"),
        min(col("w1")).as("wmin"), max(col("w2")).as("wmax"),
        min(col("tot")).as("tmin"), max(col("tot")).as("tmax")).head()
    require(!meta.isNullAt(0), "cmEstimate: empty sketch frame")
    require(meta.getLong(1) == meta.getLong(2),
      s"cmEstimate: inconsistent widths in sketch frame " +
        s"(${meta.getLong(1)} vs ${meta.getLong(2)}) — merged sketches " +
        "must share one geometry")
    // mixed-DEPTH merges pass the width check but leave the extra rows
    // holding only one sketch's mass — min() over them silently
    // undercounts. Every sketched value lands once in EVERY row, so a
    // well-formed (or well-merged) sketch has identical per-row total
    // mass; unequal row totals mean the merged frames disagreed on depth.
    require(meta.getLong(3) == meta.getLong(4),
      s"cmEstimate: unequal per-row totals in sketch frame " +
        s"(${meta.getLong(3)} vs ${meta.getLong(4)}) — merged sketches " +
        "must share one depth")
    val depth = meta.getLong(0).toInt + 1
    val width = meta.getLong(1)
    items.select(col(valueCol).cast("string").as("v")).distinct()
      .select(col("v"), explode(array((0 until depth).map(i => struct(
        lit(i.toLong).as("row"),
        pmod(TF.hash60(col("v"), s"cm$i|"),
          lit(width)).as("bucket"))): _*)).as("h"))
      .select(col("v"), col("h.row").as("row"), col("h.bucket").as("bucket"))
      .join(sketch.select("row", "bucket", "cnt"), Seq("row", "bucket"),
        "left")
      .groupBy(col("v"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .select(col("v").as(valueCol), col("est"))
  }
}
