package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve column builders — multi-dimensional data
  * skipping for range predicates, the layout-level complement to
  * partition pruning (one dimension, categorical) and bucketing (join
  * co-location): rows clustered by interleaved bit order of several
  * numeric dimensions land in files whose per-column min/max footers
  * are TIGHT in every dimension at once, so a box predicate (x in
  * [a,b] AND y in [c,d]) lets the parquet reader skip whole row groups
  * on BOTH columns. A single-column sort only ever skips on that
  * column; at 100 TB the difference is scanning a tile instead of a
  * stripe. (The technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`;
  * Morton 1966.)
  *
  * Everything here is pure built-in Column arithmetic (shifts, masks,
  * ors) — codegen'd, no UDFs, no custom expressions.
  */
object ZOrder {

  /** Bits of interleaved precision per dimension (16 ⇒ a 32-bit z-value
    * for 2 dimensions — 65k cells per axis, far finer than any file
    * count a table produces). */
  val BitsPerDim = 16

  /** Per-dimension bits for an n-ary interleave: the z-value must stay
    * inside a non-negative signed 64-bit long, so precision tapers as
    * dimensions grow (16/16 for 2 dims, 16 for 3, 15 for 4, 12 for 5 —
    * still 4k cells per axis, far finer than any file count). */
  def bitsFor(nDims: Int): Int = math.min(BitsPerDim, 62 / nDims)

  /** Scale a numeric column to an integer cell id in [0, 2^bits) given
    * its global [min, max]. Linear scaling — adequate for roughly
    * uniform dimensions; skewed dimensions should use
    * [[cellByBoundaries]] (quantile cells) instead — the interleave does
    * not care what the cell ids mean. NULL maps to cell 0 (sorts first,
    * like NULLS FIRST). */
  def cellBits(c: Column, min: Double, max: Double,
      bits: Int = BitsPerDim): Column = {
    val span = if (max > min) max - min else 1.0
    val scaled = floor((coalesce(c.cast("double"), lit(min)) - lit(min))
      / lit(span) * lit((1 << bits) - 1))
    greatest(lit(0L), least(lit(((1 << bits) - 1).toLong), scaled.cast("long")))
  }

  /** Rank-based cell id for SKEWED dimensions: cell = how many of the
    * (sorted, ascending) quantile `boundaries` the value has passed, so
    * cells hold near-equal row counts no matter how lopsided the value
    * distribution is (a linear [[cellBits]] mapping would dump a
    * heavy-tailed column's mass into a handful of cells and the z-curve
    * would stop skipping on that dimension). The boundaries come from
    * one metadata-scale `approxQuantile` pass at write time
    * ([[graft.catalog.Catalog.writeZOrderedN]]); the mapping itself is a
    * codegen'd size-of-filtered-literal-array — O(|boundaries|) per row,
    * so boundary counts stay modest (≤ 255 ⇒ 8-bit cells; plenty: file
    * pruning granularity, not value precision, is what matters). NULL
    * maps to cell 0. */
  def cellByBoundaries(c: Column, boundaries: Seq[Double]): Column =
    coalesce(
      size(filter(lit(boundaries.toArray),
        b => c.cast("double") >= b)).cast("long"),
      lit(0L))

  /** Interleave the low `bits` bits of `d` cell-id columns: bit i of
    * dimension k lands at position i·d + (d-1-k) — dimension 0 takes
    * the most-significant slot of each group, matching [[interleave2]].
    * d·bits shift/mask/or terms — constant-folded by Catalyst where
    * possible, whole-stage codegen'd otherwise. */
  def interleaveN(cells: Seq[Column], bits: Int = BitsPerDim): Column = {
    val d = cells.size
    require(d >= 1 && d * bits <= 62,
      s"z-value overflow: $d dims x $bits bits > 62 (use bitsFor)")
    (0 until bits).flatMap { i =>
      cells.zipWithIndex.map { case (c, k) =>
        shiftleft(c.bitwiseAND(lit(1L << i)), i * (d - 1) + (d - 1 - k))
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Interleave the low 16 bits of two cell-id columns: bit i of `u`
    * lands at position 2i+1, bit i of `v` at 2i. */
  def interleave2(u: Column, v: Column): Column =
    interleaveN(Seq(u, v), BitsPerDim)
}
