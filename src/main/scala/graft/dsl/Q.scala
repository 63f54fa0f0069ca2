package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Fluent operator-chain DSL — the reference's `DBOperator` chaining
  * surface (reference: src/operators/mod.rs:42-87) re-expressed as a thin,
  * zero-cost wrapper over DataFrame.
  *
  * Design rule: every method delegates to a *declarative* DataFrame op so
  * Catalyst sees the whole plan (pushdown, pruning, join planning, AQE all
  * apply). The wrapper adds nothing physical — `Q` is the lazy chain, and
  * like the reference nothing executes until a sink (`collect`, `write`).
  *
  * Reference quirks deliberately fixed (SURVEY §7.5):
  *  - `skip` here is a correct offset (reference skip.rs:30 truncates
  *    collect);
  *  - `sort` uses standard asc/desc (reference in_memory_sort.rs:58-62
  *    inverts ascending);
  *  - aggregation is true SQL GROUP BY, not adjacency-run fold
  *    (reference select.rs:90-123).
  */
final case class Q(df: DataFrame) {

  /** Row predicate — reference Filter (src/operators/linear/filter.rs:25-39). */
  def where(cond: Column): Q = Q(df.filter(cond))

  /** Projection / expression eval — reference Select builder `column`/`value`
    * (src/operators/linear/select.rs:209-269). */
  def select(cols: Column*): Q = Q(df.select(cols: _*))

  /** Positional column access, the reference's `builder.column(i)`
    * (select.rs:265-269): rows there are positional, not named. */
  def column(i: Int): Column = col(df.columns(i))

  /** Select-aggregate — reference auto-detected aggregation
    * (select.rs:78-207). Plain columns form the GROUP BY key; Sum/Count/
    * Max/Min builders become aggregates. Spark's hash aggregate (partial
    * map-side combine + shuffle on the key) supersedes the reference's
    * sorted-adjacency requirement and scales to any key cardinality.
    */
  def groupAgg(keys: Seq[Column], aggs: Seq[Column]): Q =
    if (keys.isEmpty) Q(df.agg(aggs.head, aggs.tail: _*))
    else Q(df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))

  /** countWhen — reference truthiness-aware conditional count
    * (select.rs:247-263), as SQL count-if. */
  def countWhen(cond: Column): Column =
    org.apache.spark.sql.functions.count(when(cond, 1))

  /** Limit — reference Take (src/operators/linear/take.rs). */
  def take(n: Int): Q = Q(df.limit(n))

  /** Correct offset — reference Skip (src/operators/linear/skip.rs), with
    * its emit-None-per-skipped-row bug fixed. Only meaningful after an
    * explicit sort (Spark output order is otherwise partition-dependent).
    */
  def skip(n: Int): Q = Q(df.offset(n))

  /** Hash equi-join, build side = right — reference HashMatch
    * (src/operators/joining/hash_match.rs:54-119). Small right sides are
    * broadcast (no shuffle at all); large ones shuffle-hash rather than
    * sort-merge, matching the reference's build+probe shape but spillable
    * and partitioned. AQE may still switch strategy at runtime — that is
    * the point.
    */
  def hashJoin(right: Q, cond: Column, joinType: String = "inner"): Q =
    Q(df.join(right.df.hint("shuffle_hash"), cond, joinType))

  /** Broadcast hash join for dimension-sized right sides. */
  def broadcastJoin(right: Q, cond: Column, joinType: String = "inner"): Q =
    Q(df.join(broadcast(right.df), cond, joinType))

  /** Nested-loop join — reference NestedLoop
    * (src/operators/joining/nested_loop.rs:28-70). For the equi-key form
    * Spark will (rightly) still pick a hash strategy; a genuinely
    * non-equi condition plans as BroadcastNestedLoopJoin, the distributed
    * equivalent of the reference's rescan-inner loop.
    */
  def loopJoin(right: Q, cond: Column, joinType: String = "inner"): Q =
    Q(df.join(right.df, cond, joinType))

  /** Sort — reference InMemorySort (src/operators/sorting/in_memory_sort.rs),
    * but distributed: range-partition + per-partition sort, spillable. */
  def sort(cols: Column*): Q = Q(df.orderBy(cols: _*))

  /** Bucket sort — reference roadmap "In-Memory Bucket Sort"
    * (README.md:97): explicit range-partition then sort within each
    * partition. Same physical shape orderBy plans, exposed for when the
    * caller wants partition-local ordering without a global guarantee
    * (e.g. writing sorted runs per output file).
    */
  def bucketSort(partitions: Int, cols: Column*): Q =
    Q(df.repartitionByRange(partitions, cols: _*).sortWithinPartitions(cols: _*))

  /** Sort-merge join — reference roadmap "Merge Join" (README.md:101):
    * force the merge strategy via hint (Spark's default for large
    * equi-joins; AQE may still switch, which is the adaptive-join row of
    * the same roadmap).
    */
  def mergeJoin(right: Q, cond: Column, joinType: String = "inner"): Q =
    Q(df.join(right.df.hint("merge"), cond, joinType))

  /** Salted equi-join for skewed keys: the probe (left) side scatters
    * each row to one of `saltFactor` sub-keys; the build (right) side is
    * replicated across all of them — the hot key's rows spread over
    * `saltFactor` shuffle partitions instead of one straggler task.
    * Result is identical to a plain inner equi-join (every left row
    * still meets every matching right row exactly once).
    *
    * AQE's skew-join split handles most cases automatically
    * (GraftSession enables it); explicit salting is for when the skew is
    * in an *aggregation* upstream or AQE's thresholds don't trigger.
    */
  def saltedJoin(right: Q, leftKey: Column, rightKey: Column,
      saltFactor: Int): Q = {
    val salted = df.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(saltFactor)).cast("int"))
    val replicated = right.df.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    Q(salted
      .join(replicated, salted("__salt") === replicated("__salt") &&
        leftKey === rightKey, "inner")
      .drop("__salt"))
  }

  /** As-of join — an operator neither the reference nor Spark has
    * natively: for each left row, attach the *latest* right row with the
    * same key whose `rightTime` ≤ the left row's `leftTime`.
    *
    * Not a range join (which would be quadratic per key): both sides
    * union into one stream, sort by (key, time) once, and a running
    * `last_value(..., ignoreNulls)` window carries the most recent right
    * payload forward into each left row. ONE shuffle (the window's
    * partition-by-key exchange), linear work — the composition that
    * survives 100 TB. Right rows at exactly `leftTime` match (≤).
    */
  def asofJoin(right: Q, keys: Seq[String], leftTime: String,
      rightTime: String, payload: Seq[String]): Q = {
    import org.apache.spark.sql.expressions.Window
    val l = df.withColumn("__t", col(leftTime)).withColumn("__isL", lit(1))
    val r = right.df.withColumn("__t", col(rightTime)).withColumn("__isL", lit(0))
    val unioned = l.unionByName(
      r.select((keys ++ payload).map(col) :+ col("__t") :+ col("__isL"): _*),
      allowMissingColumns = true)
    // right rows sort before left rows at equal times → "≤" semantics
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__isL").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(unioned) { (d, c) =>
      d.withColumn(c, last(when(col("__isL") === 0, col(c)), ignoreNulls = true).over(w))
    }
    Q(carried.filter(col("__isL") === 1).drop("__t", "__isL"))
  }

  /** As-of join, time-sliced — the hot-key-safe variant of [[asofJoin]].
    *
    * The plain form's per-key window serializes each key's entire
    * history into ONE task; at 100 TB a key holding 1% of the data is a
    * straggler. Here time is cut into slices of `sliceWidth` (same units
    * as the time columns) and the carry window partitions by
    * (key, slice) — parallelism becomes keys × slices. Crossing slice
    * boundaries costs one extra, tiny computation: per (key, slice) the
    * latest right payload (a map-side-combinable aggregate, one row per
    * key-slice), a per-key running window over those slice summaries
    * (rows = slices, not data rows), joined back and coalesced into the
    * rows whose slice had no earlier right row.
    *
    * Result is identical to [[asofJoin]] (CoreOpsSpec, including the
    * all-rows-one-key degenerate case); ties between right rows at the
    * same timestamp are arbitrary in both variants.
    */
  def asofJoinSliced(right: Q, keys: Seq[String], leftTime: String,
      rightTime: String, payload: Seq[String], sliceWidth: Long): Q = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    val l = df.withColumn("__t", col(leftTime)).withColumn("__isL", lit(1))
    val r = right.df.withColumn("__t", col(rightTime)).withColumn("__isL", lit(0))
    val unioned = l.unionByName(
      r.select((keys ++ payload).map(col) :+ col("__t") :+ col("__isL"): _*),
      allowMissingColumns = true)
      .withColumn("__slice", expr(s"__t div $sliceWidth"))
    val w1 = Window.partitionBy(keyCols :+ col("__slice"): _*)
      .orderBy(col("__t").asc, col("__isL").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(unioned) { (d, c) =>
      d.withColumn(c, last(when(col("__isL") === 0, col(c)), ignoreNulls = true).over(w1))
    }
    // per-(key, slice) summaries are COLUMN-WISE last-non-null (max_by
    // ignores rows whose ordering expr is null), matching asofJoin's
    // column-wise null-skipping carry — a row-wise latest-struct summary
    // would propagate nulls from the newest right row over older values
    val rSlices = r
      .withColumn("__slice", expr(s"__t div $sliceWidth"))
      .groupBy(keyCols :+ col("__slice"): _*)
      .agg(
        max_by(col(payload.head), when(col(payload.head).isNotNull, col("__t")))
          .as(s"__p_${payload.head}"),
        payload.tail.map(c =>
          max_by(col(c), when(col(c).isNotNull, col("__t"))).as(s"__p_$c")): _*)
    val spine = unioned.select(keyCols :+ col("__slice"): _*).distinct()
      .join(rSlices, keys :+ "__slice", "left")
    val wp = Window.partitionBy(keyCols: _*).orderBy(col("__slice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = payload.foldLeft(spine) { (d, c) =>
        d.withColumn(s"__prior_$c", last(col(s"__p_$c"), ignoreNulls = true).over(wp))
      }
      .select(keyCols ++ Seq(col("__slice")) ++
        payload.map(c => col(s"__prior_$c")): _*)
    val fixed = carried.join(prior, keys :+ "__slice", "left")
    val coalesced = payload.foldLeft(fixed) { (d, c) =>
      d.withColumn(c, coalesce(col(c), col(s"__prior_$c")))
    }
    Q(coalesced.filter(col("__isL") === 1)
      .select((df.columns ++ payload).toIndexedSeq.map(col): _*)) // asofJoin's column order
  }

  /** Roadmap ops the reference declares but never built
    * (reference README.md:82,94): free in Spark. */
  def concat(other: Q): Q = Q(df.unionByName(other.df))
  def distinct: Q = Q(df.distinct())

  /** Typed output — reference Deserialize (src/operators/deserializing.rs)
    * ≡ Dataset[T]. Extra-trailing-column tolerance
    * (object_deserializer.rs:229-253) is matched by selecting the case
    * class's fields before `as`.
    */
  def as[T <: Product: Encoder]: Dataset[T] = {
    val enc = implicitly[Encoder[T]]
    val wanted = enc.schema.fieldNames
    df.select(wanted.map(col).toIndexedSeq: _*).as[T]
  }

  /** Positional typed output — the reference deserializer's by-INDEX
    * binding (object_deserializer.rs:229-253): case-class field i binds
    * to column i regardless of name; extra TRAILING columns are
    * tolerated; fewer columns than fields errors (the reference's
    * missing-field serde error). Type mismatches surface as the usual
    * encoder AnalysisException — no silent casts. [[as]] (by-name) is
    * the better semantic for evolving schemas; this closes the last
    * deserializer fidelity gap.
    */
  def asPositional[T <: Product: Encoder]: Dataset[T] = {
    val enc = implicitly[Encoder[T]]
    val want = enc.schema.fields
    require(df.columns.length >= want.length,
      s"positional deserialize needs ${want.length} columns, got ${df.columns.length} " +
        s"(${df.columns.mkString(", ")})")
    // rename ALL columns to synthetic unique names first: binding must be
    // truly positional — duplicate or dotted source names (post-join
    // frames) would break a name-based col() lookup
    val synthetic = df.toDF(df.columns.indices.map(i => s"__pos$i"): _*)
    synthetic.select(want.zipWithIndex.toIndexedSeq.map { case (f, i) =>
      col(s"__pos$i").as(f.name)
    }: _*).as[T]
  }

  def collect(): Array[org.apache.spark.sql.Row] = df.collect()
  def count(): Long = df.count()

  /** Cardinality/size estimate — the reference's `size_hint`/`cost_hint`
    * plumbing (src/operators/mod.rs:29-40, used for preallocation and the
    * planned adaptive join) ≡ Catalyst statistics; AQE refines them with
    * runtime exchange metrics.
    */
  def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
    df.queryExecution.optimizedPlan.stats
}

object Q {
  def apply(catalog: graft.catalog.Catalog, table: String): Q =
    Q(catalog.table(table))
}
