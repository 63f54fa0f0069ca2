package graft

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.VectorOps

/** The fused Gram kernel ([[VectorOps.gram]]) against the builtin
  * composition it replaces, cell for cell: ties on the 1e-9 rounding
  * grid, ragged/null/empty vectors, sums past `Long`, and the ANSI
  * failure modes. All inputs are small in-memory frames. */
class GramKernelSpec extends SparkTestBase {

  /** The reference: two chained posexplodes, each term rounded to 1e-9
    * and cast to DECIMAL(28,9), an exact (i, j) sum cast to
    * DECIMAL(20,9). 0-based (i, j) → cell. */
  private def builtin(e: DataFrame): Map[(Int, Int), java.math.BigDecimal] =
    e.select(col("embedding").as("__v"),
        posexplode(col("embedding")).as(Seq("__i", "__xi")))
      .select(col("__i").as("i"), col("__xi"),
        posexplode(col("__v")).as(Seq("__j", "__xj")))
      .select(col("i"), col("__j").as("j"),
        round(col("__xi").cast("double") * col("__xj").cast("double"), 9)
          .cast("decimal(28,9)").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).cast("decimal(20,9)").as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap

  private def cells(m: Array[Array[java.math.BigDecimal]]) =
    (for (i <- m.indices; j <- m.indices) yield (i, j) -> m(i)(j)).toMap

  /** One embedding column of `elem` vectors; a null entry is a null row. */
  private def vectors(elem: DataType, rows: Seq[Seq[Any]],
      parts: Int = 2): DataFrame = {
    val schema = StructType(Seq(StructField("embedding", ArrayType(elem))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), parts), schema)
  }

  private def assertSame(e: DataFrame): Unit = {
    val want = builtin(e)
    val got = cells(VectorOps.gram(e))
    assert(got.keySet == want.keySet, s"cells ${got.keySet} vs ${want.keySet}")
    for ((k, v) <- want) assert(got(k) == v, s"cell $k: ${got(k)} vs $v")
  }

  /** The SQL error condition a failing action surfaced, wrapped or not. */
  private def condition(f: => Any): Option[String] =
    try { f; None } catch { case t: Throwable =>
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .collectFirst { case s: SparkThrowable if s.getCondition != null =>
          s.getCondition }
        .orElse(Some(t.getClass.getName))
    }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, saved)
  }

  test("random float vectors: kernel equals the builtin under 1, 3 and 7 partitions") {
    val rnd = new Random(17)
    val rows = Seq.fill(120)(Seq.fill(12)((rnd.nextGaussian() * 0.6).toFloat))
    val e = vectors(FloatType, rows)
    val want = builtin(e)
    assert(want.size == 144)
    for (p <- Seq(1, 3, 7))
      assert(cells(VectorOps.gram(e.repartition(p))) == want, s"$p partitions")
  }

  test("terms on and near the .5e-9 tie round HALF_UP as Spark's round does") {
    // doubles whose shortest rendering is an exact tie (x·1.0 = x), so
    // floor(|p|·1e9 + 0.5) alone would round 2.4999…96 down
    val ties = Seq(2.5e-9, -2.5e-9, 1.5e-9, 7.5e-9, -0.5e-9, 4.5e-9)
    assertSame(vectors(DoubleType, ties.map(t => Seq(t, 1.0, -1.0))))
    // float products within float precision of the tie
    val near = Seq(2.5e-9f, -3.5e-9f, 0.5f, 1.0e-9f, 5.0e-5f, -5.0e-5f)
    assertSame(vectors(FloatType,
      Seq(near, near.reverse, near.map(_ * 3), near.map(-_))))
  }

  test("ragged, null and empty vectors behave as the builtin, null cells included") {
    assertSame(vectors(FloatType, Seq(
      Seq(1f, 2f, 3f), Seq(4f, -5f), null, Seq(), Seq(null, 2f, 3f),
      Seq(7f))))
    // cell (0, 1) has only a null term: SQL NULL in both
    val e = vectors(FloatType, Seq(Seq(null, 2f), Seq(3f)))
    assertSame(e)
    assert(VectorOps.gram(e)(0)(1) == null)
    // no element at all: an empty matrix
    assert(VectorOps.gram(vectors(FloatType, Seq(null, Seq()))).isEmpty)
  }

  test("sums past Long and terms past Long stay exact (addExact guard)") {
    // 70000² = 4.9e9 → 4.9e18 units: two of them overflow a Long;
    // 1e5² = 1e10 → 1e19 units is past a Long on its own
    val rows = Seq(Seq(70000f, 1e5f, -0.25f), Seq(70000f, -1e5f, 3f),
      Seq(-70000f, 1e5f, 2.5e-9f), Seq(70000f, 1e5f, -1f))
    assertSame(vectors(FloatType, rows))
    assertSame(vectors(FloatType, rows, parts = 4).repartition(3))
  }

  test("non-finite terms and DECIMAL(20,9) overflow fail or null out as the builtin") {
    val nan = vectors(FloatType, Seq(Seq(1f, Float.NaN), Seq(2f, 3f)))
    val inf = vectors(FloatType, Seq(Seq(Float.PositiveInfinity, 1f)))
    // 4e5² = 1.6e11 > DECIMAL(20,9)'s 1e11
    val wide = vectors(FloatType, Seq(Seq(4e5f, 1f)))
    for (ansi <- Seq(true, false); e <- Seq(nan, inf, wide)) withAnsi(ansi) {
      val want = condition(builtin(e))
      assert(condition(VectorOps.gram(e)) == want, s"ansi=$ansi")
      if (want.isEmpty) assertSame(e)
    }
  }
}
