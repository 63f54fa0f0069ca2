package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic generator for the two fixture tables the benchmark's
  * workloads read, `documents` and `embeddings`, with the schemas and
  * value distributions of the query registry's text and vector fixtures.
  *
  * The dataset depends only on the scale factor: it is drawn from a
  * fixed generator seed, so the committed output fingerprints
  * (`fingerprints.json`) stay valid for every run. The benchmark's
  * `--seed` varies what the library is asked to do with it (query order,
  * micro-batch split, delete feed, probes), never the tables.
  *
  * Each table is written as one parquet file set with a single split,
  * like the fixture files, so every run starts from the same scan
  * parallelism.
  */
object DataGen {

  val Tables: Seq[String] = Seq("documents", "embeddings")

  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  /** Generator seed of each table. Fixed: the committed fingerprints
    * were recorded from the tables these seeds draw. */
  private val TableSeed = Map("documents" -> 50L, "embeddings" -> 51L)

  private def f(name: String, t: DataType) = StructField(name, t, nullable = false)

  /** Rows and schema of `table` at scale `sf`. */
  def rows(table: String, sf: Double): (StructType, Seq[Row]) = {
    val r = new scala.util.Random(TableSeed(table))
    def n(base: Double, min: Int = 1) = math.max(min, math.round(base * sf).toInt)
    table match {
      case "documents" =>
        val langs = Array("en", "en", "en", "en", "zh", "de", "fr", "es")
        val nDocs = n(50000, 100)
        val texts = new Array[String](nDocs)
        for (i <- 0 until nDocs) {
          // one document in twenty is a near-duplicate of an earlier one
          texts(i) =
            if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)).split(" dup")(0) + " dup"
            else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
        }
        (StructType(Seq(f("doc_id", LongType), f("text", StringType),
          f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
          (0 until nDocs).map(i => Row(i.toLong, texts(i), langs(r.nextInt(langs.length)),
            s"src${i % 20}", texts(i).length.toLong)))
      case "embeddings" =>
        (StructType(Seq(f("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
          f("label", IntegerType))),
          (0 until n(20000, 500)).map { i =>
            val v = Array.fill(64)(r.nextGaussian())
            val norm = math.sqrt(v.map(x => x * x).sum)
            Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
          })
    }
  }

  /** Write `tables` at scale `sf` under `dir` as `<table>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double, tables: Seq[String]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = tables.map { t =>
      Future {
        val (schema, rs) = rows(t, sf)
        spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    }
    writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }
}
