package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

/** Custom Catalyst kernels against the builtin compositions they
  * replace, over the first 500 sf0.1 documents and all 2,000 sf0.1
  * embeddings (the builtin MinHash and SimHash forms take seconds per
  * thousand documents). Each side is fingerprinted, so a kernel that
  * stops agreeing with its builtin twin is a failed op, not a fast one. */
object Kernels {
  private val Docs = 500

  def cases(spark: SparkSession): Seq[(String, DataFrame, Column, Column)] = {
    val (ds, dr) = DataGen.rows("documents", 0.1)
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(dr.take(Docs), 4), ds)
    val (es, er) = DataGen.rows("embeddings", 0.1)
    val n = er.size
    val pairs = er.indices.map(i => Row(er(i).get(1), er((i + 1) % n).get(1)))
    val pairSchema = StructType(Seq("a", "b").map(StructField(_, es("embedding").dataType)))
    val vecPairs = spark.createDataFrame(spark.sparkContext.parallelize(pairs, 4), pairSchema)
    val words = TF.words(col("text"))
    Seq(
      ("minhash_sigs", docs, TF.minhashSigsFast(words, 3, 8),
        array((0 until 8).map(i => TF.minhash(TF.shingles(col("text"), 3), i)): _*)),
      ("simhash", docs, TF.simhashFast(col("text")), TF.simhash(col("text"))),
      ("hash60_all", docs, TF.hash60AllFast(words, "p|"), transform(words, w => TF.hash60(w, "p|"))),
      ("cosine", vecPairs, VF.cosineFast(col("a"), col("b")), VF.cosine(col("a"), col("b"))))
  }

  /** Median of `reps` timed evaluations of `c` over `df`, plus its fingerprint. */
  def time(df: DataFrame, c: Column, reps: Int = 3): (Double, Fingerprint) = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val fp = Fingerprint.of(df.select(c.as("v")).queryExecution)
      ((System.nanoTime() - t0) / 1e9, fp)
    }
    (runs.map(_._1).sorted.apply(reps / 2), runs.head._2)
  }

  /** Time every kernel and its builtin twin as ops of `run`; returns
    * `functions.<kernel>_s` and `functions.<kernel>_builtin_s`. */
  def bench(run: Run): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((name, df, fast, builtin) <- cases(run.spark)) {
      time(df, fast, 1); time(df, builtin, 1) // compile both before timing
      run.op("kernel", name) { s =>
        val (tf, ff) = s.phase("exec")(time(df, fast))
        val (tb, fb) = s.phase("exec_builtin")(time(df, builtin))
        out(s"functions.${name}_s") = tf
        out(s"functions.${name}_builtin_s") = tb
        require(ff == fb, s"kernel $name ${ff.show} differs from its builtin form ${fb.show}")
        None
      }
    }
    out.toMap
  }
}
