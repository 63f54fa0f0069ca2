package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, StringType}

import graft.catalog.Catalog

/** The schema cache behind [[Catalog.readParquet]]: a table's schema is
  * reused only while its file listing and the inference confs are
  * unchanged, whoever wrote the files. */
class CatalogSchemaSpec extends SparkTestBase {

  import spark.implicits._

  private def tempCatalog(): Catalog =
    Catalog(spark, Files.createTempDirectory("graft-schema").toString)

  test("a table rewritten in place with a new schema is read with the new schema") {
    val cat = tempCatalog()
    Seq(1L, 2L).toDF("a").write.parquet(cat.path("t"))
    assert(cat.table("t").schema.fieldNames.toSeq == Seq("a"))
    Seq(("x", 3L)).toDF("a", "b").write.mode("overwrite").parquet(cat.path("t"))
    val t = cat.table("t")
    assert(t.schema.map(f => f.name -> f.dataType) ==
      Seq("a" -> StringType, "b" -> LongType))
    assert(t.as[(String, Long)].collect().toSeq == Seq(("x", 3L)))
  }

  test("a table appended outside Catalog is read with the schema its new files imply") {
    val cat = tempCatalog()
    Seq((1L, 1), (2L, 2)).toDF("v", "p").write.partitionBy("p").parquet(cat.path("t"))
    assert(cat.table("t").schema("p").dataType != StringType)
    // a partition value that only a string column can hold
    Seq(3L).toDF("v").write.parquet(cat.path("t") + "/p=late")
    val t = cat.table("t")
    assert(t.schema("p").dataType == StringType)
    assert(t.select("p").as[String].collect().toSet == Set("1", "2", "late"))
  }

  test("a missing table raises the same error as a plain parquet read") {
    val cat = tempCatalog()
    val plain = intercept[AnalysisException](spark.read.parquet(cat.path("nope")))
    val viaCatalog = intercept[AnalysisException](cat.table("nope"))
    assert(viaCatalog.getCondition == plain.getCondition)
    assert(viaCatalog.getMessage == plain.getMessage)
  }

  test("opening an unchanged table again runs no Spark job, also after a Catalog append") {
    val jobs = new AtomicInteger()
    val markers = new AtomicInteger()
    val group = "catalog-schema-marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          markers.incrementAndGet()
        else jobs.incrementAndGet()
    }
    // the listener bus is ordered: once a marker job is seen, every job
    // started before it has been counted
    def settled(): Int = {
      val want = markers.get() + 1
      spark.sparkContext.setJobGroup(group, "marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (markers.get() < want && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers.get() >= want, "marker job never reached the listener")
      jobs.get()
    }
    val fixture = Catalog(spark, sf)
    val cat = tempCatalog()
    cat.createNew("log", Seq((1L, "a")).toDF("id", "s").schema)
    spark.sparkContext.addSparkListener(listener)
    try {
      fixture.table("region"); cat.table("log")
      val before = settled()
      assert(fixture.table("region").schema.nonEmpty)
      assert(cat.schema("log").fieldNames.toSeq == Seq("id", "s"))
      assert(settled() == before, "a cached open ran a Spark job")
      cat.append("log", Seq((2L, "b")).toDF("id", "s"))
      val written = settled()
      assert(cat.table("log").schema.fieldNames.toSeq == Seq("id", "s"))
      assert(settled() == written, "an open after a Catalog append ran a Spark job")
      assert(cat.table("log").count() == 1L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
