package graft

import java.nio.file.Files

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
    val fixture = Catalog(spark, sf)
    val cat = tempCatalog()
    cat.createNew("log", Seq((1L, "a")).toDF("id", "s").schema)
    fixture.table("region"); cat.table("log")
    val (_, cachedOpens) = jobsOf {
      assert(fixture.table("region").schema.nonEmpty)
      assert(cat.schema("log").fieldNames.toSeq == Seq("id", "s"))
    }
    assert(cachedOpens == 0, "a cached open ran a Spark job")
    cat.append("log", Seq((2L, "b")).toDF("id", "s"))
    val (_, opensAfterAppend) = jobsOf(
      assert(cat.table("log").schema.fieldNames.toSeq == Seq("id", "s")))
    assert(opensAfterAppend == 0, "an open after a Catalog append ran a Spark job")
    assert(cat.table("log").count() == 1L)
  }
}
