package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructType}

import graft.catalog.Catalog
import graft.multimodal.MediaPipeline

/** Multimodal plumbing: schema, batch shape, partition preservation, and
  * determinism of the (stubbed) decode over real fixture rows.
  */
class MediaPipelineSpec extends SparkTestBase {

  private lazy val docs = Catalog(spark, sf).table("documents").limit(50)

  test("withPayload attaches a 16-byte binary column") {
    val df = MediaPipeline.withPayload(docs, "text")
    assert(df.schema("media").dataType == BinaryType)
    val lens = df.select(length(col("media"))).distinct().collect().map(_.getInt(0))
    assert(lens.toSeq == Seq(16))
  }

  test("extractMeta appends the media_meta struct, deterministic, no shuffle") {
    val withM = MediaPipeline.withPayload(docs, "text").repartition(4)
    val out = MediaPipeline.extractMeta(withM)
    assert(out.schema("media_meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("format", "width", "height", "nFrames"))
    // narrow transform: partition count preserved
    assert(out.rdd.getNumPartitions == 4)
    // deterministic: two runs agree
    val a = out.select(col("doc_id"), col("media_meta.width")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = out.select(col("doc_id"), col("media_meta.width")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b && a.values.forall(w => w >= 256 && w < 256 + 1024))
    // matches a driver-side decode of the same payload
    val row = withM.select(col("doc_id"), col("media")).limit(1).collect().head
    val local = MediaPipeline.decodeStub(row.getAs[Array[Byte]](1))
    val dist = out.filter(col("doc_id") === row.getLong(0))
      .select("media_meta.*").collect().head
    assert(dist.getString(0) == local.format && dist.getInt(1) == local.width &&
      dist.getInt(2) == local.height && dist.getInt(3) == local.nFrames)
  }

  test("binary payload table persists through Catalog (createNew + append) byte-identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media").toString
    val cat = Catalog(spark, dir)
    val withBin = MediaPipeline.withPayload(docs.select("doc_id", "text"), "text")
      .select(col("doc_id"), col("media"))
    try {
      cat.createNew("media_store", withBin.schema)
      cat.append("media_store", withBin)
      val back = cat.table("media_store")
      assert(back.schema("media").dataType == BinaryType)
      def bytesById(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      assert(bytesById(back) == bytesById(withBin)) // byte round-trip
      // the decode path runs identically over the PERSISTED binary column
      val metaBack = MediaPipeline.extractMeta(back)
        .select(col("doc_id"), col("media_meta.width"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val metaDirect = MediaPipeline.extractMeta(withBin)
        .select(col("doc_id"), col("media_meta.width"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(metaBack == metaDirect)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("sampleFrames strides frames") {
    val withM = MediaPipeline.withPayload(docs, "text")
    val framed = MediaPipeline.sampleFrames(withM, frameBytes = 4, stride = 2)
    val n = framed.select(size(col("frames"))).distinct().collect().map(_.getInt(0))
    // 16 bytes / 4 = 4 frames (indices 0..3), stride 2 keeps 0 and 2
    assert(n.toSeq == Seq(2))
    val flens = framed.select(explode(col("frames")).as("f"))
      .select(length(col("f"))).distinct().collect().map(_.getInt(0))
    assert(flens.toSeq == Seq(4))
  }

  test("sampleFrames: empty payload yields an empty frames array, not a ghost frame") {
    import spark.implicits._
    val df = Seq((1L, Array.emptyByteArray), (2L, "abcdefgh".getBytes))
      .toDF("id", "media")
    val out = MediaPipeline.sampleFrames(df, frameBytes = 4, stride = 1)
      .select(col("id"), size(col("frames")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 2), out.toString)
  }

  test("decodeMeta REAL path: PNG and JPEG payloads decode to exact pixel dimensions") {
    // PNG: synthesize → decode round-trips the true dimensions
    val png = MediaPipeline.encodePng(37, 21, seed = 7L)
    val mPng = MediaPipeline.decodeMeta(png)
    assert(mPng == MediaPipeline.MediaMeta("png", 37, 21, 1), mPng)
    // JPEG via the JDK's own encoder (lossy pixels, exact dimensions)
    val img = new java.awt.image.BufferedImage(19, 43,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val mJpg = MediaPipeline.decodeMeta(bos.toByteArray)
    assert(mJpg == MediaPipeline.MediaMeta("jpeg", 19, 43, 1), mJpg)
  }

  test("decodeMeta FALLBACK path: non-image and corrupt-magic payloads equal the deterministic stub") {
    // md5-derived payloads (the x44 fixture class) carry no image magic
    val md5ish = Array.tabulate[Byte](16)(i => (i * 37 + 5).toByte)
    assert(MediaPipeline.decodeMeta(md5ish) == MediaPipeline.decodeStub(md5ish))
    // a payload WITH the PNG magic but garbage after it: ImageIO
    // rejects it and the decode must fall back, not throw
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G',
      0x0d, 0x0a, 0x1a, 0x0a, 1, 2, 3, 4)
    assert(MediaPipeline.decodeMeta(corrupt) == MediaPipeline.decodeStub(corrupt))
    // truncated JPEG magic alone must not throw either
    val jpgStub = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0)
    assert(MediaPipeline.decodeMeta(jpgStub) == MediaPipeline.decodeStub(jpgStub))
  }

  test("extractMeta routes planted PNGs through the real decoder distributed, fallback rows unchanged") {
    import spark.implicits._
    val rows = Seq(
      (1L, MediaPipeline.encodePng(20, 30, 1L)),
      (2L, MediaPipeline.encodePng(31, 17, 2L)),
      (3L, Array.tabulate[Byte](16)(i => (i * 11 + 3).toByte))) // fake path
    val out = MediaPipeline.extractMeta(
        rows.toDF("doc_id", "media").repartition(2))
      .select(col("doc_id"), col("media_meta.format"),
        col("media_meta.width"), col("media_meta.height"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("png", 20, 30)), out)
    assert(out(2L) == (("png", 31, 17)), out)
    val stub = MediaPipeline.decodeStub(rows(2)._2)
    assert(out(3L) == ((stub.format, stub.width, stub.height)), out)
  }
}
