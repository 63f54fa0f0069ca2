package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video ride as opaque `binary`
  * columns with typed metadata, processed in per-partition batches.
  *
  * Decode is REAL for PNG/JPEG payloads ([[decodeMeta]] —
  * `javax.imageio` ships with the JDK, no external codec needed); for
  * every other payload [[decodeStub]] is a DETERMINISTIC FAKE (clearly
  * marked) standing in for e.g. a video demuxer. Also real and tested
  * here is the Spark-side shape:
  *  - schema: payload `BinaryType` + `media_meta` struct column;
  *  - execution: `mapPartitions` so a real decoder amortizes per-batch
  *    init (codec contexts, model weights) across the partition —
  *    the Scala twin of `mapInPandas` batch processing;
  *  - partitioning: narrow (no shuffle), preserves parent partitioning;
  *  - frame sampling / resize as binary→binary transforms with the same
  *    batch shape.
  *
  * Scale notes (100 TB of media): payloads stay in executors end-to-end
  * (no driver collect); decode parallelism = input partitions; payload
  * columns should be pruned before wide shuffles (select meta, join,
  * re-attach by key).
  */
object MediaPipeline extends Serializable {

  // ImageIO defaults to a DISK-backed stream cache: every read/write
  // creates (and deletes) a temp file — two filesystem round-trips per
  // payload, the dominant per-call cost for small images at any scale
  // (and pure overhead for byte-array sources, which are already fully
  // in memory). Memory-cached streams produce byte-identical
  // encodes/decodes. Executor-side: the flag is process-local, so set
  // it in a transient lazy val touched on every decode/encode path
  // (the object's constructor only runs where the object is first
  // dereferenced — that is each executor JVM, but guard anyway).
  // CAVEAT (r17 ADVICE): setUseCache(false) is a JVM-GLOBAL mutation —
  // every other ImageIO user in the same driver/executor JVM also
  // switches to heap-buffered streams (a very large image elsewhere now
  // buffers fully on heap instead of spilling to a disk temp file).
  // Acceptable for this framework's small-image paths; co-tenant code
  // decoding multi-GB images in the same JVM should scope its own reads
  // with explicit FileCacheImageInputStream instances.
  @transient private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  case class MediaMeta(format: String, width: Int, height: Int, nFrames: Int)

  val metaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("nFrames", IntegerType, nullable = false)))

  /** Attach a synthetic binary payload derived from row content — the
    * stand-in for reading real media bytes from a blob store. */
  def withPayload(df: DataFrame, contentCol: String): DataFrame =
    df.withColumn("media", unhex(md5(col(contentCol))))

  /** Deterministic fake for NON-image payloads (audio/video — no
    * demuxer in this container): derives "dimensions" from the payload
    * bytes. A production build links an actual codec and keeps this
    * exact signature. Image payloads never reach this path —
    * [[decodeMeta]] routes PNG/JPEG through the real decoder. */
  def decodeStub(bytes: Array[Byte]): MediaMeta = {
    def u(i: Int): Int = bytes(i % bytes.length) & 0xff
    MediaMeta(
      format = if (u(0) % 2 == 0) "img" else "vid",
      width = 256 + (u(1) << 2),
      height = 256 + (u(2) << 2),
      nFrames = 1 + u(3) % 30)
  }

  private def looksLikePng(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P'.toByte &&
      b(2) == 'N'.toByte && b(3) == 'G'.toByte

  private def looksLikeJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff

  /** Metadata decode with a REAL image path: payloads carrying a
    * PNG/JPEG magic prefix are decoded by `javax.imageio` (JDK-bundled
    * — actual pixel-accurate width/height, not a derivation); anything
    * else, and any magic-prefixed payload the codec rejects (a
    * truncated or accidental prefix), falls back to the deterministic
    * [[decodeStub]] so the output is total and reproducible. nFrames=1
    * for still images. */
  def decodeMeta(bytes: Array[Byte]): MediaMeta =
    if (bytes != null && (looksLikePng(bytes) || looksLikeJpeg(bytes))) {
      imageIoNoDiskCache
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) decodeStub(bytes)
        else MediaMeta(
          format = if (looksLikePng(bytes)) "png" else "jpeg",
          width = img.getWidth, height = img.getHeight, nFrames = 1)
      } catch { case _: java.io.IOException => decodeStub(bytes) }
    } else decodeStub(bytes)

  /** Deterministic PNG bytes for fixtures: a `width`×`height` RGB image
    * whose pixels are a pure function of (x, y, seed), encoded with the
    * JDK's ImageIO PNG writer. Used to PLANT real image payloads in
    * tests/queries so [[decodeMeta]]'s real path is exercised — the
    * decoded dimensions must round-trip exactly (the oracle recomputes
    * them arithmetically; only a REAL decode can match). */
  def encodePng(width: Int, height: Int, seed: Long): Array[Byte] = {
    imageIoNoDiskCache
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, fixturePixels(width, height, seed),
      0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The (x, y, seed) fixture pixel function as one bulk row-major
    * array — same values as the historical per-pixel `setRGB` loop
    * (setRGB masks to 24 bits itself for TYPE_INT_RGB), written in one
    * raster call instead of width×height JNI-boundary calls. */
  private def fixturePixels(width: Int, height: Int,
      seed: Long): Array[Int] = {
    val px = new Array[Int](width * height)
    var y = 0
    var i = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        px(i) = (((x * 31 + y * 17).toLong + seed) & 0xffffff).toInt
        x += 1; i += 1
      }
      y += 1
    }
    px
  }

  /** Deterministic JPEG bytes for fixtures — [[encodePng]]'s twin
    * through the JDK's ImageIO JPEG writer. The encode is lossy in
    * PIXELS but exact in DIMENSIONS, which is the whole decode
    * contract ([[decodeMeta]] and its oracle only check format and
    * width/height); planting both formats exercises the magic-prefix
    * routing and BOTH real decoder branches. */
  def encodeJpeg(width: Int, height: Int, seed: Long): Array[Byte] = {
    imageIoNoDiskCache
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, fixturePixels(width, height, seed),
      0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Decode metadata for every row, per-partition batches. Output =
    * input columns + `media_meta` struct. Narrow transform: partitioning
    * and row order are preserved; decoder init amortizes per partition.
    */
  def extractMeta(df: DataFrame, binCol: String = "media"): DataFrame = {
    val schema = df.schema.add("media_meta", metaSchema, nullable = false)
    val idx = df.schema.fieldIndex(binCol)
    df.mapPartitions { it =>
      // per-partition init happens HERE exactly once (codec context,
      // model weights, …) — the point of the mapPartitions batch shape
      it.map { r =>
        val m = decodeMeta(r.getAs[Array[Byte]](idx))
        Row.fromSeq(r.toSeq :+ Row(m.format, m.width, m.height, m.nFrames))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** "Frame sampling": split the payload into fixed-size frames and keep
    * every `stride`-th — exercises array-of-binary columns. */
  def sampleFrames(df: DataFrame, frameBytes: Int, stride: Int,
      binCol: String = "media"): DataFrame = {
    val nFrames = floor((length(col(binCol)) - 1) / lit(frameBytes)).cast("int")
    // empty/null payload guard: nFrames would be -1 and sequence(0,-1)
    // yields a DESCENDING [0,-1] — a ghost empty frame instead of none
    df.withColumn("frames",
      when(col(binCol).isNull || length(col(binCol)) === 0,
        array().cast("array<binary>"))
        .otherwise(filter(
          transform(
            sequence(lit(0), nFrames),
            i => call_function("substring", col(binCol),
              i * frameBytes + 1, lit(frameBytes))),
          (_, i) => i % stride === 0)))
  }
}
