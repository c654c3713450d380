package graft.operators

import java.awt.image.{BufferedImage, DataBufferInt}
import javax.imageio.{ImageIO, ImageReader, ImageWriter}

import scala.collection.immutable.ArraySeq

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: media payloads ride through the engine as
  * opaque `binary` columns with a typed metadata struct alongside, so
  * Catalyst prunes/filters on metadata WITHOUT ever deserializing payloads.
  *
  * Every media walk — still images, animated GIFs, WAV audio
  * ([[Audio]]) and the c97 perceptual codes ([[ImageDedup]]) — runs
  * through ONE transport, [[mediaRows]]: one codec object per
  * partition, released when the task ends, each `(media_id, media)`
  * payload mapped to rows of a declared schema. Images and GIFs share
  * one codec: [[renderImage]] is the pixel formula the oracles replay,
  * [[ImageEncoder]] the one encoder (single images and GIF frame
  * sequences) and [[ImageDecoder]] the one decoder (`javax.imageio`,
  * pure JVM), with [[packedRgb]] the one raster accessor. Payloads the
  * decoder cannot read quarantine to a deterministic byte histogram
  * instead of failing the task.
  */
object Multimodal {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Attach a media payload + metadata to a text table (payload here is the
    * utf-8 bytes of the text — a deterministic stand-in for image bytes;
    * the engine treats it as opaque either way).
    */
  def packMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      encode(col(textCol), "UTF-8").as("media"),
      struct(
        lit("fake/rgb8").as("format"),
        (pmod(col(idCol), lit(64)) + 16).cast("int").as("width"),
        (pmod(col(idCol), lit(48)) + 16).cast("int").as("height"),
        (pmod(col(idCol), lit(8)) + 1).cast("int").as("n_frames")
      ).as("meta"))

  /** Frame sampling: slice the payload into n_frames equal byte ranges and
    * keep every `stride`-th — pure binary plumbing (substr on binary),
    * no codec needed, fully codegen'd.
    */
  def sampleFrames(df: DataFrame, stride: Int = 2): DataFrame =
    df.select(col("media_id"), col("meta"),
        posexplode(
          filter(
            transform(sequence(lit(0), col("meta.n_frames") - 1),
              i => substring(col("media"),
                (i * (length(col("media")) / col("meta.n_frames")) + 1)
                  .cast("int"),
                (length(col("media")) / col("meta.n_frames")).cast("int"))),
            (_, i) => i % stride === 0))
          .as(Seq("frame_idx", "frame")))

  private val histBins = 16

  /** Dimensions of id's synthetic image — the [[packMedia]] formula, so
    * metadata stays the prunable source of truth.
    */
  private def imageW(id: Long): Int = (id % 64 + 16).toInt
  private def imageH(id: Long): Int = (id % 48 + 16).toInt

  /** Render image `id` from the pixel formula the DuckDB oracles replay:
    * pixel (x, y) is `(id·1103515245 + 31x + 131y) & 0xFFFFFF` read as
    * packed RGB, every channel shifted by `delta` and saturated at 255
    * (the c97 brightness variant; `delta = 0` is the raw formula, bit
    * for bit). Pixels go straight into the TYPE_INT_RGB backing `int[]`
    * — the int `setRGB` would store, minus a virtual call per pixel.
    */
  private[graft] def renderImage(id: Long, delta: Int): BufferedImage = {
    val w = imageW(id); val h = imageH(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = img.getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
    def ch(v: Int): Int = math.min((v & 255) + delta, 255)
    var y = 0
    while (y < h) {
      var x = 0
      val row = y * w
      while (x < w) {
        val v = ((id * 1103515245L + x * 31L + y * 131L) & 0xFFFFFF).toInt
        px(row + x) = (ch(v >> 16) << 16) | (ch(v >> 8) << 8) | ch(v)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Run `release` when the current Spark task completes (or dies): the
    * media walks are lazy iterators, so a completion listener is the
    * only hook that runs after the partition is exhausted. Off a task
    * (driver-side use) the codec objects are left to GC.
    */
  private def atTaskEnd(release: => Unit): Unit = {
    val tc = TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => release)
  }

  /** The one media transport. Reads `media_id` (cast to long) and, when
    * the frame has one, the `media` payload (null for the packers, which
    * start from bare ids); opens ONE codec object per partition, closed
    * when the task ends; and maps each payload to zero or more rows of
    * `schema`. Payload bytes stay partition-local — the walk adds no
    * exchange.
    */
  private[graft] def mediaRows[C <: AutoCloseable](in: DataFrame,
      schema: StructType, open: () => C)(
      f: (C, Long, Array[Byte]) => IterableOnce[Row]): DataFrame = {
    val media =
      if (in.columns.contains("media")) col("media")
      else lit(null).cast(BinaryType)
    in.select(col("media_id").cast(LongType), media).mapPartitions { rows =>
      val codec = open()
      atTaskEnd(codec.close())
      rows.flatMap(r => f(codec, r.getLong(0), r.getAs[Array[Byte]](1)))
    }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
  }

  /** `df`'s `idCol` as a `media_id` frame sized for a codec stage: a
    * codec is CPU-bound per row, so partitioning inherited from a small
    * parquet scan (one split for a sub-128 MB file) would serialize the
    * whole stage behind one task. The ids are widened to
    * defaultParallelism when narrower — a shuffle of bare longs, nothing
    * next to the per-payload work it unlocks (the decoders inherit this
    * partitioning and stay payload-local).
    */
  private[graft] def idsByCores(spark: SparkSession, df: DataFrame,
                                idCol: String): DataFrame = {
    val ids = df.select(col(idCol).cast("long").as("media_id"))
    val target = spark.sparkContext.defaultParallelism
    if (ids.rdd.getNumPartitions < target) ids.repartition(target) else ids
  }

  /** The one image encoder, one per partition (the twin of
    * [[ImageDecoder]]): ONE `ImageWriter` per format instead of
    * `ImageIO.write`'s registry scan + fresh writer per call, in-memory
    * streams instead of the ImageIO temp-file cache, every writer
    * disposed on `close`. A missing codec fails naming the format, not
    * with an iterator NoSuchElementException.
    *
    * `setUseCache` is JVM-global: flipping it off from a task is
    * idempotent and the only sane setting for byte-array round trips,
    * so every codec object sets it — noted because it IS cross-task
    * state.
    */
  final class ImageEncoder extends AutoCloseable {
    ImageIO.setUseCache(false)
    private val writers =
      scala.collection.mutable.Map.empty[String, ImageWriter]

    def close(): Unit =
      writers.values.foreach(w => scala.util.Try(w.dispose()))

    private def write(format: String)(body: ImageWriter => Unit)
        : Array[Byte] = {
      val writer = writers.getOrElseUpdate(format, {
        val found = ImageIO.getImageWritersByFormatName(format)
        require(found.hasNext,
          s"ImageEncoder: no ImageIO writer for format '$format'")
        found.next()
      })
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      body(writer)
      ios.close()
      bos.toByteArray
    }

    def encode(img: BufferedImage, format: String): Array[Byte] =
      write(format)(_.write(img))

    /** A multi-frame container (an animated GIF for "gif"), written frame
      * by frame through the writer's sequence API.
      */
    def encodeFrames(frames: Iterator[BufferedImage],
                     format: String): Array[Byte] =
      write(format) { w =>
        w.prepareWriteSequence(null)
        frames.foreach(img =>
          w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null))
        w.endWriteSequence()
      }
  }

  /** Generate REAL PNG payloads — [[renderImage]]'s pixels through one
    * [[ImageEncoder]] per partition; the codec (`javax.imageio`, pure
    * JVM) runs executor-side over cores-sized id partitions
    * ([[idsByCores]]), the driver never sees bytes.
    */
  def packImages(spark: SparkSession, df: DataFrame,
                 idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType),
      StructField("meta", mediaMetaSchema)))
    mediaRows(idsByCores(spark, df, idCol), outSchema,
      () => new ImageEncoder) { (encoder, id, _) =>
      Iterator.single(Row(id, encoder.encode(renderImage(id, 0), "png"),
        Row("image/png", imageW(id), imageH(id), 1)))
    }
  }

  /** Decode + feature-extract every payload with one [[ImageDecoder]]
    * per partition. Output: (media_id, n_bytes, width, height, features)
    * — features[3] = mean RGB in [0, 1] for a decoded image; a payload
    * that is not a decodable image quarantines (the A13 posture) to null
    * dimensions and the 16-bin L1-normalized byte histogram, so opaque
    * media such as [[packMedia]]'s text bytes still get a deterministic
    * feature vector.
    */
  def decodeImages(spark: SparkSession, packed: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_bytes", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("features", ArrayType(DoubleType))))
    mediaRows(packed, outSchema, () => new ImageDecoder) { (dec, id, bytes) =>
      val d = dec.decode(bytes)
      val feats = ArraySeq.unsafeWrapArray(d.features)
      Iterator.single(
        if (d.width >= 0) Row(id, bytes.length, d.width, d.height, feats)
        else Row(id, bytes.length, null, null, feats))
    }
  }

  /** Result of one image decode: `width < 0` means the payload was not a
    * decodable image and `features` holds the byte-histogram quarantine.
    */
  final case class DecodeResult(width: Int, height: Int,
                                features: Array[Double])

  private def hasPrefix(bytes: Array[Byte], magic: Int*): Boolean =
    bytes.length > 4 && magic.indices.forall(i => bytes(i) == magic(i).toByte)

  /** Kept frames of an animated GIF: the container's frame count and,
    * per kept frame, its index, dimensions and [[packedRgb]] pixels.
    */
  final case class GifFrame(idx: Int, width: Int, height: Int,
                            px: Array[Int])
  final case class GifFrames(n: Int, frames: IndexedSeq[GifFrame])

  /** The one image decoder, one per partition. Sniffs the magic bytes —
    * PNG and GIF decode through ONE reused `ImageReader` each (disposed
    * on `close`); BMP and JPEG (FF D8 FF) ride the JDK's own ImageIO
    * plugins, no native deps. Lossy JPEG means its features are
    * codec-true, not formula-pinned, so the oracles stay on PNG/BMP and
    * JPEG is spec-gated by round-trip tolerance instead.
    */
  final class ImageDecoder extends AutoCloseable {
    ImageIO.setUseCache(false)
    private val pngReader = ImageIO.getImageReadersByFormatName("png").next()
    private val gifReader = ImageIO.getImageReadersByFormatName("gif").next()

    def close(): Unit = { pngReader.dispose(); gifReader.dispose() }

    private def isGif(bytes: Array[Byte]): Boolean =
      hasPrefix(bytes, 'G', 'I', 'F', '8')

    private def parse[T](reader: ImageReader, bytes: Array[Byte],
                         seekForwardOnly: Boolean)(body: => T): T = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try { reader.setInput(iis, seekForwardOnly, true); body }
      finally iis.close()
    }

    /** The decoded image (a GIF's first frame), or null when `bytes` is
      * not a decodable image: no known magic, or any NonFatal codec
      * failure (an OOM or interrupt still fails the task).
      */
    def read(bytes: Array[Byte]): BufferedImage =
      try {
        if (hasPrefix(bytes, 0x89, 'P', 'N', 'G'))
          parse(pngReader, bytes, true)(pngReader.read(0))
        else if (isGif(bytes)) parse(gifReader, bytes, true)(gifReader.read(0))
        else if (hasPrefix(bytes, 'B', 'M') ||
                 hasPrefix(bytes, 0xFF, 0xD8, 0xFF))
          ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        else null
      } catch { case scala.util.control.NonFatal(_) => null }

    /** Every `stride`-th frame of an animated GIF, the frame count read
      * from the container (`getNumImages`); null when `bytes` is not a
      * GIF or the container fails with an IOException (quarantine — any
      * other failure fails the task).
      */
    def gifFrames(bytes: Array[Byte], stride: Int): GifFrames =
      if (!isGif(bytes)) null
      else try parse(gifReader, bytes, false) {
        val n = gifReader.getNumImages(true)
        GifFrames(n, (0 until n by stride).map { f =>
          val img = gifReader.read(f)
          GifFrame(f, img.getWidth, img.getHeight, packedRgb(img))
        })
      } catch { case _: java.io.IOException => null }

    def decode(bytes: Array[Byte]): DecodeResult = {
      val img = read(bytes)
      if (img != null) {
        val (w, h) = (img.getWidth, img.getHeight)
        DecodeResult(w, h, meanRgb(packedRgb(img), w, h))
      } else {
        val hist = new Array[Double](histBins)
        var i = 0
        while (i < bytes.length) {
          hist((bytes(i) & 0xFF) * histBins / 256) += 1.0
          i += 1
        }
        val total = math.max(bytes.length, 1).toDouble
        DecodeResult(-1, -1, hist.map(_ / total))
      }
    }
  }

  /** Mean R, G, B in [0, 1] of a w×h image's packed pixels: exact
    * integer channel sums over max(w·h, 1)·255.
    */
  private def meanRgb(px: Array[Int], w: Int, h: Int): Array[Double] = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
      i += 1
    }
    val n = math.max(w * h, 1) * 255.0
    Array(sr / n, sg / n, sb / n)
  }

  /** Every pixel of a decoded image as packed 0xRRGGBB ints, row-major —
    * the one raster accessor behind the mean-RGB features and the
    * blockhash grey sums. The JDK codecs' TYPE_INT_RGB / TYPE_3BYTE_BGR
    * layouts are read straight off the backing array (these payloads
    * carry no ICC profile, so `getRGB`'s sRGB conversion would be the
    * identity on the stored 8-bit channels — one color-model conversion
    * per IMAGE instead of per PIXEL); any other layout takes one bulk
    * `getRGB`. Only the low 24 bits are meaningful.
    */
  private[graft] def packedRgb(img: BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    img.getRaster.getDataBuffer match {
      case db: DataBufferInt if img.getType == BufferedImage.TYPE_INT_RGB =>
        db.getData
      case db: java.awt.image.DataBufferByte
          if img.getType == BufferedImage.TYPE_3BYTE_BGR =>
        val a = db.getData
        val px = new Array[Int](w * h)
        var i = 0
        while (i < px.length) {
          val j = 3 * i
          px(i) = ((a(j + 2) & 0xFF) << 16) | ((a(j + 1) & 0xFF) << 8) |
            (a(j) & 0xFF)
          i += 1
        }
        px
      case _ => img.getRGB(0, 0, w, h, null, 0, w)
    }
  }

  /** 8-color exact palette for the animated-GIF path: every frame uses
    * only these colors, so the GIF encoder never quantizes and the
    * container round trip is LOSSLESS — what makes the multi-frame
    * decode formula-replicable by the oracle instead of structure-only.
    */
  private[graft] val GifPalette: Array[(Int, Int, Int)] =
    Array.tabulate(8)(k => (36 * k, 252 - 36 * k, 31 * k))

  private[graft] def gifFrames(id: Long): Int = (id % 4 + 1).toInt
  private[graft] def gifW(id: Long): Int = (id % 16 + 16).toInt
  private[graft] def gifH(id: Long): Int = (id % 8 + 16).toInt
  private[graft] def gifColorIdx(id: Long, f: Int, x: Int, y: Int): Int =
    ((x + 3 * y + 5 * f + id) % 8).toInt

  /** Synthesize REAL multi-frame media: animated GIFs written frame by
    * frame through [[ImageEncoder.encodeFrames]] (the GIF writer's
    * sequence API — the actual GIF89a animation structure, pure JDK)
    * over cores-sized id partitions ([[idsByCores]]). The "video"
    * surface of the multimodal stack: n_frames rides prunable metadata,
    * payload bytes stay opaque. Frames draw from the exact 8-color
    * [[GifPalette]] so encoding is provably lossless.
    */
  def packAnimatedGifs(spark: SparkSession, df: DataFrame,
                       idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType),
      StructField("meta", mediaMetaSchema)))
    mediaRows(idsByCores(spark, df, idCol), outSchema,
      () => new ImageEncoder) { (encoder, id, _) =>
      val (w, h, nf) = (gifW(id), gifH(id), gifFrames(id))
      val frames = Iterator.tabulate(nf) { f =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val px = img.getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
        var y = 0
        while (y < h) {
          var x = 0
          val row = y * w
          while (x < w) {
            val (cr, cg, cb) = GifPalette(gifColorIdx(id, f, x, y))
            px(row + x) = (cr << 16) | (cg << 8) | cb
            x += 1
          }
          y += 1
        }
        img
      }
      Iterator.single(Row(id, encoder.encodeFrames(frames, "gif"),
        Row("image/gif", w, h, nf)))
    }
  }

  /** Frame-sampled decode of multi-frame media (the real-container
    * upgrade of [[sampleFrames]]'s byte slicing): [[ImageDecoder.gifFrames]]
    * reports the frame count from the container and decodes every
    * `stride`-th frame; per kept frame the mean-RGB features, the same
    * accumulation as [[ImageDecoder.decode]]. Unparseable payloads
    * quarantine to a single (frame_idx = -1, null dims) row — the A13
    * rule. Output: (media_id, n_frames, frame_idx, width, height,
    * mean_r/g/b).
    */
  def decodeGifFrames(spark: SparkSession, packed: DataFrame,
                      stride: Int = 2): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_frames", IntegerType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_r", DoubleType),
      StructField("mean_g", DoubleType),
      StructField("mean_b", DoubleType)))
    mediaRows(packed, outSchema, () => new ImageDecoder) { (dec, id, bytes) =>
      val g = dec.gifFrames(bytes, stride)
      if (g == null) Iterator.single(
        Row(id, null, -1, null, null, null, null, null))
      else g.frames.iterator.map { fr =>
        val m = meanRgb(fr.px, fr.width, fr.height)
        Row(id, g.n, fr.idx, fr.width, fr.height, m(0), m(1), m(2))
      }
    }
  }

  /** Frame-DIFFERENCE features over multi-frame media — the motion
    * signal [[decodeGifFrames]] stops short of: per consecutive pair of
    * KEPT frames (stride-sampled by the same [[ImageDecoder.gifFrames]]
    * reader), the pixel-wise mean absolute difference per channel. This
    * is the scene-change / static-clip discriminator a video curation
    * pipeline filters on (a slideshow and a tracking shot have identical
    * per-frame means but wildly different MADs).
    *
    * Exactness contract: each |Δ| sum is an exact integer (≤ w·h·255 ≤
    * 32·24·255 < 2^18), so mad_* = Σ|Δ| / (w·h·255.0) is a
    * deterministic double — the oracle recomputes it from the palette
    * formula with no tolerance. Clips with fewer than two kept frames
    * contribute no rows (nothing to difference); unparseable payloads
    * quarantine to a (prev_idx = -1, null mads) row — the A13 rule.
    * Output: (media_id, n_frames, prev_idx, frame_idx, width, height,
    * mad_r, mad_g, mad_b).
    */
  def gifFrameDeltas(spark: SparkSession, packed: DataFrame,
                     stride: Int = 2): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_frames", IntegerType),
      StructField("prev_idx", IntegerType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mad_r", DoubleType),
      StructField("mad_g", DoubleType),
      StructField("mad_b", DoubleType)))
    mediaRows(packed, outSchema, () => new ImageDecoder) { (dec, id, bytes) =>
      val g = dec.gifFrames(bytes, stride)
      if (g == null) Iterator.single(
        Row(id, null, -1, null, null, null, null, null, null))
      else g.frames.iterator.sliding(2).collect {
        case Seq(prev, cur) if prev.px.length == cur.px.length =>
          var dr = 0L; var dg = 0L; var db = 0L
          var i = 0
          while (i < cur.px.length) {
            val p = cur.px(i); val q = prev.px(i)
            dr += math.abs(((p >> 16) & 0xFF) - ((q >> 16) & 0xFF))
            dg += math.abs(((p >> 8) & 0xFF) - ((q >> 8) & 0xFF))
            db += math.abs((p & 0xFF) - (q & 0xFF))
            i += 1
          }
          val d = math.max(cur.width * cur.height, 1) * 255.0
          Row(id, g.n, prev.idx, cur.idx, cur.width, cur.height,
            dr / d, dg / d, db / d)
      }
    }
  }
}
