package graft.operators

import java.awt.image.{BufferedImage, DataBufferInt}
import javax.imageio.{ImageIO, ImageWriter}

import scala.collection.immutable.ArraySeq

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: media payloads ride through the engine as
  * opaque `binary` columns with a typed metadata struct alongside, so
  * Catalyst prunes/filters on metadata WITHOUT ever deserializing payloads.
  *
  * Still images go through ONE codec: [[renderImage]] is the pixel
  * formula the oracles replay, [[ImageEncoder]] the one encoder and
  * [[ImageDecoder]] the one decoder (`javax.imageio`, pure JVM), each
  * built once per partition. [[packImages]] / [[decodeImages]] are
  * their one transport — a mapPartitions row path — and the c97
  * perceptual codes ([[ImageDedup]]) ride the same encoder, decoder and
  * raster accessor. Payloads the decoder cannot read quarantine to a
  * deterministic byte histogram instead of failing the task. Animated
  * GIFs keep their own sequence codec ([[packAnimatedGifs]]).
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
    * packers/decoders are lazy iterators, so a completion listener is
    * the only hook that runs after the partition is exhausted. Off a
    * task (driver-side use) the codec objects are left to GC.
    */
  private def atTaskEnd(release: => Unit): Unit = {
    val tc = TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => release)
  }

  /** The one image encoder, one per partition (the twin of
    * [[ImageDecoder]]): ONE `ImageWriter` per format instead of
    * `ImageIO.write`'s registry scan + fresh writer per call, in-memory
    * streams instead of the ImageIO temp-file cache, every writer
    * disposed when the task completes. A missing codec fails naming the
    * format, not with an iterator NoSuchElementException.
    *
    * `setUseCache` is JVM-global: flipping it off from a task is
    * idempotent and the only sane setting for byte-array round trips,
    * so every codec object sets it — noted because it IS cross-task
    * state.
    */
  final class ImageEncoder {
    ImageIO.setUseCache(false)
    private val writers =
      scala.collection.mutable.Map.empty[String, ImageWriter]
    atTaskEnd(writers.values.foreach(w => scala.util.Try(w.dispose())))

    def encode(img: BufferedImage, format: String): Array[Byte] = {
      val writer = writers.getOrElseUpdate(format, {
        val found = ImageIO.getImageWritersByFormatName(format)
        require(found.hasNext,
          s"ImageEncoder: no ImageIO writer for format '$format'")
        found.next()
      })
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(img)
      ios.close()
      bos.toByteArray
    }
  }

  /** Generate REAL PNG payloads — [[renderImage]]'s pixels through one
    * [[ImageEncoder]] per partition; the codec (`javax.imageio`, pure
    * JVM) runs executor-side, the driver never sees bytes.
    *
    * The codec stage is sized by CORES, not by the source file's split
    * count: a codec is CPU-bound per row, so partitioning inherited from
    * a small parquet scan (one split for a sub-128 MB file) would
    * serialize the whole stage behind one task. The id frame is widened
    * to defaultParallelism when narrower — a shuffle of bare longs,
    * nothing next to the per-image work it unlocks ([[decodeImages]]
    * inherits this partitioning and stays payload-local).
    */
  def packImages(spark: SparkSession, df: DataFrame,
                 idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType),
      StructField("meta", mediaMetaSchema)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val narrow = df.select(col(idCol).cast("long").as("media_id"))
    val target = spark.sparkContext.defaultParallelism
    val in = if (narrow.rdd.getNumPartitions < target)
      narrow.repartition(target) else narrow
    in.mapPartitions { rows =>
      val encoder = new ImageEncoder
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, encoder.encode(renderImage(id, 0), "png"),
          Row("image/png", imageW(id), imageH(id), 1))
      }
    }(enc)
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
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val in = packed.select(col("media_id").cast("long"), col("media"))
    in.mapPartitions { rows =>
      val dec = new ImageDecoder
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val d = dec.decode(bytes)
        val feats = ArraySeq.unsafeWrapArray(d.features)
        if (d.width >= 0)
          Row(r.getLong(0), bytes.length, d.width, d.height, feats)
        else Row(r.getLong(0), bytes.length, null, null, feats)
      }
    }(enc)
  }

  /** Result of one image decode: `width < 0` means the payload was not a
    * decodable image and `features` holds the byte-histogram quarantine.
    */
  final case class DecodeResult(width: Int, height: Int,
                                features: Array[Double])

  private def hasPrefix(bytes: Array[Byte], magic: Int*): Boolean =
    bytes.length > 4 && magic.indices.forall(i => bytes(i) == magic(i).toByte)

  /** The one image decoder, one per partition. Sniffs the magic bytes —
    * PNG decodes through ONE reused `ImageReader` (disposed when the
    * task completes); BMP, JPEG (FF D8 FF) and GIF ("GIF8") ride the
    * JDK's own ImageIO plugins, no native deps. Lossy JPEG means its
    * features are codec-true, not formula-pinned, so the oracles stay on
    * PNG/BMP and JPEG is spec-gated by round-trip tolerance instead.
    */
  final class ImageDecoder {
    ImageIO.setUseCache(false)
    private val pngReader = ImageIO.getImageReadersByFormatName("png").next()
    atTaskEnd(pngReader.dispose())

    /** The decoded image, or null when `bytes` is not a decodable image:
      * no known magic, or any NonFatal codec failure (an OOM or interrupt
      * still fails the task).
      */
    def read(bytes: Array[Byte]): BufferedImage =
      try {
        if (hasPrefix(bytes, 0x89, 'P', 'N', 'G')) {
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try { pngReader.setInput(iis, true, true); pngReader.read(0) }
          finally iis.close()
        } else if (hasPrefix(bytes, 'B', 'M') ||
                   hasPrefix(bytes, 0xFF, 0xD8, 0xFF) ||
                   hasPrefix(bytes, 'G', 'I', 'F', '8'))
          ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        else null
      } catch { case scala.util.control.NonFatal(_) => null }

    def decode(bytes: Array[Byte]): DecodeResult = {
      val img = read(bytes)
      if (img != null) {
        val px = packedRgb(img)
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < px.length) {
          val p = px(i)
          sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
          i += 1
        }
        val (w, h) = (img.getWidth, img.getHeight)
        val n = math.max(w * h, 1) * 255.0
        DecodeResult(w, h, Array(sr / n, sg / n, sb / n))
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
    * frame through ImageIO's sequence writer (`prepareWriteSequence` /
    * `writeToSequence` — the actual GIF89a animation structure, pure
    * JDK). The "video" surface of the multimodal stack: n_frames rides
    * prunable metadata, payload bytes stay opaque. Frames draw from the
    * exact 8-color [[GifPalette]] so encoding is provably lossless.
    */
  def packAnimatedGifs(spark: SparkSession, df: DataFrame, idCol: String,
                       batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType),
      StructField("meta", mediaMetaSchema)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val narrow = df.select(col(idCol).cast("long").as("media_id"))
    val target = spark.sparkContext.defaultParallelism
    val in = if (narrow.rdd.getNumPartitions < target)
      narrow.repartition(target) else narrow
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val (w, h, nf) = (gifW(id), gifH(id), gifFrames(id))
          val bos = new java.io.ByteArrayOutputStream()
          val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < nf) {
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val px = img.getRaster.getDataBuffer
              .asInstanceOf[java.awt.image.DataBufferInt].getData
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
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
          ios.close()
          Row(id, bos.toByteArray, Row("image/gif", w, h, nf))
        }
      }
    }(enc)
  }

  /** Frame-sampled decode of multi-frame media (the real-container
    * upgrade of [[sampleFrames]]'s byte slicing): ImageIO's GIF reader
    * reports the frame count from the container (`getNumImages`) and
    * decodes every `stride`-th frame; per kept frame the mean-RGB
    * features, via the same color-model-safe accumulation as
    * [[ImageDecoder]]. Unparseable payloads quarantine to a single
    * (frame_idx = -1, null dims) row — the A13 rule. Output:
    * (media_id, n_frames, frame_idx, width, height, mean_r/g/b).
    */
  def decodeGifFrames(spark: SparkSession, packed: DataFrame,
                      stride: Int = 2, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_frames", IntegerType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_r", DoubleType),
      StructField("mean_g", DoubleType),
      StructField("mean_b", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val in = packed.select(col("media_id").cast("long"), col("media"))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val reader = javax.imageio.ImageIO
        .getImageReadersByFormatName("gif").next()
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val isGif = bytes.length > 4 && bytes(0) == 'G' &&
            bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8'
          val frames =
            if (!isGif) null
            else try {
              val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes))
              reader.setInput(iis, false, true)
              val n = reader.getNumImages(true)
              val out = (0 until n by stride).map { f =>
                val img = reader.read(f)
                val w = img.getWidth; val h = img.getHeight
                var sr = 0L; var sg = 0L; var sb = 0L
                val px = img.getRGB(0, 0, w, h, null, 0, w)
                var i = 0
                while (i < px.length) {
                  val p = px(i)
                  sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF
                  sb += p & 0xFF
                  i += 1
                }
                val d = math.max(w * h, 1) * 255.0
                (n, f, w, h, sr / d, sg / d, sb / d)
              }
              iis.close()
              out
            } catch { case _: java.io.IOException => null }
          if (frames == null)
            Seq(Row(id, null, -1, null, null, null, null, null))
          else frames.map { case (n, f, w, h, mr, mg, mb) =>
            Row(id, n, f, w, h, mr, mg, mb) }
        }
      }
    }(enc)
  }

  /** Frame-DIFFERENCE features over multi-frame media — the motion
    * signal [[decodeGifFrames]] stops short of: per consecutive pair of
    * KEPT frames (stride-sampled, same as the decode path), the
    * pixel-wise mean absolute difference per channel. This is the
    * scene-change / static-clip discriminator a video curation pipeline
    * filters on (a slideshow and a tracking shot have identical
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
                     stride: Int = 2, batchSize: Int = 64): DataFrame = {
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
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val in = packed.select(col("media_id").cast("long"), col("media"))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val reader = javax.imageio.ImageIO
        .getImageReadersByFormatName("gif").next()
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val isGif = bytes.length > 4 && bytes(0) == 'G' &&
            bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8'
          val deltas =
            if (!isGif) null
            else try {
              val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes))
              reader.setInput(iis, false, true)
              val n = reader.getNumImages(true)
              var prevPx: Array[Int] = null
              var prevIdx = -1
              val out = (0 until n by stride).flatMap { f =>
                val img = reader.read(f)
                val w = img.getWidth; val h = img.getHeight
                val px = img.getRGB(0, 0, w, h, null, 0, w)
                val res =
                  if (prevPx == null || prevPx.length != px.length) Nil
                  else {
                    var dr = 0L; var dg = 0L; var db = 0L
                    var i = 0
                    while (i < px.length) {
                      val p = px(i); val q = prevPx(i)
                      dr += math.abs(((p >> 16) & 0xFF) - ((q >> 16) & 0xFF))
                      dg += math.abs(((p >> 8) & 0xFF) - ((q >> 8) & 0xFF))
                      db += math.abs((p & 0xFF) - (q & 0xFF))
                      i += 1
                    }
                    val d = math.max(w * h, 1) * 255.0
                    Seq((n, prevIdx, f, w, h, dr / d, dg / d, db / d))
                  }
                prevPx = px
                prevIdx = f
                res
              }
              iis.close()
              out
            } catch { case _: java.io.IOException => null }
          if (deltas == null)
            Seq(Row(id, null, -1, null, null, null, null, null, null))
          else deltas.map { case (n, pf, f, w, h, mr, mg, mb) =>
            Row(id, n, pf, f, w, h, mr, mg, mb) }
        }
      }
    }(enc)
  }
}
