package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = Tables(spark, sfDir(), "documents").limit(50)
  private lazy val packed = Multimodal.packMedia(docs, "doc_id", "text")

  test("c12e: animated GIFs are real multi-frame containers and the " +
    "palettized round trip is lossless") {
    val ids = docs.select("doc_id").limit(20)
    val gifs = Multimodal.packAnimatedGifs(spark, ids, "doc_id")
    val rows = gifs.collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]](1)
      assert(new String(bytes.take(4), "US-ASCII") === "GIF8")
      // container-reported frame count == metadata ground truth
      val reader = javax.imageio.ImageIO
        .getImageReadersByFormatName("gif").next()
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(iis, false, true)
      assert(reader.getNumImages(true) === Multimodal.gifFrames(id))
      // losslessness: every pixel of frame 0 equals the palette formula
      val img = reader.read(0)
      val (w, h) = (Multimodal.gifW(id), Multimodal.gifH(id))
      assert(img.getWidth === w && img.getHeight === h)
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val (cr, cg, cb) = Multimodal.GifPalette(
            Multimodal.gifColorIdx(id, 0, x, y))
          val p = img.getRGB(x, y)
          assert(((p >> 16) & 0xFF) === cr && ((p >> 8) & 0xFF) === cg &&
            (p & 0xFF) === cb, s"id=$id pixel ($x,$y) not lossless")
        }
      }
      iis.close()
    }
    // stride-2 sampling keeps ceil(nf/2) frames; junk quarantines
    val dec = Multimodal.decodeGifFrames(spark, gifs, stride = 2)
    val perDoc = dec.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(perDoc(id) === (Multimodal.gifFrames(id) + 1) / 2, s"id=$id")
    }
    val junk = gifs.select(col("media_id"),
      encode(lit("definitely not a gif"), "UTF-8").as("media"))
    val q = Multimodal.decodeGifFrames(spark, junk).collect()
    assert(q.forall(r => r.getInt(2) === -1 && r.isNullAt(3)))
  }

  test("c12f: frame deltas match the palette formula exactly, singletons " +
    "emit nothing, junk quarantines") {
    val ids = docs.select("doc_id").limit(20)
    val gifs = Multimodal.packAnimatedGifs(spark, ids, "doc_id")
    val out = Multimodal.gifFrameDeltas(spark, gifs, stride = 2).collect()
    val byId = out.groupBy(_.getLong(0))
    ids.collect().map(_.getLong(0)).foreach { id =>
      val nf = Multimodal.gifFrames(id)
      if (nf < 3) // kept frames under stride 2: {0} — nothing to diff
        assert(!byId.contains(id), s"id=$id nf=$nf must emit no delta rows")
      else {
        val rows = byId(id)
        assert(rows.length === 1 && rows.head.getInt(2) === 0 &&
          rows.head.getInt(3) === 2, s"id=$id expects exactly pair (0,2)")
        // exact recomputation from the color-index formula:
        // |Δr|=|Δg|=36|Δk|, |Δb|=31|Δk|
        val (w, h) = (Multimodal.gifW(id), Multimodal.gifH(id))
        var dk = 0L
        (0 until h).foreach { y =>
          (0 until w).foreach { x =>
            dk += math.abs(Multimodal.gifColorIdx(id, 2, x, y) -
              Multimodal.gifColorIdx(id, 0, x, y))
          }
        }
        val d = w * h * 255.0
        assert(rows.head.getDouble(6) === 36 * dk / d, s"id=$id mad_r")
        assert(rows.head.getDouble(7) === 36 * dk / d, s"id=$id mad_g")
        assert(rows.head.getDouble(8) === 31 * dk / d, s"id=$id mad_b")
      }
    }
    val junk = gifs.select(col("media_id"),
      encode(lit("definitely not a gif"), "UTF-8").as("media"))
    val q = Multimodal.gifFrameDeltas(spark, junk).collect()
    assert(q.forall(r => r.getInt(2) === -1 && r.isNullAt(6)))
  }

  test("packMedia: opaque binary payload + typed prunable metadata") {
    val schema = packed.schema
    assert(schema("media").dataType.typeName === "binary")
    val metaFields = schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => (f.name, f.dataType)).toSeq
    assert(metaFields ===
      Multimodal.mediaMetaSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    // metadata-only query never touches payload bytes
    val widths = packed.select("meta.width").collect().map(_.getInt(0))
    assert(widths.forall(w => w >= 16 && w < 80))
  }

  test("sampleFrames: every stride-th of n_frames byte slices") {
    val frames = Multimodal.sampleFrames(packed, stride = 2)
    val perDoc = frames.groupBy("media_id").count()
      .join(packed.select(col("media_id"), col("meta.n_frames").as("nf")), "media_id")
      .collect()
    perDoc.foreach { r =>
      val got = r.getAs[Long]("count")
      val nf = r.getAs[Int]("nf")
      assert(got === (nf + 1) / 2, s"media ${r.get(0)}: $got frames of $nf")
    }
    assert(frames.schema("frame").dataType.typeName === "binary")
  }

  test("real codec: packImages round-trips PNG bytes to correct dimensions") {
    val imgs = Multimodal.packImages(spark, docs, "doc_id")
    val out = Multimodal.decodeImages(spark, imgs)
      .join(imgs.select(col("media_id"), col("meta.width").as("mw"),
        col("meta.height").as("mh")), "media_id")
    val rows = out.collect()
    assert(rows.length === 50)
    rows.foreach { r =>
      // decoded-by-codec dimensions must equal the metadata ground truth
      assert(r.getAs[Int]("width") === r.getAs[Int]("mw"))
      assert(r.getAs[Int]("height") === r.getAs[Int]("mh"))
      val feats = r.getAs[scala.collection.Seq[Double]]("features")
      assert(feats.length === 3) // mean RGB
      assert(feats.forall(f => f >= 0.0 && f <= 1.0))
      assert(r.getAs[Int]("n_bytes") > 8) // a real PNG, not raw text
    }
    // the payloads really are PNGs: magic bytes present
    imgs.select("media").limit(5).collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
    }
  }

  /** Plain-Scala replay of the c12 pixel formula (the one the DuckDB
    * oracle runs): exact dims and exact mean RGB of image `id`.
    */
  private def formulaMeans(id: Long): (Int, Int, Seq[Double]) = {
    val (w, h) = ((id % 64 + 16).toInt, (id % 48 + 16).toInt)
    val sums = Array(0L, 0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (id * 1103515245L + x * 31L + y * 131L) & 0xFFFFFF
      sums(0) += (v >> 16) & 255; sums(1) += (v >> 8) & 255; sums(2) += v & 255
    }
    (w, h, sums.toSeq.map(_ / (w * h * 255.0)))
  }

  test("packImages then decodeImages land the pixel formula exactly: dims " +
       "and mean RGB") {
    val out = Multimodal.decodeImages(spark,
      Multimodal.packImages(spark, docs, "doc_id")).collect()
    assert(out.length === 50)
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h, means) = formulaMeans(id)
      assert(r.getInt(2) === w && r.getInt(3) === h, s"id=$id dims")
      assert(r.getAs[scala.collection.Seq[Double]]("features") === means,
        s"id=$id: decoded mean RGB must equal the formula bit for bit")
    }
  }

  test("ImageEncoder refuses a format it has no writer for, naming it") {
    val e = intercept[IllegalArgumentException](new Multimodal.ImageEncoder()
      .encode(Multimodal.renderImage(7L, 0), "no-such-format"))
    assert(e.getMessage.contains("'no-such-format'"), e.getMessage)
  }

  test("decodeImages: parquet round trip unchanged, images and " +
       "quarantined payloads") {
    val imgs = Multimodal.packImages(spark, docs, "doc_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_decode").toString
    imgs.unionByName(packed).write.mode("overwrite").parquet(dir)
    val fromDisk = Multimodal.decodeImages(spark, spark.read.parquet(dir))
    val inMemory = Multimodal.decodeImages(spark, imgs.unionByName(packed))
    assert(fromDisk.count() === 100L)
    assert(fromDisk.exceptAll(inMemory).count() === 0L &&
           inMemory.exceptAll(fromDisk).count() === 0L)
    assert(fromDisk.where(col("width").isNull).count() === 50L,
      "the text payloads quarantine after the round trip too")
  }

  test("codec breadth: JPEG and GIF payloads decode through the JDK " +
       "ImageIO plugins — dimensions exact, JPEG features within lossy " +
       "tolerance") {
    val s = spark
    import s.implicits._
    // deterministic 32x24 gradient, encoded to JPEG and GIF executor-free
    def img(): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(
        32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32)
        im.setRGB(x, y, ((x * 8) << 16) | ((y * 10) << 8) | 0x40)
      im
    }
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img(), fmt, bos)
      bos.toByteArray
    }
    val jpg = enc("jpg"); val gif = enc("gif")
    assert(jpg.length > 4 && gif.length > 4)
    val px = img().getRGB(0, 0, 32, 24, null, 0, 32)
    val trueMeans = Seq(16, 8, 0).map(sh =>
      px.map(p => (p >> sh) & 0xFF).map(_.toLong).sum / (px.length * 255.0))
    val packed = Seq((1L, jpg), (2L, gif)).toDF("media_id", "media")
    val rows = Multimodal.decodeImages(spark, packed)
      .orderBy("media_id").collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getInt(2) === 32 && r.getInt(3) === 24,
        "decoded dimensions must be exact for both formats")
      val feats = r.getAs[scala.collection.Seq[Double]]("features")
      assert(feats.length === 3, "decoded (not quarantined) features")
      // JPEG is lossy, GIF palettizes: means within 3% of the source
      feats.zip(trueMeans).foreach { case (got, want) =>
        assert(math.abs(got - want) < 0.03, s"$got vs $want") }
    }
  }

  test("real codec: non-image payloads quarantine to stub features") {
    val out = Multimodal.decodeImages(spark, packed)
    val rows = out.collect()
    assert(rows.length === 50)
    val payloads = packed.select("media_id", "media").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(3), "no fake dimensions")
      val bytes = payloads(r.getLong(0))
      assert(r.getInt(1) === bytes.length && bytes.length > 0)
      val feats = r.getAs[scala.collection.Seq[Double]]("features")
      assert(feats.length === 16 && math.abs(feats.sum - 1.0) < 1e-9)
      // the values: the 16-bin L1-normalized byte histogram
      val hist = new Array[Double](16)
      bytes.foreach(b => hist((b & 0xFF) * 16 / 256) += 1.0)
      assert(feats === hist.toSeq.map(_ / bytes.length))
    }
  }

  test("decodeStub: batched partition-local decode keeps schema contract") {
    // one ImageDecoder per partition: spread the payloads over several
    // partitions and check every row comes back once, under one schema
    val out = Multimodal.decodeImages(spark, packed.repartition(4))
    assert(out.schema.map(f => f.name -> f.dataType.simpleString) === Seq(
      "media_id" -> "bigint", "n_bytes" -> "int", "width" -> "int",
      "height" -> "int", "features" -> "array<double>"))
    val rows = out.collect()
    assert(rows.length === 50)
    assert(rows.map(_.getLong(0)).toSet ===
      packed.select("media_id").collect().map(_.getLong(0)).toSet)
    rows.foreach { r =>
      val feats = r.getSeq[Double](4)
      assert(feats.length === 16)
      assert(math.abs(feats.sum - 1.0) < 1e-9) // L1-normalized histogram
      assert(r.getInt(1) > 0)
    }
  }
}
