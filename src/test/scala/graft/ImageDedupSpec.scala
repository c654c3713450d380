package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ImageDedup

/** C97 contracts: the blockhash finds the planted re-encode (BMP) pair
  * at hamming 0 with same_pixels=true, finds the brightness-shifted
  * pair within the hamming tolerance with same_pixels=false, stays
  * code-identical under an unclamped uniform shift (the equal-block
  * invariance), and keeps identical-code pairs findable when their
  * bands go hot (the escalation rule).
  */
class ImageDedupSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark

  private lazy val docs = Tables(s, sfDir(), "documents").limit(100)

  private lazy val pairs = {
    val packed = ImageDedup.packImageVariants(s, docs, "doc_id")
    val codes = ImageDedup.blockhashCodes(s, packed)
    ImageDedup.perceptualPairs(codes, maxHamming = 3, hotBucketCap = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getBoolean(3)))).toMap
  }

  test("c97: every planted BMP re-encode pairs with its base at " +
    "hamming 0 and same_pixels=true") {
    val baseIds = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    assert(baseIds.nonEmpty)
    baseIds.foreach { id =>
      val p = pairs.get((id, id + 2000000L))
      assert(p.isDefined, s"re-encoded twin of $id not found")
      assert(p.get == ((0, true)),
        s"re-encode of $id: expected (hamming 0, same_pixels), got $p")
    }
  }

  test("c97: brightness-shifted copies pair with their base within " +
    "the hamming tolerance, same_pixels=false") {
    val baseIds = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    val found = baseIds.filter(id => pairs.contains((id, id + 3000000L)))
    // clamping can flip a few threshold-marginal bits; on this corpus
    // the planted shift stays within tolerance for (at least almost)
    // every family — a matcher that loses many is not perceptual
    assert(found.length * 10 >= baseIds.length * 9,
      s"only ${found.length}/${baseIds.length} brightness pairs found")
    found.foreach { id =>
      val (hm, same) = pairs((id, id + 3000000L))
      assert(hm <= 3 && !same,
        s"brightness pair of $id: got hamming=$hm same_pixels=$same")
    }
  }

  test("c97: the blockhash is EXACTLY invariant to an unclamped " +
    "uniform brightness shift (equal-sized blocks)") {
    import s.implicits._
    // channels capped at 199 so a +8 shift can never clamp: codes of
    // the shifted variant must be bit-identical, not merely close
    val ids = Seq(3L, 17L, 42L)
    val rows = ids.flatMap { id =>
      val w = (id % 64 + 16).toInt
      val h = (id % 48 + 16).toInt
      Seq(0, 8).map { delta =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val v = (id * 1103515245L + x * 31L + y * 131L) & 0xFFFFFF
          def ch(c: Long) = math.min((c % 200).toInt + delta, 255)
          img.setRGB(x, y, (ch((v >> 16) & 255) << 16) |
            (ch((v >> 8) & 255) << 8) | ch(v & 255))
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id * 10 + delta, bos.toByteArray)
      }
    }
    val packed = rows.toDF("media_id", "media")
    val codes = ImageDedup.blockhashCodes(s, packed)
      .select("media_id", "code").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(codes(id * 10) === codes(id * 10 + 8),
        s"unclamped +8 shift changed the blockhash of $id")
    }
  }

  test("c97b: each planted family resolves to ONE cluster labeled by " +
    "its base id (base + BMP re-encode + brightness twin together)") {
    val packed = ImageDedup.packImageVariants(s, docs, "doc_id")
    val codes = ImageDedup.blockhashCodes(s, packed)
    val pairFrame = ImageDedup.perceptualPairs(codes, maxHamming = 3,
      hotBucketCap = 64).localCheckpoint(true)
    val clusters = graft.operators.Dedup.dupClusters(pairFrame)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val baseIds = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    baseIds.foreach { id =>
      val bmp = clusters.get(id + 2000000L)
      assert(bmp.isDefined, s"BMP twin of $id missing from clusters")
      assert(clusters(id) === clusters(id + 2000000L),
        s"base $id and its re-encode landed in different clusters")
      assert(clusters(clusters(id)) === clusters(id),
        "cluster labels must be fixpoints")
      // the brightness twin joins the family whenever its direct pair
      // survived the tolerance (≥90% do — see the pair test); a twin
      // reachable only through chance chains is not asserted on
      if (pairs.contains((id, id + 3000000L)))
        assert(clusters(id + 3000000L) === clusters(id),
          s"brightness twin of $id split from its family")
    }
  }

  test("c97: identical codes stay findable when every band is hot " +
    "(full-code escalation), at linear candidate volume") {
    import s.implicits._
    // 80 byte-identical flat images: every band bucket holds 80 > 64,
    // so all four bands go hot — pairs must still surface via the
    // full-code key
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, if ((x / 2 + y / 2) % 2 == 0) 0xFFFFFF else 0)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    val packed = (0L until 80L).map(i => (i, bytes)).toDF("media_id", "media")
    val codes = ImageDedup.blockhashCodes(s, packed)
    val found = ImageDedup.perceptualPairs(codes, maxHamming = 3,
      hotBucketCap = 64).count()
    assert(found === 80L * 79 / 2,
      s"hot-band identical family: expected all pairs, got $found")
  }

  test("c114 banding curve: the b=4 point IS the production join, " +
       "recall is non-decreasing in band count, cost grows with it, " +
       "and every banding finds all pairs within its guarantee") {
    val docs = Tables(spark, sfDir(), "documents").select("doc_id")
      .limit(80)
    val codes = graft.operators.ImageDedup.blockhashCodes(spark,
      graft.operators.ImageDedup.packImageVariants(spark, docs, "doc_id"))
      .cache()
    val curve = graft.operators.ImageDedup
      .bandingCurve(codes, Seq(2, 4, 8), maxHamming = 3,
        hotBucketCap = 64)
      .collect().sortBy(_.getAs[Int]("bands"))
    assert(curve.map(_.getAs[Int]("bands")).toSeq === Seq(2, 4, 8))
    // the b=4 row is exactly perceptualPairs' pair count
    val prod = graft.operators.ImageDedup
      .perceptualPairs(codes, 3, 64).count()
    assert(curve(1).getAs[Long]("n_pairs") === prod,
      "the bands=4 curve point must equal the production join")
    // recall non-decreasing, cost non-decreasing, truth row at 1e6
    assert(curve.map(_.getAs[Long]("n_pairs")).toSeq ===
      curve.map(_.getAs[Long]("n_pairs")).toSeq.sorted)
    assert(curve.map(_.getAs[Long]("n_cand")).toSeq ===
      curve.map(_.getAs[Long]("n_cand")).toSeq.sorted)
    assert(curve.last.getAs[Long]("recall_ppm") === 1000000L)
    // pigeonhole guarantee: b=4 and b=8 both guarantee hamming<=3, so
    // their verified pair counts must agree exactly
    assert(curve(1).getAs[Long]("n_pairs") ===
      curve(2).getAs[Long]("n_pairs"),
      "two bandings above the guarantee disagreed on the pair set")
    codes.unpersist()
    // degenerate denominator (r14 advice): a corpus with ZERO verified
    // pairs at the truth banding must yield recall_ppm 0 on every row —
    // not NULL (Spark IntegralDivide on 0) and not an error (DuckDB's
    // // on 0): the greatest(truth, 1) guard keeps both engines agreed.
    // Two codes differing in every band → zero candidates anywhere.
    import s.implicits._
    val far = Seq((1L, 0L), (2L, -1L)).toDF("media_id", "code")
    val deg = graft.operators.ImageDedup
      .bandingCurve(far, Seq(2, 4, 8), maxHamming = 3, hotBucketCap = 64)
      .collect()
    assert(deg.length === 3)
    deg.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("recall_ppm")) &&
        r.getAs[Long]("recall_ppm") === 0L,
        s"degenerate truth must read 0 ppm, got $r")
    }
  }

  test("packImageVariants' base PNG is byte-identical to packImages' PNG " +
       "for the same id") {
    val base = ImageDedup.packImageVariants(s, docs, "doc_id")
      .where(col("media_id") < 2000000L)
      .select(col("media_id"), md5(col("media")).as("m"))
    val plain = graft.operators.Multimodal.packImages(s, docs, "doc_id")
      .select(col("media_id"), md5(col("media")).as("m"))
    assert(base.count() === 100L)
    assert(base.join(plain, Seq("media_id", "m")).count() === 100L,
      "one renderer + one encoder must give one payload per id")
  }

  test("a truncated PNG is quarantined by the decode and dropped by " +
       "blockhashCodes") {
    import s.implicits._
    val png = graft.operators.Multimodal.packImages(s, docs.limit(1),
      "doc_id").select("media").head().getAs[Array[Byte]](0)
    val cut = png.take(png.length / 2)
    val packed = Seq((1L, png), (2L, cut)).toDF("media_id", "media")
    val decoded = graft.operators.Multimodal.decodeImages(s, packed)
      .orderBy("media_id").collect()
    assert(!decoded(0).isNullAt(2), "the whole PNG decodes")
    assert(decoded(1).isNullAt(2) && decoded(1).isNullAt(3) &&
      decoded(1).getSeq[Double](4).length === 16,
      "the truncated PNG quarantines to the byte histogram")
    val ids = ImageDedup.blockhashCodes(s, packed)
      .select("media_id").collect().map(_.getLong(0))
    assert(ids.toSeq === Seq(1L), "the truncated PNG gets no code")
  }
}
