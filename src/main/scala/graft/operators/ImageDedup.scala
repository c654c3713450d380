package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Image PERCEPTUAL near-duplicate detection (C97) — the dedup family
  * member the image surface was missing: the audio stack finds
  * gain-shifted/dithered audio copies (c12k/m/n landmark codes), but a
  * re-encoded or brightness-shifted image duplicate was invisible to
  * every existing matcher (exact dedup sees different BYTES; the c12
  * mean-RGB features shift with brightness).
  *
  * The perceptual code is a 64-bit BLOCKHASH (the aHash/Blockhash
  * family — Yang, Weng & Lei 2009's block-mean hash): decode with the
  * REAL codec (`javax.imageio`, the c12 path), grayscale each pixel as
  * the exact integer r+g+b, crop to the largest 8-aligned region (so
  * all 64 blocks hold EXACTLY the same pixel count), and set bit c iff
  * 64·blockSum(c) > totalSum. Equal-sized blocks make the code
  * ALGEBRAICALLY invariant to a uniform brightness shift — adding δ to
  * every channel adds 3δ·A/64 to each block and 3δ·A to the total, and
  * the strict inequality is preserved exactly — so a brightness-shifted
  * copy only flips bits where channel CLAMPING at 255 bends the shift,
  * which is the hamming tolerance's job. A re-encode (PNG → BMP — both
  * lossless) preserves pixels, hence the code, exactly.
  *
  * Candidate generation is the c3 SimHash discipline, not all-pairs:
  * split the code into 4 × 16-bit bands — any pair within hamming ≤ 3
  * shares at least one exact band (pigeonhole) — bucket-join on
  * (band, value), verify with bit_count(xor) ≤ maxHamming. A band
  * value held by more than `hotBucketCap` images (real crawls are full
  * of flat-color thumbnails whose codes collapse to a few values)
  * escalates to the FULL code as the join key, so a popular band never
  * goes quadratic — the same contract, and the same loss bound, as
  * [[Dedup.simhashDedupPairs]].
  *
  * Output pairs also carry `same_pixels` — whether the two images'
  * position-weighted pixel checksums agree — so a consumer can split
  * EXACT-pixel duplicates (the re-encode family: same image, different
  * container) from genuinely perceptual matches.
  *
  * At 100 TB: code extraction is one decode pass through the one media
  * transport ([[Multimodal.mediaRows]] — pixels never leave the
  * executor; 8 longs out per image); the join is banded with long keys
  * and hot-bucket escalation; pair volume tracks true near-duplicate
  * volume. Integer arithmetic end to end, so the DuckDB oracle replays
  * pixels (from the synthesis formula), crop, block sums, bits, bands,
  * hot rule, and hamming bit-for-bit.
  */
object ImageDedup {

  /** Build the c97 probe corpus: one REAL PNG per id from the c12 pixel
    * formula (byte-identical to [[Multimodal.packImages]]' payload), plus
    * — for ids divisible by 10 — two planted variants of the SAME
    * pixels: a BMP re-encode (media_id + 2e6; different bytes, identical
    * pixels) and a brightness-shifted PNG (media_id + 3e6; every channel
    * +`brightDelta`, saturating — different pixels everywhere, same
    * perceptual content). Exact byte-level dedup finds neither; this
    * operator must find both. Pixels come from
    * [[Multimodal.renderImage]], bytes from one
    * [[Multimodal.ImageEncoder]] per partition.
    */
  def packImageVariants(spark: SparkSession, df: DataFrame, idCol: String,
                        brightDelta: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType),
      StructField("format", StringType)))
    // ids keep their source partitioning (not Multimodal.idsByCores):
    // re-partitioning this stage is a performance change of its own
    val ids = df.select(col(idCol).cast("long").as("media_id"))
    Multimodal.mediaRows(ids, outSchema,
      () => new Multimodal.ImageEncoder) { (encoder, id, _) =>
      // variant ids live at base + 2e6 / base + 3e6: a base id at or
      // above 2e6 WITHIN ITS 1e7 BAND would silently COLLIDE a
      // planted variant with a real media id (r13 advice) — refuse
      // loudly instead. Bands of 1e7 are the documents replica
      // convention (ScaleReplica's docShift: copy i sits at
      // i·1e7 + base), which this guard turns from convention into
      // a checked invariant.
      require(id >= 0 && id % 10000000L < 2000000L,
        s"packImageVariants: base id $id at or above 2e6 within its " +
          "1e7 band — variant ids (+2e6/+3e6) would collide with the " +
          "corpus id domain")
      val base = Multimodal.renderImage(id, 0)
      val png = Row(id, encoder.encode(base, "png"), "image/png")
      if (id % 10 != 0) Iterator.single(png)
      else Iterator(png,
        Row(id + 2000000L, encoder.encode(base, "bmp"), "image/bmp"),
        Row(id + 3000000L, encoder.encode(
          Multimodal.renderImage(id, brightDelta), "png"), "image/png"))
    }
  }

  /** Decode each payload with the real codec and emit its grid²-bit
    * blockhash + the position-weighted pixel checksum (the exact-pixel
    * identity the `same_pixels` flag compares). Images smaller than
    * grid×grid after cropping, or undecodable payloads, are dropped (a
    * perceptual code over fewer pixels than bits is noise — the A13
    * quarantine posture applied to feature extraction).
    *
    * @param grid block-grid side (the C117 spec-rollover axis: a grid
    *        change re-encodes the corpus under a NEW spec version —
    *        codes from different grids are never comparable). Default
    *        8 = the production 64-bit code; grid² must fit the stored
    *        long.
    */
  def blockhashCodes(spark: SparkSession, packed: DataFrame,
                     grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid * grid <= 64,
      s"grid $grid: code width ${grid * grid} outside (4, 64]")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("code", LongType),
      StructField("pixsum", LongType)))
    Multimodal.mediaRows(packed, outSchema,
      () => new Multimodal.ImageDecoder) { (dec, id, bytes) =>
      val img = dec.read(bytes)
      if (img == null) Iterator.empty
      else {
        val w = img.getWidth
        val h = img.getHeight
        val w8 = w - w % grid
        val h8 = h - h % grid
        if (w8 < grid || h8 < grid) Iterator.empty
        else {
          val bw = w8 / grid
          val bh = h8 / grid
          val nCells = grid * grid
          val sums = new Array[Long](nCells)
          var total = 0L
          var pixsum = 0L
          val px = Multimodal.packedRgb(img)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // grey g(x, y) = the exact integer r + g + b
              val p = px(y * w + x)
              val g = ((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)
              pixsum += g.toLong * (x + 1) * (y + 3)
              if (x < w8 && y < h8) {
                val cell = (y / bh) * grid + (x / bw)
                sums(cell) += g
                total += g
              }
              x += 1
            }
            y += 1
          }
          var code = 0L
          var c = 0
          while (c < nCells) {
            if (nCells.toLong * sums(c) > total) code |= (1L << c)
            c += 1
          }
          Iterator.single(Row(id, w, h, code, pixsum))
        }
      }
    }
  }

  /** The banded candidate join at an EXPLICIT band count (C114's
    * sweep primitive; [[perceptualPairs]] is the bands=4 production
    * point): split the 64-bit code into `bands` equal bands, bucket-
    * join with hot-bucket escalation to the full code, and return ONE
    * row per candidate pair with its exact hamming — NOT filtered by
    * any threshold (the curve needs the candidates a banding
    * surfaces, then counts how many survive the verify cut).
    * Pigeonhole: a banding at b bands GUARANTEES every pair with
    * hamming ≤ b−1; beyond that it is best-effort recall.
    */
  private[graft] def bandedCandidatePairs(codes: DataFrame, bands: Int,
                                          hotBucketCap: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands $bands must divide the 64-bit code evenly")
    val w = 64 / bands
    val mask = if (w == 64) -1L else (1L << w) - 1L
    val banded = codes.select(col("media_id").as("id"), col("code"),
      posexplode(array((0 until bands).map(j =>
        shiftright(col("code"), j * w).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
    val hot = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") > hotBucketCap)
      .select(col("band"), col("bucket"), lit(true).as("__hot"))
    val refined = banded.join(broadcast(hot), Seq("band", "bucket"), "left")
      .select(col("id"), col("code"), col("band"), col("bucket"),
        when(col("__hot"), col("code")).otherwise(lit(0L)).as("refine"))
    val left = refined.select(col("band"), col("bucket"), col("refine"),
      col("id").as("id_a"), col("code").as("code_a"))
    val right = refined.select(col("band"), col("bucket"), col("refine"),
      col("id").as("id_b"), col("code").as("code_b"))
    // shuffle_hash, NOT auto-broadcast — the same b25/c27 rationale as
    // perceptualPairs: the build side is the corpus-sized banded frame
    // behind a posexplode
    left.join(right.hint("shuffle_hash"), Seq("band", "bucket", "refine"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(min(bit_count(col("code_a").bitwiseXOR(col("code_b"))))
        .as("hamming"))
  }

  /** C114: the banding TUNING CURVE for the image banded join — the
    * c98/c101 "pick a config from a table, not a guess" question on
    * the image surface: per band count, the candidate-pair volume the
    * banding generates (the COST — every candidate pays a verify) and
    * the verified pairs it finds at `maxHamming` (the RECALL), as ppm
    * of the guaranteed-exact largest banding. Few bands = cheap and
    * lossy past hamming b−1 (b=2 guarantees only hamming ≤ 1); the
    * production b=4 point is exactly c97's join, guaranteed for
    * hamming ≤ 3; b=8 is guaranteed to hamming 7 and pays more
    * candidates for the headroom. All integers, so every cell of the
    * curve is hash-exact.
    */
  def bandingCurve(codes: DataFrame, bandsGrid: Seq[Int],
                   maxHamming: Int = 3,
                   hotBucketCap: Int = 64): DataFrame = {
    require(bandsGrid.nonEmpty && bandsGrid == bandsGrid.sorted &&
      bandsGrid.distinct == bandsGrid, "bandsGrid must be sorted distinct")
    val truthB = bandsGrid.max
    require(truthB - 1 >= maxHamming,
      s"the largest banding ($truthB) must guarantee hamming $maxHamming")
    val perB = bandsGrid.map { b =>
      bandedCandidatePairs(codes, b, hotBucketCap)
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("hamming") <= maxHamming, 1L).otherwise(0L))
            .as("n_pairs"))
        .select(lit(b).as("bands"), lit(64 / b).as("band_bits"),
          lit(b - 1).as("guaranteed_hamming"),
          col("n_cand"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
    }.reduce(_ unionByName _)
    val truth = perB.where(col("bands") === truthB)
      .select(col("n_pairs").as("__t"))
    perB.crossJoin(truth)
      .select(col("bands"), col("band_bits"), col("guaranteed_hamming"),
        col("n_cand"), col("n_pairs"),
        // greatest(__t, 1): on a corpus with ZERO verified pairs at the
        // truth banding, IntegralDivide yields NULL while DuckDB's //
        // raises division-by-zero — guard so both engines agree on the
        // degenerate case (0 recall of an empty truth set; r14 advice)
        graft.functions.GraftExpressions
          .longDiv(col("n_pairs") * lit(1000000L),
            greatest(col("__t"), lit(1L)))
          .as("recall_ppm"))
      .orderBy("bands")
  }

  /** Perceptual near-dup pairs over [[blockhashCodes]] output: the c3
    * banded join (4 × 16-bit bands, hot-bucket escalation to the full
    * code) verified with bit_count(xor) ≤ maxHamming. Returns
    * (id_a, id_b, hamming, same_pixels), id_a < id_b.
    */
  def perceptualPairs(codes: DataFrame, maxHamming: Int = 3,
                      hotBucketCap: Int = 64): DataFrame = {
    val banded = codes.select(col("media_id").as("id"), col("code"),
        col("pixsum"),
        posexplode(array((0 until 4).map(j =>
          shiftright(col("code"), j * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "bucket")))
    val hot = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") > hotBucketCap)
      .select(col("band"), col("bucket"), lit(true).as("__hot"))
    val refined = banded.join(broadcast(hot), Seq("band", "bucket"), "left")
      .select(col("id"), col("code"), col("pixsum"), col("band"),
        col("bucket"),
        when(col("__hot"), col("code")).otherwise(lit(0L)).as("refine"))
    val left = refined.select(col("band"), col("bucket"), col("refine"),
      col("id").as("id_a"), col("code").as("code_a"),
      col("pixsum").as("ps_a"))
    val right = refined.select(col("band"), col("bucket"), col("refine"),
      col("id").as("id_b"), col("code").as("code_b"),
      col("pixsum").as("ps_b"))
    // shuffle_hash, NOT auto-broadcast (the b25/c27 rule): the build
    // side here is the full banded frame — 4 rows per image, CORPUS
    // sized — and Catalyst's size estimate flows through a posexplode,
    // exactly the misestimate class that built a multi-GiB
    // HashedRelation at scale. A banded self-join's sides are
    // identical, so the hinted exchange is computed once and reused.
    left.join(right.hint("shuffle_hash"), Seq("band", "bucket", "refine"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("code_a").bitwiseXOR(col("code_b"))).as("hamming"),
        (col("ps_a") === col("ps_b")).as("same_pixels"))
      .where(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b")
      .agg(min("hamming").as("hamming"),
        first("same_pixels").as("same_pixels"))
  }

  /** Cross-corpus perceptual pairs (C128) — the c2b incremental-crawl
    * shape on the image surface: yesterday's media have their codes
    * SITTING in [[graft.sources.ImageCodeStore]]; only today's
    * increment pays a decode. Banding, hot-bucket census and the
    * hamming verify are [[perceptualPairs]] verbatim, with the census
    * taken over the UNION of both sides (a bucket hot on the union
    * escalates both sides to full-code keys, so identical codes always
    * still meet — the minhashCrossPairs rule) and only REF × INC
    * candidate pairs emitted: the increment's internal dups are the
    * self-join's job, the reference's were handled when it was the
    * increment. Returns (ref_id, inc_id, hamming, same_pixels).
    */
  def perceptualCrossPairs(ref: DataFrame, inc: DataFrame,
                           maxHamming: Int = 3,
                           hotBucketCap: Int = 64): DataFrame = {
    def banded(codes: DataFrame, side: String): DataFrame =
      codes.select(lit(side).as("side"), col("media_id").as("id"),
        col("code"), col("pixsum"),
        posexplode(array((0 until 4).map(j =>
          shiftright(col("code"), j * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "bucket")))
    val both = banded(ref, "ref").unionByName(banded(inc, "inc"))
    val hot = both.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") > hotBucketCap)
      .select(col("band"), col("bucket"), lit(true).as("__hot"))
    val refined = both.join(broadcast(hot), Seq("band", "bucket"), "left")
      .select(col("side"), col("id"), col("code"), col("pixsum"),
        col("band"), col("bucket"),
        when(col("__hot"), col("code")).otherwise(lit(0L)).as("refine"))
    val left = refined.where(col("side") === "ref")
      .select(col("band"), col("bucket"), col("refine"),
        col("id").as("ref_id"), col("code").as("code_a"),
        col("pixsum").as("ps_a"))
    val right = refined.where(col("side") === "inc")
      .select(col("band"), col("bucket"), col("refine"),
        col("id").as("inc_id"), col("code").as("code_b"),
        col("pixsum").as("ps_b"))
    // shuffle_hash — the perceptualPairs rule: the banded frames are
    // corpus-sized behind a posexplode (the b25 misestimate class)
    left.join(right.hint("shuffle_hash"), Seq("band", "bucket", "refine"))
      .select(col("ref_id"), col("inc_id"),
        bit_count(col("code_a").bitwiseXOR(col("code_b"))).as("hamming"),
        (col("ps_a") === col("ps_b")).as("same_pixels"))
      .where(col("hamming") <= maxHamming)
      .groupBy("ref_id", "inc_id")
      .agg(min("hamming").as("hamming"),
        first("same_pixels").as("same_pixels"))
  }
}
