package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Audio-column support — the second real codec of the multimodal surface
  * (C12 images; this file is the audio twin). Payloads are REAL WAV
  * (RIFF/PCM) bytes produced and parsed by the JDK's own sampled-audio
  * stack (the `javax.sound.sampled` WAVE providers — pure JVM,
  * headless-safe, no native deps), so both directions run an actual
  * container codec, not a formula over raw bytes.
  *
  * Engine contract (identical to the image path): payloads are opaque
  * `binary` columns the optimizer never deserializes; every walk runs
  * executor-side through the one media transport
  * ([[Multimodal.mediaRows]]) with [[Wav]] as its codec — one encoder
  * ([[Wav.encode]]) and one decode gate ([[Wav.decode]]): a payload that
  * is not canonical 16-bit LE mono PCM WAV quarantines instead of
  * failing the task (the A13 PERMISSIVE rule), each operator in its
  * documented shape.
  *
  * Determinism contract (what makes the DuckDB gate possible): synthesized
  * PCM samples are an integer formula of (id, sample index), every
  * per-document aggregate (sum of squares ≤ 1600·2^30 < 2^53, peak, count)
  * is exactly representable in a double, and duration/rms divide by powers
  * of two — so Spark's codec-decoded features and the oracle's
  * formula-recomputed features are BIT-identical, no tolerance anywhere.
  */
object Audio {

  val SampleRate = 16000

  /** Decoded canonical PCM: 16-bit LE mono sample bytes and the
    * container's declared sample rate.
    */
  private[graft] final class Pcm(val bytes: Array[Byte], val rate: Float) {
    def n: Int = bytes.length / 2
  }

  /** The WAV codec behind every audio walk. Its JDK providers are
    * stateless and resolved once per JVM, so this one object serves
    * every partition and has nothing to release.
    */
  private[graft] object Wav extends AutoCloseable {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}
    import scala.jdk.CollectionConverters._

    def close(): Unit = ()

    private val canonical = new javax.sound.sampled.AudioFormat(
      AudioFormat.Encoding.PCM_SIGNED, SampleRate.toFloat, 16, 1, 2,
      SampleRate.toFloat, false)

    private def missing(kind: String): Nothing =
      throw new IllegalStateException(
        s"Audio: no javax.sound.sampled $kind for format 'WAVE'")

    /** The JDK's WAVE writer, resolved ONCE per JVM. Going through the
      * `AudioSystem` facade per row serializes the whole executor: every
      * `AudioSystem.write`/`getAudioInputStream` call walks the provider
      * registry via a `static synchronized` lookup
      * (`JDK13Services.getProviders`), so 32 codec threads contend on one
      * lock and per-row cost balloons ~30x (measured 3.6 ms/row vs the
      * 0.13 ms the codec itself costs). The providers themselves
      * (`WaveFileWriter`/`WaveFileReader` behind the
      * `javax.sound.sampled.spi` interfaces) are stateless, so one shared
      * instance serves all partitions — same parser, same bytes, no lock.
      */
    private lazy val writer: AudioFileWriter =
      java.util.ServiceLoader.load(classOf[AudioFileWriter]).asScala
        .find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))
        .getOrElse(missing("writer"))

    /** Registry order puts `SoftMidiAudioFileReader` BEFORE the WAV
      * parser, and its per-row rejection costs ~0.1 ms with its own
      * internal synchronization — 20x the whole WAV parse. Probing a
      * 1-sample synthesized WAV at init and moving its successful parser
      * to the front keeps the facade's try-all semantics (every provider
      * still gets a shot before a payload quarantines) while the hot path
      * hits the right parser first.
      */
    private lazy val readers: Array[AudioFileReader] = {
      val all = java.util.ServiceLoader.load(classOf[AudioFileReader])
        .asScala.toArray
      val probe = encode(Array[Byte](0, 0))
      val (wav, rest) = all.partition { r =>
        try { r.getAudioInputStream(
                new java.io.ByteArrayInputStream(probe)); true }
        catch { case _: Exception => false }
      }
      if (wav.isEmpty) missing("reader")
      wav ++ rest
    }

    /** The one WAV encoder: canonical PCM sample bytes (16-bit LE mono
      * @16 kHz) as a real RIFF/WAVE container — the writer lays out the
      * chunk structure; nothing is hand-assembled.
      */
    def encode(pcm: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      writer.write(new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
        canonical, pcm.length / 2L), AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** The one decode gate: the payload's samples when the REAL parser
      * (the facade's probe loop minus its synchronized registry walk:
      * each resolved provider, in order, on a fresh byte stream) reads
      * it as canonical 16-bit LE mono PCM, else null — quarantine.
      */
    def decode(bytes: Array[Byte]): Pcm =
      try {
        val ais = readers.iterator.map { r =>
          try r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
          catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => null
          }
        }.find(_ != null).orNull
        val fmt = if (ais == null) null else ais.getFormat
        if (fmt == null ||
            fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
            fmt.isBigEndian) null
        else new Pcm(ais.readAllBytes(), fmt.getSampleRate)
      } catch { case _: java.io.IOException => null }
  }

  /** Samples per clip: 800 + (id mod 5)·160 — 50–90 ms at 16 kHz, five
    * distinct lengths so duration math is exercised, divisible by 16 so
    * `duration_ms = n/16` is exact in binary floating point.
    */
  def nSamples(id: Long): Int = (800 + (id % 5) * 160).toInt

  /** Sample i of clip id: LCG-mixed 16-bit value in [-32768, 32767]. */
  def sample(id: Long, i: Int): Int =
    (((id * 7349L + i.toLong * 12345L + 6789L) % 65536L) - 32768L).toInt

  /** Synthesize REAL WAV payloads (PCM_SIGNED 16-bit LE mono @16 kHz)
    * through the one WAV encoder ([[Wav.encode]]) over cores-sized id
    * partitions ([[Multimodal.idsByCores]]). Output: (media_id, media:
    * binary, meta: {format, sample_rate, channels, bits}).
    */
  def packWav(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType),
      StructField("meta", StructType(Seq(
        StructField("format", StringType),
        StructField("sample_rate", IntegerType),
        StructField("channels", IntegerType),
        StructField("bits", IntegerType))))))
    Multimodal.mediaRows(Multimodal.idsByCores(spark, df, idCol), outSchema,
      () => Wav) { (wav, id, _) =>
      val pcm = pcmBytes(nSamples(id))(sample(id, _))
      Iterator.single(
        Row(id, wav.encode(pcm), Row("audio/wav", SampleRate, 1, 16)))
    }
  }

  /** Samples `sampleOf(0 until n)` as 16-bit LE PCM bytes. */
  private def pcmBytes(n: Int)(sampleOf: Int => Int): Array[Byte] = {
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = sampleOf(i)
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    pcm
  }

  /** The planted audio-dedup corpus: every `doc_id % 4 == 0` id of
    * `docs` as a REAL WAV clip, plus a half-gain re-master ([[gainWav]])
    * of every `media_id % 7 == 0` clip at +3e6 — the amplitude-shifted
    * duplicates the chained-landmark matcher exists to find (ids are
    * non-negative, so `%` is the oracle's `pmod`).
    */
  def plantedGainCorpus(spark: SparkSession, docs: DataFrame): DataFrame = {
    val wavs = packWav(spark, docs.where(col("doc_id") % 4 === 0), "doc_id")
    wavs.unionByName(gainWav(spark,
      wavs.where(col("media_id") % 7 === 0)
        .withColumn("media_id", col("media_id") + lit(3000000L))))
  }

  /** Decode + feature-extract with the REAL parser ([[Wav.decode]] —
    * validates the RIFF/WAVE chunk structure and yields the format): per
    * clip, (n_samples, sample_rate, duration_ms, rms, peak). Payloads
    * the gate refuses — non-WAV, non-canonical PCM, or a codec failure —
    * and empty clips or non-positive rates yield null features with the
    * byte count kept — quarantine, not crash.
    *
    * Feature math (the oracle-replicable contract): rms =
    * sqrt(Σ s²/n) with Σ s² accumulated exactly in a long; peak =
    * max |s|; duration_ms = n·1000/rate. All three land bit-identical to
    * the oracle's integer-formula recomputation.
    */
  def decodeWav(spark: SparkSession, packed: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_bytes", IntegerType),
      StructField("n_samples", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", DoubleType),
      StructField("rms", DoubleType),
      StructField("peak", IntegerType)))
    Multimodal.mediaRows(packed, outSchema, () => Wav) { (_, id, bytes) =>
      Iterator.single(decodeOne(id, bytes))
    }
  }

  /** Spectral features over the decoded PCM — the filters a training
    * pipeline actually runs on audio (speech/music/noise discrimination,
    * silence and tone rejection) where [[decodeWav]] stops at rms/peak.
    *
    * The spectrum is the WALSH–HADAMARD (sequency) power spectrum of the
    * first `frame` samples: H[j,i] = (−1)^popcount(j AND i), X_j = Σ_i
    * s_i·H[j,i] via the O(N log N) fast transform, P_j = X_j². The
    * sequency domain is the dyadic analogue of the Fourier domain (used
    * in fast audio fingerprinting for exactly this reason) and — unlike
    * a float FFT — is INTEGER-EXACT: every X_j is an exact ±sum of
    * 16-bit samples (|X_j| ≤ 128·32768 = 2^22), every P_j ≤ 2^44, and
    * every aggregate below is an exact-integer ratio, so the features
    * are bit-identical to the DuckDB oracle's direct popcount-formula
    * recomputation. No tolerance anywhere — the c12d contract.
    *
    * Per clip: zcr (sign transitions over the WHOLE clip), seq_centroid
    * (Σ j·P_j / Σ P_j — the sequency-domain centroid), seq_crest
    * (N·max P_j / Σ P_j — max-to-mean, the flatness complement: 1 =
    * perfectly flat, N = single-line spectrum), dominant_seq (argmax j,
    * ties to the smallest), and flatness (geometric/arithmetic mean of
    * P_j+1 — the classic Wiener entropy; exp/ln make it engine-specific
    * at the last ulp, so it is SPEC-locked in AudioSpec rather than
    * oracle-hashed — the gate projects the exact columns).
    * Non-WAV/short payloads quarantine to null features (A13 rule).
    */
  def spectralFeatures(spark: SparkSession, packed: DataFrame,
                       frame: Int = 128): DataFrame = {
    requirePow2(frame)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_samples", IntegerType),
      StructField("zcr", IntegerType),
      StructField("seq_centroid", DoubleType),
      StructField("seq_crest", DoubleType),
      StructField("dominant_seq", IntegerType),
      StructField("flatness", DoubleType)))
    Multimodal.mediaRows(packed, outSchema, () => Wav) { (_, id, bytes) =>
      Iterator.single(spectralOne(id, bytes, frame))
    }
  }

  private def requirePow2(frame: Int): Unit =
    require(frame > 0 && (frame & (frame - 1)) == 0,
      "frame must be a power of two (fast WHT butterfly)")

  private def sampleAt(pcm: Array[Byte], i: Int): Int =
    ((pcm(2 * i) & 0xFF) | (pcm(2 * i + 1) << 8)).toShort.toInt

  /** Power spectrum P_j = X_j² of `frame` samples starting at sample
    * offset `off`, via the fast in-place WHT butterfly (natural Hadamard
    * order: X_j = Σ_i s_i·(−1)^popcount(j AND i)). All values exact
    * integers.
    */
  private[graft] def whtPowers(pcm: Array[Byte], frame: Int,
                               off: Int = 0): Array[Long] = {
    val a = new Array[Long](frame)
    var i = 0
    while (i < frame) { a(i) = sampleAt(pcm, off + i).toLong; i += 1 }
    var h = 1
    while (h < frame) {
      var s = 0
      while (s < frame) {
        var j = s
        while (j < s + h) {
          val x = a(j); val y = a(j + h)
          a(j) = x + y; a(j + h) = x - y
          j += 1
        }
        s += 2 * h
      }
      h *= 2
    }
    i = 0
    while (i < frame) { a(i) = a(i) * a(i); i += 1 }
    a
  }

  private[graft] def spectralOne(id: Long, bytes: Array[Byte],
                                 frame: Int): Row = {
    val decoded = Wav.decode(bytes)
    val n = if (decoded == null) 0 else decoded.n
    if (decoded == null || n < frame)
      Row(id, if (decoded == null) null else n, null, null, null, null, null)
    else {
      val pcm = decoded.bytes
      // zero crossings over the whole clip: strict sign-bit transitions
      var zcr = 0
      var prevNeg = sampleAt(pcm, 0) < 0
      var i = 1
      while (i < n) {
        val neg = sampleAt(pcm, i) < 0
        if (neg != prevNeg) zcr += 1
        prevNeg = neg
        i += 1
      }
      val p = whtPowers(pcm, frame)
      var energy = 0L   // Σ P_j            ≤ 2^51 — exact
      var wSum = 0L     // Σ j·P_j          ≤ 2^58 — exact in long
      var maxP = 0L
      var argmax = 0
      var lnSum = 0.0   // Σ ln(P_j + 1) — flatness only (spec-locked)
      i = 0
      while (i < frame) {
        energy += p(i)
        wSum += i.toLong * p(i)
        if (p(i) > maxP) { maxP = p(i); argmax = i }
        lnSum += math.log(p(i).toDouble + 1.0)
        i += 1
      }
      // all-silent frame: no spectrum to describe — features null
      if (energy == 0L) Row(id, n, zcr, null, null, null, null)
      else {
        val centroid = wSum.toDouble / energy.toDouble
        val crest = frame.toDouble * maxP.toDouble / energy.toDouble
        val am = energy.toDouble / frame + 1.0
        val flatness = math.exp(lnSum / frame) / am
        Row(id, n, zcr, centroid, crest, argmax, flatness)
      }
    }
  }

  /** Dyadic band-energy profile over the sequency spectrum — the
    * equalizer view of [[spectralFeatures]]'s scalars, and the feature
    * vector an audio-quality classifier actually consumes. Band 0 is the
    * DC line {j = 0}; band b (1 ≤ b ≤ log2(frame)) covers sequencies
    * [2^(b−1), 2^b). Each band's energy is the exact integer Σ P_j
    * (shipped as BIGINT — no floating point at all), `frac` the
    * exact-integer ratio band/total (deterministic double). One row per
    * (clip, band); silent/short/non-WAV clips quarantine to a single
    * (band = −1, null) row, the A13 rule.
    */
  def bandEnergies(spark: SparkSession, packed: DataFrame,
                   frame: Int = 128): DataFrame = {
    requirePow2(frame)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("band", IntegerType),
      StructField("band_energy", LongType),
      StructField("frac", DoubleType)))
    Multimodal.mediaRows(packed, outSchema, () => Wav) { (wav, id, bytes) =>
      val pcm = wav.decode(bytes)
      val bands =
        if (pcm == null || pcm.n < frame) Nil
        else bandProfile(whtPowers(pcm.bytes, frame))
      if (bands.isEmpty) Seq(Row(id, -1, null, null))
      else bands.map { case (b, e, frac) => Row(id, b, e, frac) }
    }
  }

  /** The one dyadic band fold of a frame's powers: (band, energy, frac)
    * for band 0 = the DC line and band b ≥ 1 = sequencies [2^(b−1),
    * 2^b); empty for a silent frame (no total to divide by).
    */
  private def bandProfile(p: Array[Long]): Seq[(Int, Long, Double)] = {
    val bands =
      new Array[Long](java.lang.Integer.numberOfTrailingZeros(p.length) + 1)
    var j = 0
    while (j < p.length) {
      bands(if (j == 0) 0 else 32 - Integer.numberOfLeadingZeros(j)) += p(j)
      j += 1
    }
    val total = bands.sum
    if (total == 0L) Nil
    else bands.indices.map(b =>
      (b, bands(b), bands(b).toDouble / total.toDouble))
  }

  /** WHT spectrogram — the time × sequency surface that completes the
    * audio feature stack (C12g gives one frame's scalars, C12h one
    * frame's bands, C12i the time axis; this is the full grid): every
    * non-overlapping `frame`-sample window gets its Walsh–Hadamard power
    * spectrum, re-grouped into the dyadic bands of [[bandEnergies]].
    * Per (clip, frame, band): the exact integer band energy and its
    * exact-ratio fraction of the frame's total. Zero tolerance — the
    * oracle recomputes the whole grid from the popcount formula.
    * Short/non-WAV payloads quarantine to one (frame_idx = −1) row.
    */
  def spectrogram(spark: SparkSession, packed: DataFrame,
                  frame: Int = 128, hop: Int = 0): DataFrame = {
    requirePow2(frame)
    // hop < frame = overlapping frames (the STFT convention: a transient
    // landing on a frame boundary is split by the non-overlapping grid
    // but fully inside some hopped frame). hop <= 0 means hop = frame —
    // the non-overlapping grid, where frame f covers [f*frame, (f+1)*frame)
    // and the two index formulas coincide.
    val step = if (hop <= 0) frame else hop
    require(step <= frame, "hop must not exceed frame (gaps drop samples)")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("band", IntegerType),
      StructField("band_energy", LongType),
      StructField("frac", DoubleType)))
    Multimodal.mediaRows(packed, outSchema, () => Wav) { (wav, id, bytes) =>
      val pcm = wav.decode(bytes)
      if (pcm == null || pcm.n < frame) Seq(Row(id, -1, null, null, null))
      else (0 until (pcm.n - frame) / step + 1).flatMap { f =>
        val bands = bandProfile(whtPowers(pcm.bytes, frame, f * step))
        if (bands.isEmpty) Seq(Row(id, f, -1, null, null))
        else bands.map { case (b, e, frac) => Row(id, f, b, e, frac) }
      }
    }
  }

  /** Audio near-duplicate pairs via spectral landmark codes — the dedup
    * family's audio member (C1–C5 cover text and embeddings; this is
    * the same candidate-generation discipline on sound). Per frame, the
    * landmark is the DOMINANT sequency line (argmax_j P_j, ties to the
    * lower j) together with its exact power: code = (frame_idx, j,
    * P_j). Two clips sharing ≥ `minShared` codes are duplicates — this
    * is C1's exact-dedup contract lifted to the AUDIO level: identical
    * PCM matches even when the container bytes differ (re-wrapped /
    * re-encoded WAV headers defeat a byte md5; the spectrum doesn't
    * care). A production robust matcher would quantize the magnitude
    * and chain landmarks Shazam-style; the exact-magnitude code is the
    * deterministic core both build on.
    *
    * Scale shape: codes per clip are frame-count-sized (≤ ~11 here,
    * one small row each — the payload never rides the join); the
    * self-join keys on (frame, line, 44-bit exact power), so bucket
    * collisions are vanishingly rare for non-copies and the pair count
    * tracks true-duplicate volume. Integer-exact end to end — the
    * DuckDB oracle replays grid, argmax, join, and threshold with no
    * tolerance. Returns (id_a, id_b, n_shared) with id_a < id_b.
    */
  def fingerprintPairs(spark: SparkSession, packed: DataFrame,
                       frame: Int = 128, minShared: Int = 5): DataFrame = {
    val codeSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("line", IntegerType),
      StructField("power", LongType)))
    val codes = Multimodal.mediaRows(packed, codeSchema, () => Wav) {
      (wav, id, bytes) =>
        dominantLines(wav.decode(bytes), frame).zipWithIndex.map {
          case ((line, power), f) => Row(id, f, line, power)
        }
    }
    sharedCodePairs(codes, codes, Seq("frame_idx", "line", "power"),
      minShared)
  }

  /** The one dominant-line pass: per non-overlapping `frame`-sample
    * window, the argmax sequency line of its WHT power spectrum (ties to
    * the lower j) with that line's exact power. Empty for a quarantined
    * clip or one shorter than a frame.
    */
  private def dominantLines(pcm: Pcm, frame: Int): IndexedSeq[(Int, Long)] =
    if (pcm == null) IndexedSeq.empty
    else (0 until pcm.n / frame).map { f =>
      val p = whtPowers(pcm.bytes, frame, f * frame)
      var best = 0
      var bestP = -1L
      var j = 0
      while (j < frame) {
        if (p(j) > bestP) { bestP = p(j); best = j }
        j += 1
      }
      (best, bestP)
    }

  /** The one landmark self-join rollup: clips whose codes agree on every
    * `keys` column pair up (id_a < id_b), counted per pair and kept at
    * ≥ `minShared` shared codes. `left` and `right` carry `media_id`
    * and the keys. shuffle_hash, NOT auto-broadcast (the b25/c27 rule,
    * applied in the r13 banded-join audit): the build side is the
    * CORPUS-scaled code frame (one landmark per frame per clip).
    */
  private def sharedCodePairs(left: DataFrame, right: DataFrame,
                              keys: Seq[String],
                              minShared: Int): DataFrame = {
    def side(codes: DataFrame, id: String): DataFrame =
      codes.select(col("media_id").as(id) +: keys.map(col): _*)
    side(left, "id_a").join(side(right, "id_b").hint("shuffle_hash"), keys)
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Re-encode every clip with a deterministic ±1 LSB dither — the
    * smallest lossy transform a real pipeline meets (requantization,
    * dither, transcode round-off). Sample i becomes
    * clamp(s_i + (i mod 3 == 0 ? +1 : −1)) — deliberately NOT a Walsh
    * function of the index (an alternating ±1 dither IS W_1, so it would
    * shift ONLY sequency line 1 by exactly ±128 and leave every other
    * power bit-identical; the period-3 pattern spreads a small
    * perturbation across ALL lines, which is what a generic transcode
    * does). The payload goes through the REAL codec both ways:
    * parse → perturb PCM → re-encode. Exact landmark codes
    * ([[fingerprintPairs]]) no longer match a dithered copy — every
    * line's power moves — while the quantized-magnitude codes of
    * [[robustFingerprintPairs]] still do. Deterministic and formula-
    * replicable: the oracle applies the same clamp(v + δ_i) to the
    * synthesis LCG. Non-WAV payloads pass through unchanged (A13 rule:
    * quarantine is the consumer's job, a transform never drops rows).
    */
  def ditherWav(spark: SparkSession, packed: DataFrame): DataFrame =
    remapSamples(packed) { (i, s) =>
      math.max(-32768, math.min(32767, s + (if (i % 3 == 0) 1 else -1)))
    }

  /** Re-encode every clip at HALF gain — the volume-normalization /
    * re-mastering transform that defeats magnitude-carrying fingerprints:
    * sample i becomes s_i / 2 (truncating integer division — Java's `/`
    * and DuckDB's `//` agree on truncation toward zero, so the oracle
    * replays it exactly). Every sequency power scales by ~1/4 (plus
    * bounded rounding noise), so [[robustFingerprintPairs]]' qmag moves
    * TWO buckets (> tol) and the match is lost — while the dominant
    * LINES, which carry no magnitude, survive: the demonstration that
    * motivates [[chainedFingerprintPairs]]. Real codec both ways;
    * non-WAV payloads pass through (A13).
    */
  def gainWav(spark: SparkSession, packed: DataFrame): DataFrame =
    remapSamples(packed)((_, s) => s / 2)

  /** The one sample-remap transform: every canonical clip's sample i
    * becomes `f(i, s_i)`, re-encoded through [[Wav.encode]]; payloads
    * the decode gate refuses pass through byte-identical. A 1:1
    * bytes → bytes map of the `media` column, so it rides `withColumn`
    * and every other column of `packed` (meta, …) is kept as is.
    */
  private def remapSamples(packed: DataFrame)(f: (Int, Int) => Int)
      : DataFrame = {
    val remap = udf { (bytes: Array[Byte]) =>
      val pcm = Wav.decode(bytes)
      if (pcm == null) bytes
      else Wav.encode(pcmBytes(pcm.n)(i => f(i, sampleAt(pcm.bytes, i))))
    }
    packed.withColumn("media", remap(col("media")))
  }

  /** Amplitude-INVARIANT audio matching via chained landmarks — the
    * actual Shazam construction (Wang 2003, public): the code drops
    * magnitude entirely and pairs the dominant line of anchor frame a
    * with the dominant line of frame a+1 — (a, line_a, line_{a+1}).
    * Two lines + the anchor position give ~anchor·128² specificity
    * without any amplitude term, so a re-mastered copy (gain change —
    * [[gainWav]]) still matches: powers scale, argmax lines don't.
    * The magnitude family ([[fingerprintPairs]] exact,
    * [[robustFingerprintPairs]] ±1 bucket) both lose gain-shifted
    * copies; this finds them — the three matchers are the
    * sensitivity/specificity ladder a production pipeline picks from.
    *
    * Same scale shape as the others: codes per clip are frame-count-
    * sized, the join is a hash equi-join on the full code, pair volume
    * tracks true-duplicate volume. Integer-exact end to end. Returns
    * (id_a, id_b, n_shared), id_a < id_b.
    */
  def chainedFingerprintPairs(spark: SparkSession, packed: DataFrame,
                              frame: Int = 128,
                              minShared: Int = 4): DataFrame =
    chainedPairsFromCodes(chainedLandmarkRows(spark, packed, frame),
      minShared)

  /** The chained-landmark CODE TABLE — the decode half of
    * [[chainedFingerprintPairs]], split out so a versioned store
    * ([[graft.sources.AudioCodeStore]], C115) can pay the WAV decode +
    * WHT chain ONCE per ingest epoch instead of once per query (the
    * c104 discipline on the audio surface, the modality where decode
    * is most expensive per byte).
    *
    * Output: one META row per DECODABLE clip — (media_id, n_samples,
    * anchor = −1, line_a = −1, line_t = −1), carrying the real decoded
    * duration the c105 blocking/election consume — plus one CODE row
    * per chained landmark (anchor ≥ 0, the Wang-2003 (a, line_a,
    * line_{a+1}) construction). Codes are small integers, so they
    * round-trip parquet bit-exactly and pairs-from-stored ≡
    * pairs-from-decode BY CONSTRUCTION (the two paths share
    * [[chainedPairsFromCodes]] verbatim). Undecodable or empty
    * payloads emit nothing — a clip that cannot be decoded cannot be
    * fingerprinted (the store's contract; quarantine reporting is
    * [[decodeWav]]'s job).
    */
  def chainedLandmarkRows(spark: SparkSession, packed: DataFrame,
                          frame: Int = 128): DataFrame = {
    val codeSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_samples", LongType),
      StructField("anchor", IntegerType),
      StructField("line_a", IntegerType),
      StructField("line_t", IntegerType)))
    Multimodal.mediaRows(packed, codeSchema, () => Wav) { (wav, id, bytes) =>
      val pcm = wav.decode(bytes)
      if (pcm == null || pcm.n == 0) Iterator.empty
      else {
        val n = pcm.n.toLong
        val lines = dominantLines(pcm, frame).map(_._1)
        Iterator.single(Row(id, n, -1, -1, -1)) ++
          (0 until lines.length - 1).iterator.map { a =>
            Row(id, n, a, lines(a), lines(a + 1))
          }
      }
    }
  }

  /** The serving half of [[chainedFingerprintPairs]]: the hash
    * equi-join + shared-count rollup over a chained-landmark code
    * table ([[chainedLandmarkRows]] output or the stored table that
    * persists it — META rows filter out on anchor ≥ 0). Shared
    * VERBATIM by the decode path and the stored-code path, so the
    * store's serving gate (pairs-from-stored hash-equals
    * pairs-from-decode) holds by construction. No decode anywhere in
    * this plan — the property PlanAuditSpec locks for C115.
    */
  def chainedPairsFromCodes(codes: DataFrame,
                            minShared: Int = 4): DataFrame = {
    val base = codes.where(col("anchor") >= 0)
    sharedCodePairs(base, base, Seq("anchor", "line_a", "line_t"), minShared)
  }

  /** Cross-corpus chained-landmark pairs (C129) — the c2b
    * incremental-crawl shape on the audio surface: the reference
    * corpus's landmarks sit in [[graft.sources.AudioCodeStore]]; only
    * the increment pays a decode + WHT chain. The equi-join and the
    * shared-count threshold are [[chainedPairsFromCodes]] verbatim,
    * restricted to REF × INC pairs (the increment's internal dups are
    * the self-join's job). Returns (ref_id, inc_id, n_shared).
    */
  def chainedCrossPairsFromCodes(refCodes: DataFrame, incCodes: DataFrame,
                                 minShared: Int = 4): DataFrame = {
    def sideOf(codes: DataFrame, idAs: String): DataFrame =
      codes.where(col("anchor") >= 0)
        .select(col("media_id").as(idAs), col("anchor"), col("line_a"),
          col("line_t"))
    val l = sideOf(refCodes, "ref_id")
    val r = sideOf(incCodes, "inc_id")
    // shuffle_hash — the r13 banded-join audit rule (corpus-scaled
    // build side)
    l.join(r.hint("shuffle_hash"), Seq("anchor", "line_a", "line_t"))
      .groupBy("ref_id", "inc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Robust audio near-dup pairs — [[fingerprintPairs]]'s exact-power
    * landmark hardened against small lossy perturbations (the Shazam-
    * style construction the exact code is the deterministic core of).
    * The landmark keeps the dominant sequency LINE but quantizes the
    * magnitude to its BIT LENGTH (qmag = 64 − nlz(P), i.e.
    * floor(log2 P) + 1 — a coarse log bucket): two frames match when
    * they agree on (frame_idx, line) and their qmags differ by ≤ `tol`.
    * An LSB-level dither moves each power by O(X_j) ≪ P_j, so the line
    * survives and qmag moves at most one bucket — the dithered copy
    * pairs up here while the exact matcher misses it (spec-locked both
    * ways in AudioSpec).
    *
    * Scale shape: the tolerance band is implemented as candidate-key
    * EXPANSION, not an inequality join — side A emits one row per
    * qmag + δ, δ ∈ [−tol, tol], and the join stays a hash equi-join on
    * (frame, line, qmag) (the B18/B25 discipline: never give the planner
    * a non-equi pair predicate). Each true pair-frame matches exactly
    * once (only δ = qmag_b − qmag_a hits), so the shared-frame count
    * needs no dedup. Codes per clip are frame-count-sized; pair volume
    * tracks true near-duplicate volume. Integer-exact end to end — the
    * DuckDB oracle replays grid, argmax, bit-length, band join, and
    * threshold with no tolerance. Returns (id_a, id_b, n_shared),
    * id_a < id_b.
    */
  def robustFingerprintPairs(spark: SparkSession, packed: DataFrame,
                             frame: Int = 128, minShared: Int = 5,
                             tol: Int = 1): DataFrame = {
    require(tol >= 0, "tol must be non-negative")
    val codeSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("line", IntegerType),
      StructField("qmag", IntegerType)))
    val codes = Multimodal.mediaRows(packed, codeSchema, () => Wav) {
      (wav, id, bytes) =>
        dominantLines(wav.decode(bytes), frame).zipWithIndex.map {
          case ((line, power), f) =>
            val qmag =
              if (power == 0L) 0
              else 64 - java.lang.Long.numberOfLeadingZeros(power)
            Row(id, f, line, qmag)
        }
    }
    // the delta-expanded left is 2*tol+1 x the corpus-scaled build side
    val deltas = array((-tol to tol).map(lit): _*)
    val expanded = codes.select(col("media_id"), col("frame_idx"),
        col("line"), col("qmag"), explode(deltas).as("delta"))
      .withColumn("qmag", col("qmag") + col("delta")).drop("delta")
    sharedCodePairs(expanded, codes, Seq("frame_idx", "line", "qmag"),
      minShared)
  }

  /** Frame-level activity profile — the envelope view a VAD/silence
    * filter consumes: the clip is cut into consecutive non-overlapping
    * `frame`-sample windows (the partial tail frame is dropped — a
    * fixed-length frame grid is the spectrogram convention) and each
    * frame reports its exact integer energy (Σ s², ≤ 128·2^30 = 2^37 —
    * exact in long AND double), within-frame zero-crossing count, and
    * peak. No floating point anywhere; the oracle recomputes every row
    * from the synthesis formula. Short/non-WAV payloads quarantine to a
    * single (frame_idx = −1, null) row — the A13 rule.
    */
  def activityFrames(spark: SparkSession, packed: DataFrame,
                     frame: Int = 128): DataFrame = {
    require(frame > 1, "frame must have at least two samples")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("energy", LongType),
      StructField("zcr", IntegerType),
      StructField("peak", IntegerType)))
    Multimodal.mediaRows(packed, outSchema, () => Wav) { (wav, id, bytes) =>
      val decoded = wav.decode(bytes)
      if (decoded == null || decoded.n < frame)
        Seq(Row(id, -1, null, null, null))
      else (0 until decoded.n / frame).map { f =>
        val pcm = decoded.bytes
        val off = f * frame
        var energy = 0L
        var zcr = 0
        var peak = 0
        var prevNeg = sampleAt(pcm, off) < 0
        var i = 0
        while (i < frame) {
          val s = sampleAt(pcm, off + i)
          energy += s.toLong * s
          val a = math.abs(s)
          if (a > peak) peak = a
          val neg = s < 0
          if (i > 0 && neg != prevNeg) zcr += 1
          prevNeg = neg
          i += 1
        }
        Row(id, f, energy, zcr, peak)
      }
    }
  }

  private[graft] def decodeOne(id: Long, bytes: Array[Byte]): Row = {
    val pcm = Wav.decode(bytes)
    // a structurally valid but EMPTY clip has no rms/duration —
    // quarantine rather than emit NaN (0/0) features
    if (pcm == null || pcm.rate <= 0 || pcm.n == 0)
      Row(id, bytes.length, null, null, null, null, null)
    else {
      var sumSq = 0L
      var peak = 0
      var i = 0
      while (i < pcm.n) {
        val s = sampleAt(pcm.bytes, i)
        sumSq += s.toLong * s
        val a = math.abs(s)
        if (a > peak) peak = a
        i += 1
      }
      val rate = pcm.rate.toInt
      Row(id, bytes.length, pcm.n, rate, pcm.n * 1000.0 / rate,
        math.sqrt(sumSq.toDouble / pcm.n), peak)
    }
  }
}
