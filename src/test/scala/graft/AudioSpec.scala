package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Audio

class AudioSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = Tables(spark, sfDir(), "documents")
    .select("doc_id").limit(25)
  private lazy val packed = Audio.packWav(spark, docs, "doc_id")

  test("packWav emits REAL WAV containers: RIFF magic, JDK-parseable, " +
    "declared format") {
    val rows = packed.collect()
    assert(rows.length === 25)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("media")
      assert(new String(bytes.take(4), "US-ASCII") === "RIFF")
      assert(new String(bytes.slice(8, 12), "US-ASCII") === "WAVE")
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      assert(fmt.getSampleRate.toInt === Audio.SampleRate)
      assert(fmt.getChannels === 1)
      assert(fmt.getSampleSizeInBits === 16)
      assert(!fmt.isBigEndian)
    }
  }

  test("decode round-trip: every feature equals the synthesis formula " +
    "(codec must preserve all PCM samples bit-exactly)") {
    val out = Audio.decodeWav(spark, packed).collect()
    assert(out.length === 25)
    out.foreach { r =>
      val id = r.getLong(0)
      val n = Audio.nSamples(id)
      var sumSq = 0L
      var peak = 0
      (0 until n).foreach { i =>
        val s = Audio.sample(id, i)
        sumSq += s.toLong * s
        peak = math.max(peak, math.abs(s))
      }
      assert(r.getAs[Int]("n_samples") === n, s"id=$id n")
      assert(r.getAs[Int]("sample_rate") === Audio.SampleRate)
      assert(r.getAs[Double]("duration_ms") === n * 1000.0 / Audio.SampleRate)
      assert(r.getAs[Double]("rms") === math.sqrt(sumSq.toDouble / n),
        s"id=$id rms must be bit-exact")
      assert(r.getAs[Int]("peak") === peak, s"id=$id peak")
    }
  }

  test("non-WAV payloads quarantine to null features, byte count kept " +
    "(the A13 PERMISSIVE rule)") {
    val junk = packed.select(col("media_id"),
      // corrupt: text bytes, truncated header, empty
      when(col("media_id") % 3 === 0, encode(lit("not audio at all"), "UTF-8"))
        .when(col("media_id") % 3 === 1,
          substring(col("media"), 1, 11).cast("binary"))
        .otherwise(encode(lit(""), "UTF-8")).as("media"))
    val out = Audio.decodeWav(spark, junk).collect()
    assert(out.length === 25)
    out.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("n_samples")), s"row $r must quarantine")
      assert(r.isNullAt(r.fieldIndex("rms")))
      assert(!r.isNullAt(r.fieldIndex("n_bytes")))
    }
  }

  test("a structurally valid but EMPTY wav quarantines instead of " +
    "emitting NaN features") {
    // a real WAV container with a zero-length data chunk
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      16000f, 16, 1, 2, 16000f, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(Array.emptyByteArray), fmt, 0L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val out = Audio.decodeOne(7L, bos.toByteArray)
    // decodeOne rows are positional (schema attaches in decodeWav):
    // (media_id, n_bytes, n_samples, sample_rate, duration_ms, rms, peak)
    assert(out.isNullAt(5), s"empty clip must quarantine (rms): $out")
    assert(out.isNullAt(2), s"empty clip must quarantine (n_samples): $out")
  }

  test("decode gate: a JDK-written WAV that is not 16-bit LE mono PCM " +
    "quarantines in every audio operator") {
    import spark.implicits._
    // the non-canonical clips carry the canonical clip's PCM bytes under
    // a stereo / 8-bit header, so an operator that skipped the gate would
    // read the same samples and pair them with the canonical clip
    val id = 4L
    val canon = Audio.packWav(spark, Seq(id).toDF("doc_id"), "doc_id")
      .collect().head.getAs[Array[Byte]]("media")
    val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(canon)).readAllBytes()
    def wav(enc: javax.sound.sampled.AudioFormat.Encoding, bits: Int,
            channels: Int): Array[Byte] = {
      val frameBytes = bits / 8 * channels
      val fmt = new javax.sound.sampled.AudioFormat(enc,
        Audio.SampleRate.toFloat, bits, channels, frameBytes,
        Audio.SampleRate.toFloat, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt,
          (pcm.length / frameBytes).toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val stereo = wav(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED, 16, 2)
    val mono8 = wav(
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED, 8, 1)
    Seq(stereo, mono8).foreach { b =>
      val fmt = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b)).getFormat
      assert(fmt.getChannels != 1 || fmt.getSampleSizeInBits != 16,
        s"fixture must be non-canonical: $fmt")
    }
    val (copyId, stereoId, mono8Id) = (id + 1000000L, 2001L, 2002L)
    val bad = Set(stereoId, mono8Id)
    val clips = Seq(id -> canon, copyId -> canon, stereoId -> stereo,
      mono8Id -> mono8).toDF("media_id", "media")
    def byId(df: org.apache.spark.sql.DataFrame)
        : Map[Long, Array[org.apache.spark.sql.Row]] =
      df.collect().groupBy(_.getLong(0))
    def one(rs: Array[org.apache.spark.sql.Row]): org.apache.spark.sql.Row = {
      assert(rs.length === 1, s"one quarantine row expected: ${rs.toSeq}")
      rs.head
    }

    val dec = byId(Audio.decodeWav(spark, clips))
    assert(!dec(id).head.isNullAt(dec(id).head.fieldIndex("rms")))
    Seq(stereoId -> stereo, mono8Id -> mono8).foreach { case (b, bytes) =>
      val r = one(dec(b))
      (2 until r.length).foreach(i => assert(r.isNullAt(i), s"decodeWav $r"))
      assert(r.getAs[Int]("n_bytes") === bytes.length)
    }
    val spec = byId(Audio.spectralFeatures(spark, clips))
    assert(!spec(id).head.isNullAt(3))
    bad.foreach { b =>
      val r = one(spec(b))
      (1 until r.length).foreach(i =>
        assert(r.isNullAt(i), s"spectralFeatures $r"))
    }
    val bands = byId(Audio.bandEnergies(spark, clips))
    assert(bands(id).length === 8)
    bad.foreach { b =>
      val r = one(bands(b))
      assert(r.getInt(1) === -1 && r.isNullAt(2), s"bandEnergies $r")
    }
    Seq(Audio.spectrogram(spark, clips),
        Audio.activityFrames(spark, clips)).foreach { df =>
      val rows = byId(df)
      assert(rows(id).length > 1)
      bad.foreach { b =>
        val r = one(rows(b))
        assert(r.getInt(1) === -1 && r.isNullAt(2), s"frame grid $r")
      }
    }
    val codes = byId(Audio.chainedLandmarkRows(spark, clips))
    assert(codes.contains(id) && bad.forall(b => !codes.contains(b)))
    Seq(Audio.fingerprintPairs(spark, clips),
        Audio.robustFingerprintPairs(spark, clips)).foreach { df =>
      val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.toSeq === Seq((id, copyId)),
        s"only the canonical copy pair may match: ${pairs.toSeq}")
    }
    Seq(Audio.ditherWav(spark, clips), Audio.gainWav(spark, clips))
      .foreach { df =>
        val out = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
          .toMap
        assert(!java.util.Arrays.equals(out(id), canon))
        assert(java.util.Arrays.equals(out(stereoId), stereo))
        assert(java.util.Arrays.equals(out(mono8Id), mono8))
      }
  }

  test("clip lengths vary by id class and durations are the exact " +
    "50/60/70/80/90 ms grid") {
    val d = Audio.decodeWav(spark, packed)
      .select(col("duration_ms")).distinct().collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(d.forall(Seq(50.0, 60.0, 70.0, 80.0, 90.0).contains(_)))
  }

  test("spectralFeatures: WHT spectrum matches the direct popcount " +
    "definition, and flatness discriminates tone from noise") {
    // direct-definition cross-check on one clip: X_j = Σ s_i·(−1)^pc(j&i)
    val id = 3L
    val n = Audio.nSamples(id)
    val frame = 128
    val samples = (0 until n).map(i => Audio.sample(id, i))
    val direct = (0 until frame).map { j =>
      (0 until frame).map { i =>
        val sgn = if (java.lang.Long.bitCount(j.toLong & i.toLong) % 2 == 0) 1
                  else -1
        sgn.toLong * samples(i)
      }.sum
    }
    val p = direct.map(x => x * x)
    val energy = p.sum
    val expCentroid = p.zipWithIndex.map { case (v, j) => j.toLong * v }.sum
      .toDouble / energy.toDouble
    val expCrest = frame.toDouble * p.max.toDouble / energy.toDouble
    val out = Audio.spectralFeatures(spark, packed).collect()
      .map(r => r.getLong(0) -> r).toMap
    val row = out(id)
    assert(row.getInt(1) === n)
    assert(row.getDouble(3) === expCentroid)
    assert(row.getDouble(4) === expCrest)
    // zcr: direct recount of sign transitions
    val expZcr = (1 until n)
      .count(i => (samples(i) < 0) != (samples(i - 1) < 0))
    assert(row.getInt(2) === expZcr)
    // flatness contract (the exp/ln feature the oracle can't hash):
    // bounded in (0, 1]; the LCG clips are noise-like, so their spectra
    // are much flatter than a pure square tone's line spectrum
    val flatNoise = row.getDouble(6)
    assert(flatNoise > 0.0 && flatNoise <= 1.0)
    // a sequency-aligned square tone: s_i = ±8192 by bit 2 of i — its
    // WHT is a single line at j=4, the least-flat spectrum possible
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      Audio.SampleRate.toFloat, 16, 1, 2, Audio.SampleRate.toFloat, false)
    val tonePcm = new Array[Byte](frame * 2)
    (0 until frame).foreach { i =>
      val s = if ((i >> 2) % 2 == 0) 8192 else -8192
      tonePcm(2 * i) = (s & 0xFF).toByte
      tonePcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(tonePcm), fmt, frame.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val toneRow = Audio.spectralOne(99L, bos.toByteArray, frame)
    assert(toneRow.getInt(5) === 4,
      s"s = 8192·H[4,·] is the Walsh line at j=4 (natural Hadamard " +
        s"order: H[4,i] = (−1)^bit2(i)): $toneRow")
    assert(toneRow.getDouble(4) === frame.toDouble,
      "a line spectrum has maximal crest = N")
    val flatTone = toneRow.getDouble(6)
    assert(flatTone < 0.01 && flatTone < flatNoise / 10,
      s"tone flatness $flatTone must be far below noise flatness $flatNoise")
  }

  test("spectralFeatures: short/non-WAV payloads quarantine to null " +
    "features") {
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](1, 2, 3))).toDF("media_id", "media")
    val r = Audio.spectralFeatures(spark, bad).collect().head
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("activityFrames: frame grid covers full frames only, features " +
    "match a direct recount, junk quarantines") {
    val out = Audio.activityFrames(spark, packed).collect()
      .groupBy(_.getLong(0))
    val id = 9L
    val n = Audio.nSamples(id)
    val frames = n / 128
    val rows = out(id).sortBy(_.getInt(1))
    assert(rows.map(_.getInt(1)).toSeq === (0 until frames))
    rows.foreach { r =>
      val f = r.getInt(1)
      val samples = (0 until 128).map(i => Audio.sample(id, f * 128 + i))
      assert(r.getLong(2) === samples.map(s => s.toLong * s).sum)
      assert(r.getInt(4) === samples.map(math.abs).max)
      val zcr = (1 until 128)
        .count(i => (samples(i) < 0) != (samples(i - 1) < 0))
      assert(r.getInt(3) === zcr, s"frame $f")
    }
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](0))).toDF("media_id", "media")
    val q = Audio.activityFrames(spark, bad).collect()
    assert(q.length === 1 && q.head.getInt(1) === -1 && q.head.isNullAt(2))
  }

  test("spectrogram: every (frame, band) cell matches the direct " +
    "per-frame WHT, frame 0 equals bandEnergies, junk quarantines") {
    val grid = Audio.spectrogram(spark, packed).collect()
      .groupBy(_.getLong(0))
    val id = 11L
    val n = Audio.nSamples(id)
    val frames = n / 128
    val rows = grid(id)
    assert(rows.map(r => (r.getInt(1), r.getInt(2))).toSet ===
      (for (f <- 0 until frames; b <- 0 until 8) yield (f, b)).toSet)
    // direct definition for frame 2
    val f = 2
    val samples = (0 until 128).map(i => Audio.sample(id, f * 128 + i))
    val direct = (0 until 128).map { j =>
      (0 until 128).map { i =>
        val sgn = if (java.lang.Long.bitCount(j.toLong & i.toLong) % 2 == 0) 1
                  else -1
        sgn.toLong * samples(i)
      }.sum
    }.map(x => x * x)
    val expBands = new Array[Long](8)
    direct.zipWithIndex.foreach { case (p, j) =>
      val b = if (j == 0) 0 else 32 - Integer.numberOfLeadingZeros(j)
      expBands(b) += p
    }
    rows.filter(_.getInt(1) == f).sortBy(_.getInt(2)).zipWithIndex.foreach {
      case (r, b) => assert(r.getLong(3) === expBands(b), s"band $b")
    }
    // frame 0 of the grid ≡ bandEnergies (same window, same banding)
    val be = Audio.bandEnergies(spark, packed).collect()
      .filter(_.getLong(0) == id).map(r => r.getInt(1) -> r.getLong(2)).toMap
    rows.filter(_.getInt(1) == 0).foreach { r =>
      assert(r.getLong(3) === be(r.getInt(2)))
    }
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](7))).toDF("media_id", "media")
    val q = Audio.spectrogram(spark, bad).collect()
    assert(q.length === 1 && q.head.getInt(1) === -1 && q.head.isNullAt(3))
  }

  test("fingerprintPairs: byte-identical copies share every landmark " +
    "code; recall is total on planted duplicates") {
    val ids = docs.limit(25)
    val wavs = Audio.packWav(spark, ids, "doc_id")
    val corpus = wavs.unionByName(
      wavs.where(pmod(col("media_id"), lit(7)) === 0)
        .withColumn("media_id", col("media_id") + lit(1000000L)))
    val pairs = Audio.fingerprintPairs(spark, corpus, minShared = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val plantedIds = ids.collect().map(_.getLong(0)).filter(_ % 7 == 0)
    plantedIds.foreach { id =>
      val hit = pairs.find(p => p._1 == id && p._2 == id + 1000000L)
      assert(hit.isDefined, s"planted copy of $id must be found")
      // a byte-identical copy shares EVERY frame's landmark
      assert(hit.get._3 === Audio.nSamples(id) / 128,
        s"copy of $id must share all frame codes")
    }
  }

  test("spectrogram hop: explicit hop=frame reproduces the default " +
    "non-overlapping grid; hop=64 frames match the direct hop-indexed WHT") {
    val dflt = Audio.spectrogram(spark, packed).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    val explicit = Audio.spectrogram(spark, packed, hop = 128).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(explicit === dflt)
    val hopped = Audio.spectrogram(spark, packed, hop = 64).collect()
      .groupBy(_.getLong(0))
    val id = 11L
    val n = Audio.nSamples(id)
    val rows = hopped(id)
    // frame axis: (n - frame)/hop + 1 frames, every band present
    assert(rows.map(r => (r.getInt(1), r.getInt(2))).toSet ===
      (for (f <- 0 until (n - 128) / 64 + 1; b <- 0 until 8)
        yield (f, b)).toSet)
    // direct definition for ODD frame 3 (offset 192 — not on the
    // non-overlapping grid, so this checks the hop indexing itself)
    val f = 3
    val samples = (0 until 128).map(i => Audio.sample(id, f * 64 + i))
    val direct = (0 until 128).map { j =>
      (0 until 128).map { i =>
        val sgn = if (java.lang.Long.bitCount(j.toLong & i.toLong) % 2 == 0) 1
                  else -1
        sgn.toLong * samples(i)
      }.sum
    }.map(x => x * x)
    val expBands = new Array[Long](8)
    direct.zipWithIndex.foreach { case (p, j) =>
      val b = if (j == 0) 0 else 32 - Integer.numberOfLeadingZeros(j)
      expBands(b) += p
    }
    rows.filter(_.getInt(1) == f).sortBy(_.getInt(2)).zipWithIndex.foreach {
      case (r, b) => assert(r.getLong(3) === expBands(b), s"band $b")
    }
    // EVEN hopped frames coincide with the non-overlapping grid
    // (frame 2f at hop 64 covers the same samples as frame f at hop 128)
    rows.filter(r => r.getInt(1) % 2 == 0).foreach { r =>
      assert(r.getLong(3) === dflt((id, r.getInt(1) / 2, r.getInt(2))),
        s"even frame ${r.getInt(1)} band ${r.getInt(2)}")
    }
  }

  test("ditherWav breaks exact landmarks but robustFingerprintPairs " +
    "recovers every dithered copy within the ±1 qmag band") {
    val ids = docs.limit(25)
    val wavs = Audio.packWav(spark, ids, "doc_id")
    val dithered = Audio.ditherWav(spark,
      wavs.where(pmod(col("media_id"), lit(7)) === 0)
        .withColumn("media_id", col("media_id") + lit(2000000L)))
    val corpus = wavs.unionByName(dithered)
    val plantedIds = ids.collect().map(_.getLong(0)).filter(_ % 7 == 0)
    assert(plantedIds.nonEmpty)
    // dithered payloads are still REAL WAV and still decode — but no
    // PCM sample survives unchanged, so the exact-power landmark of
    // EVERY line moves (the period-3 dither has c_j != 0 for all j)
    // and the exact matcher finds none of the planted pairs
    val exact = Audio.fingerprintPairs(spark, corpus, minShared = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    plantedIds.foreach { id =>
      assert(!exact.contains((id, id + 2000000L)),
        s"exact landmarks must miss the dithered copy of $id")
    }
    // the quantized-magnitude landmark keeps the line and moves at most
    // one bit-length bucket — recall on the planted copies is total,
    // and every frame's code matches
    val robust = Audio.robustFingerprintPairs(spark, corpus, minShared = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    plantedIds.foreach { id =>
      val hit = robust.get((id, id + 2000000L))
      assert(hit.isDefined, s"robust must recover the dithered copy of $id")
      assert(hit.get === Audio.nSamples(id) / 128,
        s"dithered copy of $id must match on every frame")
    }
  }

  test("gainWav defeats both magnitude matchers but chained landmark " +
    "codes keep matching; byte-identical copies chain on every anchor") {
    val ids = Tables(spark, sfDir(), "documents")
      .select("doc_id").where(col("doc_id") < 150 && col("doc_id") % 4 === 0)
    val wavs = Audio.packWav(spark, ids, "doc_id")
    val halved = Audio.gainWav(spark,
      wavs.where(pmod(col("media_id"), lit(7)) === 0)
        .withColumn("media_id", col("media_id") + lit(3000000L)))
    val corpus = wavs.unionByName(halved)
    val plantedIds = ids.collect().map(_.getLong(0)).filter(_ % 7 == 0)
    assert(plantedIds.length >= 5)
    // half gain moves every power ~4x down: qmag shifts TWO buckets and
    // the ±1-band robust matcher loses every planted copy
    val robust = Audio.robustFingerprintPairs(spark, corpus, minShared = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    plantedIds.foreach { id =>
      assert(!robust.contains((id, id + 3000000L)),
        s"qmag matcher must lose the half-gain copy of $id")
    }
    // the amplitude-free chained code keeps matching: recall is HIGH but
    // not total — argmax lines can flip when two top powers sit within
    // the gain-rounding noise (doc 140 in this corpus does exactly that)
    val chained = Audio.chainedFingerprintPairs(spark, corpus, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = plantedIds.count(id => chained.contains((id, id + 3000000L)))
    assert(got >= plantedIds.length - 1 && got < plantedIds.length + 1,
      s"chained matcher recovered $got/${plantedIds.length} half-gain copies")
    assert(got.toDouble / plantedIds.length >= 0.8)
    // byte-identical copies share EVERY anchor chain
    val exactCorpus = wavs.unionByName(
      wavs.where(pmod(col("media_id"), lit(7)) === 0)
        .withColumn("media_id", col("media_id") + lit(4000000L)))
    val full = Audio.chainedFingerprintPairs(spark, exactCorpus, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    plantedIds.foreach { id =>
      assert(full.get((id, id + 4000000L))
        .contains(Audio.nSamples(id) / 128 - 1L),
        s"identical copy of $id must chain on every anchor")
    }
  }

  test("bandEnergies: dyadic bands partition the spectrum exactly and " +
    "match the direct WHT definition") {
    val frame = 128
    val out = Audio.bandEnergies(spark, packed).collect()
      .groupBy(_.getLong(0))
    // direct definition for one clip
    val id = 7L
    val samples = (0 until frame).map(i => Audio.sample(id, i))
    val direct = (0 until frame).map { j =>
      (0 until frame).map { i =>
        val sgn = if (java.lang.Long.bitCount(j.toLong & i.toLong) % 2 == 0) 1
                  else -1
        sgn.toLong * samples(i)
      }.sum
    }.map(x => x * x)
    val expBands = new Array[Long](8)
    direct.zipWithIndex.foreach { case (p, j) =>
      val b = if (j == 0) 0 else 32 - Integer.numberOfLeadingZeros(j)
      expBands(b) += p
    }
    val rows = out(id).sortBy(_.getInt(1))
    assert(rows.map(_.getInt(1)).toSeq === (0 until 8))
    rows.foreach { r =>
      assert(r.getLong(2) === expBands(r.getInt(1)), s"band ${r.getInt(1)}")
    }
    // fracs sum to ~1 and equal the exact integer ratios
    val total = expBands.sum
    rows.foreach { r =>
      assert(r.getDouble(3) ===
        expBands(r.getInt(1)).toDouble / total.toDouble)
    }
    // every clip emits exactly the 8 bands
    out.values.foreach(rs => assert(rs.length === 8))
    // junk quarantines to one (band = -1, null) row
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](9, 9))).toDF("media_id", "media")
    val q = Audio.bandEnergies(spark, bad).collect()
    assert(q.length === 1 && q.head.getInt(1) === -1 && q.head.isNullAt(2))
  }
}
