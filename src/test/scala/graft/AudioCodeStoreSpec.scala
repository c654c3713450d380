package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Audio
import graft.sources.AudioCodeStore

/** C115 contracts: a structurally impossible spec is REFUSED at
  * publish with the pointer untouched; landmark epochs are
  * exactly-once under replay (the D8 rule); the stored table is
  * bit-identical to the derivation (codes AND the per-clip meta rows
  * the blocking/election consume); pairs from stored landmarks equal
  * pairs from decode; spec versions keep separate key spaces; the
  * vacuum respects the committed pointer.
  */
class AudioCodeStoreSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_c115_$tag").toString

  /** A small corpus WITH planted amplitude-shifted duplicates (the
    * half-gain re-masters the chained landmarks exist to find).
    */
  private lazy val packed = {
    val docs = Tables(s, sfDir(), "documents").select("doc_id").limit(60)
    val wavs = Audio.packWav(s, docs, "doc_id")
    val halved = Audio.gainWav(s,
      wavs.where(pmod(col("media_id"), lit(7)) === 0)
        .withColumn("media_id", col("media_id") + lit(3000000L)))
    wavs.unionByName(halved).cache()
  }

  private lazy val rows = Audio.chainedLandmarkRows(s, packed).cache()

  test("c115: impossible specs are refused at publish, pointer unmoved") {
    val root = freshRoot("refuse")
    // frame 100: not a power of two — the WHT butterfly cannot have run
    val r1 = AudioCodeStore.publishSpec(s, root, "chained_landmark",
      frame = 100)
    assert(!r1.committed && r1.failures.nonEmpty, s"frame 100 must refuse: $r1")
    // frame 2: below the structural floor
    val r2 = AudioCodeStore.publishSpec(s, root, "chained_landmark",
      frame = 2)
    assert(!r2.committed && r2.failures.nonEmpty, s"frame 2 must refuse: $r2")
    intercept[IllegalStateException] {
      AudioCodeStore.committedSpecVersion(s, root)
    }
    val ok = AudioCodeStore.publishSpec(s, root, "chained_landmark", 128)
    assert(ok.committed)
    assert(AudioCodeStore.committedSpecVersion(s, root) === 1)
    assert(AudioCodeStore.loadSpecAt(s, root, 1) ===
      (("chained_landmark", 128)))
  }

  test("c115: epoch replay is exactly-once (the D8 rule) and the stored " +
    "table is bit-identical to the derivation") {
    val root = freshRoot("replay")
    assert(AudioCodeStore.publishSpec(s, root, "chained_landmark", 128)
      .committed)
    val even = rows.where(pmod(col("media_id"), lit(2)) === 0)
    val odd = rows.where(pmod(col("media_id"), lit(2)) === 1)
    AudioCodeStore.appendEpoch(even, root, 1, 0L)
    AudioCodeStore.appendEpoch(odd, root, 1, 1L)
    AudioCodeStore.appendEpoch(odd, root, 1, 1L) // redelivery
    val stored = AudioCodeStore.read(s, root, 1)
    assert(stored.count() === rows.count(),
      "replayed epoch must not duplicate rows")
    val cols = Seq("media_id", "n_samples", "anchor", "line_a", "line_t")
    assert(stored.orderBy("media_id", "anchor").collect().map(_.toSeq).toSeq
      === rows.select(cols.map(col): _*).orderBy("media_id", "anchor")
        .collect().map(_.toSeq).toSeq,
      "stored landmarks must round-trip bit-identically")
  }

  test("c115: the meta rows carry exactly one REAL decoded duration per " +
    "clip (the blocking/election input)") {
    val meta = rows.where(col("anchor") === -1)
      .select("media_id", "n_samples")
    val decoded = Audio.decodeWav(s, packed)
      .select(col("media_id"), col("n_samples").cast("long"))
    assert(meta.count() === packed.count(), "one meta row per clip")
    assert(meta.orderBy("media_id").collect().map(_.toSeq).toSeq ===
      decoded.orderBy("media_id").collect().map(_.toSeq).toSeq,
      "meta durations must equal the real decode's n_samples")
  }

  test("c115: pairs from STORED landmarks ≡ pairs from decode, and spec " +
    "versions keep separate key spaces") {
    val root = freshRoot("serve")
    assert(AudioCodeStore.publishSpec(s, root, "chained_landmark", 128)
      .committed)
    AudioCodeStore.appendEpoch(rows, root, 1, 0L)
    val fromStore = Audio
      .chainedPairsFromCodes(AudioCodeStore.read(s, root, 1), 4)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val fromDecode = Audio.chainedFingerprintPairs(s, packed, minShared = 4)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(fromStore === fromDecode,
      "stored-landmark serving diverged from decode serving")
    assert(fromStore.nonEmpty, "vacuous pair set — no planted re-masters?")
    // a v2 backfill must be invisible to v1 readers (the C85 key space)
    AudioCodeStore.appendEpoch(rows.limit(5), root, 2, 0L)
    assert(AudioCodeStore.read(s, root, 1).count() === rows.count(),
      "v2 landmarks leaked into the v1 key space")
    assert(AudioCodeStore.read(s, root, 2).count() === 5L)
    // readMeta is the duration table, nothing else
    assert(AudioCodeStore.readMeta(s, root, 1).count() === packed.count())
  }

  test("c116: the vacuum refuses the committed version and in-flight " +
    "newer keys, removes only retired ones, and is idempotent") {
    val root = freshRoot("vac")
    assert(AudioCodeStore.publishSpec(s, root, "chained_landmark", 128)
      .committed)
    AudioCodeStore.appendEpoch(rows, root, 1, 0L)
    // nothing retired yet: committed=1, keep 1 → cutoff 0 → no-op
    val r0 = AudioCodeStore.vacuumRetired(s, root, 1)
    assert(r0.removed.isEmpty && r0.kept === Seq(1), r0.toString)
    // rollover + an IN-FLIGHT backfill above the pointer (av3)
    assert(AudioCodeStore.publishSpec(s, root, "chained_landmark", 128)
      .committed)
    AudioCodeStore.appendEpoch(rows, root, 2, 0L)
    AudioCodeStore.appendEpoch(rows.limit(3), root, 3, 0L)
    val r1 = AudioCodeStore.vacuumRetired(s, root, 1)
    assert(r1.committed === 2 && r1.removed === Seq(1) &&
      r1.kept === Seq(2, 3), r1.toString)
    assert(AudioCodeStore.read(s, root, 2).count() === rows.count())
    assert(AudioCodeStore.read(s, root, 3).count() === 3L,
      "the in-flight newer key space must survive the vacuum")
    val r2 = AudioCodeStore.vacuumRetired(s, root, 1)
    assert(r2.removed.isEmpty && r2.kept === Seq(2, 3), r2.toString)
  }
}
