package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Audio
import graft.sources.{AudioCodeStore, EpochStore}

/** D42 contracts through the REAL sink: arriving audio epochs are
  * decoded and landmark-coded as they land; the streamed code table is
  * row-identical to the one-shot batch derivation; a fresh-checkpoint
  * re-run (at-least-once redelivery) converges to the same table; and
  * serving pairs from the streamed table equals pairs from decode.
  */
class AudioCodesStreamSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark

  test("d42: stream ≡ batch decode through the real sink; redelivery " +
    "converges; serving reads the streamed table") {
    val docs = Tables(s, sfDir(), "documents").select("doc_id").limit(40)
    val wavs = Audio.packWav(s, docs, "doc_id")
    val halved = Audio.gainWav(s,
      wavs.where(pmod(col("media_id"), lit(7)) === 0)
        .withColumn("media_id", col("media_id") + lit(3000000L)))
    val packed = wavs.unionByName(halved).cache()
    // stage the corpus as two single-file epoch arrivals by id parity
    val staged = Files.createTempDirectory("graft_d42_src")
    (0 until 2).foreach { e =>
      val tmp = Files.createTempDirectory(s"graft_d42_ep$e")
      packed.where(pmod(col("media_id"), lit(2)) === e).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, staged.resolve(f"ep$e%02d.parquet"))
    }
    val root = Files.createTempDirectory("graft_d42_store").toString
    assert(AudioCodeStore.publishSpec(s, root, "chained_landmark", 128)
      .committed)
    def runSink(): Unit = {
      val src = s.readStream.schema(packed.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      AudioCodesStreamRun.run(src, root)
    }
    runSink()
    val batch = Audio.chainedLandmarkRows(s, packed)
      .orderBy("media_id", "anchor").collect().map(_.toSeq).toSeq
    def storedRows() = AudioCodeStore.read(s, root, 1)
      .orderBy("media_id", "anchor").collect().map(_.toSeq).toSeq
    assert(storedRows() === batch,
      "streamed landmark table diverged from the one-shot batch decode")
    // at-least-once redelivery: a FRESH checkpoint replays both epochs;
    // the D8 partition rule converges the table, not duplicates it
    runSink()
    assert(storedRows() === batch, "redelivery must converge, not append")
    // serving from the streamed table answers the decode question
    val fromStream = Audio
      .chainedPairsFromCodes(AudioCodeStore.read(s, root, 1), 4)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val fromDecode = Audio.chainedFingerprintPairs(s, packed, minShared = 4)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(fromStream === fromDecode && fromStream.nonEmpty)
  }

  test("d46: a spec-rollover backfill streams into the NEXT version's " +
    "key space through the real sink while v1 serves; the flip is a " +
    "pointer commit (pinned v1 byte-stable through it); redelivery " +
    "converges; post-flip serving answers the frame-128 question") {
    import graft.sources.MultiPublish
    val docs = Tables(s, sfDir(), "documents").select("doc_id").limit(40)
    val wavs = Audio.packWav(s, docs, "doc_id")
    val halved = Audio.gainWav(s,
      wavs.where(pmod(col("media_id"), lit(7)) === 0)
        .withColumn("media_id", col("media_id") + lit(3000000L)))
    val packed = wavs.unionByName(halved).cache()
    val root = Files.createTempDirectory("graft_d46_store").toString
    // blue incumbent: spec v1 = frame 64, its landmarks in av1
    assert(AudioCodeStore.publishSpec(s, root, "chained_landmark",
      frame = 64).committed)
    AudioCodeStore.appendEpoch(
      Audio.chainedLandmarkRows(s, packed, frame = 64), root, 1, 0L)
    def rows(v: Int) = AudioCodeStore.read(s, root, v)
      .orderBy("media_id", "anchor").collect().map(_.toSeq).toSeq
    val v1Rows = rows(1)
    // green backfill: frame-128 landmarks stream into av2 (the REAL sink)
    val staged = Files.createTempDirectory("graft_d46_src")
    (0 until 2).foreach { e =>
      val tmp = Files.createTempDirectory(s"graft_d46_ep$e")
      packed.where(pmod(col("media_id"), lit(2)) === e).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, staged.resolve(f"ep$e%02d.parquet"))
    }
    def runSink(): Unit = {
      val src = s.readStream.schema(packed.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = AudioCodesStreamRun.sink(src, root,
        Files.createTempDirectory("graft_d46_ck").toString, 2, 128)
      q.awaitTermination(120000)
      ()
    }
    runSink()
    assert(MultiPublish.commitVersions(s, root)(AudioCodeStore.specTable)
      === 1, "a streamed backfill must not move the committed pointer")
    assert(rows(1) === v1Rows,
      "the serving v1 key space moved under the streamed backfill")
    val batch128 = Audio.chainedLandmarkRows(s, packed, frame = 128)
      .orderBy("media_id", "anchor").collect().map(_.toSeq).toSeq
    assert(rows(2) === batch128,
      "streamed av2 backfill diverged from the one-shot frame-128 encode")
    // at-least-once: a fresh-checkpoint rerun converges, not appends
    runSink()
    assert(rows(2) === batch128, "redelivery must converge, not append")
    // the FLIP, then the vacuum retires the loser
    assert(AudioCodeStore.publishSpec(s, root, "chained_landmark",
      frame = 128).committed)
    assert(AudioCodeStore.committedSpecVersion(s, root) === 2)
    assert(rows(1) === v1Rows, "pinned v1 moved across the flip")
    val rep = AudioCodeStore.vacuumRetired(s, root, 1)
    assert(rep.removed === Seq(1) && rep.kept === Seq(2), rep.toString)
    // post-rollover serving answers the frame-128 question exactly
    val served = Audio
      .chainedPairsFromCodes(AudioCodeStore.read(s, root, 2), 4)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val direct = Audio.chainedFingerprintPairs(s, packed, frame = 128,
        minShared = 4)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(served === direct && served.nonEmpty)
  }
}

/** Isolates the sink start/await so the spec body reads as contracts. */
private object AudioCodesStreamRun {
  /** Frame-`frame` landmark rows of every arriving clip batch, landed
    * under spec version `specVersion` through the real sink.
    */
  def sink(src: org.apache.spark.sql.DataFrame, root: String,
           checkpoint: String, specVersion: Int,
           frame: Int): org.apache.spark.sql.streaming.StreamingQuery =
    EpochStore.ingestSink(src, checkpoint) { (b, id) =>
      AudioCodeStore.appendEpoch(
        Audio.chainedLandmarkRows(b.sparkSession, b, frame),
        root, specVersion, id)
    }

  def run(src: org.apache.spark.sql.DataFrame, root: String): Unit = {
    val q = sink(src, root,
      Files.createTempDirectory("graft_d42_ck").toString, 1, 128)
    q.awaitTermination(120000)
    ()
  }
}
