package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ImageDedup
import graft.sources.{EpochStore, ImageCodeStore}

/** D41 contracts through the REAL sink: arriving image epochs are
  * decoded and coded as they land; the streamed code table is
  * row-identical to the one-shot batch decode; a fresh-checkpoint
  * re-run (at-least-once redelivery) converges to the same table; and
  * serving pairs from the streamed table equals pairs from decode.
  */
class ImageCodesStreamSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark

  test("d41: stream ≡ batch decode through the real sink; redelivery " +
    "converges; serving reads the streamed table") {
    val docs = Tables(s, sfDir(), "documents").select("doc_id").limit(60)
    val packed = ImageDedup.packImageVariants(s, docs, "doc_id").cache()
    // stage the corpus as two single-file epoch arrivals by id parity
    val staged = Files.createTempDirectory("graft_d41_src")
    (0 until 2).foreach { e =>
      val tmp = Files.createTempDirectory(s"graft_d41_ep$e")
      packed.where(pmod(col("media_id"), lit(2)) === e).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, staged.resolve(f"ep$e%02d.parquet"))
    }
    val root = Files.createTempDirectory("graft_d41_store").toString
    assert(ImageCodeStore.publishSpec(s, root, "blockhash", 8, 4).committed)
    def runSink(): Unit = {
      val src = s.readStream.schema(packed.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      ImageCodesStreamRun.run(src, root)
    }
    runSink()
    val batch = ImageDedup.blockhashCodes(s, packed)
      .orderBy("media_id").collect().map(_.toSeq).toSeq
    def storedRows() = ImageCodeStore.read(s, root, 1)
      .orderBy("media_id").collect().map(_.toSeq).toSeq
    assert(storedRows() === batch,
      "streamed code table diverged from the one-shot batch decode")
    // at-least-once redelivery: a FRESH checkpoint replays both epochs;
    // the D8 partition rule converges the table, not duplicates it
    runSink()
    assert(storedRows() === batch, "redelivery must converge, not append")
    // serving from the streamed table answers the decode question
    val fromStream = ImageDedup
      .perceptualPairs(ImageCodeStore.read(s, root, 1), 3, 64)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val fromDecode = ImageDedup
      .perceptualPairs(ImageDedup.blockhashCodes(s, packed), 3, 64)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(fromStream === fromDecode && fromStream.nonEmpty)
  }
  test("d43: a spec-rollover backfill streams into the NEXT version's " +
    "key space through the real sink while v1 serves; the flip is a " +
    "pointer commit (pinned v1 byte-stable through it); redelivery " +
    "converges; post-flip serving answers the grid-8 question") {
    import graft.sources.MultiPublish
    val docs = Tables(s, sfDir(), "documents").select("doc_id").limit(60)
    val packed = ImageDedup.packImageVariants(s, docs, "doc_id").cache()
    val root = Files.createTempDirectory("graft_d43_store").toString
    // blue incumbent: spec v1 = grid 4, its codes in iv1
    assert(ImageCodeStore.publishSpec(s, root, "blockhash", grid = 4,
      bands = 4).committed)
    ImageCodeStore.appendEpoch(
      ImageDedup.blockhashCodes(s, packed, grid = 4), root, 1, 0L)
    def rows(v: Int) = ImageCodeStore.read(s, root, v)
      .orderBy("media_id").collect().map(_.toSeq).toSeq
    val v1Rows = rows(1)
    // green backfill: grid-8 codes stream into iv2 (the REAL sink)
    val staged = Files.createTempDirectory("graft_d43_src")
    (0 until 2).foreach { e =>
      val tmp = Files.createTempDirectory(s"graft_d43_ep$e")
      packed.where(pmod(col("media_id"), lit(2)) === e).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, staged.resolve(f"ep$e%02d.parquet"))
    }
    def runSink(): Unit = {
      val src = s.readStream.schema(packed.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      ImageCodesStreamRun.run(src, root, specVersion = 2, grid = 8)
    }
    runSink()
    assert(MultiPublish.commitVersions(s, root)(ImageCodeStore.specTable)
      === 1, "a streamed backfill must not move the committed pointer")
    assert(rows(1) === v1Rows,
      "the serving v1 key space moved under the streamed backfill")
    val batch8 = ImageDedup.blockhashCodes(s, packed, grid = 8)
      .orderBy("media_id").collect().map(_.toSeq).toSeq
    assert(rows(2) === batch8,
      "streamed iv2 backfill diverged from the one-shot grid-8 encode")
    // at-least-once: a fresh-checkpoint rerun converges, not appends
    runSink()
    assert(rows(2) === batch8, "redelivery must converge, not append")
    // the FLIP, then the vacuum retires the loser
    assert(ImageCodeStore.publishSpec(s, root, "blockhash", grid = 8,
      bands = 4).committed)
    assert(ImageCodeStore.committedSpecVersion(s, root) === 2)
    assert(rows(1) === v1Rows, "pinned v1 moved across the flip")
    val rep = ImageCodeStore.vacuumRetired(s, root, 1)
    assert(rep.removed === Seq(1) && rep.kept === Seq(2), rep.toString)
    // post-rollover serving answers the grid-8 question exactly
    val served = ImageDedup
      .perceptualPairs(ImageCodeStore.read(s, root, 2), 3, 64)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val direct = ImageDedup
      .perceptualPairs(ImageDedup.blockhashCodes(s, packed, grid = 8), 3, 64)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(served === direct && served.nonEmpty)
  }
}

/** Isolates the sink start/await so the spec body reads as contracts. */
private object ImageCodesStreamRun {
  def run(src: org.apache.spark.sql.DataFrame, root: String,
          specVersion: Int = 1, grid: Int = 8): Unit = {
    val q = EpochStore.ingestSink(src,
        Files.createTempDirectory("graft_d41_ck").toString) { (b, id) =>
      ImageCodeStore.appendEpoch(
        ImageDedup.blockhashCodes(b.sparkSession, b, grid = grid), root,
        specVersion, id)
    }
    q.awaitTermination(120000)
    ()
  }
}
