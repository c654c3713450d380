package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.{EpochStore, TextSigStore}

/** D45 contracts through the REAL sink: arriving document epochs are
  * tokenized and minhashed as they land; the streamed signature table
  * is row-identical to the one-shot batch derivation; a
  * fresh-checkpoint re-run (at-least-once redelivery) converges to the
  * same table; and serving pairs from the streamed table equals pairs
  * from compute.
  */
class TextSigsStreamSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark

  test("d45: stream ≡ batch compute through the real sink; redelivery " +
    "converges; serving reads the streamed table") {
    val docs = Tables(s, sfDir(), "documents").select("doc_id", "text")
      .limit(60)
    // plant one exact re-crawl copy so serving has pairs to find
    val corpus = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + lit(1000000L))).cache()
    // stage the corpus as two single-file epoch arrivals by id parity
    val staged = Files.createTempDirectory("graft_d45_src")
    (0 until 2).foreach { e =>
      val tmp = Files.createTempDirectory(s"graft_d45_ep$e")
      corpus.where(pmod(col("doc_id"), lit(2)) === e).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, staged.resolve(f"ep$e%02d.parquet"))
    }
    val root = Files.createTempDirectory("graft_d45_store").toString
    assert(TextSigStore.publishSpec(s, root, "minhash", 64, 16, 3)
      .committed)
    def runSink(): Unit = {
      val src = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = EpochStore.ingestSink(src,
          Files.createTempDirectory("graft_d45_ck").toString) { (b, id) =>
        TextSigStore.appendEpoch(
          Dedup.minhashSigRows(b, "text", "doc_id"), root, 1, id)
      }
      q.awaitTermination(120000)
      ()
    }
    runSink()
    val batch = Dedup.minhashSigRows(corpus, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def storedRows() = TextSigStore.read(s, root, 1)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(storedRows() === batch,
      "streamed signature table diverged from the one-shot batch compute")
    // at-least-once redelivery: a FRESH checkpoint replays both epochs;
    // the D8 partition rule converges the table, not duplicates it
    runSink()
    assert(storedRows() === batch, "redelivery must converge, not append")
    // serving from the streamed table answers the compute question
    val fromStream = Dedup.minhashPairsFromSigs(
        TextSigStore.read(s, root, 1), corpus, "text", "doc_id")
      .where(col("id_b") - col("id_a") === 1000000L)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val fromCompute = Dedup.minhashDedupPairs(corpus, "text", "doc_id")
      .where(col("id_b") - col("id_a") === 1000000L)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(fromStream === fromCompute && fromStream.nonEmpty)
  }
}
