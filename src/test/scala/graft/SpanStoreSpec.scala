package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.{EpochStore, SpanStore}

/** C125/D47 contracts: a malformed ladder is REFUSED at publish with
  * the pointer untouched; digest epochs are exactly-once under replay
  * (the D8 rule) per (version, width); the stored tables are
  * bit-identical to the derivation; counts from stored digests equal
  * counts from compute at every level; the vacuum respects the
  * committed pointer; and the streamed ingest lands the batch rows
  * through the real sink with redelivery converging.
  */
class SpanStoreSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark
  import s.implicits._

  // two docs sharing a 12-token block (fires w=8, not w=16), plus a
  // unique doc and a short doc (no spans at any level)
  private val block = (1 to 12).map(i => s"dup$i").mkString(" ")
  private def docs = Seq(
    (1L, block + " " + (1 to 20).map(i => s"a$i").mkString(" ")),
    (2L, (1 to 20).map(i => s"b$i").mkString(" ") + " " + block),
    (3L, (1 to 40).map(i => s"u$i").mkString(" ")),
    (4L, "too short")
  ).toDF("doc_id", "text")

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_c125_$tag").toString

  test("c125: malformed ladders are refused at publish, pointer unmoved") {
    val root = freshRoot("refuse")
    val r1 = SpanStore.publishSpec(s, root, "span_md5", Seq(16, 8))
    assert(!r1.committed && r1.failures.nonEmpty, s"unsorted must refuse: $r1")
    val r2 = SpanStore.publishSpec(s, root, "span_md5", Seq(8, 8, 16))
    assert(!r2.committed, "duplicate widths must refuse")
    val r3 = SpanStore.publishSpec(s, root, "span_md5", Seq(1, 8))
    assert(!r3.committed, "width 1 must refuse")
    val r4 = SpanStore.publishSpec(s, root, "", Seq(8, 16))
    assert(!r4.committed, "empty family must refuse")
    intercept[IllegalStateException] {
      SpanStore.committedSpecVersion(s, root)
    }
    assert(SpanStore.publishSpec(s, root, "span_md5", Seq(8, 16, 32))
      .committed)
    assert(SpanStore.committedSpecVersion(s, root) === 1)
    assert(SpanStore.loadSpecAt(s, root, 1) ===
      (("span_md5", Seq(8, 16, 32))))
  }

  test("c125: epoch replay is exactly-once per (version, width); the " +
    "stored tables round-trip bit-identically; counts from stored ≡ " +
    "counts from compute at every level") {
    val root = freshRoot("serve")
    assert(SpanStore.publishSpec(s, root, "span_md5", Seq(8, 16))
      .committed)
    Seq(8, 16).foreach { w =>
      val rows = Dedup.spanDigestRows(docs, "text", "doc_id", w)
      SpanStore.level(w).appendEpoch(rows.where(pmod(col("id"), lit(2)) === 0), root, 1, 0L)
      SpanStore.level(w).appendEpoch(rows.where(pmod(col("id"), lit(2)) === 1), root, 1, 1L)
      SpanStore.level(w).appendEpoch(rows.where(pmod(col("id"), lit(2)) === 1), root, 1, 1L)
      val stored = SpanStore.level(w).read(s, root, 1)
      assert(stored.count() === rows.count(),
        s"w=$w: replayed epoch must not duplicate rows")
      assert(stored.orderBy("id", "pos").collect().map(_.toSeq).toSeq
        === rows.orderBy("id", "pos").collect().map(_.toSeq).toSeq,
        s"w=$w: stored digests must round-trip bit-identically")
      val fromStore = Dedup.duplicatedSpansFromDigests(stored)
        .orderBy("id").collect().map(_.toSeq).toSeq
      val fromCompute = Dedup.duplicatedSpans(docs, "text", "doc_id", w)
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(fromStore === fromCompute,
        s"w=$w: stored-digest serving diverged from compute")
    }
    // the planted 12-token block fires at w=8 (5 dup windows per host)
    // and not at w=16 — the level separation the ladder exists for
    val c8 = Dedup.duplicatedSpansFromDigests(
        SpanStore.level(8).read(s, root, 1))
      .where(col("n_dup_spans") > 0).count()
    val c16 = Dedup.duplicatedSpansFromDigests(
        SpanStore.level(16).read(s, root, 1))
      .where(col("n_dup_spans") > 0).count()
    assert(c8 === 2L && c16 === 0L, s"level separation broken: $c8/$c16")
  }

  test("c125: the vacuum refuses committed + in-flight keys and removes " +
    "whole retired version trees (all widths)") {
    val root = freshRoot("vac")
    val rows8 = Dedup.spanDigestRows(docs, "text", "doc_id", 8)
    assert(SpanStore.publishSpec(s, root, "span_md5", Seq(8)).committed)
    SpanStore.level(8).appendEpoch(rows8, root, 1, 0L)
    val r0 = SpanStore.vacuumRetired(s, root, 1)
    assert(r0.removed.isEmpty && r0.kept === Seq(1), r0.toString)
    assert(SpanStore.publishSpec(s, root, "span_md5", Seq(8)).committed)
    SpanStore.level(8).appendEpoch(rows8, root, 2, 0L)
    SpanStore.level(8).appendEpoch(rows8.limit(3), root, 3, 0L)
    val r1 = SpanStore.vacuumRetired(s, root, 1)
    assert(r1.committed === 2 && r1.removed === Seq(1) &&
      r1.kept === Seq(2, 3), r1.toString)
    assert(SpanStore.level(8).read(s, root, 2).count() === rows8.count())
    assert(SpanStore.level(8).read(s, root, 3).count() === 3L,
      "the in-flight newer key space must survive the vacuum")
    val r2 = SpanStore.vacuumRetired(s, root, 1)
    assert(r2.removed.isEmpty && r2.kept === Seq(2, 3), r2.toString)
  }

  test("d47: stream ≡ batch digest through the real sink at every " +
    "level; redelivery converges; serving reads the streamed tables") {
    val corpus = Tables(s, sfDir(), "documents").select("doc_id", "text")
      .limit(40)
      .unionByName(Tables(s, sfDir(), "documents")
        .select("doc_id", "text").limit(40)
        .where(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))).cache()
    val staged = Files.createTempDirectory("graft_d47_src")
    (0 until 2).foreach { e =>
      val tmp = Files.createTempDirectory(s"graft_d47_ep$e")
      corpus.where(pmod(col("doc_id"), lit(2)) === e).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, staged.resolve(f"ep$e%02d.parquet"))
    }
    val root = Files.createTempDirectory("graft_d47_store").toString
    val widths = Seq(8, 16)
    assert(SpanStore.publishSpec(s, root, "span_md5", widths).committed)
    def runSink(): Unit = {
      val src = s.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = EpochStore.ingestSink(src,
          Files.createTempDirectory("graft_d47_ck").toString) { (b, id) =>
        widths.foreach { w =>
          SpanStore.level(w).appendEpoch(
            Dedup.spanDigestRows(b, "text", "doc_id", w), root, 1, id)
        }
      }
      q.awaitTermination(120000)
      ()
    }
    runSink()
    widths.foreach { w =>
      val batch = Dedup.spanDigestRows(corpus, "text", "doc_id", w)
        .orderBy("id", "pos").collect().map(_.toSeq).toSeq
      def storedRows() = SpanStore.level(w).read(s, root, 1)
        .orderBy("id", "pos").collect().map(_.toSeq).toSeq
      assert(storedRows() === batch,
        s"w=$w: streamed digest table diverged from batch compute")
      runSink()
      assert(storedRows() === batch,
        s"w=$w: redelivery must converge, not append")
    }
    val fromStream = Dedup.duplicatedSpansFromDigests(
        SpanStore.level(8).read(s, root, 1))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val fromCompute = Dedup.duplicatedSpans(corpus, "text", "doc_id", 8)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(fromStream === fromCompute && fromStream.nonEmpty)
  }
}
