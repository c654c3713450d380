package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.TextSigStore

/** C119 contracts: a structurally impossible spec is REFUSED at
  * publish with the pointer untouched; signature epochs are
  * exactly-once under replay (the D8 rule); the stored table is
  * bit-identical to the derivation; pairs from stored signatures equal
  * pairs from compute ON GENUINE NEAR-DUPS (not just exact copies —
  * the banding + verify threshold must survive the round trip); spec
  * versions keep separate key spaces; the vacuum respects the
  * committed pointer; and the cross-corpus serve pairs a stored
  * reference against a computed increment identically to the two-sided
  * compute.
  */
class TextSigStoreSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark
  import s.implicits._

  // the DedupSpec planted corpus: a 60-token base, a near-dup with the
  // last 5 tokens replaced (shingle Jaccard ≈ .84), an unrelated doc,
  // and a whitespace/case exact pair
  private val base = (1 to 60).map(i => s"word$i").mkString(" ")
  private val nearTail =
    ((1 to 55).map(i => s"word$i") ++ (1 to 5).map(i => s"other$i"))
      .mkString(" ")
  private val unrelated = (1 to 60).map(i => s"zzz$i").mkString(" ")

  private def docs = Seq(
    (1L, base), (2L, nearTail), (3L, unrelated),
    (4L, "Base   COPY with weird spacing"), (5L, "base copy with weird spacing")
  ).toDF("doc_id", "text")

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_c119_$tag").toString

  test("c119: impossible specs are refused at publish, pointer unmoved") {
    val root = freshRoot("refuse")
    // bands 10 do not divide k 64 — unequal-width bands break the
    // pigeonhole guarantee of the banded join
    val r1 = TextSigStore.publishSpec(s, root, "minhash", k = 64,
      bands = 10)
    assert(!r1.committed && r1.failures.nonEmpty, s"bands 10 must refuse: $r1")
    val r2 = TextSigStore.publishSpec(s, root, "", k = 64, bands = 16)
    assert(!r2.committed && r2.failures.nonEmpty, s"empty family must refuse")
    val r3 = TextSigStore.publishSpec(s, root, "minhash", k = 64,
      bands = 16, shingleW = 0)
    assert(!r3.committed && r3.failures.nonEmpty, s"shingle 0 must refuse")
    intercept[IllegalStateException] {
      TextSigStore.committedSpecVersion(s, root)
    }
    val ok = TextSigStore.publishSpec(s, root, "minhash", 64, 16, 3)
    assert(ok.committed)
    assert(TextSigStore.committedSpecVersion(s, root) === 1)
    assert(TextSigStore.loadSpecAt(s, root, 1) === (("minhash", 64, 16, 3)))
  }

  test("c119: epoch replay is exactly-once (the D8 rule) and the stored " +
    "table is bit-identical to the derivation") {
    val root = freshRoot("replay")
    assert(TextSigStore.publishSpec(s, root, "minhash", 64, 16, 3)
      .committed)
    val sigs = Dedup.minhashSigRows(docs, "text", "doc_id")
    val even = sigs.where(pmod(col("doc_id"), lit(2)) === 0)
    val odd = sigs.where(pmod(col("doc_id"), lit(2)) === 1)
    TextSigStore.appendEpoch(even, root, 1, 0L)
    TextSigStore.appendEpoch(odd, root, 1, 1L)
    TextSigStore.appendEpoch(odd, root, 1, 1L) // redelivery
    val stored = TextSigStore.read(s, root, 1)
    assert(stored.count() === 5L, "replayed epoch must not duplicate rows")
    assert(stored.orderBy("doc_id").collect().map(_.toSeq).toSeq
      === sigs.orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "stored signatures must round-trip bit-identically")
  }

  test("c119: pairs from STORED signatures ≡ pairs from compute on " +
    "genuine near-dups, and spec versions keep separate key spaces") {
    val root = freshRoot("serve")
    assert(TextSigStore.publishSpec(s, root, "minhash", 64, 16, 3)
      .committed)
    TextSigStore.appendEpoch(
      Dedup.minhashSigRows(docs, "text", "doc_id"), root, 1, 0L)
    val fromStore = Dedup.minhashPairsFromSigs(
        TextSigStore.read(s, root, 1), docs, "text", "doc_id",
        threshold = 0.7)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val fromCompute = Dedup.minhashDedupPairs(docs, "text", "doc_id",
        threshold = 0.7)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(fromStore === fromCompute,
      "stored-signature serving diverged from compute serving")
    // the near pair (1,2) must be found at its REAL jaccard — below 1.0
    val pairs = fromStore.map(r =>
      (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long],
        r(2).asInstanceOf[Double]))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L), (4L, 5L)))
    val near = pairs.find(p => p._1 == 1L).get._3
    assert(near > 0.7 && near < 1.0, s"near pair must verify exact: $near")
    // a v2 backfill must be invisible to v1 readers (the C85 key space)
    TextSigStore.appendEpoch(
      Dedup.minhashSigRows(docs.limit(2), "text", "doc_id"), root, 2, 0L)
    assert(TextSigStore.read(s, root, 1).count() === 5L,
      "v2 signatures leaked into the v1 key space")
    assert(TextSigStore.read(s, root, 2).count() === 2L)
  }

  test("c121: cross-corpus pairs with the REFERENCE side stored ≡ the " +
    "two-sided compute — near-dups included, within-side dups excluded") {
    val root = freshRoot("cross")
    val ref = Seq((1L, base), (2L, unrelated),
      (3L, (1 to 60).map(i => s"ref3tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, base),                                         // exact re-crawl
      (11L, nearTail),                                     // near-dup of 1
      (12L, (1 to 60).map(i => s"novel$i").mkString(" ")), // novel
      (13L, base)                                          // inc-internal dup
    ).toDF("doc_id", "text")
    assert(TextSigStore.publishSpec(s, root, "minhash", 64, 16, 3)
      .committed)
    TextSigStore.appendEpoch(
      Dedup.minhashSigRows(ref, "text", "doc_id"), root, 1, 0L)
    val fromStore = Dedup.minhashCrossPairsFromSigs(
        TextSigStore.read(s, root, 1), ref, inc, "text", "doc_id",
        threshold = 0.7)
      .orderBy("ref_id", "inc_id").collect().map(_.toSeq).toSeq
    val fromCompute = Dedup.minhashCrossPairs(ref, inc, "text", "doc_id",
        threshold = 0.7)
      .orderBy("ref_id", "inc_id").collect().map(_.toSeq).toSeq
    assert(fromStore === fromCompute,
      "stored-reference cross serving diverged from two-sided compute")
    assert(fromStore.map(r => (r.head, r(1))).toSet ===
      Set((1L, 10L), (1L, 11L), (1L, 13L)),
      "cross pairs only: the increment-internal dup (10,13) never pairs")
  }

  test("c120: the vacuum refuses the committed version and in-flight " +
    "newer keys, removes only retired ones, and is idempotent") {
    val root = freshRoot("vac")
    val sigs = Dedup.minhashSigRows(docs, "text", "doc_id")
    assert(TextSigStore.publishSpec(s, root, "minhash", 64, 16, 3)
      .committed)
    TextSigStore.appendEpoch(sigs, root, 1, 0L)
    // nothing retired yet: committed=1, keep 1 → cutoff 0 → no-op
    val r0 = TextSigStore.vacuumRetired(s, root, 1)
    assert(r0.removed.isEmpty && r0.kept === Seq(1), r0.toString)
    // rollover + an IN-FLIGHT backfill above the pointer (sv3)
    assert(TextSigStore.publishSpec(s, root, "minhash", 64, 16, 3)
      .committed)
    TextSigStore.appendEpoch(sigs, root, 2, 0L)
    TextSigStore.appendEpoch(sigs.limit(2), root, 3, 0L)
    val r1 = TextSigStore.vacuumRetired(s, root, 1)
    assert(r1.committed === 2 && r1.removed === Seq(1) &&
      r1.kept === Seq(2, 3), r1.toString)
    assert(TextSigStore.read(s, root, 2).count() === 5L)
    assert(TextSigStore.read(s, root, 3).count() === 2L,
      "the in-flight newer key space must survive the vacuum")
    val r2 = TextSigStore.vacuumRetired(s, root, 1)
    assert(r2.removed.isEmpty && r2.kept === Seq(2, 3), r2.toString)
  }
}
