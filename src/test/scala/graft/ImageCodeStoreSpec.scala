package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ImageDedup
import graft.sources.ImageCodeStore

/** C104 contracts: a structurally impossible spec is REFUSED at
  * publish with the pointer untouched; code epochs are exactly-once
  * under replay (the D8 rule); serving from stored codes is
  * bit-identical to serving from decode; spec versions keep separate
  * code key spaces.
  */
class ImageCodeStoreSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark

  private def freshRoot(tag: String): String =
    Files.createTempDirectory(s"graft_c104_$tag").toString

  private lazy val codes = {
    val docs = Tables(s, sfDir(), "documents").select("doc_id").limit(80)
    ImageDedup.blockhashCodes(s,
      ImageDedup.packImageVariants(s, docs, "doc_id")).cache()
  }

  test("c104: impossible specs are refused at publish, pointer unmoved") {
    val root = freshRoot("refuse")
    // grid 9 → 81-bit code: cannot fit the stored long
    val r1 = ImageCodeStore.publishSpec(s, root, "blockhash", grid = 9,
      bands = 4)
    assert(!r1.committed && r1.failures.nonEmpty, s"grid 9 must refuse: $r1")
    // bands 3: 64 % 3 != 0 — unequal bands break the pigeonhole bound
    val r2 = ImageCodeStore.publishSpec(s, root, "blockhash", grid = 8,
      bands = 3)
    assert(!r2.committed && r2.failures.nonEmpty, s"bands 3 must refuse: $r2")
    intercept[IllegalStateException] {
      ImageCodeStore.committedSpecVersion(s, root)
    }
    val ok = ImageCodeStore.publishSpec(s, root, "blockhash", 8, 4)
    assert(ok.committed)
    assert(ImageCodeStore.committedSpecVersion(s, root) === 1)
    assert(ImageCodeStore.loadSpecAt(s, root, 1) === (("blockhash", 8, 4)))
  }

  test("c104: epoch replay is exactly-once (the D8 rule) and the stored " +
    "table is bit-identical to the computed codes") {
    val root = freshRoot("replay")
    assert(ImageCodeStore.publishSpec(s, root, "blockhash", 8, 4).committed)
    val even = codes.where(pmod(col("media_id"), lit(2)) === 0)
    val odd = codes.where(pmod(col("media_id"), lit(2)) === 1)
    ImageCodeStore.appendEpoch(even, root, 1, 0L)
    ImageCodeStore.appendEpoch(odd, root, 1, 1L)
    ImageCodeStore.appendEpoch(odd, root, 1, 1L) // redelivery
    val stored = ImageCodeStore.read(s, root, 1)
    assert(stored.count() === codes.count(),
      "replayed epoch must not duplicate rows")
    val cols = Seq("media_id", "width", "height", "code", "pixsum")
    assert(stored.orderBy("media_id").collect().map(_.toSeq).toSeq ===
      codes.select(cols.map(col): _*).orderBy("media_id")
        .collect().map(_.toSeq).toSeq,
      "stored codes must round-trip bit-identically")
  }

  test("c104: pairs from STORED codes ≡ pairs from decode, and spec " +
    "versions keep separate code key spaces") {
    val root = freshRoot("serve")
    assert(ImageCodeStore.publishSpec(s, root, "blockhash", 8, 4).committed)
    ImageCodeStore.appendEpoch(codes, root, 1, 0L)
    val fromStore = ImageDedup
      .perceptualPairs(ImageCodeStore.read(s, root, 1), 3, 64)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val fromDecode = ImageDedup.perceptualPairs(codes, 3, 64)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(fromStore === fromDecode,
      "stored-code serving diverged from decode serving")
    assert(fromStore.nonEmpty, "vacuous pair set — no planted variants?")
    // a v2 backfill must be invisible to v1 readers (the C85 key space)
    ImageCodeStore.appendEpoch(codes.limit(5), root, 2, 0L)
    assert(ImageCodeStore.read(s, root, 1).count() === codes.count(),
      "v2 codes leaked into the v1 key space")
    assert(ImageCodeStore.read(s, root, 2).count() === 5L)
  }

  test("c110: the vacuum refuses the committed version and in-flight " +
    "newer keys, removes only retired ones, and is idempotent") {
    val root = freshRoot("vac")
    assert(ImageCodeStore.publishSpec(s, root, "blockhash", 8, 4).committed)
    ImageCodeStore.appendEpoch(codes, root, 1, 0L)
    // nothing retired yet: committed=1, keep 1 → cutoff 0 → no-op
    val r0 = ImageCodeStore.vacuumRetired(s, root, 1)
    assert(r0.removed.isEmpty && r0.kept === Seq(1), r0.toString)
    // rollover + an IN-FLIGHT backfill above the pointer (iv3)
    assert(ImageCodeStore.publishSpec(s, root, "blockhash", 8, 4).committed)
    ImageCodeStore.appendEpoch(codes, root, 2, 0L)
    ImageCodeStore.appendEpoch(codes.limit(3), root, 3, 0L)
    val r1 = ImageCodeStore.vacuumRetired(s, root, 1)
    assert(r1.committed === 2 && r1.removed === Seq(1) &&
      r1.kept === Seq(2, 3), r1.toString)
    assert(ImageCodeStore.read(s, root, 2).count() === codes.count())
    assert(ImageCodeStore.read(s, root, 3).count() === 3L,
      "the in-flight newer key space must survive the vacuum")
    val r2 = ImageCodeStore.vacuumRetired(s, root, 1)
    assert(r2.removed.isEmpty && r2.kept === Seq(2, 3), r2.toString)
  }
}
