package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{L2Cells, PqIndex}
import graft.sources.{AnnIndexStore, AudioCodeStore, EpochStore,
  ImageCodeStore, MultiPublish, SpanStore, TextSigStore}

/** The shared [[EpochStore]] contract, run over every store (image codes,
  * audio landmarks, text signatures, one span-digest level, ANN codes)
  * with the same cases: an ill-formed spec is refused with the pointer
  * unmoved; a replayed epoch is stored exactly once; `readBefore` prunes
  * by epoch; the vacuum refuses the committed and in-flight versions and
  * is idempotent. The rows are small synthetic frames in each store's
  * column list — the derivations behind them are locked in the per-store
  * specs.
  */
class EpochStoreSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark
  import s.implicits._

  /** One store under contract: `publish` lands a well-formed spec,
    * `publishBad` an ill-formed one; `rows` holds 10 rows keyed `idCol`.
    */
  private case class StoreCase(name: String, store: EpochStore,
                               publish: String => MultiPublish.MultiReport,
                               publishBad: String => MultiPublish.MultiReport,
                               rows: () => DataFrame, idCol: String)

  private val ids = 0L until 10L

  private val annCells = new L2Cells(Array(Array(0f, 0f), Array(1f, 1f)))
  private def annPq(codes: Int*) =
    new PqIndex(codes.map(k => Array.tabulate(k)(c => Array(c.toFloat)))
      .toArray)

  private lazy val cases = Seq(
    StoreCase("image codes", ImageCodeStore,
      ImageCodeStore.publishSpec(s, _, "blockhash", 8, 4),
      ImageCodeStore.publishSpec(s, _, "blockhash", grid = 9, bands = 4),
      () => ids.map(i => (i, 8, 8, i * 31, i * 7))
        .toDF("media_id", "width", "height", "code", "pixsum"),
      "media_id"),
    StoreCase("audio landmarks", AudioCodeStore,
      AudioCodeStore.publishSpec(s, _, "chained_landmark", 128),
      AudioCodeStore.publishSpec(s, _, "chained_landmark", frame = 100),
      () => ids.map(i => (i, 6400L, -1, 0, 0))
        .toDF("media_id", "n_samples", "anchor", "line_a", "line_t"),
      "media_id"),
    StoreCase("text signatures", TextSigStore,
      TextSigStore.publishSpec(s, _, "minhash", k = 4, bands = 2),
      TextSigStore.publishSpec(s, _, "minhash", k = 4, bands = 3),
      () => ids.map(i => (i, Seq(i, i + 1, i + 2, i + 3)))
        .toDF("doc_id", "sig"),
      "doc_id"),
    StoreCase("span digests (w8)", SpanStore.level(8),
      SpanStore.publishSpec(s, _, "span_md5", Seq(8, 16)),
      SpanStore.publishSpec(s, _, "span_md5", Seq(16, 8)),
      () => ids.map(i => (i, 0, s"h$i")).toDF("id", "pos", "h"),
      "id"),
    StoreCase("ANN codes", AnnIndexStore.Codes,
      AnnIndexStore.publish(s, _, annCells, annPq(2, 2)),
      AnnIndexStore.publish(s, _, annCells, annPq(2, 1)),
      () => ids.map(i => (i, (i % 2).toInt, Array[Byte](i.toByte, 0)))
        .toDF("neighbor_id", "cell", "codes"),
      "neighbor_id"))

  private def freshRoot(c: StoreCase, tag: String): String =
    Files.createTempDirectory(
      s"graft_epoch_${c.name.filter(_.isLetter)}_$tag").toString

  private def parity(c: StoreCase, p: Int): DataFrame =
    c.rows().where(pmod(col(c.idCol), lit(2)) === p)

  test("every store: an ill-formed spec is refused and the pointer does " +
    "not move") {
    cases.foreach { c =>
      val root = freshRoot(c, "refuse")
      val bad0 = c.publishBad(root)
      assert(!bad0.committed && bad0.failures.nonEmpty, s"${c.name}: $bad0")
      intercept[IllegalStateException] {
        c.store.committedSpecVersion(s, root)
      }
      assert(c.publish(root).committed, c.name)
      assert(c.store.committedSpecVersion(s, root) === 1, c.name)
      val bad1 = c.publishBad(root)
      assert(!bad1.committed && bad1.failures.nonEmpty, s"${c.name}: $bad1")
      assert(c.store.committedSpecVersion(s, root) === 1,
        s"${c.name}: a refused spec moved the pointer")
    }
  }

  test("every store: a replayed epoch is stored exactly once") {
    cases.foreach { c =>
      val root = freshRoot(c, "replay")
      assert(c.publish(root).committed, c.name)
      c.store.appendEpoch(parity(c, 0), root, 1, 0L)
      c.store.appendEpoch(parity(c, 1), root, 1, 1L)
      c.store.appendEpoch(parity(c, 1), root, 1, 1L) // redelivery
      val stored = c.store.read(s, root, 1)
      assert(stored.count() === ids.size.toLong,
        s"${c.name}: replayed epoch duplicated rows")
      assert(stored.select(c.idCol).as[Long].collect().sorted.toSeq ===
        ids, c.name)
    }
  }

  test("every store: readBefore prunes by epoch") {
    cases.foreach { c =>
      val root = freshRoot(c, "before")
      assert(c.publish(root).committed, c.name)
      c.store.appendEpoch(parity(c, 0), root, 1, 0L)
      c.store.appendEpoch(parity(c, 1), root, 1, 1L)
      def before(e: Long) = c.store.readBefore(s, root, 1, e)
        .select(c.idCol).as[Long].collect().sorted.toSeq
      assert(before(0L).isEmpty, c.name)
      assert(before(1L) === ids.filter(_ % 2 == 0), c.name)
      assert(before(2L) === ids, c.name)
      assert(c.store.readBefore(s, root, 1, 1L).columns.toSeq ===
        c.store.read(s, root, 1).columns.toSeq,
        s"${c.name}: the epoch key must not leak into the serving frame")
    }
  }

  test("every store: the vacuum refuses the committed and in-flight " +
    "versions, removes only retired ones, and is idempotent") {
    cases.foreach { c =>
      val root = freshRoot(c, "vac")
      assert(c.publish(root).committed, c.name)
      c.store.appendEpoch(c.rows(), root, 1, 0L)
      val r0 = c.store.vacuumRetired(s, root, 1)
      assert(r0 === EpochStore.VacuumReport(1, Nil, Seq(1)), c.name)
      // rollover + an IN-FLIGHT backfill above the pointer (v3)
      assert(c.publish(root).committed, c.name)
      c.store.appendEpoch(c.rows(), root, 2, 0L)
      c.store.appendEpoch(c.rows().limit(3), root, 3, 0L)
      // keepVersions = 2 keeps the rollback pin
      assert(c.store.vacuumRetired(s, root, 2) ===
        EpochStore.VacuumReport(2, Nil, Seq(1, 2, 3)), c.name)
      val r1 = c.store.vacuumRetired(s, root, 1)
      assert(r1 === EpochStore.VacuumReport(2, Seq(1), Seq(2, 3)), c.name)
      assert(!new java.io.File(c.store.dir(root, 1)).exists() &&
        new java.io.File(root, c.store.dataTable).list().length == 2,
        s"${c.name}: v1 must be gone whole, v2 and v3 kept")
      assert(c.store.read(s, root, 2).count() === ids.size.toLong, c.name)
      assert(c.store.read(s, root, 3).count() === 3L,
        s"${c.name}: the in-flight newer key space must survive")
      val r2 = c.store.vacuumRetired(s, root, 1)
      assert(r2 === EpochStore.VacuumReport(2, Nil, Seq(2, 3)), c.name)
      intercept[IllegalArgumentException] {
        c.store.vacuumRetired(s, root, 0)
      }
    }
  }

  test("every store: an append below version 1 is refused") {
    cases.foreach { c =>
      val root = freshRoot(c, "v0")
      intercept[IllegalArgumentException] {
        c.store.appendEpoch(c.rows(), root, 0, 0L)
      }
    }
  }
}
