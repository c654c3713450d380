package graft.sources

import org.apache.spark.sql.{Row, SparkSession}

/** Versioned IMAGE perceptual-code persistence (C104) — the
  * C81/C82/C85 stored-code discipline applied to the one dedup family
  * that was still paying full-corpus decode per query: C97 rebuilt its
  * blockhash codes inline on every run. At 100 TB the image DECODE pass
  * dominates the banded join by orders of magnitude; paying it once per
  * NEW image (an append-only epoch) instead of once per query is the
  * entire point of a code store.
  *
  * An [[EpochStore]]:
  *
  *   - `img_code_spec`: ONE row (family, grid side, band count) — a
  *     code is only comparable against codes produced by the SAME spec,
  *     so a grid change (say 8×8 → 16×16) is a new VERSION. The audit
  *     refuses a structurally impossible spec at publish.
  *   - `img_codes/iv<version>/`: (media_id, width, height, code,
  *     pixsum) — the exact [[graft.operators.ImageDedup.blockhashCodes]]
  *     output, one ingest epoch at a time.
  *
  * Codes are integers (one long + dims + a checksum long per image),
  * so they round-trip parquet bit-exactly and
  * pairs-from-stored-codes ≡ pairs-from-decode by construction — the
  * property ImageCodeStoreSpec locks and the c104 oracle (the c97 pair
  * replay, unchanged) rests on. Serving reads ~36 bytes/image instead
  * of decoding media; an ingest epoch decodes only its delta.
  */
object ImageCodeStore extends EpochStore(
    "img_code_spec", Seq("family", "grid", "bands"),
    "img_codes", "iv", Seq("media_id", "width", "height", "code", "pixsum"),
    None) {

  /** Publish one code spec as a new committed version under `root`.
    * `grid` is the block-grid side (8 ⇒ 64-bit code), `bands` the LSH
    * band count the banded join splits the code into.
    */
  def publishSpec(spark: SparkSession, root: String, family: String,
                  grid: Int = 8, bands: Int = 4,
                  batchId: Option[Long] = None): MultiPublish.MultiReport = {
    import spark.implicits._
    publish(spark, root, Seq((family, grid.toLong, bands.toLong))
      .toDF("family", "grid", "bands"), batchId)
  }

  /** The grid must describe a code that fits the stored 64-bit long
    * (grid² ≤ 64) and the bands must divide the code width evenly (the
    * pigeonhole guarantee of the banded join is only sound on
    * equal-width bands).
    */
  protected def wellformed(spec: Row): Option[String] = {
    val g = spec.getLong(1)
    val b = spec.getLong(2)
    val bits = g * g
    if (spec.getString(0).isEmpty) Some("empty code family")
    else if (g < 2 || bits > 64)
      Some(s"grid $g: code width ${bits} outside (4, 64]")
    else if (b < 1 || bits % b != 0)
      Some(s"bands $b do not divide code width $bits evenly")
    else None
  }

  /** Load an explicit spec version: (family, grid, bands). */
  def loadSpecAt(spark: SparkSession, root: String,
                 version: Int): (String, Int, Int) = {
    val r = specRow(spark, root, version)
    (r.getString(0), r.getLong(1).toInt, r.getLong(2).toInt)
  }
}
