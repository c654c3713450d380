package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned AUDIO fingerprint-code persistence (C115) — the
  * [[ImageCodeStore]] discipline applied to the dedup family where
  * decode is MOST expensive per byte: c105/c112 re-decoded the WAV
  * corpus and re-derived the chained-landmark codes inside every run.
  * Paying the decode + per-frame WHT chain once per NEW clip (an
  * append-only epoch) instead of once per query is the entire point of
  * a code store.
  *
  * An [[EpochStore]]:
  *
  *   - `audio_code_spec`: ONE row (family, WHT frame size) — a landmark
  *     code is only comparable against codes produced under the SAME
  *     frame grid, so a frame change (say 128 → 256 samples) is a new
  *     VERSION. The audit refuses a structurally impossible spec (the
  *     WHT butterfly needs a power-of-two frame).
  *   - `audio_codes/av<version>/`: the exact
  *     [[graft.operators.Audio.chainedLandmarkRows]] output — one META
  *     row per decodable clip ((media_id, n_samples, anchor = −1) — the
  *     real decoded duration the c105 blocking and election consume)
  *     plus one CODE row per chained landmark (anchor ≥ 0, Wang-2003
  *     (a, line_a, line_{a+1})).
  *
  * Every stored column is a small integer, so the table round-trips
  * parquet bit-exactly and pairs-from-stored ≡ pairs-from-decode BY
  * CONSTRUCTION (both paths share
  * [[graft.operators.Audio.chainedPairsFromCodes]] verbatim) — the
  * property AudioCodeStoreSpec locks and the c115 oracle (the c105
  * cluster replay, unchanged) rests on.
  */
object AudioCodeStore extends EpochStore(
    "audio_code_spec", Seq("family", "frame"),
    "audio_codes", "av",
    Seq("media_id", "n_samples", "anchor", "line_a", "line_t"), None) {

  /** Publish one fingerprint spec as a new committed version under
    * `root`; `frame` is the WHT frame size in samples (the landmark
    * grid).
    */
  def publishSpec(spark: SparkSession, root: String, family: String,
                  frame: Int = 128,
                  batchId: Option[Long] = None): MultiPublish.MultiReport = {
    import spark.implicits._
    publish(spark, root,
      Seq((family, frame.toLong)).toDF("family", "frame"), batchId)
  }

  /** Non-empty family; the frame must be a power of two in [4, 32768]
    * (the fast-WHT butterfly's structural requirement — a
    * non-power-of-two grid cannot have produced the stored lines).
    */
  protected def wellformed(spec: Row): Option[String] = {
    val f = spec.getLong(1)
    if (spec.getString(0).isEmpty) Some("empty code family")
    else if (f < 4 || f > 32768 || (f & (f - 1)) != 0)
      Some(s"frame $f is not a power of two in [4, 32768]")
    else None
  }

  /** Load an explicit spec version: (family, frame). */
  def loadSpecAt(spark: SparkSession, root: String,
                 version: Int): (String, Int) = {
    val r = specRow(spark, root, version)
    (r.getString(0), r.getLong(1).toInt)
  }

  /** The per-clip duration table carved from [[read]]: one row per
    * decodable clip, (media_id, n_samples) — what the c105 duration
    * blocking and the canonical election consume, without a decode or a
    * distinct over the frame-count-sized code rows.
    */
  def readMeta(spark: SparkSession, root: String,
               specVersion: Int): DataFrame =
    read(spark, root, specVersion)
      .where(col("anchor") === -1)
      .select("media_id", "n_samples")
}
