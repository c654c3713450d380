package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned TEXT MinHash-signature persistence (C119) — the
  * stored-code discipline applied to the LARGEST modality of all: every
  * text dedup query (c2's LSH pairs, c13's clusters, c118's cross-modal
  * verdict) was re-running the full-corpus MinHashSigExpr pass —
  * normalize + tokenize + shingle chain-hash + k running minima over
  * every byte of text — inside every run. Paying it once per NEW
  * document (an append-only epoch) instead of once per query is the
  * entire point of a signature store.
  *
  * An [[EpochStore]]:
  *
  *   - `text_sig_spec`: ONE row (family, k, bands, shingle width) — a
  *     signature is only comparable against signatures minhashed from
  *     the SAME shingle universe with the SAME k, so a spec change (say
  *     k 64 → 128) is a new VERSION. The audit refuses a structurally
  *     impossible spec (bands must divide k).
  *   - `text_sigs/sv<version>/`: the exact
  *     [[graft.operators.Dedup.minhashSigRows]] output ((doc_id, sig:
  *     array<long> of k exact minima)).
  *
  * Every stored value is an exact long, so the table round-trips
  * parquet bit-exactly and pairs-from-stored ≡ pairs-from-compute BY
  * CONSTRUCTION (both paths feed
  * [[graft.operators.Dedup.minhashPairsFromSigs]] verbatim) — the
  * property TextSigStoreSpec locks and the c119 oracle (the c2 planted
  * replay, unchanged) rests on. Serving reads 8·k bytes/doc instead of
  * re-tokenizing text.
  */
object TextSigStore extends EpochStore(
    "text_sig_spec", Seq("family", "k", "bands", "shingle_w"),
    "text_sigs", "sv", Seq("doc_id", "sig"), None) {

  /** Publish one signature spec as a new committed version under
    * `root`.
    */
  def publishSpec(spark: SparkSession, root: String, family: String,
                  k: Int = 64, bands: Int = 16, shingleW: Int = 3,
                  batchId: Option[Long] = None): MultiPublish.MultiReport = {
    import spark.implicits._
    publish(spark, root,
      Seq((family, k.toLong, bands.toLong, shingleW.toLong))
        .toDF("family", "k", "bands", "shingle_w"), batchId)
  }

  /** Non-empty family; k in [1, 4096] with bands ≥ 1 dividing k evenly
    * (equal-width bands — the banded join's pigeonhole guarantee);
    * shingle width in [1, 16].
    */
  protected def wellformed(spec: Row): Option[String] = {
    val kk = spec.getLong(1)
    val b = spec.getLong(2)
    val w = spec.getLong(3)
    if (spec.getString(0).isEmpty) Some("empty signature family")
    else if (kk < 1 || kk > 4096) Some(s"k $kk outside [1, 4096]")
    else if (b < 1 || kk % b != 0)
      Some(s"bands $b do not divide k $kk evenly")
    else if (w < 1 || w > 16)
      Some(s"shingle width $w outside [1, 16]")
    else None
  }

  /** Load an explicit spec version: (family, k, bands, shingleW). */
  def loadSpecAt(spark: SparkSession, root: String,
                 version: Int): (String, Int, Int, Int) = {
    val r = specRow(spark, root, version)
    (r.getString(0), r.getLong(1).toInt, r.getLong(2).toInt,
      r.getLong(3).toInt)
  }

  /** A k=32 signature appended under a k=64 sv key would land silently
    * and never band (slice() past the array end yields short bands) —
    * when the target spec version is already published, a row-local
    * raise_error guard rides the write pass (zero extra scans) so a
    * mis-keyed append fails loudly instead of degrading recall
    * silently.
    */
  override protected def stored(sigs: DataFrame, root: String,
                                version: Int): DataFrame =
    publishedSpec(sigs.sparkSession, root, version) match {
      case Some(spec) =>
        val k = spec.getLong(1).toInt
        sigs.select(col("doc_id"),
          when(size(col("sig")) === k, col("sig"))
            .otherwise(raise_error(concat(
              lit(s"sig length != spec v$version k=$k for doc "),
              col("doc_id")))).as("sig"))
      case None => super.stored(sigs, root, version)
    }
}
