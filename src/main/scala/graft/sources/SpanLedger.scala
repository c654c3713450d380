package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** C137: the incremental SPAN-EXTENT ledger — the [[PairLedger]] (D49)
  * discipline carried to the last dedup family that wasn't ledger-fed
  * (the r17 verdict's ask #1): sub-document duplication. The unit
  * stored is the FIRED WINDOW (doc id, token pos) per ladder width —
  * the duplicated-coverage relation
  * [[graft.operators.Dedup.firedWindows]] computes — because extents
  * themselves don't compose across epochs (an extent arriving next to
  * an earlier one must coalesce), while fired windows compose as a
  * plain union: each ingest epoch appends only the windows NEWLY fired
  * by its arrivals ([[graft.operators.Dedup.firedWindowDeltas]] — the
  * 1→2 multiplicity transitions on the ref side plus the fired
  * arrivals), one D8 epoch partition per width.
  *
  * Serving ([[extentsFromLedger]]) is then the per-document
  * gaps-and-islands sweep over stored fired windows — NO tokenizer, NO
  * digest pass, NO count aggregate, and NO join against the
  * corpus-scale digest table anywhere in the plan. What c132 still
  * paid per query (the duplicated-vocabulary count + the hinted flag
  * join over the FULL stored digest table — the family with the
  * highest measured 100x shuffle, 4.3 GB in the c76 stage dumps) is
  * prepaid here once per epoch, at delta×corpus-intersection cost.
  *
  * Exactly-once: a redelivered epoch recomputes the same delta (the
  * ref side is bounded to epochs strictly before it — partition
  * pruning on the store's D8 key) and overwrites its own `__epoch`
  * partition bit-identically. Compaction, crash windows, retirement
  * and TTL are [[LedgerFold]] — the same audited swap protocol the
  * pair ledger runs.
  *
  * At 100 TB: an epoch's ledger write is delta-result-sized; the
  * per-epoch maintenance work is the delta's hash vocabulary joined
  * against the stored digest table (the stored-serving cost class);
  * and a span-extent question reads rows proportional to the
  * DUPLICATED volume, not the corpus.
  */
object SpanLedger {

  private val windowSchema = StructType(Seq(
    StructField("id", LongType), StructField("pos", LongType)))

  /** Append one epoch's newly-fired windows at one width (D8: a
    * replayed epoch overwrites its own partition). Deliverable epochs
    * are non-negative BY CONTRACT — the negative range is reserved for
    * [[compactEpochs]]' merged partitions.
    */
  def appendFiredEpoch(fired: DataFrame, root: String, w: Int,
                       epoch: Long): Unit = {
    require(w >= 2, s"width $w < 2")
    require(epoch >= 0,
      s"epoch $epoch: negative epochs are reserved for compaction folds")
    graft.streaming.EventStreams.epochIdempotentSink(
      fired.select(col("id").cast("long").as("id"),
        col("pos").cast("long").as("pos")),
      epoch, s"$root/w$w")
  }

  /** All ledger epochs at one width as one fired-window frame. Missing
    * or data-file-less trees read as the typed empty relation; any
    * other failure propagates (the [[LedgerFold.readKeys]] contract).
    * Transient duplicate rows (a compaction-crash straggler) are
    * absorbed downstream by the island sweep
    * ([[graft.operators.Dedup.extentsFromFired]]'s tolerance rule).
    */
  def readFired(spark: SparkSession, root: String, w: Int): DataFrame =
    LedgerFold.readKeys(spark, s"$root/w$w", windowSchema,
      Seq("id", "pos"))

  /** [[readFired]] restricted to windows whose arrival epoch is ≥
    * `retainFrom` — the age-aware serve under a C138-style TTL.
    */
  def readFiredRetained(spark: SparkSession, root: String, w: Int,
                        retainFrom: Long): DataFrame =
    LedgerFold.readRetained(spark, s"$root/w$w", windowSchema,
      Seq("id", "pos"), retainFrom)

  case class CompactReport(w: Int, folded: Seq[Long], into: Long,
                           retired: Long = 0L, expired: Long = 0L)

  /** The C135 fold on one width's subtree — crash-safe swap, reserved
    * negative sentinel, size-targeted files, single-scan accounting
    * (all [[LedgerFold.fold]]). `retire` (optional): DOC ids resolved
    * by an A33/A36 deletion — every stored window of a retired
    * document is dropped (span truth lives inside the document; when
    * the document goes, its extents go — there is no multi-link
    * subtlety here, unlike media endpoints). A retired doc's PARTNERS
    * keep their fired status: a fired window records "was duplicated
    * when it arrived" — the same never-retracted monotonicity the pair
    * ledger's census contract ships — and RTBF obliges removing the
    * deleted document's own data, not rewriting others' history.
    * `olderThan` (optional): the C138 age watermark on the span
    * surface.
    */
  def compactEpochs(spark: SparkSession, root: String, w: Int,
                    upTo: Long, retire: Option[DataFrame] = None,
                    olderThan: Option[Long] = None,
                    targetFileBytes: Long = 128L << 20): CompactReport = {
    val flag = retire.map { ids =>
      val r = ids.select(ids.columns.head).toDF("__rid").distinct()
      (df: DataFrame) => df
        .join(r, col("id") === col("__rid"), "left")
        .withColumn("__retired", col("__rid").isNotNull)
        .drop("__rid")
    }
    val rep = LedgerFold.fold(spark, s"$root/w$w", Seq("id", "pos"),
      upTo, flag, olderThan, targetFileBytes)
    CompactReport(w, rep.folded, rep.into, rep.retired, rep.expired)
  }

  /** One ingest epoch's unit: the batch's digest rows land in the
    * [[SpanStore]] (the prepaid tokenize+digest pass, one epoch per
    * width under D8) AND the epoch's newly-fired windows land here.
    * The ref side reads epochs STRICTLY BEFORE this one, so a
    * redelivery — even after later epochs have landed — sees exactly
    * the reference set of its first delivery and re-lands both
    * partitions bit-identically.
    */
  def ingestEpoch(spark: SparkSession, storeRoot: String,
                  specVersion: Int, ledgerRoot: String,
                  batch: DataFrame, textCol: String, idCol: String,
                  epoch: Long): Unit = {
    val (_, widths) = SpanStore.loadSpecAt(spark, storeRoot, specVersion)
    widths.foreach { w =>
      val inc = graft.operators.Dedup
        .spanDigestRows(batch, textCol, idCol, w).persist()
      try {
        // store append FIRST so the subtree exists; the `< epoch`
        // bound keeps the just-landed delta out of its own ref side
        SpanStore.level(w).appendEpoch(inc, storeRoot, specVersion,
          epoch)
        val ref = SpanStore.level(w).readBefore(spark, storeRoot,
          specVersion, epoch)
        appendFiredEpoch(
          graft.operators.Dedup.firedWindowDeltas(ref, inc),
          ledgerRoot, w, epoch)
      } finally { inc.unpersist(); () }
    }
  }

  /** The C137 serve: duplicated-span EXTENTS per ladder width, computed
    * ENTIRELY from stored fired windows — the c76b/c132 output shape
    * ((id, w, start_tok, end_tok, ext_len)) with only the
    * duplicated-volume-bounded island sweep left in the plan.
    */
  def extentsFromLedger(spark: SparkSession, root: String,
                        widths: Seq[Int]): DataFrame =
    widths.map { w =>
      graft.operators.Dedup.extentsFromFired(readFired(spark, root, w), w)
    }.reduce(_ unionByName _)
}
