package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.{BpeTrain, Dedup}
import graft.sources.TokenizerStore

/** D40: streaming TOKENIZER ROLLOVER — the [[ModelRolloverStream]]
  * discipline applied to the OTHER versioned training artifact (C96's
  * merge list): each arriving training-schedule epoch EXTENDS the BPE
  * trajectory by `depthPerEpoch` merges and publishes the deepened
  * vocabulary as a new [[TokenizerStore]] version, so encode sessions
  * keep reading a consistent pinned artifact while the trainer deepens
  * behind them (the sentencepiece-retrain-and-swap operation, under
  * arrival).
  *
  * The fold is [[BpeTrain.continueMerges]] — literally the one-shot
  * trainer's own loop body resumed from the held segmentation state —
  * so the published depth-12/depth-24 snapshots ARE the c77
  * trajectory's states at those depths (BPE merge selection at rank r
  * depends only on the post-(r−1) state, the prefix-stability c96
  * locks) and the same c96 oracle gates the streamed versions: the
  * d40/c96 batch-twin pair, exactly as d39 shares c95's.
  *
  * Exactly-once under redelivery is two layers, the d39 shape: the
  * state remembers a replayed LATEST epoch as a fold no-op (its
  * contiguity rule — an OLDER epoch or a GAP is refused loudly, the
  * checkpoint-restart hole the r10 rule closed), and the store's
  * [[graft.sources.MultiPublish]] batch watermark skips the publish
  * before any staging I/O — a publish is a POINTER FLIP, so replay
  * safety is version identity, never an overwrite.
  *
  * A pinned encode session is byte-stable through the flip
  * (`loadTokenizerAt(v1)` returns the identical merge list before and
  * after v2 commits — the C85 blue/green contract on the tokenizer);
  * TokenizerRolloverStreamSpec drives this through the real
  * writeStream sink.
  *
  * At 100 TB: each epoch's fold is `depthPerEpoch` merge rounds over
  * the KB–MB-sized distinct-WORD table (held checkpointed between
  * epochs — the corpus is scanned ONCE at round 0, never again); the
  * publish is KB staging + one rename. Driver state: the merge list +
  * the epoch watermark.
  */
object TokenizerRolloverStream {

  /** The trainer's held state between epochs: the segmentation word
    * table (checkpointed — corpus scanned once, at first fold), the
    * accumulated merges, and the epoch watermark. One instance per
    * training stream, driver-side (the merges are KBs).
    */
  final class TokenizerTrainState(docs: DataFrame, textCol: String,
                                  val depthPerEpoch: Int) {
    require(depthPerEpoch >= 1, s"depthPerEpoch $depthPerEpoch < 1")
    private var words: DataFrame = null
    private var acc: Vector[BpeTrain.Merge] = Vector.empty
    private var lastEpoch: Long = -1L

    def merges: Seq[BpeTrain.Merge] = acc
    def lastFoldedEpoch: Long = lastEpoch

    /** Fold one training epoch: extend the trajectory by
      * `depthPerEpoch` merges. A replayed LATEST epoch is a no-op
      * (returns false); an older epoch or a gap is refused — epochs
      * must arrive contiguously from 0 (the r10 checkpoint-restart
      * rule: `epoch == lastFolded + 1`, not merely monotone).
      */
    private[graft] def fold(epochId: Long): Boolean =
      if (epochId == lastEpoch) false
      else {
        require(epochId == lastEpoch + 1,
          s"epoch $epochId after watermark $lastEpoch — the fold is " +
            "only defined on contiguous epochs (replay of the latest " +
            "is a no-op; anything else is a delivery hole)")
        if (words == null) words = BpeTrain.initialWords(docs, textCol)
        val (m, w) = BpeTrain.continueMerges(words, acc.size + 1,
          depthPerEpoch)
        acc = acc ++ m
        words = w
        lastEpoch = epochId
        true
      }

    /** Release the held word table (end of the training stream). */
    def close(): Unit = if (words != null) { Dedup.freeState(words); () }
  }

  /** One epoch's fold-then-publish — the unit the streaming sink and
    * the d40 batch-twin gate share: deepen the trajectory, publish the
    * post-fold merge list as a new tokenizer version
    * (`trainedAtEpoch` = the vocabulary DEPTH, the c96 convention;
    * batch id = the epoch id, so a redelivered epoch is watermark-
    * skipped by the store before any staging I/O).
    */
  def foldAndPublish(spark: SparkSession, state: TokenizerTrainState,
                     epochId: Long,
                     root: String): graft.sources.MultiPublish.MultiReport = {
    state.fold(epochId)
    val rep = TokenizerStore.publishTokenizer(spark, root, state.merges,
      trainedAtEpoch = state.merges.size.toLong, batchId = Some(epochId))
    require(rep.committed || rep.replaySkipped,
      s"epoch $epochId tokenizer publish failed: ${rep.failures}")
    rep
  }

  /** Wire the fold-then-publish unit under a streaming query: each
    * arriving micro-batch of the training-schedule stream (its rows
    * are the schedule ticks; the batch ID is the epoch) deepens the
    * vocabulary and publishes the snapshot.
    *
    * Restart recovery (r14 advice): the trainer state is driver
    * memory, so a restart that resumes the streaming checkpoint at
    * batch N > 0 arrives at a FRESH state (watermark −1). The BPE
    * trajectory is a deterministic function of (docs, depthPerEpoch)
    * alone — merge r depends only on the post-(r−1) segmentation, the
    * prefix stability c96 locks — so the sink REFOLDS epochs
    * 0..N−1 (no publishes: those versions are already committed, and
    * the store's batch watermark would skip them anyway) before
    * folding N. The fold-level contiguity require still guards direct
    * API misuse; the catch-up loop only ever fires across a restart
    * gap, where the streaming checkpoint guarantees batch ids resume
    * exactly where they stopped.
    */
  def snapshotSink(schedule: DataFrame, state: TokenizerTrainState,
                   root: String, checkpoint: String): StreamingQuery =
    schedule.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        while (state.lastFoldedEpoch + 1 < id)
          state.fold(state.lastFoldedEpoch + 1)
        foldAndPublish(b.sparkSession, state, id, root)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Encode-side serving through the rollover: fertility of `docs`
    * under the tokenizer at `pin` (blue — a session holding through
    * the flip) or at the committed pointer (green). Loading is
    * KB-sized; the encode join is the one corpus pass.
    */
  def serveFertility(spark: SparkSession, root: String, docs: DataFrame,
                     textCol: String, sourceCol: String,
                     pin: Option[Int] = None): DataFrame = {
    val tok = pin match {
      case Some(v) => TokenizerStore.loadTokenizerAt(spark, root, v)
      case None => TokenizerStore.loadTokenizer(spark, root)
    }
    BpeTrain.fertilityUnderMerges(docs, textCol, sourceCol, tok.merges)
  }
}
