package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary induction (C77) — the TRAINER the C23
  * tokenizer consumes. `Bpe.trainFromCorpus` (the c23 gate's entry
  * point) collects a documented driver-side sample; this is the
  * corpus-scale version, shaped the way industrial BPE trainers
  * actually run (Sennrich et al. 2016's algorithm over a word-frequency
  * table):
  *
  *   - ONE corpus-scale pass builds the (word, count) table — from
  *     there on, state is VOCABULARY-sized, never corpus-sized, and
  *     every merge round is a map-combined aggregation over it plus a
  *     1-row collect (the D27 driver-state shape: the driver holds the
  *     merge list, nothing else);
  *   - each round: count adjacent symbol pairs weighted by word
  *     frequency (top pair via distributed orderBy+limit — per-task
  *     heaps, no global sort), then rewrite every word's segmentation.
  *
  * Cross-engine-exact by CONSTRUCTION, not by fixpoint analysis: a
  * word's segmentation lives as a chr(1)-DELIMITED STRING
  * (SOH-joined: `␁a␁b␁…`), and a merge round applies EXACTLY THREE
  * left-to-right all-occurrence `replace(s, ␁a␁b␁, ␁ab␁)` passes.
  * Multiple passes are needed because one pass's consumption of the
  * shared delimiter hides an immediately-following occurrence
  * (`␁a␁b␁a␁b␁` → one pass yields `␁ab␁a␁b␁`); rather than prove a
  * universal fixpoint bound, BOTH engines run the same fixed pass
  * count, so their segmentations agree bit-for-bit even on inputs
  * where three passes are not yet a fixpoint. Java's `String.replace`
  * and DuckDB's `replace` share the scan-left non-overlapping
  * contract, pair ranking ties break on the exact (count DESC,
  * pair-string ASC) byte order, and all counts are exact integers —
  * so the WHOLE merge trajectory replays in an unrolled SQL oracle,
  * the c75 rebuild-a-training-loop shape applied to tokenizer
  * induction.
  */
object BpeTrain {

  // symbol delimiter / pair separator: never appear in corpus text.
  // private[graft] (not private) so TokenizerStore's sides_wellformed
  // audit checks THE trainer's control characters, not its own copies
  // that could silently drift (r13 advice).
  private[graft] val D = "\u0001" // symbol delimiter
  private[graft] val P = "\u0002" // pair-string separator

  /** Passes per merge round — fixed and engine-shared (see scaladoc). */
  val MergePasses = 3

  final case class Merge(rank: Int, left: String, right: String)

  /** Run `numMerges` rounds; returns the learned merge list in order.
    * Words containing the delimiter characters are dropped (impossible
    * in whitespace-tokenized text, guarded anyway — silently merging
    * them would corrupt segmentations).
    */
  def train(docs: DataFrame, textCol: String,
            numMerges: Int): Seq[Merge] = {
    val (merges, words) = trainKeepingWords(docs, textCol, numMerges)
    Dedup.freeState(words)
    merges
  }

  private def trainKeepingWords(docs: DataFrame, textCol: String,
                                numMerges: Int): (Seq[Merge], DataFrame) =
    continueMerges(initialWords(docs, textCol), fromRank = 1, numMerges)

  /** The trainer's round-0 state: the delimited word table. Persisted —
    * the first [[continueMerges]] round frees it (its checkpoint
    * supersedes it), exactly as the monolithic loop always did.
    */
  private[graft] def initialWords(docs: DataFrame,
                                  textCol: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .where(length(col("w")) > 0 &&
        !col("w").contains(D) && !col("w").contains(P))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(D), regexp_replace(col("w"), "(.)", "$1" + D))
        .as("s"), col("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** CONTINUE training from an existing segmentation state: run
    * `numMerges` more rounds starting at rank `fromRank` over `words0`
    * (which this call consumes — it is freed once the first round's
    * checkpoint supersedes it). This is [[train]]'s own loop body —
    * [[trainKeepingWords]] is literally `continueMerges(initialWords,
    * 1, n)` — so a depth-extended trajectory (12 merges, then 12 more:
    * the D40 rollover stream's fold) equals the one-shot 24-merge run
    * BY CONSTRUCTION, not by a separate proof: BPE merge selection at
    * rank r depends only on the post-(r−1) segmentation state, never
    * on the total requested depth (the prefix-stability c96 locks).
    * Returns the new merges (ranks fromRank..fromRank+numMerges−1) and
    * the post-merge word state (caller owns it — [[Dedup.freeState]] when
    * done or pass it back in).
    */
  private[graft] def continueMerges(words0: DataFrame, fromRank: Int,
                                    numMerges: Int): (Seq[Merge], DataFrame) = {
    require(numMerges >= 1, "numMerges must be >= 1")
    require(fromRank >= 1, s"fromRank $fromRank < 1")
    var words = words0       // last CHECKPOINTED state (or words0)
    var plan = words0        // current state, possibly un-checkpointed
    var pending = 0          // replace-projections stacked since `words`
    val merges = Seq.newBuilder[Merge]
    for (r <- fromRank to fromRank + numMerges - 1) {
      val t = filter(split(col("s"), D), x => length(x) > 0)
      val top = plan
        .where(size(t) >= 2)
        .select(col("cnt"), explode(zip_with(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat(a, lit(P), b))).as("pair"))
        .groupBy("pair").agg(sum("cnt").as("total"))
        .orderBy(col("total").desc, col("pair"))
        .limit(1).collect()
      require(top.nonEmpty, s"round $r: no adjacent pairs left to merge")
      val Array(a, b) = top.head.getString(0).split(P, 2)
      merges += Merge(r, a, b)
      val merged = (1 to MergePasses).foldLeft(col("s")) { (c, _) =>
        replace(c, lit(D + a + D + b + D), lit(D + a + b + D))
      }
      // localCheckpoint, not persist: persist caches DATA but keeps the
      // LOGICAL plan nested, and 20+ rounds of stacked
      // split/zip_with/replace lineage blow up analysis long before
      // data size matters (measured: OOM at 24 rounds on a 31-word
      // vocabulary). The c13 lesson applied to a training loop —
      // truncate lineage every round... r18: every THIRD round (the
      // applyMerges chunking applied to the trainer): between
      // checkpoints the top-pair job re-evaluates at most 2 stacked
      // vocabulary-sized replace projections — map-only, far cheaper
      // than the extra materialization job per round it replaces
      // (merge SELECTION depends only on the words STATE, which is
      // identical under any checkpoint cadence — same merges out).
      plan = plan.select(merged.as("s"), col("cnt"))
      pending += 1
      if (pending == 3 || r == fromRank + numMerges - 1) {
        val next = plan.localCheckpoint(true)
        Dedup.freeState(words)
        words = next
        plan = next
        pending = 0
      }
    }
    // caller owns the returned frame — release it with Dedup.freeState
    // when done
    (merges.result(), words)
  }

  /** [[train]] variant that also returns the final SEGMENTATION state —
    * one row per distinct word: the restored word, its delimited
    * segmentation under the learned merges (sequential rank-order
    * application, the training loop's own semantics), its symbol count
    * and its corpus frequency. This is the state C78's fertility
    * report aggregates; exposing it costs nothing (the loop holds it
    * anyway).
    */
  def trainWithSegmentation(docs: DataFrame, textCol: String,
                            numMerges: Int): (Seq[Merge], DataFrame) = {
    // the loop's OWN final frame — no re-derivation, no merge replay
    // (the r9-advice fix: the previous version re-read the corpus and
    // replayed all merges a second time). The returned frame rides the
    // loop's last localCheckpoint; free it with [[Dedup.freeState]] once
    // every result derived from it is materialized.
    val (merges, words) = trainKeepingWords(docs, textCol, numMerges)
    val seg = words.select(
      regexp_replace(col("s"), D, "").as("word"),
      (length(col("s")) - length(regexp_replace(col("s"), D, "")) - 1)
        .cast("long").as("n_tokens"),
      col("cnt"))
    (merges, seg)
  }

  /** C78: tokenizer fertility report — the standard tokenizer-eval
    * table (tokens-per-word a.k.a. fertility, and chars-per-token
    * compression) PER SOURCE, under the C77-learned vocabulary. A
    * vocabulary trained on one distribution quietly taxes another
    * (higher fertility = more sequence length spent per word = less
    * effective context); this report is how that tax is seen BEFORE a
    * training run pays it. Exact integers end to end: token counts
    * come from the segmentation state's delimiter arithmetic,
    * fertility and compression ship as truncating integer ppm —
    * hash-exact cross-engine, replayed by the same unrolled trajectory
    * oracle that replays training. Cost: the train loop + ONE
    * corpus-word join against the vocabulary-sized segmentation
    * (broadcast when vocab is small) + one per-source agg.
    *
    * Contract: the report corpus IS the training corpus (the join is
    * inner — every corpus word appears in the vocabulary it trained).
    * Scoring a DIFFERENT corpus would silently drop out-of-vocabulary
    * words at the join; that variant needs a left join with a
    * character-fallback fertility and is deliberately not hidden
    * behind this signature.
    *
    * EAGER: executes at call time and returns a driver-materialized
    * local frame (one row per source; capped loudly at
    * [[MaxReportRows]]) — the price of freeing the train loop's
    * checkpoint state before returning.
    */
  def fertilityReport(docs: DataFrame, textCol: String,
                      sourceCol: String, numMerges: Int): DataFrame = {
    val (_, seg) = trainWithSegmentation(docs, textCol, numMerges)
    val occ = docs
      .select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .where(length(col("word")) > 0 &&
        !col("word").contains(D) && !col("word").contains(P))
    val report = occ
      .join(seg.select(col("word"), col("n_tokens")), "word")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        GraftExpr.longDiv(col("n_tokens") * lit(1000000L),
          col("n_words")).as("fertility_ppm"),
        GraftExpr.longDiv(col("n_chars") * lit(1000000L),
          col("n_tokens")).as("chars_per_token_ppm"))
      .orderBy("source")
    // the report is per-source-sized (tiny) — materialize it eagerly so
    // the loop's checkpoint state can be freed NOW rather than leaking
    // until a driver GC (a lazily-returned frame would still depend on
    // the truncated-lineage checkpoint RDD, which must not be dropped
    // while anything can still recompute from it)
    val local = localizeReport(report)
    Dedup.freeState(seg)
    local
  }

  /** Reports are one row per SOURCE: tiny by contract. Materializing
    * them eagerly lets [[Dedup.freeState]] drop the train loop's checkpoint
    * RDDs immediately — but makes these public DataFrame-returning
    * APIs EXECUTE AT CALL TIME and hold the report in driver memory.
    * That contract is stated on each method, and enforced here: if the
    * source column turns out to be high-cardinality the collect is
    * capped loudly rather than silently exhausting the driver.
    */
  private val MaxReportRows = 1 << 20
  private def localizeReport(report: DataFrame): DataFrame = {
    val spark = report.sparkSession
    val rows = report.limit(MaxReportRows + 1).collect()
    require(rows.length <= MaxReportRows,
      s"fertility report exceeds $MaxReportRows rows — the source " +
        "column is not the low-cardinality grouping this driver-sized " +
        "report contract assumes")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), report.schema)
  }

  private object GraftExpr {
    def longDiv(a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =
      graft.functions.GraftExpressions.longDiv(a, b)
  }

  // -------------------------------------------- frozen-vocabulary encode

  /** The delimited word-frequency table every train/apply pass starts
    * from: one row per distinct word of the corpus.
    */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .where(length(col("w")) > 0 &&
        !col("w").contains(D) && !col("w").contains(P))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(D), regexp_replace(col("w"), "(.)", "$1" + D))
        .as("s"), col("cnt"))

  /** Apply a FROZEN merge list to a delimited word table — the encode
    * side of a versioned tokenizer artifact: merges applied in rank
    * order with the training loop's own semantics (exactly
    * [[MergePasses]] left-to-right replace passes per merge), so
    * encoding the training corpus reproduces the final training state
    * bit-for-bit, and an out-of-vocabulary word simply keeps whatever
    * characters no learned pair covers — real BPE OOV behavior, not a
    * fallback approximation. Cost: numMerges vocabulary-sized
    * projection passes (6 merges per checkpointed chunk; superseded
    * chunk state freed eagerly) — corpus-scale cost lives only in the
    * caller's occurrence join. Caller owns the returned frame
    * (checkpointed); release with the Dedup.freeState discipline once
    * everything derived from it is materialized.
    */
  def applyMerges(words0: DataFrame, merges: Seq[Merge]): DataFrame = {
    var words = words0
    var owned: Option[DataFrame] = None // frames WE checkpointed
    merges.grouped(6).foreach { chunk =>
      val applied = chunk.foldLeft(col("s")) { (c0, m) =>
        (1 to MergePasses).foldLeft(c0) { (c, _) =>
          replace(c, lit(D + m.left + D + m.right + D),
            lit(D + m.left + m.right + D))
        }
      }
      val next = words.select(applied.as("s"), col("cnt"))
        .localCheckpoint(true)
      owned.foreach(Dedup.freeState)
      owned = Some(next)
      words = next
    }
    words
  }

  /** Per-source fertility of `evalDocs` ENCODED under a frozen merge
    * list (the cross-corpus variant the C78 contract names out of its
    * own scope): the eval corpus's distinct words are segmented by
    * [[applyMerges]] — in-vocabulary words segment exactly as training
    * left them, out-of-vocabulary words segment as far as the learned
    * pairs reach — then one occurrence join + per-source agg produce
    * the same exact-integer report shape as [[fertilityReport]].
    * On the training corpus itself this REPRODUCES the C78 report;
    * on a shifted corpus the fertility rise is the sequence-length tax
    * the frozen tokenizer will charge a training run.
    *
    * EAGER: executes at call time, driver-materialized per-source rows
    * (capped loudly at [[MaxReportRows]]) — see [[fertilityReport]].
    */
  def fertilityUnderMerges(evalDocs: DataFrame, textCol: String,
                           sourceCol: String,
                           merges: Seq[Merge]): DataFrame = {
    val seg0 = applyMerges(wordTable(evalDocs, textCol), merges)
    val seg = seg0.select(
      regexp_replace(col("s"), D, "").as("word"),
      (length(col("s")) - length(regexp_replace(col("s"), D, "")) - 1)
        .cast("long").as("n_tokens"))
    val occ = evalDocs
      .select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .where(length(col("word")) > 0 &&
        !col("word").contains(D) && !col("word").contains(P))
    val report = occ.join(seg, "word")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        GraftExpr.longDiv(col("n_tokens") * lit(1000000L),
          col("n_words")).as("fertility_ppm"),
        GraftExpr.longDiv(col("n_chars") * lit(1000000L),
          col("n_tokens")).as("chars_per_token_ppm"))
      .orderBy("source")
    val local = localizeReport(report)
    Dedup.freeState(seg0)
    local
  }

  /** The STRICT frozen-vocabulary fertility variant: eval words LEFT
    * join the TRAINING corpus's segmentation table; a word the training
    * corpus never saw falls back to character-level (n_tokens =
    * word length) and is counted as OOV. This is the cheap
    * (single-join, no merge application) audit a serving pipeline runs
    * against a published vocabulary table — [[fertilityUnderMerges]] is
    * the exact encode; this bounds it from above and surfaces OOV mass
    * explicitly. Output adds n_oov per source.
    *
    * EAGER: executes at call time, driver-materialized per-source rows
    * (capped loudly at [[MaxReportRows]]) — see [[fertilityReport]].
    */
  def frozenFertilityReport(trainDocs: DataFrame, evalDocs: DataFrame,
                            textCol: String, sourceCol: String,
                            numMerges: Int): DataFrame = {
    val (_, seg) = trainWithSegmentation(trainDocs, textCol, numMerges)
    val occ = evalDocs
      .select(col(sourceCol).as("source"),
        explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .where(length(col("word")) > 0 &&
        !col("word").contains(D) && !col("word").contains(P))
    val report = occ
      .join(seg.select(col("word"), col("n_tokens")), Seq("word"), "left")
      .select(col("source"), col("word"),
        col("n_tokens").isNull.cast("long").as("oov"),
        coalesce(col("n_tokens"), length(col("word")).cast("long"))
          .as("n_tok_eff"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("oov")).as("n_oov"),
        sum(col("n_tok_eff")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_oov"),
        col("n_tokens"), col("n_chars"),
        GraftExpr.longDiv(col("n_tokens") * lit(1000000L),
          col("n_words")).as("fertility_ppm"),
        GraftExpr.longDiv(col("n_chars") * lit(1000000L),
          col("n_tokens")).as("chars_per_token_ppm"))
      .orderBy("source")
    val local = localizeReport(report)
    Dedup.freeState(seg)
    local
  }

  /** The oracle-shaped report: one row per learned merge. */
  def trainReport(docs: DataFrame, textCol: String,
                  numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, numMerges)
      .map(m => (m.rank.toLong, m.left, m.right))
      .toDF("rank", "lhs", "rhs")
      .orderBy("rank")
  }
}
