package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.streaming.EventStreams

/** Versioned, epoch-partitioned artifact persistence — the one
  * discipline behind every stored-code table (ANN codes C82/C85, image
  * codes C104, audio landmarks C115, text signatures C119, span digests
  * C125). Each store holds the output of a derivation that is expensive
  * per row (PQ encode, image decode, WAV decode + WHT, MinHash, span
  * digests); it is paid once per NEW row, and serving reads the stored
  * table instead of re-deriving it per query.
  *
  * Two pieces:
  *
  *   - a one-row SPEC table (`specTable`) describing the derivation,
  *     published through [[MultiPublish]] with a `spec_wellformed`
  *     audit. A stored row is only comparable with rows derived under
  *     the same spec, so a spec change is a new VERSION, never a silent
  *     re-interpretation of stored rows. The committed pointer is the
  *     default serving pin.
  *   - the corpus-scale DATA table at
  *     `$root/<dataTable>/<prefix><version>[/w<width>]`, appended one
  *     ingest epoch at a time under the D8 epoch-partition rule
  *     ([[EventStreams.epochIdempotentSink]]): a replayed epoch
  *     overwrites its own partition with bit-identical rows, so
  *     exactly-once holds under at-least-once delivery. Rows are keyed
  *     by spec version (the C85 key space): a new spec backfills its
  *     own tree while the old one keeps serving, and [[vacuumRetired]]
  *     removes the loser once serving has flipped.
  *
  * A store fixes its spec schema and audit predicate ([[wellformed]]),
  * its directory prefix and column list, and optionally a guard on what
  * an append may land ([[stored]]).
  */
abstract class EpochStore(val specTable: String, specColumns: Seq[String],
                          val dataTable: String, prefix: String,
                          columns: Seq[String], width: Option[Int]) {

  /** The `spec_wellformed` predicate over the one published spec row
    * (the spec columns, in order): `Some(reason)` refuses the publish.
    */
  protected def wellformed(spec: Row): Option[String]

  /** The frame an append lands: the store's columns. Stores override
    * this to refuse rows that do not match the target version's spec.
    */
  protected def stored(frame: DataFrame, root: String,
                       version: Int): DataFrame =
    frame.select(columns.map(col): _*)

  /** How [[appendEpoch]]'s version check names the version. */
  protected def versionName: String = "specVersion"

  /** The directory holding one version's rows. */
  def dir(root: String, version: Int): String =
    s"$root/$dataTable/$prefix$version" + width.fold("")(w => s"/w$w")

  /** Publish a one-row spec frame as a new committed version under
    * `root`. Audits: exactly one row, then [[wellformed]]. A refused
    * spec leaves the pointer where it was.
    */
  protected def publish(spark: SparkSession, root: String, spec: DataFrame,
                        batchId: Option[Long]): MultiPublish.MultiReport = {
    val audit: Wap.Audit = ("spec_wellformed", df => {
      val rows = df.select(specColumns.map(col): _*).collect()
      if (rows.length != 1)
        Some(s"spec must be exactly one row, got ${rows.length}")
      else wellformed(rows.head)
    })
    MultiPublish.publishAll(spark,
      Map(specTable -> ((spec, Seq(Wap.minRows(1), audit)))), root, batchId)
  }

  /** The COMMITTED spec version — the default pin for a serving
    * session.
    */
  def committedSpecVersion(spark: SparkSession, root: String): Int =
    MultiPublish.commitVersions(spark, root).getOrElse(specTable,
      throw new IllegalStateException(s"no committed $specTable under $root"))

  /** The spec row of an explicit version (the spec columns, in order). */
  protected def specRow(spark: SparkSession, root: String,
                        version: Int): Row = {
    val rows = MultiPublish.readVersion(spark, root, specTable, version)
      .select(specColumns.map(col): _*).collect()
    require(rows.length == 1,
      s"$specTable v$version must be one row, got ${rows.length}")
    rows.head
  }

  /** The spec row of `version` if it is published. A backfill running
    * AHEAD of its spec publish (the blue/green flip pattern) sees None;
    * its rows are validated by every post-publish replay.
    */
  protected def publishedSpec(spark: SparkSession, root: String,
                              version: Int): Option[Row] =
    if (MultiPublish.versionExists(spark, root, specTable, version))
      Some(specRow(spark, root, version))
    else None

  /** Append one ingest epoch's rows under the D8 epoch-partition rule,
    * keyed by spec version — the C82 incremental step: only the DELTA
    * is derived, ever.
    */
  def appendEpoch(frame: DataFrame, root: String, version: Int,
                  epoch: Long): Unit = {
    require(version >= 1, s"$versionName $version < 1")
    EventStreams.epochIdempotentSink(stored(frame, root, version), epoch,
      dir(root, version))
  }

  /** All epochs stored under ONE spec version, as one serving frame —
    * no derivation anywhere in its plan.
    */
  def read(spark: SparkSession, root: String, version: Int): DataFrame =
    spark.read.parquet(dir(root, version)).select(columns.map(col): _*)

  /** The rows of epochs STRICTLY BEFORE `epochExclusive` — the
    * replay-stable reference side of an incremental computation ("the
    * corpus as it stood when this epoch arrived"): partition pruning on
    * the D8 epoch key, so a redelivered epoch sees the same reference
    * set as its first delivery even though later epochs have landed.
    */
  def readBefore(spark: SparkSession, root: String, version: Int,
                 epochExclusive: Long): DataFrame =
    spark.read.parquet(dir(root, version))
      .where(col("__epoch") < epochExclusive)
      .select(columns.map(col): _*)

  /** Retire dead key spaces after a completed spec rollover (the C86
    * rule): once serving has flipped to the committed version, older
    * versions' rows are corpus-sized dead weight. Removes every
    * `<prefix><N>` tree (all its width subtrees) with
    * N ≤ committed − keepVersions; REFUSES to touch the committed
    * version, anything newer (an in-flight backfill for the NEXT
    * rollover — deleting it would silently restart that ingest), or
    * anything inside the keepVersions window (keepVersions = 2 keeps
    * one rollback pin alive). The spec table stays readable for time
    * travel — it is one row. Idempotent.
    */
  def vacuumRetired(spark: SparkSession, root: String,
                    keepVersions: Int = 1): EpochStore.VacuumReport = {
    require(keepVersions >= 1, s"keepVersions $keepVersions < 1")
    val committed = committedSpecVersion(spark, root)
    val tableRoot = new Path(s"$root/$dataTable")
    val fs = tableRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (!fs.exists(tableRoot)) Seq.empty[Int]
      else fs.listStatus(tableRoot).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith(prefix) &&
          n.drop(prefix.length).forall(_.isDigit) =>
          n.drop(prefix.length).toInt }
        .sorted
    val (dead, live) = versions.partition(_ <= committed - keepVersions)
    dead.foreach(v => fs.delete(new Path(tableRoot, s"$prefix$v"), true))
    EpochStore.VacuumReport(committed, dead, live)
  }
}

object EpochStore {

  /** [[EpochStore.vacuumRetired]] accounting: the pointer the decision
    * was made against, the version keys removed, and the ones kept
    * (both still-serving and in-flight-newer).
    */
  case class VacuumReport(committed: Int, removed: Seq[Int], kept: Seq[Int])

  /** Streaming ingest into a store: every micro-batch of `stream` is
    * handed to `perBatch` with its batch id, which derives the batch's
    * rows and lands them with [[EpochStore.appendEpoch]] under that id
    * as the epoch. Exactly-once under at-least-once delivery comes from
    * composition: the derivation is deterministic and the D8 rule makes
    * a redelivered batch overwrite its own partition, so the table
    * converges to one row per input. Per-epoch work is delta-sized and
    * driver state is the checkpoint only.
    */
  def ingestSink(stream: DataFrame, checkpoint: String)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(perBatch)
      .trigger(Trigger.AvailableNow())
      .start()
}
