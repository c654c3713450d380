package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{L2Cells, PqIndex}

/** Versioned ANN index persistence (C81) — the missing third leg of the
  * ANN serving story: C14/C26/C28 BUILD their IVF cells and PQ
  * codebooks in-session and throw them away, but a real serving
  * pipeline builds an index ONCE, publishes it as a versioned
  * artifact, and every serving session LOADS it (Faiss's
  * write_index/read_index contract, expressed relationally).
  *
  * The index state is two KB-sized TABLES — coarse cells
  * (cell, centroid) and PQ codebooks (sub, code, centroid) — published
  * together through [[MultiPublish.publishAll]]'s ATOMIC multi-table
  * commit (A37): a reader following the commit pointer can never see
  * cells from one build and codebooks from another, which silently
  * mis-ranks every query (codes decoded against the wrong centroids) —
  * the exact torn-index failure the atomic pointer exists to prevent.
  * Structural audits ride the publish: cell count, subspace coverage,
  * dimension consistency.
  *
  * Floats round-trip parquet bit-exactly, and the build itself is
  * deterministic (md5-ordered sample pool,
  * [[graft.operators.Similarity.buildIvfpqIndex]]), so serve-from-load
  * is HASH-IDENTICAL to serve-from-build — the property
  * AnnIndexStoreSpec locks and the c81 oracle row rests on.
  *
  * At 100 TB: the index tables are KBs (nLists·dim + m·kCodes·dim/m
  * floats) — publish and load are metadata-cost; the corpus-scale
  * encode/scan cost lives entirely in serving, unchanged from c28.
  */
object AnnIndexStore {

  val CellsTable = "ann_cells"
  val CodebooksTable = "ann_pq"
  val CodesTable = "ann_codes"

  /** The coarse-cell table: (cell, centroid). */
  def cellsFrame(spark: SparkSession, cells: L2Cells): DataFrame = {
    import spark.implicits._
    cells.cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
  }

  /** The PQ codebook table: (sub, code, centroid). */
  def codebooksFrame(spark: SparkSession, pq: PqIndex): DataFrame = {
    import spark.implicits._
    (for {
      (book, j) <- pq.codebooks.zipWithIndex.toSeq
      (c, w) <- book.zipWithIndex
    } yield (j, w, c.toSeq)).toDF("sub", "code", "centroid")
  }

  /** Publish both index tables atomically under `root`; returns the
    * publish report (versions advance together or not at all).
    */
  def publish(spark: SparkSession, root: String, cells: L2Cells,
              pq: PqIndex,
              batchId: Option[Long] = None): MultiPublish.MultiReport = {
    val dim = cells.cents.headOption.map(_.length).getOrElse(0)
    val m = pq.codebooks.length
    require(m > 0 && dim > 0 && dim % m == 0,
      s"inconsistent index: dim=$dim, m=$m")
    val dsub = dim / m
    def dimAudit(want: Int): Wap.Audit = (s"centroid_dim($want)", df => {
      val bad = df.where(size(col("centroid")) =!= want).count()
      if (bad > 0) Some(s"$bad centroids not $want-dimensional") else None
    })
    // Subspace coverage: every sub 0..m-1 present, all with the SAME
    // code count, AND each sub's code ids form the dense range
    // 0..k-1 (min==0, max==countDistinct-1) — so an INTRA-subspace hole
    // (codes 0,1,3 in one sub vs 0,1,2 in another: equal counts) fails
    // at publish, not at loadAt's per-book holes check (r11 advice).
    val subAudit: Wap.Audit = (s"subspace_coverage($m)", df => {
      val rows = df.groupBy(col("sub"))
        .agg(countDistinct(col("code")).as("k"),
          min(col("code")).as("lo"), max(col("code")).as("hi")).collect()
      val subs = rows.map(_.getInt(0)).sorted.toSeq
      val ks = rows.map(_.getLong(1)).distinct.toSeq
      val holed = rows.filter(r =>
        r.getInt(2) != 0 || r.getInt(3).toLong != r.getLong(1) - 1)
      if (subs != (0 until m))
        Some(s"subspaces present=${subs.mkString(",")}, want 0..${m - 1}")
      else if (ks.length != 1)
        Some(s"non-uniform code counts across subspaces: ${ks.mkString(",")}")
      else if (holed.nonEmpty)
        Some(holed.map(r => s"sub ${r.getInt(0)} codes not dense 0..k-1: " +
          s"min=${r.getInt(2)}, max=${r.getInt(3)}, k=${r.getLong(1)}")
          .mkString("; "))
      else None
    })
    MultiPublish.publishAll(spark, Map(
      CellsTable -> ((cellsFrame(spark, cells),
        Seq(Wap.minRows(1), dimAudit(dim)))),
      CodebooksTable -> ((codebooksFrame(spark, pq),
        Seq(Wap.minRows(1), dimAudit(dsub), subAudit)))),
      root, batchId)
  }

  /** The STORED CODES ([[graft.operators.Similarity.encodeCodes]]
    * output), one ingest epoch at a time under the D8 epoch-partition
    * rule — the C82/C85 incremental-maintenance step: the float corpus
    * is encoded ONCE per epoch against a frozen index version; serving
    * reads the m-byte code table, never the raw vectors.
    *
    * Codes are KEYED BY INDEX VERSION (`iv<version>/` under the codes
    * table): a code is only meaningful against the codebooks that
    * produced it, so a re-built index (a new [[publish]]) must NOT
    * silently invalidate the stored codes — the new version re-encodes
    * as ordinary epochs into its own key space while the old version
    * keeps serving from its own (the C85 blue/green rollover). Serving
    * always pins (version, codes-at-version) together via [[loadAt]] +
    * `Codes.read`. An append lands the frame as given, so attribute
    * columns written by `encodeCodes(..., attrCols)` ride along (C90);
    * the vacuum decides against the atomic index pointer.
    */
  object Codes extends EpochStore(CellsTable, Nil, CodesTable, "iv",
      Seq("neighbor_id", "cell", "codes"), None) {
    protected def wellformed(spec: Row): Option[String] = None
    override protected def stored(codes: DataFrame, root: String,
                                  version: Int): DataFrame = codes
    override protected def versionName: String = "indexVersion"
    override def committedSpecVersion(spark: SparkSession,
                                      root: String): Int =
      committedVersion(spark, root)
  }

  /** `Codes.read` keeping stored attribute columns (C90 — codes written
    * by `encodeCodes(..., attrCols)`): a serving-time metadata predicate
    * on these columns is a parquet PUSHDOWN on the m-byte code table —
    * filtered vector search with no attribute join and no float read.
    * Filter-then-rank, so the top-k is taken among the k qualifying
    * neighbors, never under-filled by post-filtering a fixed pool.
    */
  def readCodesWith(spark: SparkSession, root: String, indexVersion: Int,
                    attrCols: Seq[String]): DataFrame =
    spark.read.parquet(Codes.dir(root, indexVersion))
      .select(col("neighbor_id") +: col("cell") +: col("codes") +:
        attrCols.map(col): _*)

  /** `Codes.read` with A36 merge-on-read deletion vectors honored
    * (C91): tombstones marked against the version's code directory
    * (`DeletionVectors.markDeleted` on `iv<V>/`, key `neighbor_id`)
    * are anti-joined out at read time — a targeted delete (A33/GDPR)
    * propagates to ANN serving WITHOUT re-encoding or republishing the
    * index, and the sidecar anti-join is file-count-sized + broadcast.
    * `applyDeletes` on the same directory compacts the marks away when
    * the merge-on-read tax stops being worth it.
    */
  def readCodesWithDeletes(spark: SparkSession, root: String,
                           indexVersion: Int): DataFrame =
    DeletionVectors.readWithDeletes(spark, Codes.dir(root, indexVersion),
        "neighbor_id")
      .select("neighbor_id", "cell", "codes")

  /** The COMMITTED index version — the default pin for a fresh serving
    * session. Both index tables advance together through the A37
    * atomic commit, so a split pointer is structural corruption and
    * fails loudly.
    */
  def committedVersion(spark: SparkSession, root: String): Int = {
    val vs = MultiPublish.commitVersions(spark, root)
    val vc = vs.getOrElse(CellsTable, throw new IllegalStateException(
      s"no committed $CellsTable under $root"))
    val vb = vs.getOrElse(CodebooksTable, throw new IllegalStateException(
      s"no committed $CodebooksTable under $root"))
    require(vc == vb, s"torn index pointer: cells v$vc vs codebooks v$vb")
    vc
  }

  /** Load the COMMITTED index version and reconstruct the serving
    * objects — what a fresh session does instead of rebuilding. Loud on
    * structural holes (a missing cell id or subspace would silently
    * shift every code).
    */
  def load(spark: SparkSession, root: String): (L2Cells, PqIndex) =
    loadAt(spark, root, committedVersion(spark, root))

  /** Load an EXPLICIT index version (time-travel pin) — what blue/green
    * serving does during a rollover: the old version keeps serving its
    * own (cells, codebooks, codes) triple while the new version's codes
    * backfill. Same structural audits as [[load]].
    */
  def loadAt(spark: SparkSession, root: String,
             version: Int): (L2Cells, PqIndex) = {
    val cellRows = MultiPublish.readVersion(spark, root, CellsTable,
        version)
      .select("cell", "centroid").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    require(cellRows.nonEmpty &&
      cellRows.map(_._1).toSeq == cellRows.indices.toSeq,
      s"cells table holes: ${cellRows.map(_._1).mkString(",")}")
    val cbRows = MultiPublish.readVersion(spark, root, CodebooksTable,
        version)
      .select("sub", "code", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    require(cbRows.nonEmpty, "empty codebooks table")
    val m = cbRows.map(_._1).max + 1
    val codebooks = Array.tabulate(m) { j =>
      val book = cbRows.filter(_._1 == j).sortBy(_._2)
      // nonEmpty FIRST: an entirely-missing subspace would otherwise
      // pass the holes check vacuously and mis-serve at query time.
      require(book.nonEmpty, s"codebook $j missing entirely (m=$m)")
      require(book.map(_._2).toSeq == book.indices.toSeq,
        s"codebook $j holes: ${book.map(_._2).mkString(",")}")
      book.map(_._3)
    }
    require(codebooks.map(_.length).distinct.length == 1,
      s"non-uniform kCodes across subspaces: " +
        codebooks.map(_.length).mkString(","))
    (new L2Cells(cellRows.map(_._2)), new PqIndex(codebooks))
  }
}
