package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PqIndex, Similarity}
import graft.sources.{AnnIndexStore, EpochStore, MultiPublish}

/** C81 contracts: a published-then-loaded index serves HASH-IDENTICAL
  * top-k to the in-memory build, versions advance atomically across
  * both tables, and structural corruption is loud at load.
  */
class AnnIndexStoreSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark
  import s.implicits._

  /** Deterministic synthetic embeddings: 64-dim, 40 vectors. */
  private def corpus = {
    (0 until 40).map { i =>
      (i.toLong, (0 until 64).map(j =>
        (((i * 31 + j * 17) % 97) / 97.0f) - 0.5f))
    }.toDF("vec_id", "embedding")
  }

  test("load-vs-build rank identity: serving from the published index " +
    "equals serving from the in-memory build, row for row") {
    val root = Files.createTempDirectory("graft_c81").toString
    val (cells, pq) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    val rep = AnnIndexStore.publish(s, root, cells, pq)
    assert(rep.committed, rep.failures.mkString("; "))
    assert(rep.versions === Map(AnnIndexStore.CellsTable -> 1,
      AnnIndexStore.CodebooksTable -> 1))
    val (lc, lpq) = AnnIndexStore.load(s, root)
    // bit-exact float round-trip through parquet
    assert(lc.cents.map(_.toSeq).toSeq === cells.cents.map(_.toSeq).toSeq)
    assert(lpq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val queries = corpus.where(col("vec_id") < 3)
    for (nProbe <- Seq(1, 2, 4)) { // partial AND exhaustive probes
      val built = Similarity.ivfpqTopKWith(corpus, queries, "vec_id",
        "embedding", cells, pq, k = 5, nProbe = nProbe)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val loaded = Similarity.ivfpqTopKWith(corpus, queries, "vec_id",
        "embedding", lc, lpq, k = 5, nProbe = nProbe)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(loaded === built, s"nProbe=$nProbe: loaded serve diverged")
    }
  }

  test("republish bumps both versions atomically; the previous index " +
    "version stays readable until expiry") {
    val root = Files.createTempDirectory("graft_c81v").toString
    val (cells, pq) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    assert(AnnIndexStore.publish(s, root, cells, pq).committed)
    // rebuild from a shifted corpus → different index, next version
    val shifted = corpus.withColumn("vec_id", col("vec_id") + 100L)
    val (c2, p2) = Similarity.buildIvfpqIndex(
      shifted, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    val rep2 = AnnIndexStore.publish(s, root, c2, p2)
    assert(rep2.committed && rep2.versions ===
      Map(AnnIndexStore.CellsTable -> 2, AnnIndexStore.CodebooksTable -> 2))
    // committed load sees v2; v1 still present for pinned readers
    val (lc, _) = AnnIndexStore.load(s, root)
    assert(lc.cents.map(_.toSeq).toSeq === c2.cents.map(_.toSeq).toSeq)
    assert(MultiPublish.readVersion(s, root,
      AnnIndexStore.CellsTable, 1).count() === 4L)
  }

  test("c85 blue/green rollover: version-keyed codes stay valid across " +
    "an index rebuild; each pin serves exactly its own triple") {
    val root = Files.createTempDirectory("graft_c85").toString
    val queries = corpus.where(col("vec_id") < 3)
    def ingest(cells: graft.operators.L2Cells,
               pq: graft.operators.PqIndex, iv: Int): Unit = {
      val ep0 = Similarity.encodeCodes(corpus.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cells, pq)
      val ep1 = Similarity.encodeCodes(corpus.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", cells, pq)
      AnnIndexStore.Codes.appendEpoch(ep0, root, iv, 0L)
      AnnIndexStore.Codes.appendEpoch(ep1, root, iv, 1L)
      AnnIndexStore.Codes.appendEpoch(ep1, root, iv, 1L) // replay, per key
    }
    val (c1, p1) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    assert(AnnIndexStore.publish(s, root, c1, p1).committed)
    assert(AnnIndexStore.committedVersion(s, root) === 1)
    ingest(c1, p1, 1)
    val blueBefore = Similarity.ivfpqTopKFromCodes(
      AnnIndexStore.Codes.read(s, root, 1), queries, "vec_id", "embedding",
      c1, p1, k = 5, nProbe = 4)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    // ROLLOVER: rebuilt index (different codebooks) publishes as v2
    val (c2, p2) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 12)
    assert(AnnIndexStore.publish(s, root, c2, p2).committed)
    assert(AnnIndexStore.committedVersion(s, root) === 2)
    ingest(c2, p2, 2)
    // the v1 pin is UNCHANGED by the rollover — same rows, same ranks
    val (lc1, lp1) = AnnIndexStore.loadAt(s, root, 1)
    val blueAfter = Similarity.ivfpqTopKFromCodes(
      AnnIndexStore.Codes.read(s, root, 1), queries, "vec_id", "embedding",
      lc1, lp1, k = 5, nProbe = 4)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(blueAfter === blueBefore,
      "v1 serving changed across the v2 rollover")
    // the v2 pin serves the rebuilt index exactly (≡ in-memory build)
    val (lc2, lp2) = AnnIndexStore.loadAt(s, root, 2)
    val green = Similarity.ivfpqTopKFromCodes(
      AnnIndexStore.Codes.read(s, root, 2), queries, "vec_id", "embedding",
      lc2, lp2, k = 5, nProbe = 4)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val direct = Similarity.ivfpqTopKWith(corpus, queries, "vec_id",
      "embedding", c2, p2, k = 5, nProbe = 4)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(green === direct, "v2 serving diverged from the rebuilt index")
    assert(green !== blueAfter,
      "rollover fixture must actually change rankings (kCodes 8 vs 12)")
    // code key spaces are disjoint: each version sees its own rows only
    assert(AnnIndexStore.Codes.read(s, root, 1).count() === 40L)
    assert(AnnIndexStore.Codes.read(s, root, 2).count() === 40L)
    // default load follows the pointer (v2), loadAt pins history
    val (lcDef, _) = AnnIndexStore.load(s, root)
    assert(lcDef.cents.map(_.toSeq).toSeq === c2.cents.map(_.toSeq).toSeq)
  }

  test("c86 vacuum: retired code versions go, the committed pin and " +
    "in-flight backfills are refused, rerun is a no-op") {
    val root = Files.createTempDirectory("graft_c86").toString
    def ingest(cells: graft.operators.L2Cells,
               pq: graft.operators.PqIndex, iv: Int): Unit =
      AnnIndexStore.Codes.appendEpoch(
        Similarity.encodeCodes(corpus, "vec_id", "embedding", cells, pq),
        root, iv, 0L)
    val (c1, p1) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    assert(AnnIndexStore.publish(s, root, c1, p1).committed)
    ingest(c1, p1, 1)
    val (c2, p2) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 12)
    assert(AnnIndexStore.publish(s, root, c2, p2).committed)
    ingest(c2, p2, 2)
    // an in-flight backfill ABOVE the pointer (the next rollover's
    // codes landing before its publish) — the vacuum must not touch it
    ingest(c2, p2, 3)
    // keepVersions = 2: the rollback pin survives, nothing dies yet
    val rep2 = AnnIndexStore.Codes.vacuumRetired(s, root, keepVersions = 2)
    assert(rep2 === EpochStore.VacuumReport(2, Nil, Seq(1, 2, 3)),
      s"keepVersions=2 must keep the rollback pin: $rep2")
    // keepVersions = 1: exactly iv1 goes; committed (2) and in-flight
    // (3) stay
    val served2Before = Similarity.ivfpqTopKFromCodes(
      AnnIndexStore.Codes.read(s, root, 2),
      corpus.where(col("vec_id") < 3), "vec_id", "embedding", c2, p2,
      k = 5, nProbe = 4).orderBy("query_id", "rnk")
      .collect().map(_.toSeq).toSeq
    val rep1 = AnnIndexStore.Codes.vacuumRetired(s, root, keepVersions = 1)
    assert(rep1 === EpochStore.VacuumReport(2, Seq(1), Seq(2, 3)),
      s"keepVersions=1 must retire exactly iv1: $rep1")
    // retired key space is loudly unreadable; live ones are untouched
    assertThrows[Exception] { AnnIndexStore.Codes.read(s, root, 1).count() }
    assert(AnnIndexStore.Codes.read(s, root, 3).count() === corpus.count())
    val served2After = Similarity.ivfpqTopKFromCodes(
      AnnIndexStore.Codes.read(s, root, 2),
      corpus.where(col("vec_id") < 3), "vec_id", "embedding", c2, p2,
      k = 5, nProbe = 4).orderBy("query_id", "rnk")
      .collect().map(_.toSeq).toSeq
    assert(served2After === served2Before,
      "committed-version serving changed across the vacuum")
    // idempotent: the rerun finds nothing below the cutoff
    val rep1b = AnnIndexStore.Codes.vacuumRetired(s, root, keepVersions = 1)
    assert(rep1b === EpochStore.VacuumReport(2, Nil, Seq(2, 3)))
  }

  test("c82: serving from incrementally appended stored codes equals " +
    "encode-at-query serving, and a replayed epoch is a no-op") {
    val root = Files.createTempDirectory("graft_c82").toString
    val (cells, pq) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    val ep0 = Similarity.encodeCodes(
      corpus.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
      cells, pq)
    val ep1 = Similarity.encodeCodes(
      corpus.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      cells, pq)
    AnnIndexStore.Codes.appendEpoch(ep0, root, 1, 0L)
    AnnIndexStore.Codes.appendEpoch(ep1, root, 1, 1L)
    AnnIndexStore.Codes.appendEpoch(ep1, root, 1, 1L) // at-least-once replay
    val stored = AnnIndexStore.Codes.read(s, root, 1)
    assert(stored.count() === corpus.count(),
      "replayed epoch must not duplicate rows")
    val queries = corpus.where(col("vec_id") < 3)
    for (nProbe <- Seq(2, 4)) {
      val direct = Similarity.ivfpqTopKWith(corpus, queries, "vec_id",
        "embedding", cells, pq, k = 5, nProbe = nProbe)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      val fromCodes = Similarity.ivfpqTopKFromCodes(stored, queries,
        "vec_id", "embedding", cells, pq, k = 5, nProbe = nProbe)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
      assert(fromCodes === direct,
        s"nProbe=$nProbe: stored-code serving diverged")
    }
  }

  test("d35: streaming code ingest through the real sink ≡ batch " +
    "encode, including sink-level replay") {
    val root = Files.createTempDirectory("graft_d35").toString
    val (cells, pq) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    // stage 3 epochs as single-file parquet arrivals (the d33 pattern)
    val staged = Files.createTempDirectory("graft_d35_src")
    (0 until 3).foreach { e =>
      val tmp = Files.createTempDirectory(s"graft_d35_ep$e")
      corpus.where(col("vec_id") % 3 === e).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, staged.resolve(f"ep$e%02d.parquet"))
    }
    val src = s.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val q = EpochStore.ingestSink(src,
        Files.createTempDirectory("graft_d35_ck").toString) { (b, id) =>
      AnnIndexStore.Codes.appendEpoch(
        Similarity.encodeCodes(b, "vec_id", "embedding", cells, pq), root,
        1, id)
    }
    q.awaitTermination(120000)
    val stored = AnnIndexStore.Codes.read(s, root, 1)
    assert(stored.count() === corpus.count())
    // sink-level replay: re-land epoch 2's batch directly — no-op
    AnnIndexStore.Codes.appendEpoch(
      Similarity.encodeCodes(corpus.where(col("vec_id") % 3 === 2),
        "vec_id", "embedding", cells, pq), root, 1, 2L)
    assert(AnnIndexStore.Codes.read(s, root, 1).count() === corpus.count(),
      "replayed epoch must not duplicate rows")
    // streamed codes ≡ one-shot batch encode, row for row
    val batch = Similarity.encodeCodes(corpus, "vec_id", "embedding",
      cells, pq).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Byte](2).toSeq)).toSet
    val got = AnnIndexStore.Codes.read(s, root, 1).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Byte](2).toSeq)).toSet
    assert(got === batch, "streamed code table diverged from batch encode")
  }

  test("d37: streaming tombstone ingest through the real sink ≡ batch " +
    "marks, serving honors deletes, replay with a fresh checkpoint " +
    "converges to the same state") {
    import graft.sources.DeletionVectors
    val root = Files.createTempDirectory("graft_d37").toString
    val (cells, pq) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    AnnIndexStore.Codes.appendEpoch(
      Similarity.encodeCodes(corpus, "vec_id", "embedding", cells, pq),
      root, 1, 0L)
    val dir = s"$root/${AnnIndexStore.CodesTable}/iv1"
    // stage two delete batches as single-file parquet arrivals (the
    // d35 pattern)
    val staged = Files.createTempDirectory("graft_d37_src")
    val batches = Seq(Seq(5L, 11L), Seq(17L, 23L, 29L))
    batches.zipWithIndex.foreach { case (ks, e) =>
      val tmp = Files.createTempDirectory(s"graft_d37_ep$e")
      ks.toDF("key").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, staged.resolve(f"ep$e%02d.parquet"))
    }
    def run(): Unit = {
      val src = s.readStream.schema("key LONG")
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val q = graft.streaming.TombstoneStream.markSink(src, "key", dir,
        "neighbor_id", Files.createTempDirectory("graft_d37_ck").toString)
      q.awaitTermination(120000)
    }
    run()
    val deleted = batches.flatten.toSet
    // marks landed exactly; the code table itself is untouched (MoR)
    assert(DeletionVectors.deletes(s, dir).select("key").collect()
      .map(_.getLong(0)).toSet === deleted)
    assert(AnnIndexStore.Codes.read(s, root, 1).count() === corpus.count())
    // serving honors the streamed tombstones
    val served = Similarity.ivfpqTopKFromCodes(
      AnnIndexStore.readCodesWithDeletes(s, root, 1),
      corpus.where(col("vec_id") < 3), "vec_id", "embedding",
      cells, pq, k = 5, nProbe = 4).orderBy("query_id", "rnk").collect()
    assert(!served.map(_.getLong(1)).exists(deleted),
      "tombstoned ids must never be served")
    assert(served.groupBy(_.getLong(0)).forall(_._2.length == 5))
    // at-least-once replay: a FRESH checkpoint re-delivers every batch;
    // per-epoch sidecar overwrite converges to the identical state
    run()
    assert(DeletionVectors.deletes(s, dir).select("key").collect()
      .map(_.getLong(0)).toSet === deleted)
    val again = Similarity.ivfpqTopKFromCodes(
      AnnIndexStore.readCodesWithDeletes(s, root, 1),
      corpus.where(col("vec_id") < 3), "vec_id", "embedding",
      cells, pq, k = 5, nProbe = 4).orderBy("query_id", "rnk").collect()
    assert(again.map(_.toSeq).toSeq === served.map(_.toSeq).toSeq)
  }

  test("structural corruption is loud: a codebook hole fails load") {
    val root = Files.createTempDirectory("graft_c81bad").toString
    val (cells, pq) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    // publish a torn codebook table (code 3 of subspace 0 missing)
    // through the same atomic machinery — load must refuse it
    val holed = AnnIndexStore.codebooksFrame(s, pq)
      .where(!(col("sub") === 0 && col("code") === 3))
    val rep = MultiPublish.publishAll(s, Map(
      AnnIndexStore.CellsTable ->
        ((AnnIndexStore.cellsFrame(s, cells), Nil)),
      AnnIndexStore.CodebooksTable -> ((holed, Nil))), root)
    assert(rep.committed)
    assertThrows[IllegalArgumentException] {
      AnnIndexStore.load(s, root)
    }
    // an ENTIRELY-missing subspace must not pass vacuously (r10 advice:
    // book.indices == Nil == codes when sub 0 is absent but sub 7 is
    // present) — both the load guard and publish's coverage audit refuse
    val root2 = Files.createTempDirectory("graft_c81bad2").toString
    val noSub0 = AnnIndexStore.codebooksFrame(s, pq)
      .where(col("sub") =!= 0)
    val rep2 = MultiPublish.publishAll(s, Map(
      AnnIndexStore.CellsTable ->
        ((AnnIndexStore.cellsFrame(s, cells), Nil)),
      AnnIndexStore.CodebooksTable -> ((noSub0, Nil))), root2)
    assert(rep2.committed)
    assertThrows[IllegalArgumentException] {
      AnnIndexStore.load(s, root2)
    }
    // publish() itself audits subspace coverage: a torn in-memory index
    // (empty subspace 0; uneven code counts) must FAIL the staged audit
    // and leave the pointer unmoved — not surface as a query-time
    // mis-decode
    // an empty subspace can't even be CONSTRUCTED (PqIndex derives
    // kCodes/dsub from codebooks.head — loud at new), so the audit's
    // remaining in-memory reachable case is uneven code counts:
    assertThrows[RuntimeException] {
      new PqIndex(pq.codebooks.zipWithIndex.map { case (b, j) =>
        if (j == 0) Array.empty[Array[Float]] else b
      })
    }
    val root4 = Files.createTempDirectory("graft_c81bad4").toString
    val unevenSub0 = new PqIndex(
      pq.codebooks.zipWithIndex.map { case (b, j) =>
        if (j == 0) b.dropRight(1) else b
      })
    val rep4 = AnnIndexStore.publish(s, root4, cells, unevenSub0)
    assert(!rep4.committed &&
      rep4.failures.exists(_.contains("subspace_coverage")),
      s"uneven code counts must fail the publish audit: ${rep4.failures}")
  }

  test("c90 filtered serving: the attribute rides the code table, the " +
    "predicate parquet-pushes, and filter-then-rank equals brute force " +
    "over the qualifying subset") {
    val root = Files.createTempDirectory("graft_c90").toString
    val corp = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
    val (cells, pq) = Similarity.buildIvfpqIndex(
      corp, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    AnnIndexStore.Codes.appendEpoch(
      Similarity.encodeCodes(corp, "vec_id", "embedding", cells, pq,
        attrCols = Seq("label")), root, 1, 0L)
    val codes = AnnIndexStore.readCodesWith(s, root, 1, Seq("label"))
      .where(col("label").isin(0, 2))
    // the metadata predicate reaches the parquet scan of the code table
    val plan = codes.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("In(label"),
      plan.take(800))
    val queries = corp.where(col("vec_id") < 3)
    val served = Similarity.ivfpqTopKFromCodes(
      codes.select("neighbor_id", "cell", "codes"), queries,
      "vec_id", "embedding", cells, pq, k = 5, nProbe = 4)
    // every neighbor qualifies, and every query still gets its full k
    // (filter-then-rank, never an under-filled post-filter)
    val lbl = corp.select(col("vec_id").as("neighbor_id"), col("label"))
    assert(served.join(lbl, "neighbor_id")
      .where(!col("label").isin(0, 2)).count() === 0L)
    assert(served.groupBy("query_id").count()
      .where(col("count") =!= 5).count() === 0L)
    // exhaustive probes: identical to serving the pre-filtered corpus
    val direct = Similarity.ivfpqTopKWith(
      corp.where(col("label").isin(0, 2)), queries,
      "vec_id", "embedding", cells, pq, k = 5, nProbe = 4)
    assert(served.orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq ===
      direct.orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq)
  }

  test("c91 tombstone serving: marked keys vanish from every top-k " +
    "without re-encode, ranks refill from survivors, and re-marking " +
    "the same batch is idempotent") {
    import graft.sources.DeletionVectors
    val root = Files.createTempDirectory("graft_c91").toString
    val (cells, pq) = Similarity.buildIvfpqIndex(
      corpus, "vec_id", "embedding", nLists = 4, m = 8, kCodes = 8)
    AnnIndexStore.Codes.appendEpoch(
      Similarity.encodeCodes(corpus, "vec_id", "embedding", cells, pq),
      root, 1, 0L)
    val queries = corpus.where(col("vec_id") < 3)
    def serve(codes: org.apache.spark.sql.DataFrame) =
      Similarity.ivfpqTopKFromCodes(codes, queries, "vec_id", "embedding",
        cells, pq, k = 5, nProbe = 4)
    val before = serve(AnnIndexStore.Codes.read(s, root, 1))
      .orderBy("query_id", "rnk").collect()
    // tombstone two ids that ARE currently served as neighbors
    val victims = before.map(_.getLong(1)).distinct.take(2).toSeq
    val dir = s"$root/${AnnIndexStore.CodesTable}/iv1"
    val rep = DeletionVectors.markDeleted(s, dir, "neighbor_id", victims,
      "gdpr_b1")
    assert(rep.rowsMarked === victims.length.toLong)
    val after = serve(AnnIndexStore.readCodesWithDeletes(s, root, 1))
      .orderBy("query_id", "rnk").collect()
    assert(!after.map(_.getLong(1)).toSet.exists(victims.toSet),
      s"tombstoned ids still served: ${victims.mkString(",")}")
    assert(after.groupBy(_.getLong(0)).forall(_._2.length == 5),
      "ranks must refill to k from surviving neighbors")
    // same-batch re-mark (at-least-once delivery) changes nothing
    DeletionVectors.markDeleted(s, dir, "neighbor_id", victims, "gdpr_b1")
    val again = serve(AnnIndexStore.readCodesWithDeletes(s, root, 1))
      .orderBy("query_id", "rnk").collect()
    assert(again.map(_.toSeq).toSeq === after.map(_.toSeq).toSeq)
  }
}
