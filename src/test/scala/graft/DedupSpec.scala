package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Near-duplicate detection on PLANTED near-dups (the oracle-checked
  * queries only lock recall on identical copies; these lock the
  * non-identical behavior).
  */
class DedupSpec extends AnyFunSuite with SparkSpec {

  private lazy val s = spark
  import s.implicits._

  // 60-token base doc; near = last 5 tokens replaced (shingle Jaccard ≈ .84)
  private val base = (1 to 60).map(i => s"word$i").mkString(" ")
  private val nearTail =
    ((1 to 55).map(i => s"word$i") ++ (1 to 5).map(i => s"other$i")).mkString(" ")
  private val unrelated = (1 to 60).map(i => s"zzz$i").mkString(" ")

  private def docs = Seq(
    (1L, base), (2L, nearTail), (3L, unrelated),
    (4L, "Base   COPY with weird spacing"), (5L, "base copy with weird spacing")
  ).toDF("doc_id", "text")

  test("exactDedup groups whitespace/case variants under one fingerprint") {
    val out = Dedup.exactDedup(docs, "text", "doc_id").collect()
    assert(out.length === 4) // 4 distinct normalized texts
    val dupGroup = out.filter(_.getAs[Long]("dup_count") == 2L)
    assert(dupGroup.length === 1)
    assert(dupGroup.head.getAs[Long]("keep_id") === 4L)
  }

  test("minhashDedupPairs finds the planted near-dup and nothing else") {
    val pairs = Dedup.minhashDedupPairs(docs, "text", "doc_id", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L), (4L, 5L)))
    val near = pairs.find(p => p._1 == 1L && p._2 == 2L).get
    assert(near._3 > 0.7 && near._3 < 1.0) // genuinely near, not identical
    val exact = pairs.find(p => p._1 == 4L && p._2 == 5L).get
    assert(exact._3 === 1.0)
  }

  test("minhashCrossPairs emits ONLY cross pairs: re-crawled and " +
    "near-dup increment docs match their reference originals, novel and " +
    "within-side dups never pair") {
    val ref = Seq((1L, base), (2L, unrelated),
      (3L, (1 to 60).map(i => s"ref3tok$i").mkString(" "))).toDF("doc_id", "text")
    val inc = Seq(
      (10L, base),                     // exact re-crawl of ref 1
      (11L, nearTail),                 // near-dup of ref 1 (J ≈ .84)
      (12L, (1 to 60).map(i => s"novel$i").mkString(" ")), // novel
      (13L, base)                      // increment-internal dup of 10
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashCrossPairs(ref, inc, "text", "doc_id",
        threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // cross pairs only: (1,10) exact, (1,11) near, (1,13) exact — the
    // increment-internal (10,13) dup and the novel doc never appear
    assert(pairs.map(p => (p._1, p._2)).toSet ===
      Set((1L, 10L), (1L, 11L), (1L, 13L)))
    assert(pairs.filter(p => p._2 == 10L || p._2 == 13L)
      .forall(_._3 === 1.0))
    val near = pairs.find(_._2 == 11L).get
    assert(near._3 > 0.7 && near._3 < 1.0)
    // overlapping id spaces are legal: sides are keyed independently
    val incSameIds = inc.withColumn("doc_id",
      when(col("doc_id") === 10L, 1L).otherwise(col("doc_id")))
    val p2 = Dedup.minhashCrossPairs(ref, incSameIds, "text", "doc_id",
        threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2.contains((1L, 1L)),
      "an increment doc sharing the reference's id must still pair")
  }

  test("simhashDedupPairs finds small-perturbation dups within hamming bound") {
    val oneWordOff = ((1 to 59).map(i => s"word$i") :+ "changed").mkString(" ")
    val df = Seq((1L, base), (2L, oneWordOff), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashDedupPairs(df, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
  }

  test("hot-bucket cap: exact dups always survive; candidate volume stays " +
       "bounded inside a template cluster") {
    // 200 docs sharing one 40-token template (each with a distinct 8-token
    // tail) make every template band-bucket hot; plant an EXACT copy pair
    // (ids 900/901) inside the cluster. With a tiny cap (8) the cluster's
    // buckets all escalate to full-signature keys.
    val tmpl = (1 to 40).map(i => s"tmpl$i").mkString(" ")
    val cluster = (0 until 200).map { i =>
      (i.toLong, tmpl + " " + (1 to 8).map(j => s"tail${i}_$j").mkString(" "))
    }
    val planted = Seq((900L, tmpl + " planted unique tail here"),
                      (901L, tmpl + " planted unique tail here"))
    val df = (cluster ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.minhashDedupPairs(df, "text", "doc_id",
        threshold = 0.7, hotBucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the identical-signature pair is found regardless of bucket heat...
    val exact = pairs.find(p => p._1 == 900L && p._2 == 901L)
    assert(exact.isDefined && exact.get._3 === 1.0)
    // ...and the quadratic template pairs (199·200/2 ≈ 20k candidates at
    // J≈0.8 without the cap) are the documented recall loss: output stays
    // bounded instead of cluster-size²
    assert(pairs.length < 50, s"expected bounded output, got ${pairs.length}")

    // simhash twin: identical simhash pair survives a cap of 4
    val sPairs = Dedup.simhashDedupPairs(df, "text", "doc_id",
        maxHamming = 3, hotBucketCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sPairs.contains((900L, 901L)))
    // ...and the auto cap (same rule, this banding's own distribution)
    val sAuto = Dedup.simhashDedupPairs(df, "text", "doc_id",
        maxHamming = 3, hotBucketCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sAuto.contains((900L, 901L)))
  }

  test("auto hot-bucket cap: derived from the corpus's own bucket sizes — " +
       "escalates template clusters, no-op on benign corpora") {
    // template cluster: mean bucket size stays ~1 (tails differ), so the
    // auto cap lands low enough to escalate the cluster's hot buckets
    val tmpl = (1 to 40).map(i => s"tmpl$i").mkString(" ")
    val cluster = (0 until 200).map { i =>
      (i.toLong, tmpl + " " + (1 to 8).map(j => s"tail${i}_$j").mkString(" "))
    }
    val planted = Seq((900L, tmpl + " planted unique tail here"),
                      (901L, tmpl + " planted unique tail here"))
    val df = (cluster ++ planted).toDF("doc_id", "text")
    val auto = Dedup.minhashDedupPairs(df, "text", "doc_id",
        threshold = 0.7, hotBucketCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = auto.find(p => p._1 == 900L && p._2 == 901L)
    assert(exact.isDefined && exact.get._3 === 1.0)
    // the auto cap bounds COST, not recall: mid-size cold buckets keep
    // their true ≥0.7 pairs (a tight manual cap of 8 sacrifices them —
    // the first spec above), while the all-template hot buckets that
    // would make every one of the ~20k cluster pairs a candidate are
    // escalated. Bounded well below the uncapped quadratic, but far
    // richer than the tight-cap run.
    assert(auto.length < 10000,
      s"auto cap must stay below the ~20k uncapped blowup, got ${auto.length}")
    assert(auto.length > 100,
      s"auto cap must keep mid-bucket true pairs, got ${auto.length}")
    // benign corpus: auto cap resolves above every bucket size → results
    // identical to the explicit-default run
    val explicitRun = Dedup.minhashDedupPairs(docs, "text", "doc_id",
        threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val autoRun = Dedup.minhashDedupPairs(docs, "text", "doc_id",
        threshold = 0.7, hotBucketCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoRun === explicitRun)
    // the rule itself: clamped to [16, 4096]
    assert(Dedup.autoHotBucketCap(0.1) === 16)
    assert(Dedup.autoHotBucketCap(1.0) === 32)
    assert(Dedup.autoHotBucketCap(1000.0) === 4096)
  }

  test("hot-bucket cap OFF-path: cold buckets behave exactly as before") {
    // same corpus as the main minhash spec, cap left at default (64) —
    // no bucket is hot, so results must be identical to the uncapped rows
    val pairs = Dedup.minhashDedupPairs(docs, "text", "doc_id", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (4L, 5L)))
  }

  test("the bucket pair generator's candidates equal a plain-Scala " +
    "(band, bucket, refine) join: hot template buckets, cold near-dups, " +
    "exact copies inside a hot bucket, null texts") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val cap = 8
    val tmpl = (1 to 40).map(i => s"tmpl$i").mkString(" ")
    val cluster = (0 until 200).map { i =>
      (i.toLong, tmpl + " " + (1 to 8).map(j => s"tail${i}_$j").mkString(" "))
    }
    // a 12-doc family of near-copies (200 shared tokens, 2-token tails):
    // nearly every band bucket holds most of it, just above the cap
    val family = (0 until 12).map { i =>
      (500L + i, (1 to 200).map(j => s"fam$j").mkString(" ") +
        s" ftail${i}_1 ftail${i}_2")
    }
    val copies = (900L to 902L).map(_ -> (tmpl + " planted unique tail here"))
    val cold = Seq((1000L, base), (1001L, nearTail), (1002L, unrelated))
    val df = (cluster ++ family ++ copies ++ cold)
      .map { case (i, t) => (i, Option(t)) }
      .++(Seq(1100L -> None, 1101L -> None)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSigRows(df, "text", "doc_id")
    val got = Dedup.minhashCandidates(sigs, 64, 16, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // the model: Spark's xxhash64 chains its inputs from seed 42 and
    // skips nulls; band j hashes (j, sig[4j .. 4j+3])
    val rows = sigs.collect().toSeq.flatMap { r =>
      val id = r.getLong(0)
      val sig = Option(r.getSeq[Long](1)).getOrElse(Seq.empty)
      val sigh = sig.foldLeft(42L)((h, v) => XXH64.hashLong(v, h))
      (0 until 16).map { j =>
        val bucket = sig.slice(4 * j, 4 * j + 4)
          .foldLeft(XXH64.hashInt(j, 42L))((h, v) => XXH64.hashLong(v, h))
        (id, sigh, j, bucket)
      }
    }
    val size = rows.groupBy(r => (r._3, r._4)).map { case (k, v) => k -> v.size }
    val want = rows
      .groupBy(r => (r._3, r._4, if (size((r._3, r._4)) > cap) r._2 else 0L))
      .values.flatMap { m =>
        for (a <- m; b <- m if a._1 < b._1) yield (a._1, b._1)
      }.toSet
    // every branch of the rule is exercised
    assert(size.values.exists(n => n > cap && n < 2 * cap) &&
      size.values.exists(n => n > 1 && n <= cap))
    assert(Set((900L, 901L), (900L, 902L), (901L, 902L), (1000L, 1001L),
      (1100L, 1101L)).subsetOf(want))
    assert(got === want, s"missing ${want -- got}, extra ${got -- want}")
  }

  test("lshCandidates: a null bucket (a null simhash) pairs nothing, " +
    "below and above the cap") {
    val nulls = (1L to 12L).map(i => (i, Option.empty[Long], 0, Option.empty[Long]))
    val live = Seq((20L, Some(7L), 0, Some(5L)), (21L, Some(7L), 0, Some(5L)))
    val banded = (nulls ++ live).toDF("id", "sigh", "band", "bucket")
    Seq(4, 64).foreach { cap =>
      val got = Dedup.lshCandidates(banded, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((20L, 21L)), s"cap $cap")
    }
  }

  test("ngramJaccardPairs verifies candidates sharing a prefix block") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L), (4L, 5L)))
    assert(pairs.forall(_._3 >= 0.5))
  }

  test("jaccard: exact set similarity on sorted hash arrays") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L, 6L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(1L, 2L), Seq(1L, 2L))).toDF("a", "b")
    val js = df.select(Dedup.jaccard(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(js(0) - 2.0 / 6.0) < 1e-12)
    assert(js(1) === 0.0)
    assert(js(2) === 1.0)
  }

  test("dupClusters resolves chains, stars and singleton pairs") {
    // components: chain 1-2-3-4 (diameter 3), star 10-{11,12,13}, pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(1), r.getLong(0))).toMap // id -> cluster_id
    assert(Seq(1L, 2L, 3L, 4L).forall(clusters(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(clusters(_) == 10L))
    assert(Seq(20L, 21L).forall(clusters(_) == 20L))
    assert(clusters.size === 10)
  }

  test("dupClusters pointer-jumping: a diameter-63 chain converges in " +
    "O(log d) rounds (r18 — plain propagation would need ~63 and throw " +
    "here), fixpoint unchanged") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // maxIter 16 << 63: only the path-halving round shape can converge
    val clusters = Dedup.dupClusters(chain, maxIter = 16).collect()
      .map(r => (r.getLong(1), r.getLong(0))).toMap
    assert(clusters.size === 64)
    assert((0L to 63L).forall(clusters(_) == 0L),
      "every chain member must resolve to the component min id")
  }

  test("dupClusters under a RELIABLE checkpoint dir leaves no checkpoint " +
    "files behind once freeState releases the result (r14 advice: Spark " +
    "only deletes ReliableCheckpointRDD trees under " +
    "cleanCheckpoints+GC — a 96-round loop would strand ~96 corpus-" +
    "scale trees per query)") {
    val sc = s.sparkContext
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck")
    sc.setCheckpointDir(ckDir.toString)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val labels = Dedup.dupClusters(pairs)
      assert(labels.count() === 5)
      Dedup.freeState(labels)
      // the loop frees each superseded round; freeState(labels) released
      // the final one — no checkpoint FILES may remain anywhere under
      // the dir (empty per-app UUID dirs are fine)
      val left = java.nio.file.Files.walk(ckDir)
        .filter(java.nio.file.Files.isRegularFile(_))
        .count()
      assert(left === 0L,
        s"$left reliable-checkpoint files stranded under $ckDir")
    } finally sc.setCheckpointDir(null)
  }

  test("duplicatedSpans flags shared windows, skips short docs, counts repeats") {
    // a/b share the SAME 20-token prefix → windows 0..4 of each (w=16)
    // are corpus-duplicated; their tails differ. c is unrelated; d is
    // shorter than w (no spans); e repeats ITS OWN window (intra-doc
    // repetition is duplication too — positions differ).
    val prefix = (1 to 20).map(i => s"p$i").mkString(" ")
    val spanDocs = Seq(
      (1L, prefix + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, prefix + " " + (1 to 10).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"c$i").mkString(" ")),
      (4L, "too short for any span"),
      (5L, ((1 to 16) ++ (1 to 16)).map(i => s"e$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(spanDocs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1/2: 15 windows each (30 tokens, w=16); the 5 prefix-anchored
    // windows (positions 0..4) are identical across the pair
    assert(out(1L) === ((15L, 5L)) && out(2L) === ((15L, 5L)))
    assert(out(3L) === ((15L, 0L)))
    assert(!out.contains(4L)) // < w tokens → no spans
    // doc 5: 32 tokens → 17 windows; window 0 (e1..e16) recurs at
    // position 16 — exactly those two positions are duplicated
    assert(out(5L) === ((17L, 2L)))
  }

  test("multiScaleSpans finds a planted 3w-length duplicate at every " +
    "level <= its length, and the largest firing level brackets it") {
    // two docs share a 24-token block (3w for w=8) embedded in otherwise
    // unrelated 40-token texts; levels 8 and 16 must fire on both docs
    // (every 8- and 16-token window of the block repeats), level 32 must
    // NOT (24 < 32 — no 32-token window fits inside the duplication):
    // the largest firing level (16) brackets the true length in [16, 32).
    val block = (1 to 24).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 8).map(i => s"a$i").mkString(" ") + " " + block +
        " " + (1 to 8).map(i => s"a${i + 8}").mkString(" ")),
      (2L, (1 to 8).map(i => s"b$i").mkString(" ") + " " + block +
        " " + (1 to 8).map(i => s"b${i + 8}").mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.multiScaleSpans(docs, "text", "doc_id", Seq(8, 16, 32))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    // w=8: the 24-token block contains 17 start positions of 8-windows
    assert(out((1L, 8)) === 17L && out((2L, 8)) === 17L)
    // w=16: 9 start positions of 16-windows fit inside 24 tokens
    assert(out((1L, 16)) === 9L && out((2L, 16)) === 9L)
    // w=32: nothing — the duplication is shorter than the window
    assert(out((1L, 32)) === 0L && out((2L, 32)) === 0L)
    // unrelated doc fires at no level
    assert(Seq(8, 16, 32).forall(w => out((3L, w)) === 0L))
    // per-level span totals stay token-linear: n - w + 1 windows per doc
    val spans = Dedup.multiScaleSpans(docs, "text", "doc_id", Seq(8, 16, 32))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(spans((3L, 8)) === 33L && spans((3L, 16)) === 25L &&
      spans((3L, 32)) === 9L)
    // width ladder must be strictly increasing — loud, not silent
    assertThrows[IllegalArgumentException] {
      Dedup.multiScaleSpans(docs, "text", "doc_id", Seq(16, 8))
    }
  }

  test("spanExtents merges firing windows into exact (start, end) " +
    "intervals, splits on gaps, and reports per level") {
    // doc 1 and 2 share TWO separated 12-token blocks inside 50-token
    // docs: tokens 10..21 and 34..45 (0-based). At w=8, every 8-window
    // inside each block fires; the two blocks are separated by 12
    // unique tokens, so they must come out as TWO extents, each exactly
    // the block's token range. At w=16 nothing fires (12 < 16).
    val blockA = (1 to 12).map(i => s"dupA$i").mkString(" ")
    val blockB = (1 to 12).map(i => s"dupB$i").mkString(" ")
    def doc(tag: String) =
      (1 to 10).map(i => s"$tag$i").mkString(" ") + " " + blockA + " " +
        (11 to 22).map(i => s"$tag$i").mkString(" ") + " " + blockB + " " +
        (23 to 26).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, doc("a")), (2L, doc("b")),
      (3L, (1 to 50).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.spanExtents(docs, "text", "doc_id", Seq(8, 16))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // per doc 1 and 2: extents [10,21] and [34,45] at w=8, nothing else
    for (id <- Seq(1L, 2L)) {
      val exts = out.filter(e => e._1 == id && e._2 == 8)
        .map(e => (e._3, e._4, e._5)).sortBy(_._1)
      assert(exts.toSeq === Seq((10L, 21L, 12L), (34L, 45L, 12L)),
        s"doc $id extents: ${exts.toSeq}")
    }
    assert(!out.exists(_._2 == 16), "w=16 must not fire on 12-token blocks")
    assert(!out.exists(_._1 == 3L), "unique doc must produce no extents")
    // adjacency merge: two abutting duplicated blocks form ONE extent
    val adj = Seq(
      (1L, blockA + " " + blockB),
      (2L, blockA + " " + blockB + " tail1 tail2")
    ).toDF("doc_id", "text")
    val merged = Dedup.spanExtents(adj, "text", "doc_id", Seq(8))
      .where(col("id") === 1L).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(merged.toSeq === Seq((0L, 23L)),
      s"abutting blocks must merge into one extent, got ${merged.toSeq}")
  }

  test("stripDuplicatedExtents removes EVERY occurrence where " +
    "removeDuplicatedSpans keeps one canonical") {
    val block = (1 to 16).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, block + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, block + " " + (1 to 10).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val strip = Dedup.stripDuplicatedExtents(docs, "text", "doc_id", 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // strip: BOTH copies of the 16-token block go — docs 1/2 keep only
    // their unique 10-token tails
    assert(strip(1L) === ((26L, 10L)) && strip(2L) === ((26L, 10L)))
    assert(strip(3L) === ((20L, 20L)), "unique doc untouched")
    // dedup (c29) on the same fixture keeps the canonical copy in doc 1
    val dedup = Dedup.removeDuplicatedSpans(docs, "text", "doc_id", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dedup(1L) === 26L, "c29 keeps the canonical occurrence")
    assert(dedup(2L) === 10L)
    // a doc that is ENTIRELY duplicated strips to empty
    val full = Seq((1L, block), (2L, block)).toDF("doc_id", "text")
    val fs = Dedup.stripDuplicatedExtents(full, "text", "doc_id", 16)
      .collect().map(r => (r.getLong(2), r.getString(3)))
    assert(fs.forall(_._1 == 0L) &&
      fs.forall(_._2 == java.security.MessageDigest.getInstance("MD5")
        .digest("".getBytes).map("%02x".format(_)).mkString))
  }

  test("c84 canonicalStripExtents: exactly ONE canonical member per " +
    "identical-content extent cluster survives; kept mass sits between " +
    "c76c strip and full text") {
    val block = (1 to 16).map(i => s"dup$i").mkString(" ")
    val other = (1 to 16).map(i => s"tpl$i").mkString(" ")
    val docs = Seq(
      // cluster A: the same 16-token block in docs 1, 2, 5
      (1L, block + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, block + " " + (1 to 10).map(i => s"b$i").mkString(" ")),
      (5L, block + " " + (1 to 10).map(i => s"e$i").mkString(" ")),
      // cluster B: a different block, docs 3 and 4
      (3L, other + " " + (1 to 10).map(i => s"c$i").mkString(" ")),
      (4L, other + " " + (1 to 10).map(i => s"d$i").mkString(" ")),
      // unique doc: untouched
      (6L, (1 to 20).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.canonicalStripExtents(docs, "text", "doc_id", 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // one canonical per cluster: min (doc, start) — doc 1 for A, doc 3
    // for B — keeps the extent; every other member strips it whole
    assert(out(1L) === ((26L, 26L)), "cluster A canonical keeps all")
    assert(out(2L) === ((26L, 10L)) && out(5L) === ((26L, 10L)),
      "non-canonical cluster-A members strip the extent")
    assert(out(3L) === ((26L, 26L)), "cluster B canonical keeps all")
    assert(out(4L) === ((26L, 10L)))
    assert(out(6L) === ((20L, 20L)), "unique doc untouched")
    // kept-mass accounting: across each cluster the extent survives
    // EXACTLY once (strip would keep it 0 times, raw corpus 3/2 times)
    val strip = Dedup.stripDuplicatedExtents(docs, "text", "doc_id", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(strip(1L) === 10L, "c76c strips even the canonical")
    val keptA = Seq(1L, 2L, 5L).map(i => out(i)._2).sum
    assert(keptA === 16L + 3 * 10L, "cluster A content kept exactly once")
    // a WITHIN-document repeat is one cluster of two extents: the first
    // occurrence survives, the second strips
    val twice = Seq((7L, block + " mid1 mid2 mid3 mid4 " + block))
      .toDF("doc_id", "text")
      .unionByName(Seq((8L, block + " " +
        (1 to 10).map(i => s"h$i").mkString(" "))).toDF("doc_id", "text"))
    val rep = Dedup.canonicalStripExtents(twice, "text", "doc_id", 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep(7L) === ((36L, 20L)),
      "doc 7 keeps first occurrence + middle, strips the second")
    assert(rep(8L) === ((26L, 10L)))
  }

  test("c87 quality-aware extent canonical: the best HOST wins the " +
    "cluster, ties fall back to least (doc, start)") {
    import graft.functions.TextFunctions
    val block = (1 to 16).map(i => s"dup$i").mkString(" ")
    val junk = " 00 11 22 !!! ???"
    val docs = Seq(
      // cluster: identical block in docs 1 (degraded host) and 2 (clean)
      (1L, block + junk),
      (2L, block + " " + (1 to 10).map(i => s"b$i").mkString(" ")),
      // tie cluster: docs 3 and 4 share a block, hosts equally clean →
      // least (doc, start) must break the tie
      (3L, (1 to 16).map(i => s"tie$i").mkString(" ")),
      (4L, (1 to 16).map(i => s"tie$i").mkString(" "))
    ).toDF("doc_id", "text")
    val q = Some(TextFunctions.qualityScore(col("text")))
    val out = Dedup.canonicalStripExtents(docs, "text", "doc_id", 16, q)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // quality flips the min-enc choice: the CLEAN doc 2 keeps the block
    assert(out(2L) === ((26L, 26L)), "clean host must win the cluster")
    assert(out(1L) === ((21L, 5L)),
      "degraded host strips the block, keeps its junk tail")
    // equal quality → least (doc, start): doc 3 wins
    assert(out(3L) === ((16L, 16L)) && out(4L) === ((16L, 0L)))
    // and the default rule on the same fixture keeps doc 1 (min enc)
    val dflt = Dedup.canonicalStripExtents(docs, "text", "doc_id", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dflt(1L) === 21L && dflt(2L) === 10L,
      "without quality, min-enc keeps the degraded original")
  }

  test("removeDuplicatedSpans keeps canonical occurrences, empties full copies") {
    val prefix = (1 to 20).map(i => s"p$i").mkString(" ")
    val x30 = (1 to 30).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, prefix + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, prefix + " " + (1 to 10).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"c$i").mkString(" ")),
      (10L, x30),
      (11L, x30) // full copy — every window duplicates doc 10's
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1 holds the canonical copy of every shared window → untouched;
    // doc 2 loses exactly the 20 shared-prefix tokens (windows 0..4 cover
    // positions 0..19), keeping its 10-token tail
    assert(out(1L) === ((30L, 30L)))
    assert(out(2L) === ((30L, 10L)))
    assert(out(3L) === ((30L, 30L)))
    assert(out(10L) === ((30L, 30L)))
    assert(out(11L) === ((30L, 0L)))
    // rewritten doc 2 == its tail, fingerprint-checked
    val md5s = Dedup.removeDuplicatedSpans(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val tailB = (1 to 10).map(i => s"b$i").mkString(" ")
    val expected = docs.sparkSession.sql(
      s"SELECT md5('$tailB')").head.getString(0)
    assert(md5s(2L) === expected)
  }

  test("SpanMd5sExpr is bit-identical to the declarative slice/concat/md5 form") {
    // the declarative form IS the oracle's definition — this parity is
    // what keeps the c27 DuckDB replica valid for the fast expression
    val w = 4
    val fixture = Seq(
      (1L, "a b c d e f g h"),
      (2L, "exactly four tokens here"),
      (3L, "one two three four five")
    ).toDF("doc_id", "text")
    val toks = split(trim(col("text")), "\\s+")
    val fast = fixture.select(col("doc_id"),
      graft.functions.GraftExpressions.spanMd5s(toks, w).as("hs"))
    val slow = fixture.select(col("doc_id"),
      transform(sequence(lit(0), size(toks) - w), i =>
        md5(concat_ws(" ", slice(toks, i + 1, lit(w))))).as("hs"))
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("keepBestPerCluster: best quality wins, ties to min id, " +
       "singletons survive, chains collapse to one") {
    val d = Seq(
      (1L, 0.5), (2L, 0.9),            // pair: 2 wins on quality
      (3L, 0.7), (4L, 0.7),            // pair: tie → min id 3
      (5L, 0.1),                       // singleton: survives
      (6L, 0.2), (7L, 0.8), (8L, 0.3)) // chain 6-7-8: one cluster, 7 wins
      .toDF("id", "q")
    val pairs = Seq((1L, 2L), (3L, 4L), (6L, 7L), (7L, 8L))
      .toDF("id_a", "id_b")
    val kept = graft.operators.Dedup
      .keepBestPerCluster(d, pairs, "id", col("q"))
      .select("id", "quality", "cluster_size")
      .as[(Long, Double, Long)].collect().toSet
    assert(kept === Set((2L, 0.9, 2L), (3L, 0.7, 2L), (5L, 0.1, 1L),
      (7L, 0.8, 3L)))
  }

  test("c83 calibration: estimator tracks exact Jaccard and measured " +
    "candidacy sits on the banded S-curve (threshold where theory puts it)") {
    // 120 mutually-unrelated docs (disjoint per-doc vocab) — every
    // calibration pair's similarity comes from its planted variant only
    val corpus = (1 to 120).map { i =>
      (i.toLong, (1 to 40 + (i % 41)).map(j => s"d${i}w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = Dedup.minhashCalibrationPairs(corpus, "text", "doc_id",
      sampleMod = 1).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(pairs.length === 120 * 9)
    // full-overlap rows are exact copies: J = est = 1, always candidates
    val full = pairs.filter(_._1 == 1000000L)
    assert(full.forall(p => p._2 == 1000000L && p._3 == 1000000L && p._4))
    // zero-overlap rows share no shingles: J = 0, (near-)never candidates
    val none = pairs.filter(_._1 == 0L)
    assert(none.forall(_._2 == 0L))
    assert(none.count(_._4) <= math.max(2, none.length / 50),
      "disjoint pairs must (almost) never be LSH candidates")
    val report = Dedup.minhashCalibrationReport(corpus, "text", "doc_id",
      sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // theory is monotone in the bucket's mean exact Jaccard
    assert(report.sortBy(_._1).map(_._6).sliding(2).forall(w =>
      w.length < 2 || w(0) <= w(1)))
    val solid = report.filter(_._2 >= 30)
    assert(solid.nonEmpty)
    solid.foreach { case (bucket, n, exact, est, cand, theory) =>
      // estimator bias: bucket-mean estimate within 0.08 of exact (k=64)
      assert(math.abs(est - exact) <= 80000L,
        s"bucket $bucket: est $est vs exact $exact (n=$n)")
      // measured candidacy within 0.25 of the S-curve at the bucket mean
      assert(math.abs(cand - math.round(theory * 1000000)) <= 250000L,
        s"bucket $bucket: cand $cand vs theory $theory (n=$n)")
      // the banded threshold sits where theory says (~0.454 for r=4,b=16):
      // well-above buckets are majority-candidates, well-below are not
      if (exact >= 600000L) assert(cand >= 500000L,
        s"bucket $bucket above threshold but cand=$cand")
      if (exact <= 300000L) assert(cand < 500000L,
        s"bucket $bucket below threshold but cand=$cand")
    }
  }

  test("c88 simhash calibration: hamming collapses to 0 on identical " +
    "pairs, sits near 32 bits on disjoint ones, and falls with overlap") {
    val corpus = (1 to 120).map { i =>
      (i.toLong, (1 to 40 + (i % 41)).map(j => s"d${i}w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val rep = Dedup.simhashCalibrationReport(corpus, "text", "doc_id",
      sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byBucket = rep.map(r => r._1 -> r).toMap
    // J = 1 endpoint: identical token stream → identical simhash
    val top = byBucket(19L)
    assert(top._4 === 0L && top._5 === 1000000L,
      s"identical pairs must be hamming-0 candidates: $top")
    // disjoint endpoint: independent vote vectors → ~32 of 64 bits
    val bottom = byBucket(0L)
    assert(bottom._4 >= 2000L, s"disjoint pairs should be ~32 bits: $bottom")
    assert(bottom._5 <= 50000L,
      s"disjoint pairs must (almost) never pass hamming<=3: $bottom")
    // the curve falls with overlap: high-exact buckets are far below
    // low-exact buckets in mean hamming
    val solid = rep.filter(_._2 >= 30)
    val hi = solid.filter(_._3 >= 750000L).map(_._4)
    val lo = solid.filter(_._3 <= 250000L).map(_._4)
    assert(hi.nonEmpty && lo.nonEmpty)
    assert(hi.max < lo.min,
      s"hamming must separate high from low overlap: hi=$hi lo=$lo")
  }

  test("shingle-based signatures are deterministic across evaluations") {
    val sig = graft.functions.GraftExpressions.minhashSignature(
      split(col("text"), " "), 3, 64)
    val a = docs.select(sig.as("s")).collect().map(_.getSeq[Long](0))
    val b = docs.select(sig.as("s")).collect().map(_.getSeq[Long](0))
    assert(a.map(_.toVector).toSeq === b.map(_.toVector).toSeq)
    assert(a.forall(_.length === 64))
  }
}
