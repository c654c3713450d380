package graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Locks the physical-plan properties the 100 TB story depends on — a
  * regression here is invisible to value-correctness checks but fatal at
  * scale (a filter that stops pushing, a dim that stops broadcasting).
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private def executed(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir()).queryExecution.executedPlan

  private def plan(name: String): String = executed(name).toString

  private object Aqe extends AdaptiveSparkPlanHelper

  /** The root paths of every file scan in `p`, read from the scan nodes:
    * the rendered `Location:` string is cut at
    * spark.sql.maxMetadataStringLength, so a long checkout path pushes
    * the tail segments a test looks for out of the plan string.
    */
  private def scanRoots(p: SparkPlan): Seq[String] =
    Aqe.collect(p) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString.toLowerCase)
    }.flatten

  private def hasExpr(p: SparkPlan, f: Expression => Boolean): Boolean =
    p.expressions.exists(_.exists(f))

  /** Every node of an executed adaptive plan paired with its stage (the
    * nearest exchange above it, or the root); reused exchanges are not
    * descended, so a reused subtree is counted once.
    */
  private def staged(p: SparkPlan, stage: SparkPlan): Seq[(SparkPlan, SparkPlan)] =
    p match {
      case a: AdaptiveSparkPlanExec => staged(a.executedPlan, stage)
      case q: QueryStageExec => staged(q.plan, stage)
      case _: ReusedExchangeExec => Nil
      case e: Exchange => (e, stage) +: e.children.flatMap(staged(_, e))
      case _ => (p, stage) +: p.children.flatMap(staged(_, stage))
    }

  /** Whether some path from `p` down to a leaf passes no left-semi join. */
  private def reachesLeafWithoutSemi(p: SparkPlan): Boolean = p match {
    case j: BaseJoinExec if j.joinType == LeftSemi => false
    case _ =>
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      kids.isEmpty || kids.exists(reachesLeafWithoutSemi)
  }

  test("q3: filters push to parquet scans; top-k is TakeOrdered") {
    val p = plan("q3_join_topk")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"), p.take(500))
    assert(p.contains("GreaterThan(l_shipdate"), "lineitem date filter must push")
    assert(p.contains("TakeOrderedAndProject"), "limit+sort must not global-sort")
  }

  test("q5: every dimension joins via broadcast, no sort-merge") {
    val p = plan("q5_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(500))
    assert(!p.contains("SortMergeJoin"))
  }

  test("c6: corpus scan reads only id+vector; merge is a partial window") {
    val p = plan("c6_cosine_topk")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      "column pruning through the scoring join must reach the scan")
    assert(p.contains("WindowGroupLimit"), "rank filter must pre-limit groups")
    assert(p.contains("MapPartitions"), "per-partition top-k heap must be in the plan")
  }

  test("a10 roundtrip read prunes partitions from the discovery scan") {
    val p = plan("a10_partitioned_sink")
    assert(p.contains("PartitionFilters"), p.take(500))
  }

  test("c17/c18: per-doc text metrics prune the scan to the used columns") {
    val p17 = plan("c17_gopher_quality")
    assert(p17.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "quality metrics must not drag unused columns through the scan")
    val p18 = plan("c18_pii_scrub")
    assert(p18.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("c19: k-means assignment is a joinless scan, one exchange to agg") {
    val p = plan("c19_kmeans")
    assert(!p.contains("Join"),
      "centroids must be plan literals, not a joined frame")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"assignment must not shuffle the corpus:\n${p.take(600)}")
  }

  test("c42/c43: the map-only curation scans have NO exchange before " +
       "the output sort, and c43's scan is joinless") {
    // c42: strip chain is one projection pass — the only exchange allowed
    // is the final presentation orderBy's range partitioning
    val p42 = plan("c42_html_strip")
    assert(!p42.contains("hashpartitioning"),
      s"html strip must not shuffle:\n${p42.take(600)}")
    assert(!p42.contains("Join"), "html strip must not join")
    // c43: eval matrix is a reference object — no join, no hash exchange;
    // the semantic_best call must be inside codegen, not a fallback eval
    // (executed first: codegen spans only print in the FINAL adaptive plan)
    val df43 = SparkEntry.queries("c43_semantic_decon")(spark, sfDir())
    df43.queryExecution.toRdd.count()
    val p43 = df43.queryExecution.executedPlan.toString
    assert(!p43.contains("Join"),
      "eval matrix must ride the plan, not a joined frame")
    assert(!p43.contains("hashpartitioning"),
      s"semantic scan must not shuffle:\n${p43.take(600)}")
    // codegen'd operators print as "*(n) Project ..." in the final plan
    assert("""\*\(\d+\) Project \[vec_id""".r.findFirstIn(p43).isDefined,
      s"semantic_best must run inside whole-stage codegen:\n${p43.take(600)}")
  }

  test("b19: range join runs as equi-join, never nested-loop/cartesian") {
    val p = plan("b19_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(600))
  }

  test("a17: upsert anti-join stays a hash join, no full-outer") {
    val p = plan("a17_upsert")
    assert(p.contains("LeftAnti"), p.take(500))
    assert(!p.contains("FullOuter"))
  }

  test("b20: the t-digest builds MAP-SIDE partials (mergeable-agg path)") {
    val p = plan("b20_quantile_sketch")
    assert(p.contains("partial_tdigestquantilesagg"),
      "sketch must pre-aggregate before the exchange — that partial-merge " +
        s"path IS the 100 TB claim:\n${p.take(600)}")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double,l_returnflag:string>"),
      "scan must prune to the sketched columns")
  }

  test("c24: eval grams broadcast; corpus text scanned once, pruned") {
    val p = plan("c24_decontamination")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"eval-gram set and per-doc overlaps must both broadcast:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin"),
      "nothing in this plan should shuffle-join the corpus")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("d6: event-type filters push to the scans; agg is partial-first") {
    val p = plan("d6_attribution")
    assert(p.contains("EqualTo(event_type,purchase)") &&
      p.contains("EqualTo(event_type,view)"), p.take(500))
    assert(p.contains("partial_count"),
      "per-purchase counts must combine map-side")
  }

  test("AQE splits a skewed join partition at runtime (hot-key insurance)") {
    // The 100 TB skew story is two-layered: SkewJoin (B13) salts known-hot
    // keys at plan time, and AQE re-splits whatever skew remains at RUNTIME.
    // This locks the second layer actually firing in the engine's default
    // session: thresholds are scaled down so toy data reproduces the
    // trigger condition (one partition > factor × median AND > threshold),
    // exactly the shape a 1000-executor job sees when one user/orderkey
    // holds half the data.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 200k rows, 70% on key 0 (the hot key), rest uniform over 1k keys;
      // padded so the hot shuffle partition clears the (scaled) threshold.
      // NOTE: the consumer must not require the join's partitioning (a
      // groupBy on the key would make AQE decline the split rather than
      // add a shuffle) — same rule as in production: skew-split protects
      // joins feeding sinks/projections, salting (B13) covers join+agg.
      val left = spark.range(200000).select(
        when($"id" % 10 < 7, 0L).otherwise($"id" % 1000).as("k"),
        $"id".as("v"), lpad(lit("x"), 64, "x").as("pad"))
      val right = spark.range(1000).select($"id".as("k"), rand(7).as("w"))
      val joined = left.join(right, "k").select("k", "v")
      joined.collect() // AQE decides splits at runtime → materialize first
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE skew-join split did not fire:\n${p.take(1200)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("c27/c29: span scans prune to doc_id+text through union and explode") {
    val p27 = plan("c27_span_dedup")
    assert(p27.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "span detection must not drag unused document columns through the scan")
    val p29 = plan("c29_span_removal")
    assert(p29.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "span removal must not drag unused document columns through the scan")
  }

  test("c27/c76: the span-count join is SHUFFLED hash, never broadcast — " +
    "the r9 sf1 fix locked in-plan (Catalyst's optimistic estimate of " +
    "the aggregate output auto-broadcast a 4 GiB HashedRelation at " +
    "100x and killed the query)") {
    val p27 = plan("c27_span_dedup")
    assert(p27.contains("ShuffledHashJoin"),
      "the vocabulary-sized count table must join shuffled")
    assert(!p27.contains("BroadcastHashJoin"),
      "no broadcast anywhere in the span-count path")
    val p76 = plan("c76_multiscale_spans")
    assert("ShuffledHashJoin".r.findAllIn(p76).size >= 3,
      "every level's count join must be shuffled")
    assert(!p76.contains("BroadcastHashJoin"))
  }

  test("c3/c97: the banded near-dup self-joins are SHUFFLED hash — the " +
    "build side is the CORPUS-sized banded frame (4 rows per doc/image " +
    "behind a posexplode, the b25 misestimate class), which Catalyst " +
    "happily broadcast at toy scale and would die on at 100 TB (the " +
    "r13 audit that caught c97 also caught the long-settled c3)") {
    val p3 = plan("c3_simhash")
    assert(p3.contains("ShuffledHashJoin"),
      "the simhash banded self-join must be shuffled")
    val p97 = plan("c97_image_perceptual_dedup")
    assert(p97.contains("ShuffledHashJoin"),
      "the blockhash banded self-join must be shuffled")
    // the hot-bucket lookup stays a broadcast (KB-sized by the cap);
    // what must never broadcast is a side carrying the corpus-scale id
    // columns of the pair join
    assert(!"BroadcastHashJoin.*id_b".r.findFirstIn(p97).isDefined &&
      !"BroadcastHashJoin.*id_b".r.findFirstIn(p3).isDefined,
      "no corpus-sized pair-join side may broadcast")
  }

  test("c119/c121: stored-signature serving has NO minhash-signature " +
    "compute anywhere in the plan (the store's whole point — the " +
    "full-corpus tokenize pass must not leak back in); the one-shot c2 " +
    "path keeps it (positive control)") {
    val p119 = plan("c119_text_sig_serve").toLowerCase
    assert(!p119.contains("minhashsig"),
      "a MinHashSigExpr pass leaked into the stored-signature serving plan")
    val p121 = plan("c121_text_sig_incremental").toLowerCase
    // the increment side COMPUTES its sigs (that is the contract);
    // the reference side must read the store — exactly one compute
    // subtree, not two
    assert(p121.contains("minhashsig"),
      "the increment side must compute its own signatures")
    val p2 = plan("c2_minhash_lsh").toLowerCase
    assert(p2.contains("minhashsig"),
      "positive control: the one-shot path computes signatures in-plan")
  }

  test("c2/c2b: the MinHash pairs compute signatures in ONE stage, each " +
    "signature subtree once (the candidate-id branch reuses the bucket " +
    "exchange), and shingle only above the candidate-id semi-join — " +
    "never over the raw docs scan") {
    import graft.functions.{MinHashSigExpr, ShingleHashesExpr}
    Seq("c2_minhash_lsh", "c2b_minhash_cross").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir())
      df.queryExecution.toRdd.count() // final plan: reuse is resolved
      val nodes = staged(df.queryExecution.executedPlan, null)
      val sig = nodes.filter(ns => hasExpr(ns._1, _.isInstanceOf[MinHashSigExpr]))
      assert(sig.nonEmpty, s"$n: no signature pass in the plan")
      val sigStages = sig.map(_._2)
      assert(sigStages.forall(_ eq sigStages.head),
        s"$n: signatures computed in ${sigStages.distinct.size} stages")
      // c2 signs docs and their +1e6 copies, c2b the reference and the
      // increment's two parts: one node per input, none computed twice
      val subtrees = sig.map(_._1.canonicalized)
      assert(subtrees.distinct.size === subtrees.size,
        s"$n: a signature subtree is computed more than once")
      val shingles = nodes.map(_._1)
        .filter(hasExpr(_, _.isInstanceOf[ShingleHashesExpr]))
      assert(shingles.nonEmpty, s"$n: no shingle pass in the plan")
      assert(!shingles.exists(reachesLeafWithoutSemi),
        s"$n: shingleHashes runs below the candidate-id semi-join")
    }
  }

  test("c125: stored-digest span serving has NO digest compute anywhere " +
    "in the plan (the stage-probe-measured majority of the c76 cost — " +
    "it must not leak back in) and every level's count join stays " +
    "SHUFFLED hash; the one-shot c76 path keeps the compute (positive " +
    "control)") {
    val p125 = plan("c125_span_store_serve")
    assert(!p125.toLowerCase.contains("spanmd5"),
      "a SpanMd5s digest pass leaked into the stored-digest serving plan")
    assert("ShuffledHashJoin".r.findAllIn(p125).size >= 3,
      "every level's count join must be shuffled")
    assert(!p125.contains("BroadcastHashJoin"),
      "no broadcast anywhere in the span-count path")
    val p76 = plan("c76_multiscale_spans")
    assert(p76.toLowerCase.contains("spanmd5"),
      "positive control: the one-shot path digests in-plan")
    // the WHERE question too: extents from the store are digest-free
    val p132 = plan("c132_extents_from_store")
    assert(!p132.toLowerCase.contains("spanmd5"),
      "a digest pass leaked into the stored-extent serving plan")
    assert("ShuffledHashJoin".r.findAllIn(p132).size >= 3,
      "every level's flag join must be shuffled")
  }

  test("c133/c135/c136: the ledger-built verdict SERVE is a " +
    "result-sized committed-version read — no banding, census, " +
    "signature, digest, or decode compute anywhere in the serving " +
    "plan (c136's retirement anti-joins live in the PUBLISH, never " +
    "the serve)") {
    Seq("c133_verdict_ledger_serve", "c135_ledger_compaction",
      "c136_ledger_pair_retire").foreach {
      n =>
        val p = plan(n)
        val lower = p.toLowerCase
        assert(!lower.contains("minhashsig"),
          s"a signature pass leaked into $n's serving plan")
        assert(!lower.contains("spanmd5"),
          s"a digest pass leaked into $n's serving plan")
        assert(!p.contains("MapPartitions"),
          s"a codec/decode stage leaked into $n's serving plan")
        assert(!p.contains("HashJoin") && !p.contains("SortMergeJoin"),
          s"$n's serve must read the committed table, never re-join")
    }
  }

  test("c137: the span-ledger serve is the island sweep over stored " +
    "fired windows ONLY — no digest pass, no count aggregate over the " +
    "digest table, no join of ANY kind, and no digest-store scan " +
    "anywhere in the plan (what c132 still paid per query is prepaid " +
    "at ingest)") {
    val ep = executed("c137_span_ledger_serve")
    val p = ep.toString
    val lower = p.toLowerCase
    val roots = scanRoots(ep)
    assert(!lower.contains("spanmd5"),
      "a digest pass leaked into the ledger serving plan")
    assert(!p.contains("HashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the ledger serve must not join — the flag join's work is " +
        "prepaid into the stored fired windows")
    assert(!lower.contains("span_digests") &&
      !roots.exists(_.contains("span_digests")),
      "the digest store must not be scanned at serve time")
    assert(roots.exists(_.contains("/ledger/")),
      s"the serve must scan the fired-window ledger: $roots")
    assert("RunningWindowFunction|Window".r.findFirstIn(p).isDefined,
      "the per-document island sweep must be in the plan")
  }

  test("c138: the TTL-retained serve is one ledger scan with the age " +
    "filter — no signature compute, no join, no docs scan") {
    val ep = executed("c138_ledger_ttl_retire")
    val p = ep.toString
    val lower = p.toLowerCase
    assert(!lower.contains("minhashsig"),
      "a signature pass leaked into the retained serving plan")
    assert(!p.contains("HashJoin") && !p.contains("SortMergeJoin"),
      "the retained serve must read stored pairs, never re-join")
    assert(scanRoots(ep).exists(_.contains("/pairs/")),
      s"the serve must scan the pair ledger: ${scanRoots(ep)}")
  }

  test("c76c/c84/c87: the strip family serves its digests from the " +
    "span store — NO digest compute anywhere in the rewrite plans (the " +
    "rebuild's own token read stays; the digest pass must not leak " +
    "back in), and the flag join stays shuffled") {
    Seq("c76c_extent_strip", "c84_canonical_extent_strip",
      "c87_quality_extent_strip").foreach { n =>
      val p = plan(n)
      assert(!p.toLowerCase.contains("spanmd5"),
        s"a SpanMd5s digest pass leaked into $n's serving plan")
      assert(p.contains("ShuffledHashJoin"),
        s"$n's duplicated-vocabulary flag join must be shuffled")
    }
  }

  test("c104: stored-code serving has NO decode stage anywhere in the " +
    "plan (the store's whole point — the mapPartitions codec pass must " +
    "not leak back in) and the banded self-join stays shuffled") {
    val p = plan("c104_image_code_serve")
    assert(!p.contains("MapPartitions"),
      "a decode (mapPartitions) stage leaked into the serving plan")
    assert(p.contains("ShuffledHashJoin"),
      "the blockhash banded self-join must be shuffled")
    assert(!"BroadcastHashJoin.*id_b".r.findFirstIn(p).isDefined,
      "no corpus-sized pair-join side may broadcast")
  }

  test("c115: stored-landmark serving (the pre-checkpoint pairs plan " +
    "audioClustersFromStored feeds dupClusters — the part a decode " +
    "could leak back into; the query's own final plan only shows the " +
    "post-checkpoint rollup) has NO decode stage and the landmark " +
    "self-join stays shuffled") {
    import graft.operators.Audio
    import graft.sources.AudioCodeStore
    val root = java.nio.file.Files
      .createTempDirectory("graft_c115_audit").toString
    assert(AudioCodeStore.publishSpec(spark, root, "chained_landmark", 128)
      .committed)
    val docs = Tables(spark, sfDir(), "documents").select("doc_id").limit(40)
    AudioCodeStore.appendEpoch(
      Audio.chainedLandmarkRows(spark,
        Audio.packWav(spark, docs, "doc_id")), root, 1, 0L)
    val stored = AudioCodeStore.read(spark, root, 1)
    val meta = stored.where(col("anchor") === -1)
      .select(col("media_id").as("id"), col("n_samples"))
    val pairs = Audio.chainedPairsFromCodes(stored, 4)
      .join(meta.select(col("id").as("id_a"),
        col("n_samples").as("__na")), "id_a")
      .join(meta.select(col("id").as("id_b"),
        col("n_samples").as("__nb")), "id_b")
      .where(col("__na") === col("__nb")).select("id_a", "id_b")
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("MapPartitions"),
      "a decode (mapPartitions) stage leaked into the serving plan")
    assert(p.contains("ShuffledHashJoin"),
      "the chained-landmark self-join must be shuffled")
    // (the KB-sized meta join-backs MAY broadcast — that is AQE's call
    // on accurate post-shuffle sizes; only the landmark self-join above
    // is locked)
  }

  test("c12k/c12m/c12n/b32/c5: every banded CANDIDATE-GENERATION " +
    "self-join is SHUFFLED hash (the r13 audit swept all of them: the " +
    "build side is always a corpus-scaled frame behind an explode, " +
    "the b25 misestimate class; result-sized join-backs may still " +
    "broadcast — AQE sizes those accurately post-shuffle)") {
    Seq("c12k_audio_neardup", "c12m_audio_robust_match",
      "c12n_audio_chained_match", "b32_jaccard_join",
      "c5_embed_neardup").foreach { q =>
      assert(plan(q).contains("ShuffledHashJoin"),
        s"$q: the candidate-generation join must be shuffled")
    }
  }

  test("b25: the variant blocking self-join is SHUFFLED hash with the " +
    "exploded side never broadcast, and no join-backs remain (the r10 " +
    "constant fix: Catalyst's optimistic Generate estimate built the " +
    "whole n*(len+1)-row variant table as a broadcast HashedRelation, " +
    "and the old shape re-joined the corpus twice to fetch strings)") {
    val p = plan("b25_fuzzy_join")
    assert(p.contains("ShuffledHashJoin"),
      "the corpus-sized variant table must join shuffled")
    assert(!p.contains("BroadcastHashJoin"),
      "no broadcast anywhere in the blocking path")
    // strings ride the blocking join: exactly ONE join in the plan
    assert(!p.contains("SortMergeJoin"), "no sort-merge anywhere")
    assert("ShuffledHashJoin".r.findAllIn(p).size == 1,
      "exactly one join: the join-backs must be gone")
  }

  test("c83: the calibration scan is JOINLESS — pair, estimate, and " +
    "candidacy all live in one row, so the only exchanges are the " +
    "20-bucket agg and its output sort") {
    val p = plan("c83_minhash_calibration")
    assert(!p.contains("Join"),
      "variant pairs are constructed in-row: no join anywhere")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "the sampled scan must prune to id+text")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"one bucket-agg exchange at most:\n${p.take(600)}")
  }

  test("c84: the extent path keeps the c27 span-count discipline — the " +
    "duplicated-vocabulary join is SHUFFLED hash, and nothing goes " +
    "nested-loop or cartesian") {
    val p = plan("c84_canonical_extent_strip")
    assert(p.contains("ShuffledHashJoin"),
      "the span-count join must stay shuffled (the r9 sf1 rule)")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(400))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "the span scan must prune to id+text")
  }

  test("c68: the vocabulary top-k is a distributed TakeOrdered, and no " +
    "window runs over the unbounded token domain (the r9 sf1 fix: the " +
    "prior plan sorted every distinct token in ONE task)") {
    val p = plan("c68_zipf")
    assert(p.contains("TakeOrderedAndProject"),
      "top-200 must use per-task heaps")
    // the only Window left operates on the 200-row post-limit frame,
    // which sits ABOVE the TakeOrdered in the plan tree
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
      "the rank window must consume the limited frame, not the vocab")
  }

  test("b61: fact and dim feeds join the snapshots hash-equi, never " +
    "nested-loop; the signed-delta merge is one full-outer on the view " +
    "keys") {
    val p = plan("b61_bilinear_view_maintenance")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(400))
    assert(p.contains("SortMergeJoin FullOuter") ||
      p.contains("full_outer") || p.contains("FullOuter"),
      "view merge must be the keyed full-outer, not a rebuild scan")
  }

  test("c75/d33: the per-iteration gradient aggregates map-side partials " +
    "(weights ride as literals — no model join anywhere in the step)") {
    import graft.operators.ClassifierTrain
    val feats = ClassifierTrain.featurize(
      Tables(spark, sfDir(), "documents"), "text", "doc_id",
      col("lang") === "en", 128, 3)
    val wLit = typedlit(Array.fill(128)(0L).toSeq)
    val grad = feats.where(col("batch") === 0)
      .groupBy("doc_id", "y")
      .agg(sum(col("x") *
        element_at(wLit, (col("b") + 1).cast("int"))).as("m"))
    val p = grad.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), "margin agg must hash-aggregate")
    assert(!p.contains("Join"), "no model join: weights are plan literals")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // Third layer of the join-scale story (after broadcast dims and AQE
    // skew splits): when BOTH sides are too big to broadcast, Spark's
    // InjectRuntimeFilter builds a bloom filter from the dim's selective
    // predicate and pushes a might_contain prune into the fact scan — at
    // 100 TB this is what keeps a 1%-selective dim join from shuffling
    // the other 99% of the fact table. Thresholds are scaled so toy data
    // reproduces the trigger (the application-side size gate defaults to
    // 10 GB); the property locked is the rule firing on our join shape.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables(spark, sfDir(), "lineitem")
        .select("l_orderkey", "l_quantity")
      val o = Tables(spark, sfDir(), "orders")
        .where($"o_orderpriority" === "1-URGENT").select("o_orderkey")
      val joined = li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("might_contain"),
        s"runtime bloom filter did not inject:\n${p.take(1200)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("b28: each recursive step joins hash-equi, never nested-loop") {
    // the natural `pk IN (2b, 2b+1)` phrasing made every iteration a
    // BroadcastNestedLoopJoin (9.3 s vs 0.6 s per run at sf0.1); the
    // inverted-edge equi-join must stay locked in
    val p = plan("b28_recursive_cte")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"recursion re-planned as nested loop:\n${p.take(800)}")
  }

  test("b31: LATERAL top-N decorrelates to WindowGroupLimit + hash join") {
    // the naive execution of a correlated LIMIT subquery is one
    // re-execution per outer row; the locked-in plan is a map-side
    // partial group-limit (WindowGroupLimit below the exchange) feeding
    // ONE hash join — per-row lateral re-execution or a nested loop
    // would be the 100 TB catastrophe
    val p = plan("b31_lateral_topn")
    assert(p.contains("WindowGroupLimit"),
      s"per-group LIMIT must pre-limit map-side:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"lateral planned as nested loop:\n${p.take(800)}")
  }

  test("b33: the gap-fill frame sorts inside the user partition") {
    val p = plan("b33_gap_fill")
    assert(p.contains("hashpartitioning(user_id"),
      s"the window exchange must key on user_id:\n${p.take(600)}")
    assert(p.contains("Window"), "fill must be a window, not a self-join")
  }

  test("c33: the seeded shuffle never funnels the corpus through one " +
       "partition") {
    val docs = Tables(spark, sfDir(), "documents").select("doc_id")
    val p = graft.operators.Sampling.seededShuffle(docs, "doc_id", "s", 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(shard"),
      s"the one exchange must key on shard:\n${p.take(600)}")
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("rangepartitioning"),
      s"a global sort/row_number would serialize the corpus:\n${p.take(600)}")
  }

  test("c34: the bloom probe is a joinless, shuffle-free scan") {
    val docs = Tables(spark, sfDir(), "documents").select("doc_id", "text")
    val bloom = graft.operators.BloomDedup.bloomOf(
      docs.limit(100), col("text"), 100L)
    val p = graft.operators.BloomDedup
      .flagOverlap(docs, col("text"), bloom)
      .queryExecution.executedPlan.toString
    // the probe is the broadcast-handle expression, NOT a binary plan
    // literal — the plan string stays KBs no matter the sketch size
    assert(p.toLowerCase.contains("bloomprobeexpr"), p.take(600))
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"the probe must stay map-only — the sketch rides the plan:\n" +
        p.take(600))
  }

  test("b26: view maintenance aggregates the FEED, partial-first, " +
       "and merges without nested loops") {
    import graft.operators.{MaterializedView, Upsert}
    val o = Tables(spark, sfDir(), "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val r = Upsert.upsertWithChanges(o,
      o.where(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0)),
      Seq("o_orderkey"))
    val p = MaterializedView.applyChanges(
        MaterializedView.build(o, Seq("o_orderstatus"), Seq("o_totalprice")),
        r.changes, Seq("o_orderstatus"), Seq("o_totalprice"))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      "HashAggregate".r.findAllIn(p).size >= 4,
      s"delta and view aggregates must map-side combine:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the view merge must stay a hash join:\n${p.take(800)}")
  }

  test("c44: URL canonicalization is a joinless map-only scan — the " +
       "regex chain never shuffles and the blocklist never joins") {
    val p = plan("c44_url_canonical")
    assert(!p.contains("Join"),
      "the blocklist must be a literal IN set, not a joined frame")
    assert(!p.contains("hashpartitioning"),
      s"the rewrite chain must not shuffle:\n${p.take(600)}")
  }

  test("b46: the composed ER chain keeps B25's bounded shape — no " +
       "cartesian product, no nested-loop join, JW only after blocking") {
    val df = SparkEntry.queries("b46_er_best_match")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"ER composition must never go all-pairs:\n${p.take(800)}")
  }

  test("c12d/c12e: codec pipelines are joinless, and the only exchange " +
       "is the cores-sizing repartition of bare ids") {
    Seq("c12d_audio_codec", "c12e_gif_frames").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Join"), s"$name: codec path must never join")
      // pack repartitions the narrow id frame to defaultParallelism; the
      // decode inherits that partitioning payload-local — no exchange
      // may carry the payload bytes
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 2, // id-sizing + output sort
        s"$name: payload bytes must stay partition-local:\n${p.take(600)}")
    }
  }

  test("c12f/c12g/c12h: the r8 feature pipelines keep the codec shape — " +
       "joinless, payload-local, bytes never exchanged") {
    Seq("c12f_frame_deltas", "c12g_audio_spectral",
        "c12h_audio_bands").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Join"), s"$name: feature path must never join")
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 2, // id-sizing + output sort
        s"$name: payload bytes must stay partition-local:\n${p.take(600)}")
    }
  }

  test("c50: the corpus is touched only via broadcast-shaped joins — " +
       "the scoring theta-join broadcasts the QUERY side, the vector " +
       "fetch broadcasts the CANDIDATE side, nothing goes cartesian") {
    val p = plan("c50_mmr_rerank")
    // cosineTopK's scan is a non-equi theta join by design (corpus ×
    // broadcast queries) — it must be the nested-loop's BROADCAST side
    // (IdentityBroadcastMode on the dim-sized queries), never a
    // CartesianProduct of two corpus-sized inputs
    assert(!p.contains("CartesianProduct"),
      s"no corpus-sized cartesian anywhere:\n${p.take(600)}")
    assert(p.contains("IdentityBroadcastMode"),
      s"the query side of the scoring join must broadcast:\n${p.take(600)}")
    // the per-candidate vector fetch against the corpus-sized embeddings
    // table must broadcast the dim-sized candidate list
    assert(p.contains("BroadcastHashJoin"),
      s"vector fetch must broadcast the candidates:\n${p.take(600)}")
  }

  test("a31: snapshot diff is ONE join; the change mask adds no " +
       "exchange beyond the key shuffle") {
    val df = SparkEntry.queries("a31_snapshot_diff")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    // exactly one join node: the full-outer on the key
    val joins = "Join".r.findAllIn(p).size
    assert("FullOuter".r.findFirstIn(p).isDefined,
      s"diff must be a full-outer join:\n${p.take(600)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"diff must stay a hash/sort-merge join:\n${p.take(600)}")
    assert(joins <= 2, // SMJ prints 'SortMergeJoin(...) FullOuter' once;
                       // the union'd v2 derivation must not add joins
      s"expected one diff join, saw $joins:\n${p.take(800)}")
  }

  test("c53: the JL projection is a joinless map-only scan — the only " +
       "exchange is the output ordering's") {
    val p = plan("c53_jl_projection")
    assert(!p.contains("Join"), s"projection must not join:\n${p.take(600)}")
    // one projection pass: JlProject inside whole-stage codegen, and no
    // exchange before the generate/sort that shapes the output rows
    assert(p.toLowerCase.contains("jlproject"), p.take(600))
    val sortIdx = p.indexOf("Sort")
    val exIdx = p.indexOf("Exchange")
    assert(exIdx == -1 || sortIdx == -1 || exIdx > p.indexOf("Generate") ||
      exIdx > sortIdx - 2000,
      s"no exchange may precede the projection itself:\n${p.take(800)}")
  }

  test("c14d: quantized IVF serving is ONE corpus scan with the probe " +
       "table broadcast — no sort-merge join, no second scan") {
    val df = SparkEntry.queries("c14d_jl_ivf_topk")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"probe table must broadcast onto the cell key:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no heavyweight join allowed:\n${p.take(600)}")
    assert(p.toLowerCase.contains("intcellassign"),
      s"assignment must be the codegen expression:\n${p.take(600)}")
    // the embeddings parquet is scanned exactly once in this plan (the
    // centroid/query collects ran driver-side before the plan existed);
    // AQE prints the initial plan after the final one — count the final
    val finalP = p.split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(finalP).size
    assert(scans == 1, s"expected one corpus scan, saw $scans:\n${p.take(800)}")
  }

  test("b49: sequence mining is ONE keyed exchange — the sort lives " +
       "inside the aggregated array, never as a plan-level Sort") {
    val df = SparkEntry.queries("b49_seq_pattern")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    val finalP = p.split("== Initial Plan ==").head
    assert(!finalP.contains("Join"), "per-key histories need no join")
    assert("Exchange hashpartitioning".r.findAllIn(finalP).size <= 1,
      s"one keyed exchange only:\n${p.take(600)}")
    // the (sec, id, code) ordering is array_sort INSIDE the agg — the
    // only Sort node allowed is the final presentation orderBy
    assert("Sort \\[".r.findAllIn(finalP).size <= 1,
      s"no window/sort pass over the event stream:\n${p.take(600)}")
  }

  test("c57: reference grams broadcast; the corpus never shuffles " +
       "whole-text rows, only (id, gram-hash) pairs") {
    val df = SparkEntry.queries("c57_novelty")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    val finalP = p.split("== Initial Plan ==").head
    assert(finalP.contains("BroadcastHashJoin"),
      s"reference gram set must broadcast:\n${p.take(600)}")
    assert(!finalP.contains("SortMergeJoin"),
      s"the gram probe must never sort-merge:\n${p.take(600)}")
  }

  test("b56: the interval-overlap join runs as a bucket equi-join — " +
       "never nested-loop or cartesian") {
    val df = SparkEntry.queries("b56_interval_overlap")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the bucketing must carry the non-equi predicate:\n${p.take(600)}")
    assert(p.contains("Join"), "it IS a join — just an equi one")
  }

  test("b57: view maintenance joins the FEED to the dim by broadcast; " +
       "the fact table itself never re-joins") {
    val df = SparkEntry.queries("b57_join_view_maintenance")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both dim joins (base build + feed enrich) must broadcast:\n${p.take(600)}")
    // the one SortMergeJoin allowed is the GROUP-sized view⟗delta
    // full-outer merge (full-outer cannot broadcast-hash) — the same
    // shape B26 plans; corpus-sized sides never sort-merge
    assert("SortMergeJoin".r.findAllIn(p).size <= 1)
    assert(!p.contains("CartesianProduct"))
  }

  test("c66: eval grams broadcast onto one train-corpus scan") {
    val df = SparkEntry.queries("c66_eval_contamination")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"the eval gram set must broadcast:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("b59: the retention matrix never sort-merges — cohort and " +
       "activity frames are user-keyed aggregates") {
    val df = SparkEntry.queries("b59_retention_cohorts")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("c72: datasheet maintenance joins only GROUP-sized frames — " +
       "the corpus is scanned, never sort-merged against itself") {
    val df = SparkEntry.queries("c72_datasheet_maintenance")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the one permitted SortMergeJoin is the b26/b57 view⟗delta
    // full-outer merge over source-keyed (dim-sized) aggregates
    assert("SortMergeJoin".r.findAllIn(p).size <= 1, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("c58: outlier scoring joins the dim-sized centroid table by " +
       "broadcast and scans the corpus once") {
    val df = SparkEntry.queries("c58_embed_outliers")(spark, sfDir())
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    val finalP = p.split("== Initial Plan ==").head
    assert(finalP.contains("BroadcastHashJoin"),
      s"centroid table must broadcast:\n${p.take(600)}")
    assert(!finalP.contains("SortMergeJoin") &&
      !finalP.contains("CartesianProduct"))
    val scans = "Scan parquet".r.findAllIn(finalP).size
    assert(scans == 1,
      s"expected one embeddings scan, saw $scans:\n${p.take(800)}")
  }

  test("c89: the calibration is ONE map-only embeddings scan — no join, " +
       "no corpus-sized shuffle, only the 20-bucket aggregate exchanges") {
    val p = plan("c89_hyperplane_calibration")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"calibration must not join:\n${p.take(600)}")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected one embeddings scan, saw $scans")
    assert(p.contains("partial_count"),
      "the bucket aggregate must combine map-side")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the 20-bucket aggregate may exchange:\n${p.take(600)}")
  }

  test("c92 sweep: margins collapse to the bin histogram BEFORE any " +
       "window — no corpus-keyed exchange reaches the cumulative sweep") {
    import spark.implicits._
    val scored = (1L to 200L).map(i => (i, i * 7 % 1000 - 500, i % 40 + 1))
      .toDF("doc_id", "margin", "tokens")
    val p = graft.operators.Sampling.budgetThresholdSweep(
        scored, "margin", "tokens", budgetTokens = 100L, binWidth = 50L)
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate(keys=[bin"),
      s"binning must aggregate before the window:\n${p.take(600)}")
    assert(!p.contains("hashpartitioning(margin") &&
      !p.contains("hashpartitioning(doc_id"),
      s"no corpus-keyed exchange may feed the sweep:\n${p.take(600)}")
  }
}
