package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.TextFunctions

/** Deduplication operators for LLM training-data pipelines, smallest-cost
  * first: exact (one shuffle on a 16-byte key), then candidate-generation
  * schemes (MinHash-LSH, SimHash) that share one banded-LSH core
  * ([[Dedup.lshCandidates]]: one shuffle keyed on (band, bucket), a
  * grouped bucket → pair generator), then exact verification only on
  * candidate pairs — for MinHash, only candidate documents are ever
  * shingled. Nothing here ever materializes an O(n²) cross product — at
  * 100 TB the candidate-pair volume is what decides whether near-dedup is
  * feasible at all.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on normalized text: groupBy(md5(normalized)) keeping the
    * smallest id. One shuffle, map-side combined. Returns
    * (fingerprint, keep_id, dup_count).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
        TextFunctions.fingerprintMd5(col(textCol)).as("fingerprint"),
        col(idCol))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  // ------------------------------------------------------------- shingles

  /** w-word shingles of the normalized text, as sorted distinct chain-hash
    * values (codegen'd [[graft.functions.ShingleHashesExpr]] — the same
    * hash universe the MinHash signature is built from). Documents shorter
    * than w words hash the whole text as one shingle.
    */
  def shingleHashes(c: Column, w: Int = 3): Column =
    graft.functions.GraftExpressions.shingleHashes(
      TextFunctions.wsTokens(TextFunctions.normalize(c)), w)

  /** Exact Jaccard similarity of two SORTED DISTINCT hash arrays (the
    * form [[shingleHashes]] and [[charNgramHashes]] emit) — one merge
    * pass, no intermediate arrays.
    */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.GraftExpressions.sortedJaccard(a, b)

  // ---------------------------------------------------------- MinHash+LSH

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle → k-minhash → `bands` bands of r = k/bands rows; docs sharing
    * any band land in the same bucket. One banded-LSH core
    * ([[lshCandidates]]) turns the bucket rows into DISTINCT candidate id
    * pairs with ONE shuffle keyed on (band, bucket) — never on raw text —
    * and only the candidates' documents are then shingled and joined for
    * exact-Jaccard verification. The bucket shuffle carries (id, sigh)
    * longs, never the shingle arrays (at 100 TB shipping each doc's
    * shingles ×bands through the shuffle is the difference between GBs and
    * TBs of shuffle IO).
    *
    * Default k=64, bands=16 (r=4) → LSH s-curve threshold (1/16)^(1/4) ≈ 0.5.
    *
    * HOT-BUCKET BOUND (`hotBucketCap`): the classic LSH failure mode is a
    * popular bucket — template-heavy corpora put thousands of docs behind
    * one band value, and the within-bucket pairing goes quadratic in
    * exactly the place the corpus is most redundant. Buckets larger than
    * the cap therefore escalate to a STRONGER key: their members pair only
    * when the FULL k-value signature matches (estimated Jaccard ≈ 1 —
    * exact-copy-grade evidence), which bounds hot-bucket pair volume by
    * true-duplicate volume instead of bucket-size². RECALL CONTRACT,
    * explicit: exact/near-exact duplicates (identical signatures) are
    * always found regardless of bucket heat; what a hot bucket can lose is
    * moderate-similarity pairs (threshold ≤ J < ~1) hiding inside it —
    * the same pairs a capped/dropped-bucket scheme loses silently, here
    * lost only above the cap and spec-locked in DedupSpec. Cold buckets
    * (the overwhelming majority) are exhaustive as before.
    *
    * @param hotBucketCap buckets larger than this escalate to the
    *        full-signature key; pass ≤ 0 to derive it from the corpus's
    *        own bucket-size distribution ([[autoHotBucketCap]])
    * @return (id_a, id_b, jaccard) with id_a < id_b
    */
  def minhashDedupPairs(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 64, bands: Int = 16,
                        threshold: Double = 0.7,
                        hotBucketCap: Int = 64): DataFrame =
    minhashPairsFromSigs(minhashSigRows(df, textCol, idCol, k), df,
      textCol, idCol, k, bands, threshold, hotBucketCap)

  /** Data-derived hot-bucket cap: high enough that ordinary buckets are
    * never escalated (no recall change on benign corpora), low enough
    * that a template cluster cannot go quadratic. The rule —
    * `clamp(32 × mean bucket size, 16, 4096)` — keys off the corpus's
    * own bucket-size distribution: mean size is ≈1 for shingled text
    * (bucket keys are 64-bit hashes of r minhash values; collisions are
    * near-dups by construction), so a bucket 32× the mean is already
    * template-grade. The mean is one driver scalar over the same grouped
    * buckets the pair generator reads.
    */
  def autoHotBucketCap(meanBucketSize: Double): Int =
    math.min(4096, math.max(16, math.ceil(32 * meanBucketSize).toInt))

  /** The per-document MinHash signature rows (doc_id, sig) — the
    * compute-heavy half of [[minhashDedupPairs]] carved out (C119): one
    * codegen'd MinHashSigExpr pass (tokens → shingle chain-hash → k
    * running minima) over the full text. This is the pass a STORED
    * signature table ([[graft.sources.TextSigStore]]) prepays per NEW
    * document so that no dedup query ever re-tokenizes the corpus; the
    * signature is k exact longs, so it round-trips parquet bit-exactly
    * and pairs-from-stored ≡ pairs-from-compute by construction (both
    * feed [[minhashPairsFromSigs]] verbatim).
    */
  def minhashSigRows(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 64): DataFrame = {
    val tokens = TextFunctions.wsTokens(TextFunctions.normalize(col(textCol)))
    df.select(col(idCol).as("doc_id"),
      graft.functions.GraftExpressions
        .minhashSignature(tokens, 3, k).as("sig"))
  }

  /** One row per (document, band) of MinHash signature rows (doc_id, sig):
    * (id, sigh, band, bucket), where `sigh` hashes the full signature and
    * `bucket` hashes band j's r = k/bands values.
    */
  private def minhashBands(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    sigs.select(col("doc_id").as("id"), xxhash64(col("sig")).as("sigh"),
      posexplode(array((0 until bands).map(j =>
        xxhash64(lit(j), slice(col("sig"), j * r + 1, r))): _*))
        .as(Seq("band", "bucket")))
  }

  /** The banded-LSH core behind [[minhashPairsFromSigs]],
    * [[minhashCrossPairsFromSigs]] and [[simhashDedupPairs]]: banded rows
    * (id, sigh, band, bucket[, ref]) in, DISTINCT candidate pairs
    * (id_a, id_b) out — (reference id, increment id) when a boolean `ref`
    * column marks the two sides of a cross match.
    *
    * The rows are shuffled ONCE, on (band, bucket); each bucket collects
    * its (id, sigh[, ref]) members, and the codegen'd
    * [[graft.functions.LshBucketPairsExpr]] emits the bucket's pairs. The
    * same grouped buckets give both the hot-bucket decision (a bucket's
    * size is its member count) and the pairs. Pair rule: every pair in a
    * bucket of at most `cap` rows; above the cap only members with equal
    * `sigh` (the full-signature escalation). A null bucket (a null
    * simhash) counts toward the auto cap's mean but pairs nothing: a null
    * key matches no other. Ids must be integral; they travel as bigint
    * and come back in their own type.
    */
  private[graft] def lshCandidates(banded: DataFrame,
                                   hotBucketCap: Int): DataFrame = {
    val idType = banded.schema("id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"LSH ids must be integral, got ${idType.simpleString}")
    val member = col("id").cast(LongType).as("id") +: col("sigh") +:
      banded.columns.filter(_ == "ref").toSeq.map(col)
    val buckets = banded.groupBy("band", "bucket")
      .agg(collect_list(struct(member: _*)).as("members"))
    val cap =
      if (hotBucketCap > 0) hotBucketCap
      else autoHotBucketCap(
        buckets.agg(avg(size(col("members")))).head().getDouble(0))
    buckets.where(col("bucket").isNotNull)
      .select(inline(graft.functions.GraftExpressions
        .lshBucketPairs(col("members"), cap)))
      .distinct()
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"))
  }

  /** The candidate pairs (id_a, id_b) of [[minhashPairsFromSigs]] before
    * verification.
    */
  private[graft] def minhashCandidates(sigs: DataFrame, k: Int, bands: Int,
                                       hotBucketCap: Int): DataFrame =
    lshCandidates(minhashBands(sigs, k, bands), hotBucketCap)

  /** The `docs` rows whose id is in `ids`, as (id, shingles): the
    * semi-join runs BEFORE the shingle projection, so normalize +
    * shingle-hash touch only candidate documents, never the corpus.
    */
  private def candidateShingles(docs: DataFrame, ids: DataFrame,
                                textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(ids, Seq("id"), "left_semi")
      .select(col("id"), shingleHashes(col("text")).as("shingles"))

  /** Exact-Jaccard verify of candidate pairs (a, b) against the shingle
    * sets of each side: (a, b, jaccard ≥ threshold, rounded to 6 places).
    */
  private def verifyJaccard(candidates: DataFrame, a: String, b: String,
                            shA: DataFrame, shB: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(shA.select(col("id").as(a), col("shingles").as("sh_a")), a)
      .join(shB.select(col("id").as(b), col("shingles").as("sh_b")), b)
      .select(col(a), col(b), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold) // exact value, THEN display rounding
      .select(col(a), col(b), round(col("jaccard"), 6).as("jaccard"))

  /** [[minhashDedupPairs]]'s pairing half, fed by precomputed signature
    * rows ((doc_id, sig) — [[minhashSigRows]] live, or
    * [[graft.sources.TextSigStore]] stored): banding, the
    * [[lshCandidates]] core and exact-Jaccard verify are IDENTICAL to the
    * one-shot path — the only difference is where `sig` comes from.
    *
    * Plan shape: the signature subtree feeds exactly one exchange (the
    * (band, bucket) shuffle), and the candidate-id branch reuses the
    * candidates' DISTINCT exchange instead of re-deriving the pairs, so
    * signatures are computed once per query. `docs` is semi-joined to
    * the DISTINCT candidate ids first and shingled after, so the verify
    * side normalizes and shingle-hashes only candidate documents
    * (result-sized, never the corpus scan the stored path exists to
    * kill). No cache boundary anywhere: a persist here blocks AQE and
    * serializes the branches (the r2 lesson).
    */
  def minhashPairsFromSigs(sigs: DataFrame, docs: DataFrame,
                           textCol: String, idCol: String,
                           k: Int = 64, bands: Int = 16,
                           threshold: Double = 0.7,
                           hotBucketCap: Int = 64): DataFrame = {
    val candidates = minhashCandidates(sigs, k, bands, hotBucketCap)
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val shingled = candidateShingles(docs, candIds, textCol, idCol)
    verifyJaccard(candidates, "id_a", "id_b", shingled, shingled, threshold)
  }

  /** Cross-corpus near-duplicate pairs (C2b) — the INCREMENTAL-crawl
    * shape of C2: yesterday's corpus is the reference, today's increment
    * is matched AGAINST it, and only cross pairs matter (the increment's
    * internal dups are C2's job, the reference's were handled when it
    * was the increment). D21's generational bloom answers "seen EXACTLY
    * before?" in constant state; this answers "seen NEARLY before?" with
    * the same banded-LSH core as C2 — signatures one codegen pass per
    * side, one (band, bucket) shuffle of the union, the same hot-bucket
    * escalation (a bucket hot on the UNION escalates both sides to
    * full-signature keys, so identical texts always still meet), and
    * each side shingled only for its DISTINCT candidate ids.
    *
    * Scale shape: the bucket generator pairs only reference × increment
    * members, so cost is O(ref + inc + cross-pairs), not O((ref+inc)²).
    * Ids may overlap between corpora (sides are keyed independently).
    * Returns (ref_id, inc_id, jaccard ≥ threshold).
    */
  def minhashCrossPairs(ref: DataFrame, inc: DataFrame, textCol: String,
                        idCol: String, k: Int = 64, bands: Int = 16,
                        threshold: Double = 0.7,
                        hotBucketCap: Int = 64): DataFrame =
    minhashCrossPairsFromSigs(minhashSigRows(ref, textCol, idCol, k), ref,
      inc, textCol, idCol, k, bands, threshold, hotBucketCap)

  /** [[minhashCrossPairs]] with the REFERENCE side's signatures
    * precomputed (C121 — the real incremental-crawl serving shape:
    * history's signatures sit in [[graft.sources.TextSigStore]], only
    * today's increment pays its own MinHashSigExpr pass). Banding, union
    * census, hot-bucket escalation and the cross pair rule are
    * [[minhashCrossPairs]] verbatim; the reference text is read only for
    * semi-join-pruned candidate ids at verify time.
    */
  def minhashCrossPairsFromSigs(refSigs: DataFrame, ref: DataFrame,
                                inc: DataFrame, textCol: String,
                                idCol: String, k: Int = 64,
                                bands: Int = 16, threshold: Double = 0.7,
                                hotBucketCap: Int = 64): DataFrame = {
    val both = minhashBands(refSigs, k, bands).withColumn("ref", lit(true))
      .unionByName(minhashBands(minhashSigRows(inc, textCol, idCol, k),
        k, bands).withColumn("ref", lit(false)))
    val candidates = lshCandidates(both, hotBucketCap)
      .select(col("id_a").as("ref_id"), col("id_b").as("inc_id"))
    def side(docs: DataFrame, id: String): DataFrame = candidateShingles(
      docs, candidates.select(col(id).as("id")).distinct(), textCol, idCol)
    verifyJaccard(candidates, "ref_id", "inc_id",
      side(ref, "ref_id"), side(inc, "inc_id"), threshold)
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the whitespace tokens: per-token xxhash64, bit-wise
    * ±1 vote accumulation, sign → bit. Computed by the codegen'd
    * [[graft.functions.SimHash64Expr]] — the declarative
    * `aggregate`/`zip_with` form allocated a 64-long array per token and
    * was the single slowest operator in the round-1 bench (19 s of 44).
    */
  def simhash64(c: Column): Column =
    graft.functions.GraftExpressions.simhash64(
      TextFunctions.wsTokens(TextFunctions.normalize(c)))

  /** SimHash near-duplicate pairs with Hamming distance ≤ maxHamming.
    * Candidate generation: split the 64-bit simhash into 4 16-bit bands —
    * any pair within Hamming ≤ 3 shares at least one exact band (pigeonhole)
    * — and pair within each (band, value) bucket through the same
    * [[lshCandidates]] core as [[minhashDedupPairs]]; verify with
    * bit_count(xor).
    *
    * Same hot-bucket bound: a band value held by more than `hotBucketCap`
    * docs escalates to the FULL 64-bit simhash as the pairing key
    * (Hamming-0 evidence), so a popular 16-bit band never goes quadratic.
    * Identical-simhash pairs are always found; a hot band can lose only
    * 1 ≤ hamming ≤ maxHamming pairs whose every shared band is hot.
    * Returns (id_a, id_b, hamming).
    */
  def simhashDedupPairs(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3,
                        hotBucketCap: Int = 64): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      simhash64(col(textCol)).as("simhash"))
    // cap ≤ 0 → the C2 auto rule on this banding's own distribution
    // (16-bit band values instead of 64-bit band hashes, same contract)
    val candidates = lshCandidates(sh.select(col("id"),
      col("simhash").as("sigh"),
      posexplode(array((0 until 4).map(j =>
        shiftright(col("simhash"), j * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bucket"))), hotBucketCap)
    // the verify joins fetch each side's simhash by id: shuffle_hash,
    // NOT auto-broadcast (the b25/c27 rule, applied here in r13 after the
    // same audit caught c97) — the build side is the CORPUS-sized simhash
    // frame, which Catalyst happily broadcasts at toy scale and would die
    // on at 100 TB
    def side(id: String, v: String): DataFrame =
      sh.select(col("id").as(id), col("simhash").as(v)).hint("shuffle_hash")
    candidates
      .join(side("id_a", "sh_a"), "id_a")
      .join(side("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  // ------------------------------------------------ duplicate clustering

  /** Release a frame produced by an iterative checkpoint loop
    * ([[dupClusters]]' returned labels, [[BpeTrain]]'s word states,
    * superseded rounds): plain `Dataset.unpersist()` is a NO-OP on a
    * checkpointed frame (the checkpoint RDD lives outside the cache
    * manager), so superseded rounds would pin their blocks until a driver
    * GC lets the ContextCleaner find them. The blocks are freed through
    * the frame's LogicalRDD leaf instead; this is the one release helper
    * every loop and every CALLER of a loop's result uses (r13 advice).
    * Safe on any frame: non-LogicalRDD leaves are left untouched.
    */
  def freeState(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        // RELIABLE checkpoints are files, not blocks: Spark deletes
        // them only under cleaner.referenceTracking.cleanCheckpoints
        // plus a driver GC, so a maxIter-96 dupClusters run would
        // otherwise strand up to ~96 corpus-scale checkpoint trees on
        // cluster storage per query (r14 advice). getCheckpointFile is
        // Some only for reliable checkpoints (local checkpoints are
        // block-backed and already released above).
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val fs = p.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(p, true); ()
        }
      case _ => ()
    }
  }

  /** Connected components over a near-duplicate pair list → duplicate
    * clusters, so a pipeline can keep ONE canonical document per cluster
    * (`cluster_id` = smallest member id = the survivor).
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors; converges in
    * O(component diameter) rounds. Near-dup graphs are unions of small
    * cliques/chains, so 2-4 rounds in practice; `maxIter` bounds
    * pathological chains. Each round is one shuffle keyed on node id;
    * frames are persisted per round so lineage doesn't grow with the loop
    * (the convergence check is a driver-side scalar count, same class of
    * action as ML iteration convergence tests).
    *
    * Returns (cluster_id, id) — one row per member, cluster_id ≤ id.
    * Throws IllegalStateException if maxIter rounds don't converge — a
    * silently split cluster (multiple "canonical" survivors of one true
    * duplicate group) is worse than a loud failure.
    *
    * Loop-state durability (the r13-advice note): when the session has a
    * RELIABLE checkpoint directory configured
    * (`sparkContext.setCheckpointDir`), each round checkpoints THERE —
    * replicated-storage lineage truncation, so an executor loss
    * mid-loop recomputes from the checkpoint files instead of failing
    * the whole O(diameter) query. Locally (no checkpoint dir) it falls
    * back to `localCheckpoint(true)`, whose unreplicated blocks are the
    * right trade at local[32] — same plan-growth fix either way (the
    * c77/c13 lesson: persist caches data but the logical plan still
    * doubles per round). The returned frame rides the loop's final
    * checkpoint (plain `unpersist()` is a no-op on it) — release it
    * with [[freeState]] once every derived result is materialized.
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
                  idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    // persist the (symmetrized) edge list PRE-PARTITIONED on the join key:
    // the cached partitioning satisfies every round's join distribution, so
    // the big edge frame is shuffled ONCE for the whole loop — without this
    // each of the O(diameter) rounds re-exchanges the full edge list, which
    // at 100 TB multiplies the dominant shuffle by the round count
    // (measured n=5 at sf0.1, same JVM: 3.80 s vs 4.06 s — small at toy
    // scale, structural at real scale).
    val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // checkpoint per round, NOT persist: the round's frame
    // references the previous round's labels TWICE (once through
    // nbrMin, once as the join's left side), so under persist — which
    // caches DATA but keeps the LOGICAL plan nested (the c77 lesson) —
    // the plan tree DOUBLES every round. On low-diameter graphs (2-4
    // rounds) that stays invisible; a diameter-15 chain OOMs the
    // driver merely RENDERING the plan string for AQE's UI update
    // (measured: c97's image-pair graph, 218 edges, 8 GiB heap gone in
    // explainString). Eager checkpointing flattens each round to a
    // LogicalRDD leaf; superseded rounds are freed through the RDD
    // handle because Dataset.unpersist() is a no-op on a
    // checkpointed frame (the freeState rule). RELIABLE
    // checkpoint when a dir is configured (executor-loss-safe at
    // cluster scale), local otherwise (r13 advice).
    val reliable =
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def checkpointRound(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    var persisted = checkpointRound(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    var labels = persisted
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nbr")), "dst")
        .groupBy(col("src").as("id")).agg(min("nbr").as("nbr_min"))
      // r18: POINTER JUMP (path halving) on top of the neighbor min —
      // after propagating min(label, neighbor labels), each node also
      // chases its candidate's OWN label from the previous round
      // (label values are always member ids, so `labels` resolves
      // them; the previous round's frame is already checkpointed — the
      // jump is one extra node-sized join, no extra materialization).
      // Convergence drops from O(diameter) to O(log diameter) rounds
      // on chain-shaped components (c97b/c105 measured >20 rounds at
      // the 10x replica) while the fixpoint is unchanged: the jump is
      // monotone (labels only decrease, never below the component
      // min), and a state stable under neighbor-min alone is already
      // the per-component min-id labeling — the same argument, same
      // output, fewer synchronization barriers at 100 TB.
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("__l1"))
      // carry prev alongside so the convergence count reuses this
      // checkpointed frame instead of a second join against old labels.
      // Skew note (r18 ADVICE): this jump join is keyed on the CANDIDATE
      // label (__l1), so once a giant component collapses all its members
      // share one key and its partition goes hot. The right side is
      // node-sized (not edge-sized) and the session runs with AQE skew
      // handling on, which splits oversized sort-merge partitions at
      // runtime; if stragglers still appear at 100 TB, salt the right
      // side k ways and explode the probe — the join is a plain lookup,
      // so salting changes nothing semantically.
      val next = checkpointRound(prop
        .join(labels.select(col("id").as("__l1"), col("label").as("__jl")),
          Seq("__l1"), "left")
        .select(col("id"), col("prev"),
          least(col("__l1"), coalesce(col("__jl"), col("__l1")))
            .as("label")))
      changed = next.where(col("label") =!= col("prev")).count()
      freeState(persisted)
      persisted = next
      labels = next.select("id", "label")
      iter += 1
    }
    edges.unpersist()
    // round-count instrumentation at DEBUG (r18 ADVICE: an unconditional
    // stderr print is debug output in a library operator) — the r18
    // pointer-jump evidence (12-vs-20+ rounds) is locked by the
    // diameter-63 chain spec, which asserts the bound structurally
    org.slf4j.LoggerFactory.getLogger(getClass)
      .debug(s"[dupClusters] converged in $iter rounds")
    if (changed > 0)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter rounds " +
          s"($changed labels still changing) — component diameter exceeds " +
          "maxIter; raise it or pre-split the pair graph")
    labels.select(col("label").as("cluster_id"), col("id"))
  }

  // ------------------------------------------------- duplicated-span scan

  /** Corpus-level duplicated-span detection — exact substring dedup at
    * word-window granularity (the "dedup training data at the ~50-token
    * span level" recipe; cf. reference near-dup surface, plus Lee et al.
    * 2022, public): every w-token window of every document is hashed
    * (stride 1 — the real algorithm, not a sampled approximation), and a
    * span is DUPLICATED if its hash occurs at any other (doc, pos) in the
    * corpus. Returns per-document (doc id, n_spans, n_dup_spans).
    *
    * Scale shape: the window enumeration is a map-only
    * posexplode (no shuffle); the only corpus-sized shuffle is the span
    * count, keyed on a 32-byte hash with map-side combine; the flag join
    * is hash-keyed and AQE-broadcastable when the duplicated set is small
    * (the common case). Nothing here is quadratic in pair count — unlike
    * pairwise near-dup, span dedup cost is linear in total token count,
    * which is why it is the only dedup that stays feasible when a 100 TB
    * corpus has pathological template repetition.
    *
    * Docs shorter than w tokens contribute no spans (standard contract:
    * whole-doc dedup for shorts is [[exactDedup]]'s job).
    */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                      w: Int = 16): DataFrame =
    duplicatedSpansFromDigests(spanDigestRows(df, textCol, idCol, w))

  /** The per-window span-digest rows (id, pos, h) at width `w` — the
    * compute-heavy half of [[duplicatedSpans]] carved out (C125): one
    * codegen'd SpanMd5sExpr pass (tokenize → stride-1 window digests;
    * bit-identical to transform(sequence(0, n−w), i -> md5(concat_ws(" ",
    * slice(toks, i+1, w)))) without the per-window allocations) over the
    * full text, map-only posexplode. The r15 stage probe showed these
    * digest passes ARE the c27/c76 100x cost (map-write-dominated, no
    * reduce hotspot) — exactly the pass a stored digest table
    * ([[graft.sources.SpanStore]]) prepays per NEW document. Digests are
    * exact md5 strings, so they round-trip parquet bit-exactly and
    * counts-from-stored ≡ counts-from-compute by construction (both feed
    * [[duplicatedSpansFromDigests]] verbatim). Docs shorter than w
    * tokens contribute no spans (the standard contract).
    */
  def spanDigestRows(df: DataFrame, textCol: String, idCol: String,
                     w: Int): DataFrame = {
    val toks = TextFunctions.wsTokens(col(textCol))
    df.where(length(trim(col(textCol))) > 0 && size(toks) >= w)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.GraftExpressions.spanMd5s(toks, w))
          .as(Seq("pos", "h")))
  }

  /** [[duplicatedSpans]]'s join half, fed by precomputed digest rows
    * ((id, pos, h) — [[spanDigestRows]] live, or
    * [[graft.sources.SpanStore]] stored): the count
    * aggregate, the hinted shuffle join, and the per-doc rollup are
    * IDENTICAL to the one-shot path.
    */
  def duplicatedSpansFromDigests(spans: DataFrame): DataFrame = {
    val counts = spans.groupBy("h").agg(count(lit(1)).as("n_occ"))
    // shuffle_hash, NOT auto-broadcast (r9 sf1 finding): Catalyst's
    // size estimate for an aggregate output is optimistic enough that
    // at one decade past the usual probe (100x) it broadcast a span-
    // count table whose real HashedRelation was 4 GiB and killed the
    // query — the same join OOMs a real cluster executor identically.
    // The count table is corpus-vocabulary-sized (one row per distinct
    // window), never dim-sized: force the shuffle join.
    spans.join(counts.hint("shuffle_hash"), "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
  }

  /** Multi-scale duplicated-span detection (C76) — [[duplicatedSpans]]
    * generalized from one fixed window to DOUBLING widths (w, 2w, 4w…),
    * closing most of the gap to suffix-array dedup (Lee et al. 2022
    * find arbitrary-length ≥50-char duplication with a suffix array —
    * machinery that does not distribute; a geometric ladder of
    * fixed-width passes over the same [[graft.functions.SpanMd5sExpr]]
    * digest recovers the LENGTH AXIS at bounded cost):
    *
    *   - any duplicated substring of token length L ≥ w is caught by
    *     EVERY level with width ≤ L (all its width-w' windows repeat),
    *     so the largest firing level brackets the duplication's length
    *     within a factor of 2 — the fixed-width pass alone cannot
    *     distinguish a 16-token template echo from a wholesale 500-token
    *     boilerplate block, and the difference decides strip-vs-drop in
    *     a curation pipeline;
    *   - each level is one token-linear digest pass + one hash-keyed
    *     count (the [[duplicatedSpans]] shape — map-side combined,
    *     nothing pairwise), so k levels cost k linear passes:
    *     log₂(Lmax/w) levels cover every duplication length, the same
    *     reason skip lists and HNSW ladders work;
    *   - levels are independent — at 100 TB they run as one union job
    *     whose stages share the scan (Spark reuses the exchange per
    *     level's own keys; no level sees another's state).
    *
    * Output is long-form: (id, w, n_spans, n_dup_spans) — one row per
    * document per level the document is long enough for.
    */
  def multiScaleSpans(df: DataFrame, textCol: String, idCol: String,
                      widths: Seq[Int]): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ >= 2),
      s"widths must be >= 2, got $widths")
    require(widths == widths.sorted && widths.distinct == widths,
      s"widths must be strictly increasing, got $widths")
    widths.map { w =>
      duplicatedSpans(df, textCol, idCol, w)
        .select(col("id"), lit(w).as("w"),
          col("n_spans"), col("n_dup_spans"))
    }.reduce(_ unionByName _)
  }

  /** Duplicated-span EXTENTS (C76b) — the strip-vs-drop decision needs
    * not just HOW MANY windows fired per level ([[multiScaleSpans]]) but
    * WHERE: the merged (start_tok, end_tok) intervals of duplicated text
    * per document per level. Every firing w-token window at position p
    * covers tokens [p, p+w−1]; overlapping-or-adjacent covered runs
    * merge into maximal extents — one row per extent, so a curation
    * rewrite can cut exactly the duplicated stretches (Lee et al. 2022's
    * "remove the repeated substring", localized).
    *
    * Scale shape: per level, the firing-window set is the
    * [[duplicatedSpans]] join output FILTERED to n_occ > 1 BEFORE the
    * join (the count side shrinks to the duplicated vocabulary — at
    * healthy duplication rates orders of magnitude smaller than the
    * full span table); the interval merge is a classic gaps-and-islands
    * sweep: one window partitioned BY DOCUMENT (running max of interval
    * end, island id = running count of gap starts), so the sort is
    * per-document-bounded and the shuffle carries only firing windows —
    * work is proportional to DUPLICATED volume, not corpus volume.
    * Levels stay independent passes (the [[multiScaleSpans]] cost
    * model: k levels = k token-linear scans).
    *
    * Output: (id, w, start_tok, end_tok, ext_len), one row per merged
    * extent per document per level; ext_len = end − start + 1 tokens.
    */
  def spanExtents(df: DataFrame, textCol: String, idCol: String,
                  widths: Seq[Int]): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ >= 2),
      s"widths must be >= 2, got $widths")
    require(widths == widths.sorted && widths.distinct == widths,
      s"widths must be strictly increasing, got $widths")
    widths.map { w =>
      spanExtentsFromDigests(spanDigestRows(df, textCol, idCol, w), w)
    }.reduce(_ unionByName _)
  }

  /** [[spanExtents]]'s merge half at ONE width, fed by precomputed
    * digest rows ((id, pos, h) — [[spanDigestRows]] live, or
    * [[graft.sources.SpanStore]] stored, C132): the
    * duplicated-vocabulary filter, the hinted flag join, and the
    * per-document gaps-and-islands sweep are IDENTICAL to the one-shot
    * path.
    */
  def spanExtentsFromDigests(spans: DataFrame, w: Int): DataFrame =
    extentsFromFired(firedWindows(spans), w)

  /** The FIRED windows of a digest set — the (id, pos) of every window
    * whose digest occurs ≥ 2 times (the duplicated-coverage relation
    * both the extent sweep and the C137 span ledger store). Only the
    * DUPLICATED vocabulary rides the join build side — filtered before
    * the join, and still shuffle_hash (the c27 sf1 rule: a
    * pathological template corpus makes even this table corpus-sized;
    * never trust the optimizer's broadcast estimate for an aggregate
    * output).
    */
  def firedWindows(spans: DataFrame): DataFrame = {
    val dupHashes = spans.groupBy("h")
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") > 1)
      .select("h")
    spans.join(dupHashes.hint("shuffle_hash"), "h")
      .select(col("id"), col("pos").cast("long").as("pos"))
  }

  /** C137: the windows NEWLY fired by one ingest epoch — the span
    * family's delta-pair shape (the C121/C128/C129 incremental
    * contract carried to sub-document granularity). A window (id, pos)
    * is fired once its digest's GLOBAL multiplicity reaches 2; at the
    * epoch where that first happens it belongs to the epoch's delta:
    *
    *   - a REF occurrence (an earlier epoch's window) fires now iff
    *     its digest had multiplicity EXACTLY 1 before this epoch and
    *     the delta re-mints it — the 1→≥2 transition;
    *   - a DELTA occurrence fires on arrival iff its digest repeats
    *     within the delta (`n_inc ≥ 2`) or exists in the ref at all
    *     (its own occurrence makes the total ≥ 2 either way).
    *
    * Union over epochs of these deltas ≡ [[firedWindows]] of the full
    * digest table, by induction on epochs — the SpanLedgerSpec locks
    * the identity on a corpus whose arrivals interleave both cases.
    * Replay-stable: both inputs are bounded frames the caller derives
    * from epochs strictly before / exactly at the replayed epoch, so a
    * redelivery recomputes the identical delta.
    *
    * Scale shape: the ref side is immediately join-pruned to the
    * delta's hash vocabulary (delta×corpus-intersection — the
    * stored-digest serving cost, never corpus×corpus), then backs two
    * result-subtrees (the 1→2 transition filter and the existence
    * probe); every join is hash-keyed and shuffle_hash-hinted (the
    * house rule for aggregate-output build sides).
    */
  def firedWindowDeltas(refSpans: DataFrame, incSpans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val incH = incSpans.groupBy("h").agg(count(lit(1)).as("__n_inc"))
    // ref occurrences of hashes the delta touches — the only ref rows
    // whose fired status can change at this epoch
    val refRel = refSpans.join(incH.select("h").hint("shuffle_hash"), "h")
    val refNew = refRel
      .withColumn("__n_ref", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("__n_ref") === 1)
      .select(col("id"), col("pos").cast("long").as("pos"))
    val refHashes = refRel.select("h").distinct()
      .withColumn("__in_ref", lit(1))
    val incNew = incSpans
      .join(incH.hint("shuffle_hash"), "h")
      .join(refHashes.hint("shuffle_hash"), Seq("h"), "left")
      .where(col("__n_inc") >= 2 || col("__in_ref").isNotNull)
      .select(col("id"), col("pos").cast("long").as("pos"))
    refNew.unionByName(incNew)
  }

  /** [[spanExtents]]' gaps-and-islands half, fed by fired windows
    * ((id, pos) — [[firedWindows]] live, or the C137
    * [[graft.sources.SpanLedger]] stored): identical to the one-shot
    * sweep. Tolerates duplicate (id, pos) rows (a compaction-crash
    * straggler's transient copies): a duplicate always lands inside
    * the covered run its first copy opened, so the merged extents are
    * unchanged — the ledger consumers' absorb rule at window grain.
    */
  def extentsFromFired(fired: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withEnd = fired.select(col("id"),
      col("pos").cast("long").as("pos"),
      (col("pos") + lit(w - 1)).cast("long").as("end"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevMax = max(col("end"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = withEnd
      // a window starting within (or directly after) the covered run
      // extends it; a gap of ≥ 1 uncovered token starts a new extent
      .withColumn("new_ext",
        when(col("pos") > coalesce(prevMax, lit(Long.MinValue)) + 1, 1L)
          .otherwise(0L))
      .withColumn("ext", sum(col("new_ext"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("id"), col("ext"))
      .agg(min("pos").as("start_tok"), max("end").as("end_tok"))
      .select(col("id"), lit(w).as("w"), col("start_tok"),
        col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("ext_len"))
  }

  /** Duplicated-span REMOVAL — the rewrite pass completing
    * [[duplicatedSpans]]'s detection: every w-token window that occurs
    * elsewhere in the corpus keeps exactly ONE canonical occurrence (the
    * lexicographically smallest (doc, pos)); the token positions covered
    * by every other occurrence are dropped from their documents, and the
    * surviving tokens are re-joined in order. This is the span-level
    * dedup of Lee et al. 2022 ("train on each repeated substring once"),
    * as a deterministic distributed rewrite.
    *
    * Canonical choice rides a single BIGINT encoding (doc·2³¹ + pos),
    * identical in the DuckDB replica — no cross-engine struct-ordering
    * subtleties. Bounds: pos < 2³¹ (a 2-billion-token document does not
    * exist; chunk first — [[Chunking]]) and doc ids < 2³², both beyond
    * any real id space this engine feeds.
    *
    * Scale shape: one hash-keyed window pass marks duplicate occurrences
    * (shuffle carries (id, pos, h) triples); the w-fold position explode
    * happens ONLY for marked occurrences, so removal work is
    * proportional to duplicated volume, not corpus volume; the rebuild
    * is one id-keyed aggregation whose per-group state is a document's
    * own tokens. Returns (id, n_tokens, kept_tokens, clean_md5) — the
    * rewritten text is md5-fingerprinted so the gate checks content, not
    * just counts; callers wanting the text itself re-join identically.
    */
  def removeDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                            w: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextFunctions.wsTokens(col(textCol))
    val base = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("id"), toks.as("toks"))
    val spans = base.where(size(col("toks")) >= w)
      .select(col("id"),
        posexplode(graft.functions.GraftExpressions.spanMd5s(col("toks"), w))
          .as(Seq("pos", "h")))
    // canonical election by STRUCT ordering (least (id, pos) lexicographic)
    // — overflow-safe at any id range; the packed id*2^31+pos BIGINT form
    // lives only in the oracle, where ids are known-small (r11 advice).
    val pair = struct(col("id"), col("pos"))
    val byHash = Window.partitionBy("h")
    val marked = spans
      .withColumn("__pair", pair)
      .withColumn("__n", count(lit(1)).over(byHash))
      .withColumn("__canon", min(pair).over(byHash))
      .where(col("__n") > 1 && col("__pair") =!= col("__canon"))
    val removedPos = marked
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("tp"))
      .distinct()
    val tokenPos = base
      .select(col("id"), posexplode(col("toks")).as(Seq("tp", "tok")))
    val rebuilt = tokenPos
      .join(removedPos, Seq("id", "tp"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("kept_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("tp"), col("tok")))),
          s => s.getField("tok")), " ")).as("clean_md5"))
    base
      .select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  /** Extent-STRIP rewrite (C76c) — the other arm of the strip-vs-drop
    * decision [[spanExtents]] informs: where [[removeDuplicatedSpans]]
    * keeps ONE canonical occurrence of every duplicated window (dedup
    * semantics — the corpus keeps the content once), this removes EVERY
    * occurrence (strip semantics — the content is boilerplate/template
    * noise and should survive nowhere). Token positions covered by ANY
    * duplicated w-window are dropped from their documents and the
    * survivors re-joined in order; output matches C29's shape
    * (id, n_tokens, kept_tokens, clean_md5) so the two rewrites are
    * directly comparable.
    *
    * Scale shape: same as [[spanExtents]] — the duplicated-vocabulary
    * filter shrinks the join build side BEFORE the flag join
    * (shuffle_hash by the c27 rule), the position explode runs only
    * for firing windows (duplicated volume), and the rebuild is one
    * id-keyed anti-join + agg over each document's own tokens.
    */
  def stripDuplicatedExtents(df: DataFrame, textCol: String,
                             idCol: String, w: Int = 16): DataFrame =
    stripDuplicatedExtentsFromDigests(df, textCol, idCol,
      spanDigestRows(df, textCol, idCol, w), w)

  /** [[stripDuplicatedExtents]] fed by precomputed digest rows
    * ((id, pos, h) — [[spanDigestRows]] live, or
    * [[graft.sources.SpanStore]] stored — the r15 verdict's
    * ask #4: the strip family re-ran the tokenize+digest map passes,
    * the stage-probe-measured majority of the span-family cost, inside
    * every run). The duplicated-vocabulary filter, flag join, position
    * explode, and rebuild are IDENTICAL to the one-shot path; the doc
    * tokens are still read once for the anti-join rebuild (the rewrite
    * inherently writes surviving tokens), but NO window digest is
    * computed anywhere in this plan.
    */
  def stripDuplicatedExtentsFromDigests(df: DataFrame, textCol: String,
                                        idCol: String, digests: DataFrame,
                                        w: Int = 16): DataFrame = {
    val toks = TextFunctions.wsTokens(col(textCol))
    val base = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("id"), toks.as("toks"))
    val spans = digests.select(col("id").cast("long").as("id"),
      col("pos"), col("h"))
    val dupHashes = spans.groupBy("h")
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") > 1)
      .select("h")
    val covered = spans.join(dupHashes.hint("shuffle_hash"), "h")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("tp"))
      .distinct()
    val tokenPos = base
      .select(col("id"), posexplode(col("toks")).as(Seq("tp", "tok")))
    val rebuilt = tokenPos
      .join(covered, Seq("id", "tp"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("kept_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("tp"), col("tok")))),
          s => s.getField("tok")), " ")).as("clean_md5"))
    base
      .select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  /** Extent-granularity CANONICAL strip (C84) — the composition the
    * strip-vs-drop axis was missing: [[removeDuplicatedSpans]] (C29)
    * keeps one canonical occurrence but at fixed-WINDOW granularity
    * (adjacent windows may elect canonicals in different documents, so
    * a long duplicated run can survive stitched across docs), while
    * [[stripDuplicatedExtents]] (C76c) strips EVERY occurrence and the
    * content survives nowhere. The production dedup rule sits between:
    * merge firing windows into maximal per-document extents
    * ([[spanExtents]]'s sweep), CLUSTER extents by their exact token
    * content (md5), keep the lexicographically least (doc, start)
    * member of each cluster INTACT, strip every other member whole.
    * One canonical copy of each maximal duplicated stretch survives —
    * Lee et al. 2022's "train on it once", at the granularity a human
    * would point at.
    *
    * Partial-overlap extents (shared middle, differing ends) hash to
    * DIFFERENT clusters and each keeps its own canonical — deliberate:
    * the unit of curation here is the maximal duplicated stretch a
    * document actually contains; sub-extent surgery stays C29's
    * window-granularity job.
    *
    * Scale shape: [[spanExtents]]'s cost model (duplicated-vocabulary
    * filter before a shuffle_hash join, per-document bounded island
    * sweep), plus one id-keyed join of the extent table (duplicated
    * volume) back to tokens for the content hash, one hash-keyed
    * window over the extent table to elect canonicals, and the same
    * anti-join rebuild as C29/C76c. Work stays proportional to
    * duplicated volume; no corpus-sized window, no cross join.
    *
    * Returns (id, n_tokens, kept_tokens, clean_md5) — C29/C76c's shape,
    * so all three rewrites compare directly.
    */
  /** @param quality OPTIONAL keep rule (C87): when set, each extent
    *        cluster keeps the member whose HOST DOCUMENT scores highest
    *        (ties to least (doc, start)) instead of plain least
    *        (doc, start) — C36's keep-the-best-copy rule at extent
    *        granularity (duplicates usually differ by truncation or
    *        boilerplate damage, and extent members are content-identical
    *        so the HOST is what differs). The column is any
    *        deterministic projection of the document row (e.g.
    *        [[graft.functions.TextFunctions.qualityScore]]), evaluated
    *        once per document, map-only.
    */
  def canonicalStripExtents(df: DataFrame, textCol: String,
                            idCol: String, w: Int = 16,
                            quality: Option[Column] = None): DataFrame =
    canonicalStripExtentsFromDigests(df, textCol, idCol,
      spanDigestRows(df, textCol, idCol, w), w, quality)

  /** [[canonicalStripExtents]] fed by precomputed digest rows (the
    * [[stripDuplicatedExtentsFromDigests]] seam — C84/C87 served from
    * [[graft.sources.SpanStore]]): extent sweep, content-hash
    * clustering, canonical election, and rebuild are IDENTICAL to the
    * one-shot path; the doc tokens are read once for the content hash
    * and the rebuild, but NO window digest is computed in this plan.
    */
  def canonicalStripExtentsFromDigests(df: DataFrame, textCol: String,
                                       idCol: String, digests: DataFrame,
                                       w: Int = 16,
                                       quality: Option[Column] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextFunctions.wsTokens(col(textCol))
    val base = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("id"), toks.as("toks"),
        quality.getOrElse(lit(0.0)).as("__q"))
    val spans = digests.select(col("id").cast("long").as("id"),
      col("pos"), col("h"))
    val dupHashes = spans.groupBy("h")
      .agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") > 1)
      .select("h")
    val fired = spans.join(dupHashes.hint("shuffle_hash"), "h")
      .select(col("id"), col("pos").cast("long").as("pos"),
        (col("pos") + lit(w - 1)).cast("long").as("end"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevMax = max(col("end"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val extents = fired
      .withColumn("new_ext",
        when(col("pos") > coalesce(prevMax, lit(Long.MinValue)) + 1, 1L)
          .otherwise(0L))
      .withColumn("ext", sum(col("new_ext"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("ext"))
      .agg(min("pos").as("start_tok"), max("end").as("end_tok"))
    // content hash: the extent's own token slice (id-keyed equi-join of
    // the duplicated-volume extent table back to the doc tokens); the
    // host quality rides the same join
    val hashed = extents.join(base, "id")
      .select(col("id"), col("start_tok"), col("end_tok"), col("__q"),
        md5(array_join(slice(col("toks"),
          (col("start_tok") + 1).cast("int"),
          (col("end_tok") - col("start_tok") + 1).cast("int")), " "))
          .as("ehash"))
    // one canonical per identical-content cluster: least (doc, start),
    // elected by STRUCT ordering — lexicographic min of (id, start_tok)
    // — so the election is overflow-safe at ANY id/offset range (the
    // r11 advice: the old id*2^31+start packed BIGINT silently elected
    // the wrong canonical past id 2^32; the packed form survives only
    // in oracles, where ids are known-small). Under the C87 quality
    // rule the best HOST document wins first: max quality over the
    // cluster, then least (doc, start) among the max-quality members —
    // two window aggs over the SAME partition spec, one shuffle.
    val pair = struct(col("id"), col("start_tok"))
    val byContent = Window.partitionBy("ehash")
    val stripped =
      if (quality.isEmpty)
        hashed
          .withColumn("__pair", pair)
          .withColumn("__canon", min(pair).over(byContent))
          .where(col("__pair") =!= col("__canon"))
      else
        hashed
          .withColumn("__pair", pair)
          .withColumn("__maxq", max(col("__q")).over(byContent))
          .withColumn("__best",
            min(when(col("__q") === col("__maxq"), pair))
              .over(byContent))
          .where(col("__pair") =!= col("__best"))
    val covered = stripped
      .select(col("id"),
        explode(sequence(col("start_tok"), col("end_tok"))).as("tp"))
    val tokenPos = base
      .select(col("id"), posexplode(col("toks")).as(Seq("tp", "tok")))
    val rebuilt = tokenPos
      .join(covered, Seq("id", "tp"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("kept_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("tp"), col("tok")))),
          s => s.getField("tok")), " ")).as("clean_md5"))
    base
      .select(col("id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Sorted distinct character n-gram hashes of normalized text
    * (codegen'd [[graft.functions.CharNgramHashesExpr]] — the declarative
    * substr-per-position form cost 35 s at sf0.1).
    */
  def charNgramHashes(c: Column, n: Int = 3): Column =
    graft.functions.GraftExpressions.charNgramHashes(
      TextFunctions.normalize(c), n)

  /** Character n-gram Jaccard over candidate pairs blocked on a cheap prefix
    * key (xxhash of the first `prefixLen` normalized chars). Blocking bounds
    * the pair count; verification is exact Jaccard.
    *
    * Same shuffle discipline as [[minhashDedupPairs]]: the block self-join
    * carries (id, block) pairs ONLY — the gram arrays (the dominant payload,
    * ~|text| longs per doc) never ride the block-keyed shuffle; candidates
    * are DISTINCT'd and only then joined back to the gram sets by id. AQE
    * turns those id joins into broadcasts when the candidate set is small
    * (the common case — blocking keys are near-unique), and degrades to
    * id-keyed shuffle joins when it isn't. Measured 2× over shipping grams
    * through the block join at sf0.1.
    *
    * Returns (id_a, id_b, ngram_jaccard).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        prefixLen: Int = 24): DataFrame = {
    val norm = TextFunctions.normalize(col(textCol))
    val blocks = df.select(col(idCol).as("id"),
      xxhash64(substring(norm, 1, prefixLen)).as("block"))
    val candidates = blocks.as("l").join(blocks.as("r"), Seq("block"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    // NO semi-join prune here, unlike the MinHash verifier: measured at
    // 100k docs (10x replica) the prune LOSES (best-of-3 10.2 s vs 7.0 s)
    // because prefix blocking puts most docs in some candidate pair —
    // pruning to ~everything saves nothing and pays an extra blocks pass.
    // The prune pays off only when the candidate fraction is small (c2's
    // banded LSH); here the gram projection must run corpus-wide anyway.
    val grams = df.select(col(idCol).as("id"),
      charNgramHashes(col(textCol), n).as("grams"))
    candidates
      .join(grams.select(col("id").as("id_a"), col("grams").as("g_a")), "id_a")
      .join(grams.select(col("id").as("id_b"), col("grams").as("g_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("g_a"), col("g_b")).as("ngram_jaccard"))
      .where(col("ngram_jaccard") >= threshold) // exact, THEN display rounding
      .groupBy("id_a", "id_b")
      .agg(round(max("ngram_jaccard"), 6).as("ngram_jaccard"))
  }

  /** Quality-aware canonical selection (C36): resolve near-dup pairs
    * into clusters ([[dupClusters]]) and keep the BEST member of each —
    * highest `quality`, ties to the lowest id — instead of the
    * arbitrary min-id survivor. This is what production dedup actually
    * does (e.g. the C4/RefinedWeb pipelines keep the longest/cleanest
    * copy): duplicates usually differ by truncation, boilerplate, or
    * OCR damage, and dropping the good copy because it sorted second is
    * a silent quality loss. Docs in no pair survive as their own
    * singleton cluster.
    *
    * Scale shape: one left join of docs onto the (id → cluster) map —
    * both sides keyed on id — then a map-combined max-struct argmax per
    * cluster; the quality column is any deterministic projection
    * (e.g. [[graft.functions.TextFunctions.qualityScore]]), evaluated
    * once, map-only. No window over the corpus, no per-cluster sort.
    *
    * Returns one row per kept doc: (idCol, quality, cluster_size).
    */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                         quality: Column): DataFrame = {
    val clusters = dupClusters(pairs) // (id, cluster_id)
    val scored = docs.select(col(idCol).as("__id"), quality.as("__q"))
    scored.join(clusters.withColumnRenamed("id", "__id"), Seq("__id"), "left")
      .withColumn("__cl", coalesce(col("cluster_id"), col("__id")))
      .groupBy("__cl")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("__q"), (-col("__id")).as("__nid"))).as("__m"))
      .select((-col("__m.__nid")).as(idCol), col("__m.__q").as("quality"),
        col("cluster_size"))
  }

  // ------------------------------------------------- estimator calibration

  /** MinHash estimator-calibration pairs (C83) — C2's banded LSH drives
    * kept/dropped decisions, but nothing in the pipeline measured how
    * well its ESTIMATOR tracks exact Jaccard, or whether the banded
    * candidacy S-curve sits where (1 − (1 − j^r)^b) says it should.
    * This builds the measurement set: every id-sampled document is
    * paired with PLANTED VARIANTS at a deterministic overlap grid —
    * variant f keeps the first ⌊n·f⌋ normalized words and replaces the
    * tail with synthetic tokens (`x<id>q<i>`) no real document
    * contains, so planted pairs sweep exact Jaccard from 0 to 1. Per
    * pair it emits the exact shingle Jaccard (integer ppm, truncating),
    * the k-component signature-agreement estimate, and the banded
    * candidacy bit (would C2's LSH have surfaced this pair?).
    *
    * Scale shape: the pair is (document, its own constructed variant) —
    * both sides live in the SAME ROW, so exact Jaccard, estimate, and
    * candidacy are all per-row projections: a map-only scan of the
    * id-sampled slice, no join, no shuffle, no LSH bucket exchange. At
    * 100 TB the sample modulus bounds cost to corpus/sampleMod rows of
    * codegen'd expression work.
    *
    * Returns (id, f_ppm, exact_ppm, est_ppm, candidate).
    */
  /** The shared planted-variant grid ([[minhashCalibrationPairs]] /
    * [[simhashCalibrationReport]]): every id-sampled doc paired with
    * variants keeping the first ⌊n·f⌋ normalized words, tail replaced
    * by synthetic tokens. Returns (id, f_ppm, w, v) — original and
    * variant token arrays in ONE ROW, so every downstream similarity
    * measurement is a map-only projection.
    */
  private def calibrationVariants(df: DataFrame, textCol: String,
                                  idCol: String, sampleMod: Int,
                                  overlapGridPpm: Seq[Long]): DataFrame = {
    val G = graft.functions.GraftExpressions
    val base = df
      .where(col(idCol) % sampleMod === 0)
      .select(col(idCol).as("id"),
        TextFunctions.wsTokens(TextFunctions.normalize(col(textCol)))
          .as("w"))
      .where(size(col("w")) >= 5)
      .select(col("id"), col("w"), size(col("w")).cast("long").as("n"))
    base
      .withColumn("f_ppm", explode(array(overlapGridPpm.map(lit): _*)))
      .withColumn("m", G.longDiv(col("n") * col("f_ppm"), lit(1000000L)))
      // sequence(m+1, n) DESCENDS when m = n — guard the full-overlap row
      .withColumn("v", concat(
        slice(col("w"), lit(1), col("m").cast("int")),
        when(col("m") < col("n"),
          transform(sequence(col("m") + 1, col("n")),
            i => concat(lit("x"), col("id").cast("string"),
              lit("q"), i.cast("string"))))
          .otherwise(array().cast("array<string>"))))
  }

  val CalibrationGridPpm: Seq[Long] = (0L to 8L).map(_ * 125000L)

  def minhashCalibrationPairs(df: DataFrame, textCol: String,
                              idCol: String, k: Int = 64, bands: Int = 16,
                              sampleMod: Int = 3,
                              overlapGridPpm: Seq[Long] =
                                CalibrationGridPpm): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val G = graft.functions.GraftExpressions
    val paired = calibrationVariants(df, textCol, idCol, sampleMod,
      overlapGridPpm)
    val sets = paired.select(
      col("id"), col("f_ppm"),
      G.shingleHashes(col("w"), 3).as("sh_a"),
      G.shingleHashes(col("v"), 3).as("sh_b"),
      G.minhashSignature(col("w"), 3, k).as("sig_a"),
      G.minhashSignature(col("v"), 3, k).as("sig_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = size(col("sh_a")).cast("long") +
      size(col("sh_b")).cast("long") - inter
    val estMatches = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), (acc, e) => acc + e)
    val candidate = (0 until bands)
      .map(j => slice(col("sig_a"), j * r + 1, r) ===
        slice(col("sig_b"), j * r + 1, r))
      .reduce(_ || _)
    sets.select(col("id"), col("f_ppm"),
      G.longDiv(inter * lit(1000000L), union).as("exact_ppm"),
      G.longDiv(estMatches * lit(1000000L), lit(k.toLong)).as("est_ppm"),
      candidate.as("candidate"))
  }

  /** The C83 calibration REPORT: [[minhashCalibrationPairs]] bucketed
    * into 20 exact-Jaccard bins. Per bucket: pair count, truncating mean
    * exact/estimated ppm, the MEASURED banded-candidacy rate, and the
    * THEORETICAL S-curve 1 − (1 − j^r)^b at the bucket's mean exact
    * Jaccard — the table that says whether C2's threshold sits where
    * the math puts it and how biased the estimator runs per bin.
    *
    * Cross-engine exactness: bucket ids, counts, and means are integer
    * arithmetic; the theory column is built from ONE correctly-rounded
    * division followed by a left-associated chain of IEEE
    * multiplications (no `pow`) — bit-identical in any IEEE-754 engine,
    * so the DuckDB oracle reproduces bucket/n_pairs/mean_exact_ppm/
    * theory_cand exactly from its own string-shingle rebuild of the
    * planted grid. mean_est_ppm and cand_ppm have no cross-engine twin
    * (the XXH64 signature chain is engine-native) — they are the
    * SPEC-locked columns: DedupSpec pins est-vs-exact bias and
    * measured-vs-theory S-curve agreement.
    */
  def minhashCalibrationReport(df: DataFrame, textCol: String,
                               idCol: String, k: Int = 64, bands: Int = 16,
                               sampleMod: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val G = graft.functions.GraftExpressions
    val pairs = minhashCalibrationPairs(df, textCol, idCol, k, bands,
      sampleMod)
    val agg0 = pairs
      .groupBy(least(lit(19L), G.longDiv(col("exact_ppm"), lit(50000L)))
        .as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("exact_ppm")).as("__se"),
        sum(col("est_ppm")).as("__sm"),
        sum(col("candidate").cast("long")).as("__sc"))
    val meanExact = G.longDiv(col("__se"), col("n_pairs"))
    val j = meanExact.cast("double") / lit(1000000.0)
    val jr = Seq.fill(r)(j).reduce(_ * _)
    val q = lit(1.0) - jr
    val theory = lit(1.0) - Seq.fill(bands)(q).reduce(_ * _)
    agg0.select(col("bucket"), col("n_pairs"),
        meanExact.as("mean_exact_ppm"),
        G.longDiv(col("__sm"), col("n_pairs")).as("mean_est_ppm"),
        G.longDiv(col("__sc") * lit(1000000L), col("n_pairs"))
          .as("cand_ppm"),
        round(theory, 6).as("theory_cand"))
      .orderBy("bucket")
  }

  /** C101: LSH BANDING tuning curve — the c98 recall-vs-cost question
    * asked of the dedup candidate generator: for each banding of the
    * SAME k=64 signature (bands b × rows r = k/b), what fraction of
    * pairs at each true-overlap level would become candidates? More
    * bands (smaller r) catches lower overlaps AND floods more noise —
    * the S-curve 1 − (1 − j^r)^b moves left as b grows; this table is
    * how an operator picks C2's banding against a corpus instead of
    * guessing. Signatures are computed ONCE over the c83 planted
    * grid; each config's candidacy is re-derived from the same arrays
    * (banding is a slicing decision, not a hashing one), so the sweep
    * costs one map-only pass + one agg regardless of config count.
    *
    * Column split (the c83 contract): bucket/n_pairs/mean_exact_ppm/
    * theory_cand replay exactly in the DuckDB oracle (integer
    * arithmetic + the one-division IEEE multiplication chain);
    * MEASURED cand_ppm rides the XXH64 signature chain (engine-native,
    * no cross-engine twin) and is SPEC-locked: monotone in b at every
    * bucket, endpoint contracts, and agreement with theory.
    */
  def minhashBandingCurve(df: DataFrame, textCol: String, idCol: String,
                          k: Int = 64, bandsGrid: Seq[Int] = Seq(4, 8, 16, 32),
                          sampleMod: Int = 3): DataFrame = {
    require(bandsGrid.nonEmpty && bandsGrid.forall(b => b > 0 && k % b == 0),
      s"every bands value must divide k=$k: $bandsGrid")
    val G = graft.functions.GraftExpressions
    // one signature pass (the expensive projection), shared by configs
    val paired = calibrationVariants(df, textCol, idCol, sampleMod,
      CalibrationGridPpm)
    val sets = paired.select(
      col("id"),
      G.shingleHashes(col("w"), 3).as("sh_a"),
      G.shingleHashes(col("v"), 3).as("sh_b"),
      G.minhashSignature(col("w"), 3, k).as("sig_a"),
      G.minhashSignature(col("v"), 3, k).as("sig_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = size(col("sh_a")).cast("long") +
      size(col("sh_b")).cast("long") - inter
    val perConfig = bandsGrid.map { b =>
      val r = k / b
      val candidate = (0 until b)
        .map(j => slice(col("sig_a"), j * r + 1, r) ===
          slice(col("sig_b"), j * r + 1, r))
        .reduce(_ || _)
      struct(lit(b).as("bands"), candidate.cast("long").as("cand"))
    }
    val long = sets.select(
        G.longDiv(inter * lit(1000000L), union).as("exact_ppm"),
        explode(array(perConfig: _*)).as("cfg"))
      .select(col("exact_ppm"), col("cfg.bands").as("bands"),
        col("cfg.cand").as("cand"))
    val agg0 = long
      .groupBy(col("bands"),
        least(lit(19L), G.longDiv(col("exact_ppm"), lit(50000L)))
          .as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("exact_ppm")).as("__se"),
        sum(col("cand")).as("__sc"))
    val meanExact = G.longDiv(col("__se"), col("n_pairs"))
    val j = meanExact.cast("double") / lit(1000000.0)
    // per-config theory at the bucket's mean exact Jaccard: ONE
    // correctly-rounded division then left-associated IEEE
    // multiplications (the c83 exactness rule — no pow)
    val theoryByBands = bandsGrid.map { b =>
      val r = k / b
      val jr = Seq.fill(r)(j).reduce(_ * _)
      val q = lit(1.0) - jr
      (b, lit(1.0) - Seq.fill(b)(q).reduce(_ * _))
    }
    val theory = theoryByBands.foldRight(lit(Double.NaN): Column) {
      case ((b, t), acc) => when(col("bands") === b, t).otherwise(acc)
    }
    agg0.select(col("bands"), col("bucket"), col("n_pairs"),
        meanExact.as("mean_exact_ppm"),
        round(theory, 6).as("theory_cand"),
        G.longDiv(col("__sc") * lit(1000000L), col("n_pairs"))
          .as("cand_ppm"))
      .orderBy("bands", "bucket")
  }

  /** SimHash estimator calibration (C88) — [[minhashCalibrationReport]]'s
    * harness pointed at the OTHER candidate generator: over the same
    * planted-variant grid, measure per exact-Jaccard bucket the mean
    * 64-bit SimHash Hamming distance and the C3 candidacy rate
    * (hamming ≤ maxHamming) — the table that says what Jaccard range
    * C3's hamming threshold actually captures, next to C83's curve for
    * the banded MinHash. No closed-form S-curve here (SimHash tracks
    * the cosine of the token-frequency profile, not Jaccard), so the
    * calibration IS the deliverable; monotonicity and the endpoint
    * contracts (J=1 → hamming 0 and 100% candidacy; disjoint → ~32
    * bits and ~0%) are spec-locked. Same scale shape as C83: one
    * map-only pass over the sampled slice, one 20-row agg.
    *
    * Output: (bucket, n_pairs, mean_exact_ppm, mean_hamming_x100,
    * cand_ppm) — exact columns oracle-checkable, hamming columns
    * engine-native (the xxhash64 vote chain has no SQL twin).
    */
  def simhashCalibrationReport(df: DataFrame, textCol: String,
                               idCol: String, maxHamming: Int = 3,
                               sampleMod: Int = 3): DataFrame = {
    val G = graft.functions.GraftExpressions
    val paired = calibrationVariants(df, textCol, idCol, sampleMod,
      CalibrationGridPpm)
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val union = size(col("sh_a")).cast("long") +
      size(col("sh_b")).cast("long") - inter
    val pairs = paired.select(
        G.shingleHashes(col("w"), 3).as("sh_a"),
        G.shingleHashes(col("v"), 3).as("sh_b"),
        G.simhash64(col("w")).as("s_a"),
        G.simhash64(col("v")).as("s_b"))
      .select(
        G.longDiv(inter * lit(1000000L), union).as("exact_ppm"),
        bit_count(col("s_a").bitwiseXOR(col("s_b"))).cast("long")
          .as("hamming"))
    pairs
      .groupBy(least(lit(19L), G.longDiv(col("exact_ppm"), lit(50000L)))
        .as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("exact_ppm")).as("__se"),
        sum(col("hamming")).as("__sh"),
        sum((col("hamming") <= maxHamming).cast("long")).as("__sc"))
      .select(col("bucket"), col("n_pairs"),
        G.longDiv(col("__se"), col("n_pairs")).as("mean_exact_ppm"),
        G.longDiv(col("__sh") * lit(100L), col("n_pairs"))
          .as("mean_hamming_x100"),
        G.longDiv(col("__sc") * lit(1000000L), col("n_pairs"))
          .as("cand_ppm"))
      .orderBy("bucket")
  }
}
