package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Versioned SPAN-DIGEST persistence (C125) — the stored-code
  * discipline applied to the sub-document dedup family: the r15 stage
  * probe (`C76_STAGES_local_r15.json`) showed the c27/c76 cost is the
  * map-side DIGEST passes — tokenize + stride-1 window md5 over every
  * byte of text, once per level, once per QUERY. A stored digest table
  * pays that pass once per NEW document per level; what remains at
  * serve time is the count aggregate and the hinted shuffle join.
  *
  * An [[EpochStore]] with one data table per ladder level:
  *
  *   - `span_digest_spec`: ONE row (family + the strictly-increasing
  *     width list as "8,16,32") — a width-w digest only counts against
  *     digests of the SAME width and tokenizer, so a ladder change is a
  *     new VERSION.
  *   - `span_digests/pv<version>/w<width>/`: per level (see [[level]])
  *     the exact [[graft.operators.Dedup.spanDigestRows]] output
  *     ((id, pos, h)). A duplicated replay epoch would be VISIBLE
  *     (every window's n_occ doubles, flipping the whole corpus to
  *     duplicated), which is exactly why the c125 oracle — the c76
  *     replay unchanged — cannot be fooled by one.
  *
  * Digests are md5 hex strings and positions are ints, so the table
  * round-trips parquet bit-exactly and counts-from-stored ≡
  * counts-from-compute BY CONSTRUCTION (both paths feed
  * [[graft.operators.Dedup.duplicatedSpansFromDigests]] verbatim).
  * [[vacuumRetired]] removes a retired `pv<N>` tree whole, all width
  * subtrees included.
  */
object SpanStore extends EpochStore(
    "span_digest_spec", Seq("family", "widths"),
    "span_digests", "pv", Nil, None) {

  /** Publish one digest-ladder spec as a new committed version under
    * `root`.
    */
  def publishSpec(spark: SparkSession, root: String, family: String,
                  widths: Seq[Int],
                  batchId: Option[Long] = None): MultiPublish.MultiReport = {
    import spark.implicits._
    publish(spark, root,
      Seq((family, widths.mkString(","))).toDF("family", "widths"), batchId)
  }

  private def ladder(spec: Row): Seq[Int] =
    spec.getString(1).split(',').toSeq.filter(_.nonEmpty).map(_.toInt)

  /** Non-empty family; a parseable, non-empty, strictly-increasing
    * width list with every width ≥ 2 (the
    * [[graft.operators.Dedup.multiScaleSpans]] contract).
    */
  protected def wellformed(spec: Row): Option[String] = {
    val ws = ladder(spec)
    if (spec.getString(0).isEmpty) Some("empty digest family")
    else if (ws.isEmpty) Some("empty width ladder")
    else if (ws.exists(_ < 2)) Some(s"widths $ws must all be >= 2")
    else if (ws != ws.sorted || ws.distinct != ws)
      Some(s"widths $ws must be strictly increasing")
    else None
  }

  /** Load an explicit spec version: (family, widths). */
  def loadSpecAt(spark: SparkSession, root: String,
                 version: Int): (String, Seq[Int]) = {
    val r = specRow(spark, root, version)
    (r.getString(0), ladder(r))
  }

  /** The digest table of ladder level `w`: (id, pos, h) rows under
    * `pv<version>/w<w>`, appended and read one level at a time.
    */
  def level(w: Int): EpochStore = {
    require(w >= 2, s"width $w < 2")
    new EpochStore(specTable, Seq("family", "widths"), dataTable, "pv",
        Seq("id", "pos", "h"), Some(w)) {
      protected def wellformed(spec: Row): Option[String] =
        SpanStore.wellformed(spec)

      /** An UNDECLARED width appended under a published spec version
        * would land silently and never serve (serving walks the
        * declared ladder only) — when the target spec version is
        * already published, the append fails loudly instead.
        */
      override protected def stored(digests: DataFrame, root: String,
                                    version: Int): DataFrame = {
        publishedSpec(digests.sparkSession, root, version).foreach { spec =>
          val widths = ladder(spec)
          require(widths.contains(w),
            s"width $w is not in spec v$version's declared ladder " +
              s"${widths.mkString("{", ",", "}")} — a mis-keyed append " +
              "would silently never serve")
        }
        super.stored(digests, root, version)
      }
    }
  }
}
