package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A generated curation corpus plus its expected answers. */
final case class Docs(
    documentsPath: String, pairsPath: String, texts: Array[String],
    // exact dedup: distinct normalized texts, texts seen more than once,
    // sum of the smallest doc_id per text
    exactGroups: Long, exactMulti: Long, exactSumKeep: Long,
    // every pair inside a planted group (a < b); all have Jaccard >= 0.7
    plantedPairs: Set[(Long, Long)],
    // planted groups: clusters, members, sum of cluster ids over members
    clusters: Long, clusterMembers: Long, clusterIdSum: Long,
    // chunkTokens at size 32 / overlap 8: chunks and their token sum
    chunks: Long, chunkTokens: Long,
    // packSequences per lang at the budget: docs, tokens, packs, sum pack_id
    packs: Map[String, (Long, Long, Long, Long)],
    textBytes: Long)

/** Seeded corpus in the testdata `documents.parquet` schema
  * (doc_id, text, lang, source, n_chars) over a Zipf vocabulary, with
  * planted exact copies and one-word-edited near copies at fixed shares.
  * Near copies are made only from documents of at least 80 tokens, where a
  * one-word edit keeps word-3-shingle Jaccard above 0.9, so MinHash-LSH
  * (k 64, 16 bands) finds each planted pair with probability 1 - 1e-9.
  */
object DocsGen {
  val vocabulary = 4000
  val zipfS = 1.1
  val exactShare = 0.03
  val nearShare = 0.03
  val langs: IndexedSeq[(String, Double)] =
    IndexedSeq("en" -> 0.40, "pt" -> 0.25, "es" -> 0.15, "fr" -> 0.10, "de" -> 0.10)
  val chunkSize = 32
  val chunkOverlap = 8
  val packBudget = 2048L

  private val syllables = IndexedSeq("ka", "te", "ri", "mo", "su", "la", "ne",
    "po", "vi", "do", "gu", "fa", "be", "zo", "hi", "ju", "xa", "qe", "wi", "yo")
  /** Word i: two syllables below 400, three above; distinct by construction. */
  def word(i: Int): String =
    syllables(i % 20) + syllables(i / 20 % 20) + (if (i >= 400) syllables(i / 400 % 20) else "")

  def shingles(tokens: Array[String]): Set[String] =
    if (tokens.length < 3) Set(tokens.mkString(" "))
    else tokens.sliding(3).map(_.mkString(" ")).toSet
  def jaccard(a: Array[String], b: Array[String]): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }
  def tokens(text: String): Array[String] = text.trim.split("\\s+")

  def generate(spark: SparkSession, root: Path, seed: Long, nDocs: Int): Docs = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val cdf = {
      val w = (1 to vocabulary).map(k => 1.0 / math.pow(k, zipfS))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, vocabulary - 1)
    }
    def pickLang(): String = {
      val u = r.nextDouble()
      var acc = 0.0
      langs.find { case (_, p) => acc += p; u < acc }.getOrElse(langs.last)._1
    }
    val nExact = (nDocs * exactShare).toInt
    val nNear = (nDocs * nearShare).toInt
    val nBase = nDocs - nExact - nNear
    // (tokens, lang, group) per document before ids are assigned
    val toks = mutable.ArrayBuffer.empty[Array[String]]
    val lang = mutable.ArrayBuffer.empty[String]
    val group = mutable.ArrayBuffer.empty[Int]
    for (_ <- 0 until nBase) {
      val n = 16 + (180 * math.pow(r.nextDouble(), 2)).toInt
      toks += Array.fill(n)(word(draw()))
      lang += pickLang()
      group += -1
    }
    var exactLeft = nExact
    var nearLeft = nNear
    var nGroups = 0
    val longDocs = (0 until nBase).filter(toks(_).length >= 80).toArray
    var next = 0
    while ((exactLeft + nearLeft) > 0 && next < longDocs.length) {
      // shuffled walk over the long documents: each starts one group
      val j = next + r.nextInt(longDocs.length - next)
      val orig = longDocs(j); longDocs(j) = longDocs(next); longDocs(next) = orig
      next += 1
      group(orig) = nGroups
      for (_ <- 0 to r.nextInt(3) if exactLeft + nearLeft > 0) {
        val exact = nearLeft == 0 || (exactLeft > 0 && r.nextBoolean())
        val t = toks(orig).clone()
        if (exact) exactLeft -= 1
        else {
          nearLeft -= 1
          val p = r.nextInt(t.length)
          var w = word(draw())
          while (w == t(p)) w = word(draw())
          t(p) = w
        }
        toks += t; lang += lang(orig); group += nGroups
      }
      nGroups += 1
    }
    val n = toks.size
    // doc_id = position in a seeded shuffle, so copies are scattered
    val ids = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val texts = new Array[String](n)
    val langOf = new Array[String](n)
    for (i <- 0 until n) { texts(ids(i)) = toks(i).mkString(" "); langOf(ids(i)) = lang(i) }
    val sources = Array.fill(n)("src" + r.nextInt(10))

    val rows = (0 until n).map(id =>
      Row(id.toLong, texts(id), langOf(id), sources(id), texts(id).length.toLong))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val documentsPath = root.resolve("documents.parquet").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(documentsPath)

    // planted groups: members by group, a chained edge list for dupClusters
    val members = (0 until n).filter(group(_) >= 0).groupBy(group(_))
      .values.map(_.map(i => ids(i).toLong).toArray).toSeq.sortBy(_.min)
    val chain = members.flatMap { m =>
      val order = m.clone()
      for (i <- order.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
      }
      order.sliding(2).map(p => Row(p(0), p(1)))
    }
    val pairsPath = root.resolve("planted_pairs.parquet").toString
    spark.createDataFrame(spark.sparkContext.parallelize(chain, 1),
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
      .write.mode("overwrite").parquet(pairsPath)

    val planted = members.flatMap { m =>
      for (a <- m.toSeq; b <- m.toSeq if a < b) yield {
        val jac = jaccard(tokens(texts(a.toInt)), tokens(texts(b.toInt)))
        require(jac >= 0.7, s"planted pair ($a, $b) has Jaccard $jac")
        (a, b)
      }
    }.toSet

    val keep = mutable.Map.empty[String, Long]
    texts.indices.foreach(i => if (!keep.contains(texts(i))) keep(texts(i)) = i.toLong)
    val multi = texts.groupBy(identity).count(_._2.length > 1)

    val step = chunkSize - chunkOverlap
    var chunks, chunkToks = 0L
    texts.foreach { t =>
      val k = tokens(t).length
      val c = math.max(math.ceil((k - chunkOverlap).toDouble / step).toInt, 1)
      chunks += c
      for (j <- 0 until c) chunkToks += math.min(chunkSize, k - j * step)
    }
    val packs = langs.map(_._1).map { l =>
      var docs, cum, sumPack, last = 0L
      texts.indices.filter(langOf(_) == l).foreach { i =>
        val k = tokens(texts(i)).length
        val pack = cum / packBudget
        docs += 1; sumPack += pack; last = pack; cum += k
      }
      l -> (docs, cum, if (docs == 0) 0L else last + 1, sumPack)
    }.toMap

    Docs(documentsPath, pairsPath, texts,
      keep.size.toLong, multi.toLong, keep.values.sum, planted,
      members.size.toLong, members.map(_.length.toLong).sum,
      members.map(m => m.length.toLong * m.min).sum,
      chunks, chunkToks, packs,
      texts.map(_.getBytes("UTF-8").length.toLong).sum)
  }
}
