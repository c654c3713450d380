package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.`type`.TypeReference
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.functions.TextFunctions
import graft.operators.{BalancedRepartition, Chunking, Dedup, Recode}
import graft.pipeline.{CensoConfig, CensoPipeline}
import graft.sources.{CatalogTables, SchemaCsv}

/** An op's answer check: `error` is None when the answer is right; `facts`
  * are sizes the check measured on the op's output.
  */
final case class Checked(error: Option[String], facts: Map[String, Double] = Map.empty)

/** One closed-loop workload. `run` does the timed part of an op and returns
  * its answer check, which the harness runs after stopping the clock.
  */
trait Workload {
  def opTypes: IndexedSeq[String]
  /** Generates the inputs under `dir` and prepares them; returns input sizes. */
  def setUp(spark: SparkSession, dir: Path): Map[String, Double]
  def run(kind: Int): () => Checked
}

object Workload {
  def apply(name: String, seed: Long, t: Tracer, testdata: String,
            expected: Path): Workload = name match {
    case "censo" => new CensoWorkload(seed, t, testdata, expected)
    case "curation_dedup" => new CurationDedup(seed, t)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** The censo transform+load, as the reference's yearly run does it: schema
  * CSV read per region shard, union, year rules and recodes, balanced
  * repartition, idempotent partitioned parquet, catalog table.
  */
final class CensoLoader(spark: SparkSession, t: Tracer, val censo: Censo, val lake: Path) {
  val table = "escolas"
  /** Files in the reference's layout hold as many rows per file at most. */
  val rowsPerFile = 2500L
  private val maps = CensoConfig.loadMaps(censo.mapsPath.toString)
  private val schema = CensoConfig.loadSchema(censo.schemaPath.toString)
  private val conf = new Configuration()

  /** Loads `years` in one pass: an op loads one year; the set-up
    * back-fills all ten at once.
    */
  def load(years: Seq[Int]): Unit = {
    val shards = years.map { year =>
      year -> CensoGen.regions.map { r =>
        val file = censo.regionFile(year, r.shard)
        // the year's layout is the schema's fields in the file's header order
        val in = Files.newBufferedReader(file)
        val header = try in.readLine().split('|') finally in.close()
        t("sources.csv_read")(SchemaCsv.read(spark, file.toString,
          StructType(header.map(schema(_)))))
      }
    }
    val transformed = t("pipeline.build")(Recode.unionAll(shards.map { case (year, frames) =>
      val recoded = t("pipeline.recode")(
        CensoPipeline.run(Recode.unionAll(frames), year, maps, renames = Map.empty))
      CensoPipeline.escolasYearRules(recoded, year)
    }))
    val balanced = t("operators.balance_count")(
      BalancedRepartition(transformed, Seq("NU_ANO_CENSO"), rowsPerFile))
    t("sources.sink_write")(SchemaCsv.writePartitionedIdempotent(
      balanced, lake.toString, Seq("NU_ANO_CENSO")))
    t("sources.catalog_register")(CatalogTables.registerExternal(
      spark, table, lake.toString, Seq("NU_ANO_CENSO")))
  }

  def yearDir(year: Int): Path = lake.resolve(s"NU_ANO_CENSO=$year")

  // footer row counts by (file, size, mtime): a rewritten file is read again
  private val footerRows = mutable.Map.empty[(Path, Long, Long), Long]

  /** Row count of every parquet file in a year's partition, from footers. */
  def fileRows(year: Int): Seq[(Path, Long)] = {
    val dir = yearDir(year)
    if (!Files.isDirectory(dir)) Nil
    else {
      val files = Files.list(dir)
      try files.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
        .map { f =>
          val key = (f, Files.size(f), Files.getLastModifiedTime(f).toMillis)
          f -> footerRows.getOrElseUpdate(key, {
            val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toString), conf))
            try reader.getRecordCount finally reader.close()
          })
        }
      finally files.close()
    }
  }

  /** Every loaded year holds exactly its generated row count; every other
    * year holds nothing.
    */
  def checkRowCounts(loaded: Set[Int]): Option[String] =
    CensoGen.years.iterator.map { y =>
      val want = if (loaded(y)) censo.perYear(y).rows else 0L
      Workload.mismatch(s"rows of $y", fileRows(y).map(_._2).sum, want)
    }.collectFirst { case Some(e) => e }

  /** The catalog lists exactly the loaded years as partitions. */
  def checkCatalog(loaded: Set[Int]): Option[String] =
    Workload.mismatch("catalog partitions",
      spark.sql(s"SHOW PARTITIONS $table").collect().map(_.getString(0)).toSet,
      loaded.map(y => s"NU_ANO_CENSO=$y"))

  /** Recodes, casts, dates and year rules of one loaded year, summed
    * straight from the parquet files the load wrote.
    */
  def checkYear(year: Int): Option[String] = {
    val sums = new Array[Long](11)
    for ((f, _) <- fileRows(year)) {
      val reader = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f.toString)).withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val row = g
          def has(c: String) = row.getFieldRepetitionCount(c) > 0
          def int(c: String) = if (has(c)) row.getInteger(c, 0).toLong else 0L
          def str(c: String) = if (has(c)) Some(row.getString(c, 0)) else None
          def yes(c: String) = if (has(c) && row.getBoolean(c, 0)) 1L else 0L
          val inicio = if (has("DT_ANO_LETIVO_INICIO"))
            Some(java.time.LocalDate.ofEpochDay(row.getInteger("DT_ANO_LETIVO_INICIO", 0)))
          else None
          val v = Array(1L, int("QT_MATRICULAS"), int("QT_FUNCIONARIOS"),
            if (str("TP_DEPENDENCIA").contains("Municipal")) 1L else 0L,
            yes("IN_ESGOTO_FOSSA"), yes("IN_ANY"), yes("IN_MANT_ESCOLA_PRIV_ONG_OSCIP"),
            if (inicio.isDefined) 1L else 0L, inicio.map(_.getDayOfMonth.toLong).getOrElse(0L),
            if (has("CO_LINGUA_INDIGENA_1")) 1L else 0L,
            if (has("TP_SITUACAO_FUNCIONAMENTO")) 1L else 0L)
          for (i <- v.indices) sums(i) += v(i)
          g = reader.read()
        }
      } finally reader.close()
    }
    Workload.mismatch(s"checksums of $year", sums.toSeq, censo.perYear(year).values)
  }

  /** Files and bytes in a year's partition, and the largest file's rows
    * over the mean.
    */
  def layout(year: Int): Map[String, Double] = {
    val rows = fileRows(year)
    val mean = rows.map(_._2).sum.toDouble / math.max(rows.size, 1)
    Map(
      "sink_files" -> rows.size.toDouble,
      "sink_bytes" -> rows.map(f => Files.size(f._1)).sum.toDouble,
      "max_file_rows_ratio" -> (if (mean > 0) rows.map(_._2).max / mean else 0.0))
  }
}

object CensoSizes {
  /** Schools in 2011; later years grow 5 % a year (61k rows, 9 MB of CSV). */
  val baseRows = 5000

  def of(c: Censo): Map[String, Double] = Map(
    "input_rows" -> c.totalRows.toDouble, "input_bytes" -> c.totalCsvBytes.toDouble,
    "years" -> CensoGen.years.size.toDouble, "regions" -> CensoGen.regions.size.toDouble)
}

/** The censo transform+load and the queries BigQuery served over its
  * catalog, on the same files. Set-up back-fills all ten years. Op type 0
  * re-loads one year (the reference's idempotent yearly re-load; years in a
  * seeded order), so the queries read the file layout the loads write; the
  * other types are four SQL shapes over the catalog and four engine query
  * keys over the TPC-H-like testdata.
  */
final class CensoWorkload(seed: Long, t: Tracer, testdata: String, expectedPath: Path)
    extends Workload {
  private val keys = IndexedSeq("q1_agg", "q3_join_topk", "q5_star_join", "b19_range_join")
  private val sql: IndexedSeq[(String, String)] = IndexedSeq(
    "sql_year_by_dependencia" ->
      """SELECT TP_DEPENDENCIA, count(*), sum(QT_SALAS_EXISTENTES)
        |FROM escolas WHERE NU_ANO_CENSO = 2020 GROUP BY TP_DEPENDENCIA""".stripMargin,
    "sql_trend" ->
      """SELECT NU_ANO_CENSO, count(*), count_if(IN_INTERNET), sum(QT_MATRICULAS)
        |FROM escolas GROUP BY NU_ANO_CENSO""".stripMargin,
    "sql_lingua_join" ->
      """SELECT l.NO_LINGUA, count(*) FROM escolas e
        |JOIN lingua l ON e.CO_LINGUA_INDIGENA_1 = l.CO_LINGUA
        |GROUP BY l.NO_LINGUA""".stripMargin,
    "sql_region_top5" ->
      """SELECT CO_REGIAO, CO_ENTIDADE, QT_MATRICULAS, rn FROM (
        |  SELECT CO_REGIAO, CO_ENTIDADE, QT_MATRICULAS, row_number() OVER (
        |    PARTITION BY CO_REGIAO ORDER BY QT_MATRICULAS DESC, CO_ENTIDADE) AS rn
        |  FROM escolas WHERE NU_ANO_CENSO = 2020) WHERE rn <= 5""".stripMargin)
  val opTypes: IndexedSeq[String] = "load_year" +: (sql.map(_._1) ++ keys)

  private var spark: SparkSession = _
  private var censo: Censo = _
  private var loader: CensoLoader = _
  private var build: Map[String, (SparkSession, String) => DataFrame] = _
  private val yearOrder = new scala.util.Random(seed).shuffle(CensoGen.years)
  private var loads = 0
  private lazy val expected: Map[String, Seq[Seq[String]]] =
    Json.read(Files.readString(expectedPath), new TypeReference[Map[String, Seq[Seq[String]]]] {})

  def setUp(s: SparkSession, dir: Path): Map[String, Double] = {
    spark = s
    censo = CensoGen.generate(dir.resolve("inputs"), seed, CensoSizes.baseRows)
    loader = new CensoLoader(spark, t, censo, dir.resolve("lake/escolas"))
    loader.load(CensoGen.years)
    loader.checkRowCounts(CensoGen.years.toSet).foreach(e =>
      throw new IllegalStateException(s"set-up load: $e"))
    val lookup = CensoConfig.loadLookupCsv(spark, censo.lookupPath.toString,
      floatKeys = false)
    spark.createDataFrame(
      lookup.toSeq.map { case (k, v) => Row(k, v) }.asJava,
      StructType(Seq(StructField("CO_LINGUA", StringType),
        StructField("NO_LINGUA", StringType))))
      .createOrReplaceTempView("lingua")
    build = SparkEntry.queries.filter { case (k, _) => keys.contains(k) }
    CensoSizes.of(censo)
  }

  def run(kind: Int): () => Checked =
    if (kind == 0) {
      val year = yearOrder(loads % yearOrder.size)
      loads += 1
      loader.load(Seq(year))
      () => {
        val all = CensoGen.years.toSet
        val error = loader.checkRowCounts(all).orElse(loader.checkCatalog(all))
          .orElse(loader.checkYear(year))
        Checked(error, loader.layout(year) ++ Map(
          "rows_loaded" -> censo.perYear(year).rows.toDouble,
          "csv_bytes" -> censo.csvBytes(year).toDouble))
      }
    } else if (kind <= sql.size) {
      val rows = spark.sql(sql(kind - 1)._2).collect().toSeq
      () => Checked(checkSql(kind - 1, rows))
    } else {
      val key = keys(kind - 1 - sql.size)
      val df = t("SparkEntry.build")(build(key)(spark, testdata))
      val rows = df.collect().toSeq
      () => Checked(Answers.compare(key, rows.map(Answers.canonical), expected(key)))
    }

  private def checkSql(kind: Int, rows: Seq[Row]): Option[String] = {
    val c = censo
    val name = sql(kind)._1
    kind match {
      case 0 => Workload.mismatch(name,
        rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap,
        c.byDependencia2020)
      case 1 => Workload.mismatch(name,
        rows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap,
        c.trend)
      case 2 => Workload.mismatch(name,
        rows.map(r => r.getString(0) -> r.getLong(1)).toMap, c.lingua)
      case 3 => Workload.mismatch(name,
        rows.groupBy(_.getString(0)).map { case (reg, rs) =>
          reg -> rs.sortBy(_.getInt(3)).map(r => (r.getString(1), r.getInt(2)))
        }, c.top5ByRegion2020)
    }
  }
}

/** Expected results of the engine query keys, compared cell by cell;
  * floating-point cells agree to 1e-9 relative.
  */
object Answers {
  def canonical(r: Row): Seq[String] = r.toSeq.map {
    case null => "null"
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  def compare(key: String, got: Seq[Seq[String]], want: Seq[Seq[String]]): Option[String] = {
    def close(a: String, b: String) = a == b || ((a.toDoubleOption, b.toDoubleOption) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => false
    })
    if (got.size != want.size) Some(s"$key: ${got.size} rows, want ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.size != w.size || !g.zip(w).forall((close _).tupled) =>
        s"$key row $i: got ${g.mkString(",")}, want ${w.mkString(",")}"
    }
  }
}

/** CPU-, shuffle- and iteration-heavy: the curation operators over a
  * generated corpus; bypasses the sink and the catalog.
  */
final class CurationDedup(seed: Long, t: Tracer) extends Workload {
  /** Documents in the corpus (≈ 1.5 M tokens, 9 MB of text). */
  val nDocs = 20000
  val opTypes: IndexedSeq[String] = IndexedSeq(
    "exact_dedup", "minhash_pairs", "dup_clusters", "chunk_tokens", "pack_sequences")
  private var spark: SparkSession = _
  private var d: Docs = _

  def setUp(s: SparkSession, dir: Path): Map[String, Double] = {
    spark = s
    d = DocsGen.generate(spark, dir, seed, nDocs)
    Map("docs" -> d.texts.length.toDouble, "input_bytes" -> d.textBytes.toDouble,
      "planted_pairs" -> d.plantedPairs.size.toDouble, "planted_groups" -> d.clusters.toDouble)
  }

  private def docs = spark.read.parquet(d.documentsPath)

  def run(kind: Int): () => Checked = kind match {
    case 0 =>
      val r = t("operators.exact_dedup")(Dedup.exactDedup(docs, "text", "doc_id")
        .agg(count(lit(1)), count_if(col("dup_count") > 1), sum("keep_id"))
        .head())
      () => Checked(Workload.mismatch("exact_dedup",
        (r.getLong(0), r.getLong(1), r.getLong(2)),
        (d.exactGroups, d.exactMulti, d.exactSumKeep)))
    case 1 =>
      val pairs = t("operators.minhash_pairs")(
        Dedup.minhashDedupPairs(docs, "text", "doc_id").collect())
      () => Checked(checkPairs(pairs.toSeq))
    case 2 =>
      val clusters = t("operators.dup_clusters")(
        Dedup.dupClusters(spark.read.parquet(d.pairsPath)))
      val r = clusters.agg(count_distinct(col("cluster_id")), count(lit(1)),
        sum("cluster_id")).head()
      Dedup.freeState(clusters)
      () => Checked(Workload.mismatch("dup_clusters",
        (r.getLong(0), r.getLong(1), r.getLong(2)),
        (d.clusters, d.clusterMembers, d.clusterIdSum)))
    case 3 =>
      val r = t("operators.chunk")(Chunking.chunkTokens(docs, "text",
          DocsGen.chunkSize, DocsGen.chunkOverlap)
        .agg(count(lit(1)), sum("chunk_tokens")).head())
      () => Checked(Workload.mismatch("chunk_tokens",
        (r.getLong(0), r.getLong(1)), (d.chunks, d.chunkTokens)))
    case 4 =>
      val rows = t("operators.pack")(Chunking.packSequences(
          docs.withColumn("n_tokens", TextFunctions.tokenCount(col("text"))),
          "doc_id", "n_tokens", "lang", DocsGen.packBudget)
        .groupBy("lang").agg(count(lit(1)), sum("n_tokens"),
          max("pack_id") + 1, sum("pack_id"))
        .collect())
      () => Checked(Workload.mismatch("pack_sequences",
        rows.map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap,
        d.packs.filter(_._2._1 > 0)))
  }

  /** Every planted pair is found, and every pair found has the Jaccard it
    * reports, at or above the 0.7 threshold, recomputed from the texts.
    */
  private def checkPairs(rows: Seq[Row]): Option[String] = {
    val found = rows.map(r => (r.getLong(0), r.getLong(1)))
    val missing = d.plantedPairs -- found
    if (missing.nonEmpty) Some(s"minhash_pairs: ${missing.size} planted pairs missing")
    else rows.iterator.map { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val truth = DocsGen.jaccard(DocsGen.tokens(d.texts(a.toInt)),
        DocsGen.tokens(d.texts(b.toInt)))
      if (a < b && truth >= 0.7 && math.abs(truth - j) < 1e-6) None
      else Some(s"minhash_pairs: ($a, $b) reports $j, Jaccard is $truth")
    }.collectFirst { case Some(e) => e }
  }
}
