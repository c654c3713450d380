package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Recode
import graft.pipeline.{CensoConfig, CensoPipeline}
import graft.sources.SchemaCsv

/** Proves the engine eats the reference pipeline's configuration
  * artifacts end-to-end, in their exact formats: a maps.json of
  * {column -> {code -> label}} dictionaries, a PySpark
  * `StructType.jsonValue()` escolas schema and a raw lookup CSV, driven
  * through schema CSV read → recode chain → year rules, plus the
  * idempotent partitioned sink. The artifacts are small test-resource
  * fixtures (`src/test/resources/censo/`), read through the classpath.
  */
class CensoConfigSpec extends AnyFunSuite with SparkSpec {

  private val refDir = java.nio.file.Paths.get(
    getClass.getResource("/censo/maps.json").toURI).getParent.toString
  private lazy val maps = CensoConfig.loadMaps(s"$refDir/maps.json")
  private lazy val escolasSchema =
    CensoConfig.loadSchema(s"$refDir/schemas/escolas_schema.json")

  test("maps.json parses: 8 dictionaries with the documented entries") {
    assert(maps.size === 8)
    assert(maps("TP_DEPENDENCIA") ===
      Map("1" -> "Federal", "2" -> "Estadual", "3" -> "Municipal", "4" -> "Privada"))
    assert(maps("TP_LOCALIZACAO") === Map("1" -> "Urbana", "2" -> "Rural"))
  }

  test("lookup CSV rebuilds the shipped maps.json dictionary exactly") {
    val rebuilt = CensoConfig.loadLookupCsv(spark,
      s"$refDir/tables/CO_LINGUA_INDIGENA.csv")
    // 14 data rows, one with an empty code (dropped); quoted labels
    // carry commas
    assert(rebuilt.size === 13)
    assert(rebuilt("250.0") === "Tikuna, Ticuna")
    assert(rebuilt === maps("CO_LINGUA_INDIGENA_1"))
    // and the notebook aliased the same dict to slots 2 and 3
    assert(maps("CO_LINGUA_INDIGENA_2") === rebuilt)
    assert(maps("CO_LINGUA_INDIGENA_3") === rebuilt)
  }

  test("escolas schema parses: 22 string fields") {
    assert(escolasSchema.fields.length === 22)
    assert(escolasSchema.fieldNames.contains("NU_ANO_CENSO"))
    assert(escolasSchema.fields.forall(_.dataType.typeName == "string"))
  }

  private val specCols = Seq(
    "NU_ANO_CENSO", "CO_ENTIDADE", "TP_DEPENDENCIA", "TP_LOCALIZACAO",
    "DT_ANO_LETIVO_INICIO", "IN_ALOJAM_ALUNO", "CO_LINGUA_INDIGENA",
    "IN_MANT_ESCOLA_PRIVADA_ONG", "IN_MANT_ESCOLA_PRIVADA_OSCIP",
    "IN_ESGOTO_FOSSA_SEPTICA", "IN_ESGOTO_FOSSA_COMUM")

  test("full censo chain over a real-schema CSV shard") {
    val sub = StructType(escolasSchema.fields.filter(f =>
      specCols.contains(f.name)))
    assert(sub.fields.length === specCols.length,
      "spec columns must all exist in the reference schema")

    val dir = Files.createTempDirectory("graft_censo_csv").toString
    val header = sub.fieldNames.mkString("|")
    // two escolas rows, 2015 vintage (post-2014 date format, pre-2019 rules)
    def row(vals: Map[String, String]) =
      sub.fieldNames.map(vals.getOrElse(_, "")).mkString("|")
    val r1 = row(Map(
      "NU_ANO_CENSO" -> "2015", "CO_ENTIDADE" -> "11000023",
      "TP_DEPENDENCIA" -> "2", "TP_LOCALIZACAO" -> "1",
      "DT_ANO_LETIVO_INICIO" -> "02/02/2015", "IN_ALOJAM_ALUNO" -> "1",
      "CO_LINGUA_INDIGENA" -> "100",
      "IN_MANT_ESCOLA_PRIVADA_ONG" -> "0", "IN_MANT_ESCOLA_PRIVADA_OSCIP" -> "1",
      "IN_ESGOTO_FOSSA_SEPTICA" -> "0", "IN_ESGOTO_FOSSA_COMUM" -> "0"))
    val r2 = row(Map(
      "NU_ANO_CENSO" -> "2015", "CO_ENTIDADE" -> "11000031",
      "TP_DEPENDENCIA" -> "4", "TP_LOCALIZACAO" -> "2",
      "DT_ANO_LETIVO_INICIO" -> "09/02/2015", "IN_ALOJAM_ALUNO" -> "0",
      "CO_LINGUA_INDIGENA" -> "",
      "IN_MANT_ESCOLA_PRIVADA_ONG" -> "0", "IN_MANT_ESCOLA_PRIVADA_OSCIP" -> "0",
      "IN_ESGOTO_FOSSA_SEPTICA" -> "1", "IN_ESGOTO_FOSSA_COMUM" -> "0"))
    Files.writeString(java.nio.file.Paths.get(dir, "escolas.csv"),
      Seq(header, r1, r2).mkString("\n"))

    val year = 2015
    var df = SchemaCsv.read(spark, dir, sub)
    df = Recode.recodeCategoricals(df, maps)
    df = Recode.recodeBoolean(df,
      df.columns.filter(_.startsWith("IN")).toSeq)
    df = Recode.castInts(df, c => c.startsWith("NU") || c.startsWith("QT"))
    df = Recode.parseDateFlex(df, "DT_ANO_LETIVO_INICIO", year)
    df = CensoPipeline.escolasYearRules(df, year)

    val rows = df.orderBy("CO_ENTIDADE").collect()
    assert(rows.length === 2)
    val a = rows(0)
    assert(a.getAs[String]("TP_DEPENDENCIA") === "Estadual")
    assert(a.getAs[String]("TP_LOCALIZACAO") === "Urbana")
    assert(a.getAs[Int]("NU_ANO_CENSO") === 2015)
    assert(a.getAs[Boolean]("IN_ALOJAM_ALUNO") === true)
    assert(a.getAs[java.sql.Date]("DT_ANO_LETIVO_INICIO").toString === "2015-02-02")
    // pre-2019 rules: parts merged + dropped, lingua renamed
    assert(a.getAs[Boolean]("IN_MANT_ESCOLA_PRIV_ONG_OSCIP") === true)
    assert(rows(1).getAs[Boolean]("IN_ESGOTO_FOSSA") === true)
    assert(a.getAs[String]("CO_LINGUA_INDIGENA_1") === "100")
    val cols = df.columns.toSet
    assert(!cols.contains("IN_MANT_ESCOLA_PRIVADA_ONG"))
    assert(!cols.contains("IN_ESGOTO_FOSSA_SEPTICA"))
    assert(!cols.contains("CO_LINGUA_INDIGENA"))
  }

  test("SAS date form parses for pre-2015 vintages") {
    val s = spark
    import s.implicits._
    val df = Seq("01FEB2011:00:00:00").toDF("DT_X")
    val out = Recode.parseDateFlex(df, "DT_X", year = 2011).head
    assert(out.getAs[java.sql.Date]("DT_X").toString === "2011-02-01")
  }

  test("idempotent partitioned sink: replayed year replaces, new year appends") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_sink").toString
    val y2019 = Seq((2019, "a", 1.0), (2019, "b", 2.0)).toDF("yr", "k", "v")
    val y2020 = Seq((2020, "c", 3.0)).toDF("yr", "k", "v")
    SchemaCsv.writePartitionedIdempotent(y2019, dir, Seq("yr"))
    SchemaCsv.writePartitionedIdempotent(y2020, dir, Seq("yr"))
    assert(SchemaCsv.readPartitioned(spark, dir).count() === 3L)
    // replay 2020 with different content: replaced, not appended; 2019 kept
    val y2020b = Seq((2020, "c2", 4.0), (2020, "d", 5.0)).toDF("yr", "k", "v")
    SchemaCsv.writePartitionedIdempotent(y2020b, dir, Seq("yr"))
    val after = SchemaCsv.readPartitioned(spark, dir)
    assert(after.where(col("yr") === 2020).count() === 2L)
    assert(after.where(col("yr") === 2019).count() === 2L)
  }
}
