package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Per-year answers a correct load must reproduce, computed from the raw
  * CSV values with the recode rules applied by hand (no Spark).
  */
final case class YearExpect(
    rows: Long, sumMatriculas: Long, sumFuncionarios: Long, nMunicipal: Long,
    nFossa: Long, nAny: Long, nOngOscip: Long, nInicio: Long, sumDayInicio: Long,
    nLingua: Long, nSituacao: Long) {
  def values: Seq[Long] = productIterator.map(_.asInstanceOf[Long]).toSeq
}

/** A generated censo landing zone plus its expected answers. */
final case class Censo(
    root: Path, schemaPath: Path, mapsPath: Path, lookupPath: Path,
    csvBytes: Map[Int, Long], perYear: Map[Int, YearExpect],
    // 2020: TP_DEPENDENCIA label -> (schools, sum QT_SALAS_EXISTENTES)
    byDependencia2020: Map[String, (Long, Long)],
    // year -> (schools, schools with internet, sum QT_MATRICULAS)
    trend: Map[Int, (Long, Long, Long)],
    // lookup label -> schools, all years
    lingua: Map[String, Long],
    // 2020: region label -> top five (CO_ENTIDADE, QT_MATRICULAS)
    top5ByRegion2020: Map[String, Seq[(String, Int)]]) {
  def regionFile(year: Int, region: String): Path =
    root.resolve(s"landing/escolas/$year/escolas_$region.csv")
  def totalCsvBytes: Long = csvBytes.values.sum
  def totalRows: Long = perYear.values.map(_.rows).sum
}

/** Seeded censo escolar landing zone in the reference's formats: one
  * `|`-delimited, header, UTF-8 CSV per (year, region shard), the
  * StructType JSON schema (all strings), a maps JSON driving the CO_/TP_
  * recodes and a lookup CSV for CO_LINGUA_INDIGENA.
  *
  * Years 2011-2020 grow by 5 % a year; the five region shards have the
  * skewed shares of the real census. Files before 2019 carry the two
  * OR-merged flag pairs and CO_LINGUA_INDIGENA; from 2019 on they carry
  * the merged flags and CO_LINGUA_INDIGENA_1, as the reference's files do.
  * Dates use the SAS form up to 2014 and `d/M/yyyy` after.
  */
object CensoGen {
  val years: IndexedSeq[Int] = 2011 to 2020

  final case class Region(shard: String, code: String, label: String,
                          share: Double, ufs: IndexedSeq[Int])
  val regions: IndexedSeq[Region] = IndexedSeq(
    Region("norte", "1", "Norte", 0.09, IndexedSeq(11, 12, 13, 14, 15, 16, 17)),
    Region("nordeste", "2", "Nordeste", 0.33,
      IndexedSeq(21, 22, 23, 24, 25, 26, 27, 28, 29)),
    Region("sudeste", "3", "Sudeste", 0.36, IndexedSeq(31, 32, 33, 35)),
    Region("sul", "4", "Sul", 0.14, IndexedSeq(41, 42, 43)),
    Region("centro_oeste", "5", "Centro-Oeste", 0.08, IndexedSeq(50, 51, 52, 53)))

  val ufNames: Map[String, String] = Map(
    "11" -> "Rondônia", "12" -> "Acre", "13" -> "Amazonas", "14" -> "Roraima",
    "15" -> "Pará", "16" -> "Amapá", "17" -> "Tocantins", "21" -> "Maranhão",
    "22" -> "Piauí", "23" -> "Ceará", "24" -> "Rio Grande do Norte",
    "25" -> "Paraíba", "26" -> "Pernambuco", "27" -> "Alagoas",
    "28" -> "Sergipe", "29" -> "Bahia", "31" -> "Minas Gerais",
    "32" -> "Espírito Santo", "33" -> "Rio de Janeiro", "35" -> "São Paulo",
    "41" -> "Paraná", "42" -> "Santa Catarina", "43" -> "Rio Grande do Sul",
    "50" -> "Mato Grosso do Sul", "51" -> "Mato Grosso", "52" -> "Goiás",
    "53" -> "Distrito Federal")

  val maps: Map[String, Map[String, String]] = Map(
    "CO_REGIAO" -> regions.map(r => r.code -> r.label).toMap,
    "CO_UF" -> ufNames,
    "TP_DEPENDENCIA" -> Map("1" -> "Federal", "2" -> "Estadual",
      "3" -> "Municipal", "4" -> "Privada"),
    "TP_CATEGORIA_ESCOLA_PRIVADA" -> Map("1" -> "Particular",
      "2" -> "Comunitária", "3" -> "Confessional", "4" -> "Filantrópica"),
    "TP_LOCALIZACAO" -> Map("1" -> "Urbana", "2" -> "Rural"),
    "TP_SITUACAO_FUNCIONAMENTO" -> Map("1" -> "Em Atividade",
      "2" -> "Paralisada", "3" -> "Extinta (ano do Censo)",
      "4" -> "Extinta em Anos Anteriores"))

  // IN_HEAVY / IN_DISC are the flags CensoPipeline.run always ORs into IN_ANY
  val commonColumns: IndexedSeq[String] = IndexedSeq(
    "NU_ANO_CENSO", "CO_ENTIDADE", "NO_ENTIDADE", "CO_REGIAO", "CO_UF",
    "CO_MUNICIPIO", "TP_DEPENDENCIA", "TP_CATEGORIA_ESCOLA_PRIVADA",
    "TP_LOCALIZACAO", "TP_SITUACAO_FUNCIONAMENTO", "DT_ANO_LETIVO_INICIO",
    "DT_ANO_LETIVO_TERMINO", "IN_AGUA_FILTRADA", "IN_ENERGIA_REDE_PUBLICA",
    "IN_INTERNET", "IN_BIBLIOTECA", "IN_LABORATORIO_INFORMATICA",
    "IN_QUADRA_ESPORTES", "IN_ALIMENTACAO", "IN_HEAVY", "IN_DISC",
    "QT_SALAS_EXISTENTES", "QT_SALAS_UTILIZADAS", "QT_FUNCIONARIOS",
    "QT_COMPUTADOR", "QT_MATRICULAS")
  val before2019Columns: IndexedSeq[String] = IndexedSeq(
    "IN_MANT_ESCOLA_PRIVADA_ONG", "IN_MANT_ESCOLA_PRIVADA_OSCIP",
    "IN_ESGOTO_FOSSA_SEPTICA", "IN_ESGOTO_FOSSA_COMUM", "CO_LINGUA_INDIGENA")
  val from2019Columns: IndexedSeq[String] = IndexedSeq(
    "IN_MANT_ESCOLA_PRIV_ONG_OSCIP", "IN_ESGOTO_FOSSA", "CO_LINGUA_INDIGENA_1")
  def columnsOf(year: Int): IndexedSeq[String] =
    commonColumns ++ (if (year < 2019) before2019Columns else from2019Columns)

  /** Lookup codes 100..399; 5 % of the schools that name a language use
    * code 999, which the lookup table does not hold.
    */
  val linguaCodes: IndexedSeq[Int] = 100 until 400
  def linguaLabel(code: Int): String =
    if (code % 7 == 0) s"Tupi, ramo $code" else s"Língua indígena $code"

  private val months = IndexedSeq("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
    "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")

  def rowsIn(year: Int, baseRows: Int): Int =
    math.round(baseRows * (1 + 0.05 * (year - years.head))).toInt

  private def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    val z = (h ^ x) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 31)
  }

  private def flag(r: SplittableRandom, p: Double): String = {
    val u = r.nextDouble()
    if (u < 0.02) "" else if (r.nextDouble() < p) "1" else "0"
  }
  private def bool(s: String): Option[Boolean] = s match {
    case "1" => Some(true)
    case "0" => Some(false)
    case _ => None
  }
  private def or(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
    if (a.contains(true) || b.contains(true)) Some(true)
    else if (a.isEmpty || b.isEmpty) None
    else Some(false)
  private def int(s: String): Option[Int] = s.toIntOption

  private def sasDate(d: LocalDate): String =
    f"${d.getDayOfMonth}%02d${months(d.getMonthValue - 1)}${d.getYear}:00:00:00"
  private def dmyDate(d: LocalDate): String =
    s"${d.getDayOfMonth}/${d.getMonthValue}/${d.getYear}"

  private final class Acc {
    var rows, sumMat, sumFunc, nMun, nFossa, nAny, nOng, nIni, sumDay,
        nLingua, nSit = 0L
    def result = YearExpect(rows, sumMat, sumFunc, nMun, nFossa, nAny, nOng,
      nIni, sumDay, nLingua, nSit)
  }

  def generate(root: Path, seed: Long, baseRows: Int): Censo = {
    val landing = root.resolve("landing/escolas")
    Files.createDirectories(root.resolve("schemas"))
    Files.createDirectories(root.resolve("tables"))
    val schemaPath = root.resolve("schemas/escolas_schema.json")
    val mapsPath = root.resolve("maps.json")
    val lookupPath = root.resolve("tables/CO_LINGUA_INDIGENA.csv")
    val allColumns = commonColumns ++ before2019Columns ++ from2019Columns
    Files.writeString(schemaPath, Json.write(Map("type" -> "struct",
      "fields" -> allColumns.map(c => Map("name" -> c, "type" -> "string",
        "nullable" -> true, "metadata" -> Map.empty[String, Any])))), UTF_8)
    Files.writeString(mapsPath, Json.write(maps), UTF_8)
    val lookup = new StringBuilder("CO_LINGUA_INDIGENA,NO_LINGUA_INDIGENA\n")
    linguaCodes.foreach { c =>
      val label = linguaLabel(c)
      lookup.append(c).append(',')
        .append(if (label.contains(',')) "\"" + label + "\"" else label)
        .append('\n')
    }
    lookup.append(",sem código\n") // rows without a code are dropped
    Files.writeString(lookupPath, lookup.toString, UTF_8)

    val perYear = mutable.Map.empty[Int, YearExpect]
    val csvBytes = mutable.Map.empty[Int, Long]
    val byDep = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    val trend = mutable.Map.empty[Int, (Long, Long, Long)]
    val lingua = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val top = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Int)]]

    for (year <- years) {
      val acc = new Acc
      var internet = 0L
      val cols = columnsOf(year)
      val dir = landing.resolve(year.toString)
      Files.createDirectories(dir)
      var bytes = 0L
      val total = rowsIn(year, baseRows)
      for ((reg, ri) <- regions.zipWithIndex) {
        val n = math.max(1, math.round(total * reg.share).toInt)
        val file = dir.resolve(s"escolas_${reg.shard}.csv")
        val out = new BufferedWriter(new OutputStreamWriter(
          new FileOutputStream(file.toFile), UTF_8), 1 << 16)
        out.write(cols.mkString("|")); out.write('\n')
        val v = mutable.Map.empty[String, String]
        for (i <- 0 until n) {
          // a school keeps its identity across years; yearly values vary
          val school = new SplittableRandom(mix(seed, ri, i))
          val r = new SplittableRandom(mix(seed, ri, i, year))
          v.clear()
          val uf = reg.ufs(school.nextInt(reg.ufs.size)).toString
          val dep = {
            val u = school.nextDouble()
            if (u < 0.02) "1" else if (u < 0.32) "2" else if (u < 0.80) "3" else "4"
          }
          val id = f"${reg.code}${i + 1}%07d"
          v("NU_ANO_CENSO") = year.toString
          v("CO_ENTIDADE") = id
          v("NO_ENTIDADE") = s"Escola ${maps("TP_DEPENDENCIA")(dep)} São João $id"
          v("CO_REGIAO") = reg.code
          v("CO_UF") = uf
          v("CO_MUNICIPIO") = f"$uf${school.nextInt(1000)}%05d"
          v("TP_DEPENDENCIA") = dep
          v("TP_CATEGORIA_ESCOLA_PRIVADA") =
            if (dep == "4") (1 + school.nextInt(4)).toString else ""
          v("TP_LOCALIZACAO") = if (school.nextDouble() < 0.3) "2" else "1"
          v("TP_SITUACAO_FUNCIONAMENTO") = {
            val u = r.nextDouble()
            // code 9 is not in maps.json: it recodes to null
            if (u < 0.01) "9" else if (u < 0.90) "1" else (2 + r.nextInt(3)).toString
          }
          val inicio =
            if (r.nextDouble() < 0.02) None
            else Some(LocalDate.of(year, 1, 20).plusDays(r.nextInt(55)))
          val termino = LocalDate.of(year, 12, 1).plusDays(r.nextInt(22))
          val fmt: LocalDate => String = if (year > 2014) dmyDate else sasDate
          v("DT_ANO_LETIVO_INICIO") = inicio.map(fmt).getOrElse("")
          v("DT_ANO_LETIVO_TERMINO") = fmt(termino)
          v("IN_AGUA_FILTRADA") = flag(r, 0.8)
          v("IN_ENERGIA_REDE_PUBLICA") = flag(r, 0.95)
          v("IN_INTERNET") = flag(r, 0.3 + 0.05 * (year - years.head))
          v("IN_BIBLIOTECA") = flag(r, 0.4)
          v("IN_LABORATORIO_INFORMATICA") = flag(r, 0.25)
          v("IN_QUADRA_ESPORTES") = flag(r, 0.35)
          v("IN_ALIMENTACAO") = flag(r, 0.9)
          v("IN_HEAVY") = flag(r, 0.2)
          v("IN_DISC") = flag(r, 0.1)
          val salas = 1 + r.nextInt(40)
          v("QT_SALAS_EXISTENTES") = salas.toString
          v("QT_SALAS_UTILIZADAS") = (1 + r.nextInt(salas)).toString
          v("QT_FUNCIONARIOS") = {
            val u = r.nextDouble()
            // empty and "NA" cells both cast to null
            if (u < 0.02) "" else if (u < 0.025) "NA" else r.nextInt(200).toString
          }
          v("QT_COMPUTADOR") = r.nextInt(60).toString
          val matriculas = (math.pow(r.nextDouble(), 3) * 3000).toInt
          v("QT_MATRICULAS") = matriculas.toString
          val ong = flag(r, 0.05)
          val oscip = flag(r, 0.05)
          val septica = flag(r, 0.3)
          val comum = flag(r, 0.2)
          val linguaCode =
            if (r.nextDouble() < 0.95) ""
            else if (r.nextDouble() < 0.05) "999"
            else linguaCodes(r.nextInt(linguaCodes.size)).toString
          if (year < 2019) {
            v("IN_MANT_ESCOLA_PRIVADA_ONG") = ong
            v("IN_MANT_ESCOLA_PRIVADA_OSCIP") = oscip
            v("IN_ESGOTO_FOSSA_SEPTICA") = septica
            v("IN_ESGOTO_FOSSA_COMUM") = comum
            v("CO_LINGUA_INDIGENA") = linguaCode
          } else {
            v("IN_MANT_ESCOLA_PRIV_ONG_OSCIP") = flag(r, 0.1)
            v("IN_ESGOTO_FOSSA") = flag(r, 0.45)
            v("CO_LINGUA_INDIGENA_1") = linguaCode
          }
          out.write(cols.map(v).mkString("|")); out.write('\n')

          // expected answers, from the raw values
          val ongOscip =
            if (year < 2019) or(bool(ong), bool(oscip))
            else bool(v("IN_MANT_ESCOLA_PRIV_ONG_OSCIP"))
          val fossa =
            if (year < 2019) or(bool(septica), bool(comum))
            else bool(v("IN_ESGOTO_FOSSA"))
          val depLabel = maps("TP_DEPENDENCIA")(dep)
          acc.rows += 1
          acc.sumMat += matriculas
          acc.sumFunc += int(v("QT_FUNCIONARIOS")).getOrElse(0)
          if (depLabel == "Municipal") acc.nMun += 1
          if (fossa.contains(true)) acc.nFossa += 1
          if (or(bool(v("IN_HEAVY")), bool(v("IN_DISC"))).contains(true)) acc.nAny += 1
          if (ongOscip.contains(true)) acc.nOng += 1
          inicio.foreach { d => acc.nIni += 1; acc.sumDay += d.getDayOfMonth }
          if (linguaCode.nonEmpty) acc.nLingua += 1
          if (maps("TP_SITUACAO_FUNCIONAMENTO").contains(v("TP_SITUACAO_FUNCIONAMENTO")))
            acc.nSit += 1
          if (bool(v("IN_INTERNET")).contains(true)) internet += 1
          linguaCode.toIntOption.filter(linguaCodes.contains)
            .foreach(c => lingua(linguaLabel(c)) += 1)
          if (year == years.last) {
            val (n0, s0) = byDep(depLabel)
            byDep(depLabel) = (n0 + 1, s0 + salas)
            val t = top.getOrElseUpdate(reg.label, mutable.ArrayBuffer.empty)
            t += ((id, matriculas))
            if (t.size > 64) {
              val keep = topFive(t.toSeq); t.clear(); t ++= keep
            }
          }
        }
        out.close()
        bytes += Files.size(file)
      }
      perYear(year) = acc.result
      csvBytes(year) = bytes
      trend(year) = (acc.rows, internet, acc.sumMat)
    }
    Censo(root, schemaPath, mapsPath, lookupPath, csvBytes.toMap, perYear.toMap,
      byDep.toMap, trend.toMap, lingua.toMap,
      top.map { case (k, t) => k -> topFive(t.toSeq) }.toMap)
  }

  private def topFive(xs: Seq[(String, Int)]): Seq[(String, Int)] =
    xs.sortBy { case (id, m) => (-m, id) }.take(5)
}
