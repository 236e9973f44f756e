package graft

import graft.etl.Pipelines
import graft.sources.CsvSource
import java.nio.file.Files
import java.nio.charset.Charset

/** FIXTURES.md §2/§3 — golden end-to-end: reference-shaped raw CSV
  * (semicolon, latin1, junk first line, ragged rows, duplicate headers)
  * through the creditos/radicados pipelines; expected derived values from
  * the reference's own sample row (cols_sample.csv:2 — 43/20/41 day
  * diffs, espera only when FechaGiro missing).
  */
class CsvPipelineSpec extends SparkSpec {

  private def writeLatin1Csv(lines: Seq[String]): String = {
    val f = Files.createTempFile("creditos_", ".csv")
    Files.write(f, lines.mkString("\n").getBytes(Charset.forName("ISO-8859-1")))
    f.toString
  }

  private lazy val csvPath = writeLatin1Csv(Seq(
    "REPORTE CREDITOS -- JUNK TITLE LINE",
    "Crédito;TasaInterés;FechaSolicitud;FechaGiro;FechaInicio;FechaLegalización;FechaIngreso;Fecha Acta Aprobación;VencimientoCuota;Monto;Saldo;Nota;Nota",
    "1;950847 %;01/01/2023;13-02-2023;21.01.2023;11/02/2023 08:30;02/01/2023;03/01/2023;01/06/2023;1234,56;100,5;a;b",
    "2; 9.5% ;15/03/2023;;;;;;;20648000;0;x;y",
    "3;abc;garbage;;;;;;;;;;extra1;extra2;extra3",
    "4;1 %;10/08/2026"))

  test("CsvSource: latin1 decode, junk line skipped, dup headers renamed, ragged rows repaired") {
    val raw = CsvSource.readReferenceCsv(spark, csvPath)
    assert(raw.columns.count(_.contains("duplicated")) == 1) // second 'Nota'
    assert(raw.columns.contains("Crédito") && raw.columns.contains("FechaLegalización"))
    assert(raw.count() == 4)
    val r4 = raw.filter(raw("Crédito") === "4").collect()(0)
    assert(r4.isNullAt(raw.columns.indexOf("Monto"))) // short row null-padded
  }

  test("cleanCreditos golden: 43/20/41 day diffs, espera only without giro") {
    val today = java.sql.Date.valueOf("2023-03-20")
    val got = Pipelines.cleanCreditos(CsvSource.readReferenceCsv(spark, csvPath), today)
    assert(!got.columns.exists(_.contains("duplicated"))) // P1
    val rows = got.collect().map(r => r.getAs[String]("Crédito") -> r).toMap
    val r1 = rows("1")
    assert(r1.getAs[Double]("TasaInterés") == 950847.0 / 1e7)
    assert(r1.getAs[String]("FechaSolicitud") == "2023-01-01") // P3+P8
    assert(r1.getAs[String]("FechaGiro") == "2023-02-13")      // '-' separators
    assert(r1.getAs[Long]("tiempo_solicitud_giro") == 43L)
    assert(r1.getAs[Long]("tiempo_solicitud_inicio") == 20L)
    assert(r1.getAs[Long]("tiempo_solicitud_legalizacion") == 41L)
    assert(r1.isNullAt(r1.fieldIndex("tiempo_de_espera"))) // has giro → null (P6)
    assert(r1.getAs[Double]("Monto") == 1234.56)           // P7
    val r2 = rows("2")
    assert(r2.getAs[Double]("TasaInterés") == 9.5 / 1e7)
    assert(r2.isNullAt(r2.fieldIndex("FechaGiro")))
    assert(r2.getAs[Long]("tiempo_de_espera") == 5L) // 15/03 → 20/03
    assert(r2.getAs[Double]("Monto") == 2.0648e7)
    val r3 = rows("3")
    assert(r3.isNullAt(r3.fieldIndex("TasaInterés"))) // bad cast → null
    assert(r3.isNullAt(r3.fieldIndex("FechaSolicitud"))) // garbage date → null
  }

  test("cleanRadicados: datetime parse, destino split, group lookup") {
    import spark.implicits._
    val raw = Seq(
      ("100", "15/03/2024 14:30", "PROFESIONAL-GGC-JUAN PEREZ"),
      ("101", "junk", "ASESOR-GTICS-ANA-MARIA RUIZ"),
      ("102", "01/01/2024 09:00", "MARIA LOPEZ"),
      ("103", "02/02/2024 10:00", "JEFE-ZZZ-PEPE")
    ).toDF("Radicado", "Fecha Radicacion", "Destino")
    val got = Pipelines.cleanRadicados(raw).collect()
      .map(r => r.getAs[String]("Radicado") -> r).toMap
    assert(got("100").getAs[java.time.LocalDateTime]("Fecha Radicacion").toString
      == "2024-03-15T14:30")
    assert(got("100").getAs[String]("grupo_destino") == "Grupo de gestion de cesantias")
    assert(got("101").isNullAt(got("101").fieldIndex("Fecha Radicacion")))
    assert(got("101").getAs[String]("funcionario_destino") == "ANA-MARIA RUIZ")
    assert(got("101").getAs[String]("grupo_destino")
      == "Grupo de tecnología, informacion y comunicaciones")
    assert(got("102").getAs[String]("cod_grupo_destino") == "GAUEGI")
    assert(got("102").getAs[String]("grupo_destino") == "Grupo de atencion al usuario")
    assert(got("103").isNullAt(got("103").fieldIndex("grupo_destino"))) // unmapped → null
  }

  test("transform registry: typed dispatch with explicit unknown-entity error") {
    import spark.implicits._
    val df = Seq(("1", "x")).toDF("Radicado", "Rpta")
    val out = Pipelines.transform("radicados", "modeled", df)
    assert(out.schema("Radicado").dataType.typeName == "long")
    val e = intercept[IllegalArgumentException](Pipelines.transform("nope", "raw", df))
    assert(e.getMessage.contains("raw_nope"))
  }

  // ---- line-aligned split reader -----------------------------------------

  /** A reference-shaped export: junk first line, header, then `n` rows
    * with mixed CRLF/LF endings, blank lines, short and long ragged rows,
    * long lines and non-ASCII text; the last line is unterminated.
    */
  private def splitFixture(cs: Charset, n: Int): Array[Byte] = {
    val text = if (cs.name == "UTF-8") "año café ✓ 日本 €" else "año café Ü ° ½"
    val sb = new StringBuilder("JUNK TITLE — ").append(text).append("\r\n")
    sb.append("id;nombre;nota;extra\n")
    (0 until n).foreach { i =>
      val row = i % 5 match {
        case 0 => s"$i;$text;${"x" * (i % 173)}"        // short, long line
        case 1 => s"$i;$text;n$i;e$i;más$i;sobra"       // long ragged
        case 2 => s"$i"                                  // one field
        case _ => s"$i;$text $i;n$i;e$i"
      }
      sb.append(row).append(if (i % 3 == 0) "\r\n" else "\n")
      if (i % 41 == 0) sb.append(if (i % 2 == 0) "\n" else "\r\n") // blank line
    }
    sb.append(s"$n;último")
    sb.toString.getBytes(cs)
  }

  for (cs <- Seq(Charset.forName("ISO-8859-1"), Charset.forName("UTF-8")))
    test(s"split reader (${cs.name}): rows and order equal a whole-file decode") {
      val bytes = splitFixture(cs, 6000)
      val f = Files.createTempFile("split_", ".csv")
      Files.write(f, bytes)
      val expected = new String(bytes, cs).split("\r?\n").toSeq.drop(2).filterNot(_.isEmpty)

      // the fixture is meaningful: some split boundary falls mid-line
      val goal = bytes.length / spark.sparkContext.defaultParallelism
      assert((1 until spark.sparkContext.defaultParallelism).exists(k => bytes(k * goal - 1) != '\n'))

      val (header, lines) = CsvSource.readLines(spark, f.toString, ";", cs.name, skipLines = 1)
      assert(header === Seq("id", "nombre", "nota", "extra"))
      assert(lines.rdd.getNumPartitions > 1)
      assert(lines.collect().toSeq === expected)

      // the parsed frame keeps the same rows, in order, ragged-repaired
      val raw = CsvSource.readReferenceCsv(spark, f.toString, encoding = cs.name)
      assert(raw.rdd.getNumPartitions > 1)
      val got = raw.collect().map(_.toSeq.map(v => Option(v).map(_.toString).orNull)).toSeq
      // (the CSV parser reads an empty field as null)
      assert(got === expected.map(_.split(";", -1).toSeq
        .map(v => if (v.isEmpty) null else v).padTo(4, null).take(4)))
    }

  test("split reader: one trailing '\\r' is part of the terminator only before '\\n'") {
    val f = Files.createTempFile("split_cr_", ".csv")
    Files.write(f, "h\r\na\r\r\n\r\nb\r".getBytes("UTF-8"))
    val (header, lines) = CsvSource.readLines(spark, f.toString, ";", "UTF-8", skipLines = 0)
    assert(header === Seq("h"))
    assert(lines.collect().toSeq === Seq("a\r", "b\r"))
  }

  test("readSheet drops exactly its header row") {
    val f = Files.createTempFile("sheet_split_", ".csv")
    val rows = (1 to 3000).map(i => s"$i,válido $i,${"z" * (i % 97)}")
    Files.write(f, ("a,b,c" +: rows).mkString("\r\n").getBytes("UTF-8"))
    val got = graft.sources.LocalFsConnector.readSheet(spark, f.toString)
    assert(got.columns.toSeq === Seq("a", "b", "c"))
    assert(got.collect().map(_.getString(0)).toSeq === (1 to 3000).map(_.toString))
  }

  test("split reader refuses a charset that does not write '\\n' as the byte 0x0A") {
    val f = Files.createTempFile("utf16_", ".csv")
    Files.write(f, "junk\nid;v\n1;2\n".getBytes("UTF-16"))
    val e = intercept[IllegalArgumentException](
      CsvSource.readReferenceCsv(spark, f.toString, encoding = "UTF-16"))
    assert(e.getMessage.contains("0x0A"))
  }
}
