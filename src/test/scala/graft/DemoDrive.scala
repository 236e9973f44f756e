package graft

import org.apache.spark.sql.SparkSession

/** Standalone drive of the library's public surface (not a test suite):
  * reference-shaped latin1 CSV → CsvSource → Pipelines → show, plus
  * catalog ops. Run: sbt "Test/runMain graft.DemoDrive"
  */
object DemoDrive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = Seq(
      "JUNK TITLE",
      "Crédito;TasaInterés;FechaSolicitud;FechaGiro;FechaInicio;FechaLegalización;FechaIngreso;Fecha Acta Aprobación;VencimientoCuota;Monto;Saldo;Nota;Nota",
      "1;950847 %;01/01/2023;13-02-2023;21.01.2023;11/02/2023 08:30;02/01/2023;03/01/2023;01/06/2023;1234,56;100,5;a;b",
      "2; 9.5% ;15/03/2023;;;;;;;20648000;0;x;y")
    val f = java.nio.file.Files.createTempFile("drive_", ".csv")
    java.nio.file.Files.write(f,
      lines.mkString("\n").getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
    val raw = graft.sources.CsvSource.readReferenceCsv(spark, f.toString)
    val cleaned = graft.etl.Pipelines.transform("creditos", "raw", raw,
      java.sql.Date.valueOf("2026-08-12"))
    cleaned.select("Crédito", "TasaInterés", "FechaGiro", "tiempo_solicitud_giro",
      "tiempo_de_espera", "Monto").show(false)
    val meta = graft.etl.CatalogOps.listFiles(spark, f.getParent.toString)
    println("catalog latest: " +
      graft.etl.CatalogOps.latest(meta).collect().head.getAs[String]("name"))
    // spark.sql.extensions path (static conf — needs this fresh context)
    println("graft_cosine via extensions: " + spark
      .sql("SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .collect().head.getDouble(0))
    // injected optimizer rule: the portable md5 chain over a real scan
    // must rewrite to the fused Md5Hash32 kernel
    val ruled = graft.etl.Tables(spark, "/root/testdata/sf0.001", "customer")
      .selectExpr("cast(conv(substring(md5(c_name), 1, 8), 16, 10) as bigint) AS h")
    require(ruled.queryExecution.optimizedPlan.toString.toLowerCase.contains("md5hash32"),
      "Md5Hash32Rewrite not active via spark.sql.extensions")
    println("md5 rewrite via extensions: OK (" + ruled.count() + " rows hashed)")
    // injected planner strategy: present in this fresh session's planner
    // through the extensions path alone (no install() call has run)
    require(spark.sessionState.planner.strategies
        .contains(graft.plans.AsOfJoinStrategy),
      "AsOfJoinStrategy not active via spark.sql.extensions")
    println("as-of strategy via extensions: OK")
    // full orchestrator: catalog → extract → transform → load
    val rawDir = java.nio.file.Files.createTempDirectory("raw_")
    val modDir = java.nio.file.Files.createTempDirectory("mod_")
    java.nio.file.Files.write(rawDir.resolve("raw_radicados.csv"),
      ("JUNK\nRadicado;Fecha Radicacion;Procedencia;Detalle;Naturaleza;Medio;Expediente;Destino;Rpta;Opciones\n" +
        "100;15/03/2024 14:30;PEPE;asunto;N;WEB;E1;PROFESIONAL-GGC-JUAN PEREZ;0;\n")
        .getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
    val res = graft.etl.EtlRunner.run(spark, rawDir.toString, modDir.toString,
      "radicados", java.sql.Date.valueOf("2026-08-12"),
      graft.etl.Dictionaries.radicados, auditCols = Seq("Rpta"),
      runId = java.util.UUID.randomUUID().toString, runTs = java.time.LocalDateTime.now())
    println(s"etl run: ${res.rows} rows → ${res.modeledPath}")
    spark.read.parquet(res.modeledPath)
      .select("Radicado", "grupo_destino", "Rpta").show(false)
    spark.stop()
  }
}
