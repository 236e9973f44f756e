package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end entity transforms — the reference's per-entity cleaning
  * functions (`/root/reference/src/transformation_layer.py:36-168`)
  * re-expressed as single lazy DataFrame chains (one Catalyst plan each,
  * so pushdown/pruning work across the whole pipeline).
  *
  * Dispatch is a typed registry, replacing the reference's
  * reflection-with-silent-None (`etl.py:53-60,73-79`; SURVEY.md §7.3).
  */
object Pipelines {

  /** The Alfanet working-group code table
    * (transformation_layer.py:13-34). A 21-row dimension: always
    * broadcast, never shuffled against.
    */
  val workingGroups: Seq[(String, String)] = Seq(
    "TL" -> "Tramite en línea",
    "DDB" -> "Direccion de desarrollo bienestar",
    "GCIG" -> "Grupo de control interno de gestión",
    "GGAFCC" -> "Grupo de gestion admin Crédito y cartera",
    "SDE" -> "Subdirección de desarrollo y emprendimiento",
    "GGC" -> "Grupo de gestion de cesantias",
    "GGEC" -> "Grupo de gestion educativa y colegio",
    "GGTHDO" -> "Grupo de gestion de talento humano y desarrollo organizacional",
    "DGC" -> "Dirección de gestion corporativa",
    "GER" -> "Gerencia",
    "GBRCD" -> "Grupo de bienestar y recreación, cultura y deporte",
    "GTICS" -> "Grupo de tecnología, informacion y comunicaciones",
    "GCMAIS" -> "Grupo centro medico y atencion integral",
    "OPL" -> "Oficina de planeación",
    "GSAGD" -> "Grupo de seguimiento y atencion a gerencias dptales",
    "GGF" -> "Grupo de gestion financiera",
    "GAJ" -> "Grupo de asuntos juridicos",
    "GGA" -> "Grupo de gestion administrativa",
    "SDBV" -> "Subdirección de bienestar",
    "GAUEGI" -> "Grupo de atencion al usuario",
    "OAD" -> "Oficina de asuntos disciplinarios")

  val creditosDateCols: Seq[String] = Seq(
    "FechaIngreso", "FechaSolicitud", "Fecha Acta Aprobación", "FechaGiro",
    "FechaInicio", "FechaLegalización", "VencimientoCuota")

  val creditosMoneyCols: Seq[String] = Seq("Monto", "Monto Aprobado", "Saldo")

  /** raw_creditos_ (transformation_layer.py:36-121): P1→P9 as one chain.
    * `today` injected for determinism (P5; never wall-clock).
    */
  def cleanCreditos(raw: DataFrame, today: java.sql.Date): DataFrame = {
    val d1 = CleanOps.dropColsMatching(raw, "duplicated") // P1
    val d2 = d1.withColumn("TasaInterés", CleanOps.percentToRate(col("TasaInterés"))) // P2
    val d3 = creditosDateCols.filter(d2.columns.contains).foldLeft(d2) { (df, c) => // P3
      df.withColumn(c, CleanOps.normalizeDate(col(c)))
    }
    val d4 = d3 // P4 + P5 + P6
      .withColumn("tiempo_solicitud_giro",
        CleanOps.daysBetween(col("FechaGiro"), col("FechaSolicitud")))
      .withColumn("tiempo_solicitud_inicio",
        CleanOps.daysBetween(col("FechaInicio"), col("FechaSolicitud")))
      .withColumn("tiempo_solicitud_legalizacion",
        CleanOps.daysBetween(col("FechaLegalización"), col("FechaSolicitud")))
      .withColumn("fecha_actual", lit(today))
      .withColumn("tiempo_de_espera",
        CleanOps.waitingTime(col("FechaGiro"), col("FechaSolicitud"), lit(today)))
    val d5 = creditosMoneyCols.filter(d4.columns.contains).foldLeft(d4) { (df, c) => // P7
      df.withColumn(c, CleanOps.commaDecimal(col(c)))
    }
    CleanOps.nanToNull(CleanOps.formatTemporals(d5)) // P8 + P9
  }

  /** raw_radicados_ (transformation_layer.py:124-153): P10→P12. */
  def cleanRadicados(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val codes = workingGroups.toDF("code", "name")
    val d1 = raw.withColumn("Fecha Radicacion",
      CleanOps.parseDatetimeMinutes(col("Fecha Radicacion"))) // P10
    val d2 = CleanOps.splitDesignation(d1, "Destino") // P11
    CleanOps.codeLookup(d2, "cod_grupo_destino", codes, "code", "name",
      "grupo_destino") // P12 (broadcast left join, unmapped → null)
  }

  /** modeled_radicados_ (transformation_layer.py:156-161): P13 casts. */
  def modeledRadicados(df: DataFrame): DataFrame =
    df.withColumn("Radicado", col("Radicado").cast("long"))
      .withColumn("Rpta", col("Rpta").cast("long"))

  /** modeled_creditos_ (transformation_layer.py:163-168): P14 empty→null. */
  def modeledCreditos(df: DataFrame): DataFrame =
    CleanOps.emptyToNull(df)

  /** Typed transform registry (replaces `getattr` dispatch, F1); entries get the run's `today`. */
  val registry: Map[String, (DataFrame, java.sql.Date) => DataFrame] = Map(
    "raw_creditos" -> (cleanCreditos _),
    "raw_radicados" -> ((df: DataFrame, _: java.sql.Date) => cleanRadicados(df)),
    "modeled_radicados" -> ((df: DataFrame, _: java.sql.Date) => modeledRadicados(df)),
    "modeled_creditos" -> ((df: DataFrame, _: java.sql.Date) => modeledCreditos(df)))

  def transform(entity: String, layer: String, df: DataFrame,
      today: java.sql.Date): DataFrame =
    registry.getOrElse(s"${layer}_$entity",
      throw new IllegalArgumentException(
        s"no transform registered for ${layer}_$entity; known: ${registry.keys.mkString(", ")}")
    ).apply(df, today)
}
