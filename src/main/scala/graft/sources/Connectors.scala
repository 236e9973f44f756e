package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** The remote-I/O boundary of the reference, extracted as a trait seam
  * (SURVEY.md §1.5).
  *
  * The reference talks to two live cloud APIs that a sandboxed engine
  * cannot reach:
  *  - Google Drive: OAuth'd folder traversal with pagination and chunked
  *    media download (`/root/reference/src/gdrive_handler.py:41-275`);
  *  - Google Sheets: sheet → row-lists read and clear+update full-refresh
  *    write (`/root/reference/src/gsheets_handler.py:81-171`).
  *
  * Everything BEHIND those APIs — tolerant CSV parsing, ragged-row
  * repair, all-string frames, full-refresh semantics, newest-file
  * catalog picks — is engine logic and lives in CsvSource / ShapeOps /
  * CatalogOps / Sinks. These traits pin down exactly what a production
  * deployment must re-implement to run against the live APIs: five
  * methods, all returning/consuming plain DataFrames. [[LocalFsConnector]]
  * is the complete local/HDFS-backed implementation the tests and
  * [[graft.etl.EtlRunner]] run through; a cloud connector swaps in
  * without touching any pipeline code.
  */
trait SourceConnector {

  /** Catalog listing: one metadata row per object in `container` (the
    * Drive files.list twin — id/name/mimeType/parent/createdTime/
    * modifiedTime, the CatalogOps.FileMeta schema). Driver-side, like
    * any catalog op.
    */
  def listObjects(spark: SparkSession, container: String): DataFrame

  /** One CSV-ish object → all-string DataFrame via the reference-
    * tolerant read (junk leading lines, ragged rows, duplicate headers;
    * the Drive media-download + polars read twin).
    */
  def readCsv(spark: SparkSession, objectId: String, sep: String = ";",
      encoding: String = "latin1", skipLines: Int = 1): DataFrame

  /** Sheet-like tabular object → all-string DataFrame: first row is the
    * header, data rows may be ragged and are padded/truncated to header
    * width (the gsheets values().get twin).
    */
  def readSheet(spark: SparkSession, objectId: String, sep: String = ",",
      encoding: String = "UTF-8"): DataFrame
}

trait SinkConnector {

  /** Analytical table sink, full refresh (the DuckDB-table twin —
    * `/root/reference/src/db_manager.py:36-40`).
    */
  def writeTable(df: DataFrame, target: String, partitionBy: Seq[String] = Nil): Unit

  /** Full-refresh tabular export: clear + rewrite, header first, every
    * cell stringified (the Sheets clear+update twin).
    */
  def writeFullRefreshExport(df: DataFrame, target: String, sep: String = ";"): Unit
}

/** Local-filesystem/HDFS-backed implementation of both connector traits —
  * the only one possible in this environment, and the reference semantics
  * are fully exercised through it. A cloud deployment implements the two
  * traits against its object store / sheet API and passes the instance to
  * `EtlRunner.run`; nothing else changes.
  */
object LocalFsConnector extends SourceConnector with SinkConnector {

  def listObjects(spark: SparkSession, container: String): DataFrame =
    graft.etl.CatalogOps.listFiles(spark, container)

  def readCsv(spark: SparkSession, objectId: String, sep: String = ";",
      encoding: String = "latin1", skipLines: Int = 1): DataFrame =
    CsvSource.readReferenceCsv(spark, objectId, sep, encoding, skipLines)

  def readSheet(spark: SparkSession, objectId: String, sep: String = ",",
      encoding: String = "UTF-8"): DataFrame = {
    // A sheet is ordered row-lists with the header as row 0
    // (gsheets_handler.py:104-111): header driver-side, rows decoded
    // executor-side (charset-aware) through the same split reader as
    // readCsv, ragged repair as a pure column expression via ShapeOps.
    val (names, lines) = CsvSource.readLines(spark, objectId, sep, encoding, skipLines = 0)
    val header = CsvSource.dedupeHeaders(names)
    val sepQ = java.util.regex.Pattern.quote(sep)
    val rows = lines.map(l => Tuple1(l.split(sepQ, -1).toSeq))(
      Encoders.product[Tuple1[Seq[String]]])
    graft.etl.ShapeOps.rowsToTable(rows.toDF("__row"), "__row", header)
  }

  def writeTable(df: DataFrame, target: String, partitionBy: Seq[String] = Nil): Unit =
    Sinks.writeParquet(df, target, partitionBy)

  def writeFullRefreshExport(df: DataFrame, target: String, sep: String = ";"): Unit =
    Sinks.writeCsvExport(df, target, sep)
}
