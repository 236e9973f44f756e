package graft.etl

import graft.sources.{LocalFsConnector, SinkConnector, SourceConnector}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's orchestrator (`/root/reference/etl.py:22-119`,
  * `ETLDataPipeline`) as a typed, explicit pipeline:
  *
  *   catalog (S12/P23/O1: newest raw file for the entity)
  *     → extract (S1 reference-CSV read)
  *     → transform (F1 registry: raw_{entity})
  *     → load (S8 parquet sink, full refresh)
  *     → optional integrate (Q5 authlog + U2 merge vs the previous
  *       modeled snapshot — the reference's dormant-but-complete path,
  *       log_handler.py:43-128)
  *
  * Replaces reflection-with-silent-None dispatch with explicit errors
  * (SURVEY.md §7.3). All steps are lazy DataFrame chains; only the sink
  * actions execute.
  *
  * Remote I/O goes through the [[graft.sources.SourceConnector]] /
  * [[graft.sources.SinkConnector]] seam: the default
  * [[graft.sources.LocalFsConnector]] reads/writes the local FS, and a
  * cloud deployment passes its own connector pair — the lifecycle code
  * below never touches a filesystem API directly for extract/load.
  */
object EtlRunner {

  final case class RunResult(
      sourceFile: String, rows: Long, modeledPath: String,
      authlogRows: Option[Long])

  def run(spark: SparkSession, rawDir: String, modeledDir: String,
      entity: String, today: java.sql.Date,
      dictionary: Seq[DictColumn] = Nil,
      auditCols: Seq[String] = Nil,
      runId: String = "run-1",
      runTs: java.time.LocalDateTime = java.time.LocalDateTime.of(2026, 8, 12, 0, 0),
      source: SourceConnector = LocalFsConnector,
      sink: SinkConnector = LocalFsConnector): RunResult = {

    // catalog: newest raw file for the entity (etl.py:32-49 + O1)
    val meta = source.listObjects(spark, rawDir)
    val candidates = CatalogOps.filterByEntity(meta, entity)
    val latest = CatalogOps.latest(candidates).collect()
    require(latest.nonEmpty, s"no raw file for entity '$entity' in $rawDir")
    val file = latest(0).getAs[String]("id")

    // extract + transform
    val raw = source.readCsv(spark, file)
    val cleaned = entity match {
      case "creditos" => Pipelines.cleanCreditos(raw, today)
      case "radicados" => Pipelines.cleanRadicados(raw)
      case other => Pipelines.transform(other, "raw", raw)
    }
    val typed =
      if (dictionary.nonEmpty) DictionaryOps.castByDictionary(cleaned, dictionary)
      else cleaned

    // integrate against the previous modeled snapshot, if one exists
    val modeledPath = s"$modeledDir/$entity"
    val previous: Option[DataFrame] =
      if (new java.io.File(modeledPath).exists())
        Some(spark.read.parquet(modeledPath))
      else None
    val authlogRows = previous.flatMap { prev =>
      if (auditCols.nonEmpty && dictionary.nonEmpty) {
        val id = DictionaryOps.primaryKey(dictionary)
        val log = AuditOps.authlog(prev, typed, id, auditCols,
          fuenteLog = s"$rawDir/$entity", runId = runId, runTs = runTs)
        val logPath = s"$modeledDir/${entity}_authlog"
        sink.writeTable(log, logPath)
        // count the committed table: counting `log` would re-run the
        // CSV decode, cleaning, casts and join
        Some(spark.read.parquet(logPath).count())
      } else None
    }
    val toWrite = previous match {
      case Some(prev) if auditCols.nonEmpty && dictionary.nonEmpty =>
        MergeOps.tableUpdated(prev, typed,
          DictionaryOps.primaryKey(dictionary), auditCols)
      // One data file per entity: the split extract leaves one partition
      // per core, and on the e2ebench etl_cold inputs four files instead
      // of one store ~7.5% more bytes (per-file parquet footers,
      // dictionaries and stats). The merge path needs no exchange here:
      // its orderBy already sets the layout.
      case _ => typed.repartition(1)
    }

    // load (full refresh, S8) — write to a temp dir then swap, so the
    // previous snapshot (still referenced by the lazy merge plan) isn't
    // clobbered mid-read
    val tmp = modeledPath + "__tmp"
    sink.writeTable(toWrite, tmp)
    val out = spark.read.parquet(tmp)
    val n = out.count()
    swapIn(tmp, modeledPath)
    RunResult(file, n, modeledPath, authlogRows)
  }

  /** Moves the freshly written `tmp` in as the snapshot at `modeledPath`.
    * The previous snapshot is parked at `__old` and deleted only once the
    * new one is in place; a failed rename throws, naming both paths.
    */
  private[graft] def swapIn(tmp: String, modeledPath: String): Unit = {
    val target = new java.io.File(modeledPath)
    val old = new java.io.File(modeledPath + "__old")
    deleteRecursively(old)
    if (target.exists()) rename(target, old)
    rename(new java.io.File(tmp), target)
    deleteRecursively(old)
  }

  private def rename(from: java.io.File, to: java.io.File): Unit =
    if (!from.renameTo(to))
      throw new java.io.IOException(s"snapshot swap failed: cannot rename $from to $to")

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
