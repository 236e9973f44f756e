package graft.etl

import graft.sources.{LocalFsConnector, SinkConnector, SourceConnector}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The reference's orchestrator (`/root/reference/etl.py:22-119`,
  * `ETLDataPipeline`) as a typed, explicit pipeline:
  *
  *   catalog (S12/P23/O1: newest raw file for the entity)
  *     → extract (S1 reference-CSV read)
  *     → transform (F1 registry: raw_{entity})
  *     → cast (the entity's data dictionary)
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
  * cloud deployment passes its own connector pair for extract and load.
  * The snapshot is published through the Hadoop `FileSystem` of
  * `modeledDir`, not the connector: [[swapIn]] renames the written
  * `<entity>__tmp` to `<entity>`, and a run that finds only
  * `<entity>__old` (a swap cut between its renames) first moves it back.
  */
object EtlRunner {

  final case class RunResult(
      sourceFile: String, rows: Long, modeledPath: String,
      authlogRows: Option[Long])

  /** `runId`/`runTs` stamp the run's authlog rows (`id_log`,
    * `fecha_modificacion`). They have no default: the reference stamps
    * each run with a fresh `uuid4()`/`now()` (`log_handler.py:64-70`),
    * and a shared default would give every run the same stamp.
    */
  def run(spark: SparkSession, rawDir: String, modeledDir: String,
      entity: String, today: java.sql.Date,
      dictionary: Seq[DictColumn],
      auditCols: Seq[String] = Nil,
      runId: String,
      runTs: java.time.LocalDateTime,
      source: SourceConnector = LocalFsConnector,
      sink: SinkConnector = LocalFsConnector): RunResult = {

    // roll back a swap interrupted between its two renames
    val modeledPath = s"$modeledDir/$entity"
    val snapshot = new Path(modeledPath)
    val parked = new Path(modeledPath + "__old")
    val fs = snapshot.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(snapshot) && fs.exists(parked)) rename(fs, parked, snapshot)

    // catalog: newest raw file for the entity (etl.py:32-49 + O1)
    val meta = source.listObjects(spark, rawDir)
    val candidates = CatalogOps.filterByEntity(meta, entity)
    val latest = CatalogOps.latest(candidates).collect()
    require(latest.nonEmpty, s"no raw file for entity '$entity' in $rawDir")
    val file = latest(0).getAs[String]("id")

    // extract + transform + cast
    val raw = source.readCsv(spark, file)
    val typed = DictionaryOps.castByDictionary(
      Pipelines.transform(entity, "raw", raw, today), dictionary)

    // integrate against the previous modeled snapshot, if one exists
    val (toWrite, authlogRows) =
      if (auditCols.nonEmpty && fs.exists(snapshot)) {
        val prev = spark.read.parquet(modeledPath)
        val id = DictionaryOps.primaryKey(dictionary)
        val log = AuditOps.authlog(prev, typed, id, auditCols,
          fuenteLog = s"$rawDir/$entity", runId = runId, runTs = runTs)
        val logPath = s"$modeledDir/${entity}_authlog"
        sink.writeTable(log, logPath)
        // count the committed table: counting `log` would re-run the
        // CSV decode, cleaning, casts and join
        (MergeOps.tableUpdated(prev, typed, id, auditCols),
          Some(spark.read.parquet(logPath).count()))
      }
      // One data file per entity: the split extract leaves one partition
      // per core, and on the e2ebench etl_cold inputs four files instead
      // of one store ~7.5% more bytes (per-file parquet footers,
      // dictionaries and stats). The merge path needs no exchange here:
      // its orderBy already sets the layout.
      else (typed.repartition(1), None)

    // load (full refresh, S8) — write to a temp dir then swap, so the
    // previous snapshot (still referenced by the lazy merge plan) isn't
    // clobbered mid-read
    val tmp = modeledPath + "__tmp"
    sink.writeTable(toWrite, tmp)
    val out = spark.read.parquet(tmp)
    val n = out.count()
    swapIn(fs, tmp, modeledPath)
    RunResult(file, n, modeledPath, authlogRows)
  }

  /** [[swapIn]] through the `FileSystem` of `modeledPath` under the
    * active session's Hadoop configuration.
    */
  private[graft] def swapIn(tmp: String, modeledPath: String): Unit =
    swapIn(new Path(modeledPath).getFileSystem(
      SparkSession.active.sessionState.newHadoopConf()), tmp, modeledPath)

  /** Moves the freshly written `tmp` in as the snapshot at `modeledPath`
    * on `fs`. The previous snapshot is parked at `__old` and deleted only
    * once the new one is in place; a failed rename throws, naming both
    * paths.
    */
  private def swapIn(fs: FileSystem, tmp: String, modeledPath: String): Unit = {
    val target = new Path(modeledPath)
    val old = new Path(modeledPath + "__old")
    fs.delete(old, true)
    if (fs.exists(target)) rename(fs, target, old)
    rename(fs, new Path(tmp), target)
    fs.delete(old, true): Unit
  }

  /** Renames `from` to `to` or throws naming both: a missing `from`, an
    * existing `to` (Hadoop would move `from` into it), a `false` from
    * `fs.rename` or an `IOException` (local FS copy fallback) all fail.
    */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit = {
    def failed(cause: Throwable) =
      new java.io.IOException(s"snapshot swap failed: cannot rename $from to $to", cause)
    val moved =
      try fs.exists(from) && !fs.exists(to) && fs.rename(from, to)
      catch { case e: java.io.IOException => throw failed(e) }
    if (!moved) throw failed(null)
  }
}
