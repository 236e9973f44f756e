package e2ebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.etl._
import graft.ext.{Dedup, TextOps}
import graft.sources.{LocalFsConnector, SinkConnector, SourceConnector}
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload: an untimed reset before every pass, and the pass. A
  * traced pass goes through the connector decorators and wraps each
  * call into the program in a span.
  */
trait Workload {
  def reset(): Unit
  def pass(c: Option[TracedConnector]): Unit
  /** The pass once more, one layer per span, each layer called on an
    * input materialised before its span opens.
    */
  def staged(t: Tracer): Unit
  def storedBytes(): Long
}

object Main {
  val Today: java.sql.Date = java.sql.Date.valueOf("2025-03-01")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val rawBytes = opt("raw-bytes").toDouble

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${opt("cpus")}]")
      .config("spark.sql.shuffle.partitions", opt("cpus"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)

    val wl: Workload = opt("workload") match {
      case "etl_cold" => new Etl(spark, work, None)
      case "etl_incremental" => new Etl(spark, work, Some(opt("pristine")))
      case "publish" =>
        // an earlier load, in its own process: the snapshot that
        // etl_incremental refreshes
        Etl.load(spark, s"$work/raw", opt("pristine"), "snapshot-1", None)
        spark.stop()
        return
      case "curate" => new Curate(spark, work)
      case other => sys.error(s"unknown workload $other")
    }
    // a traced run also counts the set-up pass, so its listener comes first
    val tracer = if (trace) Some(new Tracer(spark)) else None
    wl.reset()
    val t1 = System.nanoTime()
    wl.pass(None)
    val setupS = sessionS + secs(t1)
    val setupLayers = tracer.map { t =>
      org.apache.spark.ListenerDrain(spark.sparkContext)
      Map("spark.setup_jobs" -> t.collector.snapshot().get("").map(_.jobs.toDouble).getOrElse(0.0),
        "spark.setup_plan_s" -> t.collector.planS,
        "spark.setup_codegen_compile_s" -> CodeGenerator.compileTime / 1e9)
    }

    // one untimed warm pass: the passes right after set-up still run
    // partly interpreted code, and timing them made the median depend on
    // how many passes fit in the run
    wl.reset()
    wl.pass(None)

    val res = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS, "setup_s" -> setupS)
    var attempted = 2
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val passS = mutable.ArrayBuffer.empty[Double]
    val heapMb = mutable.ArrayBuffer.empty[Double]

    def timed(c: Option[TracedConnector]): Option[Double] = {
      wl.reset()
      heapMb += retainedHeapMb()
      attempted += 1
      val t = System.nanoTime()
      try {
        c.fold(wl.pass(None))(x => x.tracer.span("pass")(wl.pass(c)))
        val dt = secs(t)
        if (wl.storedBytes() > 0) Some(dt) else { failed += 1; errors += "no output"; None }
      } catch {
        case e: Exception => failed += 1; errors += e.toString; None
      }
    }

    val start = System.nanoTime()
    var iterations = 0
    def more(min: Int): Boolean = { iterations += 1; iterations <= min || secs(start) < seconds }
    if (!trace) {
      while (more(3)) timed(None).foreach(passS += _)
    } else {
      val sc = spark.sparkContext
      val t = tracer.get
      val conn = new TracedConnector(t)
      val tracedS = mutable.ArrayBuffer.empty[Double]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      while (more(1)) {
        org.apache.spark.ListenerDrain(sc)
        val p = t.newPass()
        val gc0 = gcNs()
        val cg0 = CodeGenerator.compileTime
        val plan0 = t.collector.planS
        val dt = timed(Some(conn))
        org.apache.spark.ListenerDrain(sc)
        val totals = Map("gc_s" -> (gcNs() - gc0) / 1e9,
          "codegen_compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
          "plan_s" -> (t.collector.planS - plan0), "stored" -> wl.storedBytes().toDouble,
          "raw" -> rawBytes, "cpus" -> opt("cpus").toDouble)
        val passCounts = t.counts.toMap
        wl.reset()
        val s = t.newPass()
        val persisted = sc.getPersistentRDDs.keySet
        t.span("staged") { wl.staged(t) }
        sc.getPersistentRDDs.foreach { case (id, r) => if (!persisted(id)) r.unpersist(blocking = true) }
        dt.foreach { d =>
          tracedS += d
          layers += layerMetrics(t, p, s, t.collector.snapshot(), passCounts ++ t.counts,
            totals + ("pass_s" -> d))
        }
        // last in the loop, so the checks read the outputs of a plain pass
        timed(None).foreach(passS += _)
      }
      val keys = layers.flatMap(_.keys).distinct
      res("layers") = keys.map(k => k -> median(layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
        setupLayers.get
      res("traced_pass_s") = tracedS.toSeq
      val groups = t.collector.snapshot()
      res("spans") = t.spans.toSeq.map { s =>
        val c = groups.getOrElse(t.group(s), new Counters)
        Map("id" -> s.id, "pass" -> s.pass, "name" -> s.name, "parent" -> s.parent,
          "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
          "jobs" -> c.jobs, "tasks" -> c.tasks, "task_run_s" -> c.runMs / 1e3,
          "input_bytes" -> c.inBytes, "output_bytes" -> c.outBytes,
          "shuffle_bytes" -> (c.shuffleRead + c.shuffleWrite), "spill_bytes" -> c.spill)
      }
    }
    res ++= Seq("pass_s" -> passS.toSeq, "heap_mb" -> heapMb.toSeq,
      "stored_bytes" -> wl.storedBytes(), "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opt("out")), res)
    spark.stop()
  }

  /** Per-layer metrics of one traced pass `p` and its staged twin `s`. */
  def layerMetrics(t: Tracer, p: Int, s: Int, groups: Map[String, Counters],
      counts: Map[String, Long], extra: Map[String, Double]): Map[String, Double] = {
    val self = t.selfTimes(p) ++ t.selfTimes(s)
    def dur(name: String, pass: Int = s): Double =
      t.spans.filter(x => x.pass == pass && x.name == name).map(x => (x.end - x.start) / 1e9).sum
    def group(name: String): Counters = {
      val c = new Counters
      t.spans.filter(x => x.pass == p && x.name == name).foreach(x => groups.get(t.group(x)).foreach(c += _))
      c
    }
    // every job of the traced pass, whichever span (or none) started it
    val all = new Counters
    groups.filter { case (g, _) => g.startsWith(s"p$p.") }.values.foreach(all += _)
    val passS = extra("pass_s")
    Map(
      "sources.list_s" -> dur("sources.list", p),
      "sources.read_csv_calls" -> counts.getOrElse("sources.read_csv_calls", 0L).toDouble,
      "sources.write_s" -> dur("sources.write", p),
      "sources.write_calls" -> counts.getOrElse("sources.write_calls", 0L).toDouble,
      "sources.bytes_written" -> group("sources.write").outBytes.toDouble,
      "etl.catalog_s" -> dur("etl.catalog"),
      "etl.extract_s" -> dur("etl.extract"),
      "etl.transform_s" -> dur("etl.transform"),
      "etl.cast_s" -> dur("etl.cast"),
      "etl.authlog_s" -> dur("etl.authlog"),
      "etl.merge_s" -> dur("etl.merge"),
      "etl.load_s" -> dur("etl.load"),
      "etl.runner_other_s" -> self.filter(_._1.name.startsWith("etl.run:")).map(_._2).sum,
      "dedup.exact_s" -> dur("dedup.exact"),
      "dedup.minhash_pairs_s" -> dur("dedup.minhash_pairs"),
      "dedup.cluster_s" -> dur("dedup.cluster"),
      "text.score_s" -> dur("text.score"),
      "dedup.candidate_pairs" -> counts.getOrElse("dedup.candidate_pairs", 0L).toDouble,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_run_s" -> all.runMs / 1e3,
      "spark.task_cpu_s" -> all.cpuNs / 1e9,
      "spark.core_util" -> all.runMs / 1e3 / (passS * extra("cpus")),
      "spark.gc_s" -> extra("gc_s"),
      "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
      "spark.spill_bytes" -> all.spill.toDouble,
      "spark.read_amp" -> all.inBytes / extra("raw"),
      "spark.write_amp" -> all.outBytes / extra("stored"),
      "spark.plan_s" -> extra("plan_s"),
      "spark.codegen_compile_s" -> extra("codegen_compile_s"),
      "trace.pass_s" -> passS,
      "trace.root_self_s" -> self.filter(x => x._1.pass == p && x._1.name == "pass").map(_._2).sum
    ) ++ selfByName(self)
  }

  /** Self time summed per span name, for the trace report. */
  def selfByName(self: Seq[(Span, Double)]): Map[String, Double] =
    self.groupBy(_._1.name.takeWhile(_ != ':')).map { case (n, xs) => s"self.$n" -> xs.map(_._2).sum }

  def secs(t: Long): Double = (System.nanoTime() - t) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def gcNs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum * 1000000L

  /** Driver heap still in use after a full collection, between passes. */
  def retainedHeapMb(): Double = {
    // a collection hands unreachable shuffles and broadcasts to Spark's
    // cleaner thread; let it finish, so the second collection frees what
    // it released and the next timed pass does not share the CPU with it
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes of the data files under `dir` (hidden and `_` files skipped). */
  def dataBytes(dir: String): Long = {
    val f = new File(dir)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
      .map(Files.size).sum
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(x => Files.delete(x))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val d = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Eager local checkpoint: the frame's rows, computed once, with the
    * lineage cut so a later span does not recompute them.
    */
  def force(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

/** `etl_cold` and `etl_incremental`: `EtlRunner.run` for creditos, then
  * radicados. The incremental pass refreshes the snapshot-1 publication
  * with snapshot 2, restored before every pass from a pristine copy.
  */
final class Etl(spark: SparkSession, work: String, pristine: Option[String]) extends Workload {
  import Etl._
  import Main._
  private val incremental = pristine.isDefined
  private val rawDir = s"$work/${if (incremental) "raw2" else "raw"}"
  private val modeled = s"$work/modeled"

  def reset(): Unit = {
    deleteTree(modeled)
    deleteTree(s"$work/staged")
    pristine.foreach(copyTree(_, modeled))
  }

  def pass(c: Option[TracedConnector]): Unit = load(spark, rawDir, modeled, "snapshot-2", c)

  def staged(t: Tracer): Unit = entities.foreach { case (e, d) =>
    val file = t.span("etl.catalog") {
      CatalogOps.latest(CatalogOps.filterByEntity(LocalFsConnector.listObjects(spark, rawDir), e))
        .collect()(0).getAs[String]("id")
    }
    val raw = t.span("etl.extract") { force(LocalFsConnector.readCsv(spark, file)) }
    val cleaned = t.span("etl.transform") {
      force(if (e == "creditos") Pipelines.cleanCreditos(raw, Today) else Pipelines.cleanRadicados(raw))
    }
    val typed = t.span("etl.cast") { force(DictionaryOps.castByDictionary(cleaned, d)) }
    val out =
      if (!incremental) typed
      else {
        val prev = force(spark.read.parquet(s"$modeled/$e"))
        val id = DictionaryOps.primaryKey(d)
        val audit = DictionaryOps.auditColumns(d)
        t.span("etl.authlog") {
          force(AuditOps.authlog(prev, typed, id, audit, s"$rawDir/$e", "snapshot-2", runTs))
        }
        t.span("etl.merge") { force(MergeOps.tableUpdated(prev, typed, id, audit)) }
      }
    t.span("etl.load") { LocalFsConnector.writeTable(out, s"$work/staged/$e") }
  }

  def storedBytes(): Long = entities.map { case (e, _) => dataBytes(s"$modeled/$e") }.sum
}

object Etl {
  val entities: Seq[(String, Seq[DictColumn])] =
    Seq("creditos" -> Dictionaries.creditos, "radicados" -> Dictionaries.radicados)
  val runTs: java.time.LocalDateTime = java.time.LocalDateTime.of(2025, 3, 1, 0, 0)

  /** The reference's ETL over both entities; traced when `c` is set. */
  def load(spark: SparkSession, rawDir: String, modeled: String, runId: String,
      c: Option[TracedConnector]): Unit = {
    val io: SourceConnector with SinkConnector = c.getOrElse(LocalFsConnector)
    entities.foreach { case (e, d) =>
      def run(): Unit = {
        EtlRunner.run(spark, rawDir, modeled, e, Main.Today, d, DictionaryOps.auditColumns(d),
          runId = runId, runTs = runTs, source = io, sink = io): Unit
      }
      c.fold(run())(_.tracer.span(s"etl.run:$e")(run()))
    }
  }
}

/** `curate`: exact dedup, MinHash candidate pairs over the survivors,
  * connected-component clusters, then quality and token scoring of the
  * cluster representatives, written as parquet.
  */
final class Curate(spark: SparkSession, work: String) extends Workload {
  import Main._
  private val corpus = s"$work/corpus.parquet"
  private val out = s"$work/curated"

  def reset(): Unit = { deleteTree(out); deleteTree(s"$work/staged_docs") }

  private def score(docs: DataFrame): DataFrame =
    TextOps.withTokenCounts(TextOps.withQuality(docs, "text"), "text")
      .filter(col("quality") >= 0.5 && col("n_words") >= 10)
      .select("doc_id", "n_words", "quality", "bpe_tokens")

  def pass(c: Option[TracedConnector]): Unit = c.fold(run(LocalFsConnector))(x => x.tracer.span("curate.run")(run(x)))

  private def run(sink: SinkConnector): Unit = {
    val docs = spark.read.parquet(corpus)
    val keep = Dedup.exact(docs, "text", "doc_id").select(col("keep_id").as("doc_id"))
    val surv = docs.join(keep, "doc_id")
    val pairs = Dedup.minhashCandidatePairs(surv, "doc_id", "text")
    sink.writeTable(Dedup.clusterAssignment(surv, pairs, "doc_id"), s"$out/clusters")
    val canonical = spark.read.parquet(s"$out/clusters")
      .filter(col("doc_id") === col("cluster_id")).select("doc_id")
    sink.writeTable(score(surv.join(canonical, Seq("doc_id"), "left_semi")), s"$out/docs")
  }

  def staged(t: Tracer): Unit = {
    val docs = force(spark.read.parquet(corpus))
    val keep = t.span("dedup.exact") {
      force(Dedup.exact(docs, "text", "doc_id").select(col("keep_id").as("doc_id")))
    }
    val surv = force(docs.join(keep, "doc_id"))
    val pairs = t.span("dedup.minhash_pairs") { force(Dedup.minhashCandidatePairs(surv, "doc_id", "text")) }
    t.count("dedup.candidate_pairs", pairs.count())
    pairs.write.mode("overwrite").parquet(s"$work/trace_pairs")
    val clusters = t.span("dedup.cluster") { force(Dedup.clusterAssignment(surv, pairs, "doc_id")) }
    val canonical = force(surv.join(clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val scored = t.span("text.score") { force(score(canonical)) }
    LocalFsConnector.writeTable(scored, s"$work/staged_docs")
  }

  def storedBytes(): Long = dataBytes(s"$out/docs")
}
