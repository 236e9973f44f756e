package e2ebench

import graft.sources.{LocalFsConnector, SinkConnector, SourceConnector}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark counters of one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, inBytes, outBytes, shuffleRead, shuffleWrite, spill = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; inBytes += o.inBytes; outBytes += o.outBytes
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Collects task, stage and job counters per job group, plus the
  * Catalyst phase times of every finished query. Registered from
  * outside the program; it only observes listener events.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, Counters]
  var planNs = 0L

  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageGroup.getOrElse(e.stageId, ""))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.inBytes += m.inputMetrics.bytesRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Counters] = synchronized {
    byGroup.map { case (g, c) => g -> { val d = new Counters; d += c; d } }.toMap
  }

  def planS: Double = synchronized(planNs / 1e9)
}

final case class Span(id: Int, pass: Int, name: String, parent: Int, start: Long, var end: Long)

/** In-memory span recorder. A span names one call into a layer; every
  * Spark job it starts is tagged with the span's job group, so the
  * collector's counters attribute to spans. Spans are written out only
  * when the run ends.
  */
final class Tracer(spark: SparkSession) {
  val collector = new Collector
  spark.sparkContext.addSparkListener(collector)
  spark.listenerManager.register(collector)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var pass = 0
  val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def group(s: Span): String = s"p${s.pass}.s${s.id}"

  def newPass(): Int = { pass += 1; counts.clear(); pass }

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = stack.headOption
    val s = Span(spans.size, pass, name, parent.map(_.id).getOrElse(-1), System.nanoTime(), 0L)
    spans += s
    stack.push(s)
    sc.setLocalProperty("spark.jobGroup.id", group(s))
    try body
    finally {
      s.end = System.nanoTime()
      stack.pop()
      sc.setLocalProperty("spark.jobGroup.id", parent.map(group).orNull)
    }
  }

  def count(key: String, n: Long = 1L): Unit = counts(key) += n

  /** Spans of one pass with their self time: duration minus the part
    * of it that child spans cover (children never overlap here: every
    * call is made from the one driver thread).
    */
  def selfTimes(p: Int): Seq[(Span, Double)] = {
    val ss = spans.filter(_.pass == p).toSeq
    val childNs = ss.groupBy(_.parent).map { case (k, cs) => k -> cs.map(c => c.end - c.start).sum }
    ss.map(s => s -> ((s.end - s.start) - childNs.getOrElse(s.id, 0L)) / 1e9)
  }
}

/** Timing decorators around [[LocalFsConnector]]: the program's own
  * I/O seam, wrapped from outside.
  */
final class TracedConnector(val tracer: Tracer) extends SourceConnector with SinkConnector {
  private val in = LocalFsConnector
  private val t = tracer

  def listObjects(spark: SparkSession, container: String): DataFrame =
    t.span("sources.list") { in.listObjects(spark, container) }

  def readCsv(spark: SparkSession, objectId: String, sep: String, encoding: String,
      skipLines: Int): DataFrame = {
    t.count("sources.read_csv_calls")
    t.span("sources.read_csv") { in.readCsv(spark, objectId, sep, encoding, skipLines) }
  }

  def readSheet(spark: SparkSession, objectId: String, sep: String, encoding: String): DataFrame =
    t.span("sources.read_sheet") { in.readSheet(spark, objectId, sep, encoding) }

  def writeTable(df: DataFrame, target: String, partitionBy: Seq[String]): Unit = {
    t.count("sources.write_calls")
    t.span("sources.write") { in.writeTable(df, target, partitionBy) }
  }

  def writeFullRefreshExport(df: DataFrame, target: String, sep: String): Unit =
    t.span("sources.export") { in.writeFullRefreshExport(df, target, sep) }
}
