package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Plan audit: prints formatted physical plans for representative queries
  * so scan pruning / pushdown / broadcast / codegen can be inspected.
  * Each query's own QueryExecution runs once first, so the dump is the
  * executed plan (`isFinalPlan=true`) with AQE's run-time decisions in
  * it: reused shuffles, broadcast switches, coalesced reads.
  * Run: SPARK_GRAFT_SF_DIR=<scale-factor dir> sbt "Test/runMain graft.ExplainAudit [queryName ...]"
  *
  * The printed plans carry no run-specific ids (expression ids `#123`,
  * `plan_id=`, RDD ids, object hashes and lambda class names, parquet
  * part-file names, the per-JVM staging root, source line numbers), so
  * the dumps of two checkouts compare with `diff` or, operator tree
  * only, with `tools/plan_diff.py`. Left in: the grouping-set order of
  * an `Expand` and the random commit directories of the layout
  * queries, which can differ from run to run.
  */
object ExplainAudit {
  private val runSpecific = Seq(
    "#\\d+" -> "",
    "plan_id=\\d+" -> "plan_id=",
    "RDD\\[\\d+\\]" -> "RDD[]",
    "graft_run_[^/\\],]*" -> "graft_run_",
    "part-\\d+-[0-9a-f-]+" -> "part-",
    "\\.scala:\\d+" -> ".scala",
    "\\$Lambda\\$[^@]*@" -> "\\$Lambda@",
    "@[0-9a-f]+\\b" -> "@")

  /** `plan` without the ids and paths that differ between runs. */
  def stable(plan: String): String =
    runSpecific.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a generated scale-factor directory"))
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q3_revenue_topk", "p12_code_lookup", "dedup_exact")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val qe = SparkEntry.queries(n)(spark, dir).queryExecution
      SQLExecution.withNewExecutionId(qe, Some("ExplainAudit"))(qe.toRdd.foreach(_ => ()))
      println(stable(qe.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
