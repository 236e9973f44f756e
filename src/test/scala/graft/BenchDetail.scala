package graft

import org.apache.spark.sql.SparkSession

/** Steady-state benchmark: times each registered query `reps` times and
  * reports min/median — separating one-time plan/codegen cost and box
  * noise from steady-state cost (the driver's Bench is single-shot, so
  * its total is ~85% per-query fixed cost at sf0.1 and swings tens of
  * percent run-to-run; see BASELINE.md). Run:
  *   SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.BenchDetail [reps] [jsonOut]"
  * With `jsonOut`, writes the machine-readable artifact (committed as
  * BENCHDETAIL_r{N}.json per round) so regressions are separable from
  * noise without a judge rerun: compare `median` per query, not the
  * single-shot BENCH number.
  */
object BenchDetail {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val jsonOut = if (args.length >= 2 && args(1) != "-") Some(args(1)) else None
    // dev-loop convenience: extra args select queries by name substring
    val filters = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val selected =
      if (filters.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => filters.exists(n.contains) }
    // Per-query job counter (VERDICT r15 item 3): sub-second medians are
    // dominated by per-job fixed cost, so a drifting median decomposes as
    // calib_fixed_s × n_jobs — without the count, adjudication has to
    // guess (the r15 graph_ppr/cluster-family problem). Each rep runs in
    // its own job group and its count is read after the listener bus is
    // drained, so a late event from an earlier query can neither be
    // missed nor billed to the next one.
    val sc = spark.sparkContext
    val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobsByGroup.merge(g, 1, (a: Integer, b: Integer) => a + b))
    })
    var groups = 0
    def jobsOf[A](body: => A): (A, Int) = {
      groups += 1
      val g = s"benchdetail-$groups"
      sc.setJobGroup(g, g)
      val a = try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      (a, jobsByGroup.getOrDefault(g, 0))
    }
    // one query execution; drops its localCheckpoint blocks afterwards
    // (outside the caller's timed section): 282 queries x reps, many
    // checkpointing sf0.1-scale frames, otherwise accumulate in the block
    // manager until later queries lose execution memory to storage
    // residue (measured as a broad ~16% drift on untouched queries as the
    // registry grew). A real job runs one query per app; the residue is
    // a bench artifact, not a query property. The snapshot is taken
    // BEFORE the run so the cleanup is scoped to its own residue — a
    // cross-query persisted frame (or a memoized localCheckpoint-backed
    // artifact, whose lineage is truncated and unrecoverable once
    // evicted) must survive the loop (ADVICE r11). Logical-plan caches
    // and the parquet run dirs are untouched.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
      val preexisting = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None } catch {
        case t: Throwable => Some(t.getClass.getSimpleName)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!preexisting.contains(id)) rdd.unpersist(false)
      }
      (dt, err)
    }
    // One-time costs before any timed query. Unfiltered: the same
    // registry warm-up as `Bench.main` (every staged artifact). Filtered:
    // one untimed rep of each selected query, which builds exactly the
    // artifacts and compiles exactly the code those queries use, instead
    // of the minutes-long staging of all of them.
    val warmUp =
      if (filters.isEmpty) { Bench.warmUp(spark, sfDir); "registry" }
      else {
        selected.toSeq.sortBy(_._1).foreach { case (_, fn) => run(fn) }
        s"selected(${selected.size})"
      }
    val (calib, calibFixed) = Bench.calibrate(spark)
    // the fixed-overhead probe's own shape (one single-stage job) — the
    // unit n_jobs multiplies against; emitted in the header
    val calibFixedJobs =
      jobsOf(spark.range(0, 100000, 1, 32).selectExpr("sum(id % 113) AS s").collect())._2
    println(f"warm_up $warmUp calib_s $calib%.3f calib_fixed_s $calibFixed%.4f " +
      f"calib_fixed_n_jobs $calibFixedJobs")
    // a query that crashes must NOT record its (near-zero) failure-path
    // timing — in the committed regression artifact that would read as a
    // dramatic speedup; it records err instead and is excluded from totals
    // n_jobs is the max over reps; the min rides along, so a count that
    // moves between reps of one plan shows instead of hiding in the max
    val rows = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val out = (1 to reps).map(_ => jobsOf(run(fn)))
      val times = out.map(_._1._1).sorted
      val jobs = out.map(_._2)
      (name, times.head, times(times.size / 2), (jobs.min, jobs.max),
        out.flatMap(_._1._2).lastOption)
    }
    val ok = rows.filter(_._5.isEmpty)
    println(f"${"query"}%-28s ${"min"}%8s ${"median"}%8s ${"jobs"}%7s")
    ok.sortBy(-_._3).foreach { case (n, mn, md, (jmin, jmax), _) =>
      val jobs = if (jmin == jmax) s"$jmax" else s"$jmin-$jmax"
      println(f"$n%-28s $mn%8.3f $md%8.3f $jobs%7s")
    }
    rows.collect { case (n, _, _, _, Some(e)) => println(f"$n%-28s ERR $e") }
    println(f"TOTAL(median) ${ok.map(_._3).sum}%.2f s  TOTAL(min) ${ok.map(_._2).sum}%.2f s" +
      (if (ok.size < rows.size) s"  (${rows.size - ok.size} ERRORED)" else ""))
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    jsonOut.foreach { path =>
      val qs = rows.sortBy(-_._3).map {
        case (n, mn, md, (jmin, jmax), None) =>
          s""""$n":{"min":${fmt(mn)},"median":${fmt(md)},"n_jobs":$jmax,"n_jobs_min":$jmin}"""
        case (n, _, _, _, Some(e)) => s""""$n":{"err":"$e"}"""
      }.mkString(",")
      val json =
        s"""{"reps":$reps,"sf":"$sfDir","cpus":$cpus,"warm_up":"$warmUp",""" +
          s""""calib_s":${fmt(calib)},""" +
          s""""calib_fixed_s":${fmt(calibFixed)},""" +
          s""""calib_fixed_n_jobs":$calibFixedJobs,""" +
          s""""total_median":${fmt(ok.map(_._3).sum)},""" +
          s""""total_min":${fmt(ok.map(_._2).sum)},""" +
          s""""n_err":${rows.size - ok.size},""" +
          s""""nq":${rows.size},"queries":{$qs}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      println(s"wrote $path")
    }
    spark.stop()
  }
}
